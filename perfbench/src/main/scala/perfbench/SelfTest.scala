package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.functions._

/** Input determinism: for every workload, the same seed must generate
  * identical inputs and another seed different ones.
  *
  * Usage: `perfbench.SelfTest <work dir>`; exits 1 on the first failure. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val spark = Main.session(work)
    val failures = try {
      val catalog = (seed: Long) => {
        val dir = Files.createTempDirectory(work, "catalog")
        Gen.catalogTables(spark, seed, dir.toString, customers = 500, orders = 5000)
        Seq("region", "nation", "customer", "orders")
          .map { t =>
            val df = spark.read.parquet(s"$dir/$t.parquet")
            df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
              .agg(expr("bit_xor(h)")).head().getLong(0)
          }.mkString(",")
      }
      val tree = (seed: Long) => {
        val root = Files.createTempDirectory(work, "tree")
        CrawlMerge.writeTree(root, seed, 0L)
        sha(CrawlMerge.allFiles(root).map(p =>
          root.relativize(p).toString + ":" + hex(Files.readAllBytes(p))))
      }
      val corpus = (seed: Long) => {
        val c = AdmissionLoop.Corpus.generate(seed)
        sha((c.base ++ c.stream).map { case (id, text, e) =>
          s"$id|$text|${e.map(_.mkString(",")).getOrElse("-")}" })
      }
      Seq("catalog_lookup" -> catalog, "crawl_merge" -> tree,
        "admission_stream" -> corpus).flatMap {
        case (name, gen) =>
          val (a, b, c) = (gen(11L), gen(11L), gen(12L))
          println(s"$name: same seed ${if (a == b) "identical" else "DIFFERENT"}, " +
            s"other seed ${if (a != c) "different" else "IDENTICAL"}")
          if (a == b && a != c) None else Some(name)
      }
    } finally spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }

  private def hex(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
  private def sha(parts: Seq[String]): String = hex(parts.mkString("\n").getBytes("UTF-8"))
}
