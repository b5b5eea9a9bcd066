package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.PathFunctions.{basepathScala, parseWildcardSearch}
import graft.operators.{SearchOps, Views}

/** The file_db CLI user: name, hash, duplicate, directory and paging
  * lookups, in turn, over the catalog derived from seeded TPC-H-shaped
  * tables (~150k files, cached per session by `SparkEntry.cat`); the seed
  * picks each lookup's argument. Set-up builds and caches the catalog and
  * runs each kind once; the table generation and the collection of the
  * catalog are not part of `setup_s`. Every answer is checked against a
  * plain-Scala computation over the collected catalog. */
final class CatalogLookup(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import CatalogLookup._

  private val dataDir = work.resolve("catalog")
  private var cat: SparkEntry.Cat = _
  private var ref: Ref = _
  private val rnd = Gen.rng(seed, 1)

  def setup(clock: SetupClock): Unit = {
    Gen.catalogTables(spark, seed, dataDir.toString, customers = 15000, orders = 150000)
    clock {
      cat = SparkEntry.cat(spark, dataDir.toString)
      Seq(cat.directory, cat.file, cat.hash, cat.vwLl, cat.vwFileDetail).foreach(_.count())
    }
    ref = Ref.collect(cat)
    // one lookup of each kind: compiles each plan shape and pins the
    // duplicate search's session-scoped view
    Kinds.indices.foreach { i =>
      clock(run(i, new Tracer(false))).check().foreach(e => throw new IllegalStateException(e))
    }
  }

  /** Whole pairs of rounds of the kinds: the first timed round is still
    * warming up, and runs that stopped after it would time a slower mix
    * than runs that went on. */
  override def cycle: Int = 2 * Kinds.size

  def storedBytes: Long = Probe.dirBytes(dataDir)

  def run(i: Int, t: Tracer): Done = {
    // kinds take turns and runs end on whole rounds of them, so every run
    // times the same mix; the seed picks each lookup's argument
    val kind = Kinds(i % Kinds.size)
    // the expected answer is computed by the check, after the clock stops
    val (build, expected, key): (() => DataFrame, () => Seq[String], Row => String) =
      kind match {
        case "name" =>
          val prefix = s"order_${100 + rnd.nextInt(900)}"
          (() => SearchOps.searchName(cat.vwLl, parseWildcardSearch(prefix + "*")),
            () => ref.byNamePrefix(prefix),
            r => r.getAs[String]("type") + ":" + r.getAs[String]("full_path"))
        case "hash" =>
          val f = ref.hashed(rnd.nextInt(ref.hashed.length))
          val h = if (rnd.nextBoolean()) f.md5 else f.sha1
          (() => SearchOps.searchHash(cat.vwLl, h), () => ref.byHash(h), fileId)
        case "dup_heavy" =>
          val f = ref.hashed(rnd.nextInt(ref.hashed.length))
          (() => SearchOps.searchDuplicateFile(cat.vwLl, ref.path(f)), () => ref.duplicatesOf(f),
            fileId)
        case "dup_unique" =>
          val f = ref.unhashed(rnd.nextInt(ref.unhashed.length))
          (() => SearchOps.searchDuplicateFile(cat.vwLl, ref.path(f)), () => ref.duplicatesOf(f),
            fileId)
        case "dir_detail" =>
          val (id, path) = ref.dirs(rnd.nextInt(ref.dirs.length))
          (() => Views.dirDetail(cat.directory, cat.file).filter(col("dir_path") === path),
            () => Seq(ref.dirDetail(id)), r => Seq(r.getAs[Long]("dir_id"), r.getAs[Long]("files"),
              r.getAs[Long]("subdirs"), sixDecimals(r.getAs[Double]("total_size"))).mkString(","))
        case _ =>
          val id = ref.fileDirs(rnd.nextInt(ref.fileDirs.length))
          (() => SearchOps.resultPage(cat.vwFileDetail.filter(col("dir_id") === id),
            Seq("size" -> false, "id" -> true), PageSize),
            () => ref.page(id), r => r.getAs[Long]("id").toString)
      }
    val df = t.span("operators.build")(build())
    t.span("catalyst.plan")(df.queryExecution.executedPlan)
    val rows = t.span("spark.exec")(df.collect())
    Done(s"lookup.$kind", 1, () => {
      // the page is ordered; every other answer is a set
      val got = if (kind == "page") rows.map(key).toSeq else rows.map(key).toSeq.sorted
      val expect = expected()
      if (got == expect) None
      else Some(s"$kind: ${got.size} rows, expected ${expect.size}: " +
        got.take(3).mkString(";") + " vs " + expect.take(3).mkString(";"))
    })
  }
}

object CatalogLookup {
  val Kinds = Seq("name", "hash", "dup_heavy", "dup_unique", "dir_detail", "page")
  val PageSize = 25
  private val fileId: Row => String = r => r.getAs[Long]("file_id").toString
  private def sixDecimals(mb: Double): String = f"$mb%.6f"

  final case class F(id: Long, name: String, dirId: Long, size: Double,
                     md5: String, sha1: String)

  /** The catalog, collected into this JVM, with the reference answer of
    * each lookup kind written in plain Scala. */
  final case class Ref(files: Array[F], dirs: Array[(Long, String)]) {
    private val dirPath = dirs.toMap
    val hashed: Array[F] = files.filter(_.md5 != null)
    val unhashed: Array[F] = files.filter(_.md5 == null)
    val fileDirs: Array[Long] = files.map(_.dirId).distinct.sorted
    private val bySha1Size = hashed.groupBy(f => (f.sha1, f.size))
    def path(f: F): String = dirPath(f.dirId) + "/" + f.name

    def byNamePrefix(prefix: String): Seq[String] =
      (files.filter(_.name.startsWith(prefix)).map(f => "file:" + path(f)) ++
        dirs.collect { case (_, p) if p.substring(p.lastIndexOf('/') + 1)
          .startsWith(prefix) => "dir:" + p }).toSeq.sorted

    def byHash(h: String): Seq[String] =
      hashed.filter(f => f.md5 == h || f.sha1 == h).map(_.id.toString).toSeq.sorted

    /** Same file id, or the same sha1 and size (every hashed file here
      * carries both digests, so the md5 fallback never applies). */
    def duplicatesOf(n: F): Seq[String] = {
      val same = if (n.sha1 == null) Array(n) else bySha1Size((n.sha1, n.size))
      (same.map(_.id) :+ n.id).distinct.map(_.toString).toSeq.sorted
    }

    def dirDetail(id: Long): String = {
      val fs = files.filter(_.dirId == id)
      val p = dirPath(id)
      // a top-level path is its own parent, as in the engine's basepath
      val subdirs = dirs.count { case (_, q) => basepathScala(q) == p }
      Seq(id, fs.length, subdirs, sixDecimals(fs.map(f => BigDecimal(f.size)).sum.toDouble))
        .mkString(",")
    }

    def page(dirId: Long): Seq[String] =
      files.filter(_.dirId == dirId).sortBy(f => (-f.size, f.id)).take(PageSize)
        .map(_.id.toString).toSeq
  }

  object Ref {
    def collect(c: SparkEntry.Cat): Ref = {
      val hashes = c.hash.select("file_id", "md5_hash", "sha1_hash").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
      val files = c.file.select(col("id"), col("name"), col("dir_id"),
        col("size").cast("double")).collect().map { r =>
        val (m, s) = hashes.getOrElse(r.getLong(0), (null, null))
        F(r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), m, s)
      }
      val dirs = c.directory.select("id", "dir_path").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      Ref(files, dirs)
    }
  }
}
