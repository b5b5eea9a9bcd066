package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DatasetIO

/** ORC source/sink: byte-faithful round-trip through the bounded-shard
  * partitioned layout, and pushdown parity with the parquet path
  * (filters reach the ORC scan; partition pruning works). */
class OrcIOSpec extends AnyFunSuite with SparkSuite {

  test("orc round-trip preserves the corpus; filters push to the scan") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("orc_io").toString
    DatasetIO.writeShardsOrc(docs, dir, Seq("lang"), maxRecordsPerFile = 100L)

    val back = DatasetIO.readOrc(spark, dir)
    // same rows (lang is a partition column now — compare on content)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val a = docs.select(cols.map(col): _*).collect().map(_.toSeq.toString).sorted
    val b = back.select(cols.map(col): _*).collect().map(_.toSeq.toString).sorted
    assert(a.toSeq === b.toSeq)

    // shard cap ACTUALLY respected: every file holds <= maxRecordsPerFile
    // rows (each lang partition has ~100 docs, so the 100-row cap bites)
    val files = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".orc"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val n = spark.read.orc(f.getAbsolutePath).count()
      assert(n <= 100L, s"shard cap violated: ${f.getName} has $n rows")
    }

    // predicate pushdown reaches the ORC scan; partition filter prunes
    val q = back.filter(col("lang") === "en" && col("n_chars") > 100)
      .select("doc_id", "n_chars")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(n_chars,100)"),
      s"expected n_chars filter pushed to the ORC scan:\n$plan")
    assert(q.count() === docs.filter(col("lang") === "en" && col("n_chars") > 100).count())
  }
}
