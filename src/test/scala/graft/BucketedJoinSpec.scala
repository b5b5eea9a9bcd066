package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.TextOps
import graft.sources.DatasetIO

/** Bucketing is the write-once shuffle: two tables bucketed by the same
  * key must equi-join with NO Exchange on either side, and produce the
  * same rows as the plain join. This is the co-located-join layout the
  * 100 TB posture leans on for repeated joins against a hot key. */
class BucketedJoinSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("same-bucket-count equi-join plans with zero Exchange and matches the plain join") {
    val base = java.nio.file.Files.createTempDirectory("graft-buckets").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang")
    val toks = TextOps.tokenCounts(Tables.documents(spark, sfDir))
    DatasetIO.writeBucketed(docs, "b_docs", s"$base/b_docs", "doc_id", 4)
    DatasetIO.writeBucketed(toks, "b_toks", s"$base/b_toks", "doc_id", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path: broadcast would trivially avoid the
      // Exchange; the claim under test is that BUCKETING avoids it
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_docs").join(spark.table("b_toks"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected the merge-join path:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed sides must join without any shuffle:\n$plan")
      val expected = docs.join(toks, "doc_id").count()
      assert(joined.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_docs")
      spark.sql("DROP TABLE IF EXISTS b_toks")
    }
  }
}
