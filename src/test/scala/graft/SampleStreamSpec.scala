package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SamplingOps
import graft.streaming.SampleStream

/** Streaming bottom-k sampling: the live sample after any prefix of
  * batches equals the batch aggregate over the rows seen so far,
  * regardless of arrival order or batch boundaries. */
class SampleStreamSpec extends AnyFunSuite with SparkSuite {

  test("stream sample == batch bottomKSampleAgg after each batch; unchanged strata stay silent") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val k = 3
    // enough rows that batch 2 perturbs some stratum's top-k but
    // (by construction below) leaves one stratum untouched
    val batch1 = (1L to 40L).map(i => (s"lang${i % 3}", i))
    // batch 2 adds rows only to lang0/lang1
    val batch2 = (41L to 60L).filter(i => i % 3 != 2).map(i => (s"lang${i % 3}", i))

    val mem = MemoryStream[(String, Long)]
    val out = SampleStream.bottomKStream(
      mem.toDF().toDF("lang", "doc_id"), k)
    val q = out.writeStream.format("memory").queryName("picks")
      .outputMode("update").start()
    try {
      def latestPerStratum(): Map[String, Set[Long]] = {
        val rows = spark.table("picks")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
        rows.groupBy(_._1).map { case (st, rs) =>
          val vmax = rs.map(_._2).max
          st -> rs.filter(_._2 == vmax).map(_._3).toSet
        }
      }
      def batchPicks(rows: Seq[(String, Long)]): Map[String, Set[Long]] =
        SamplingOps.bottomKSampleAgg(rows.toDF("lang", "doc_id"), k)
          .collect().map(r => (r.getString(0), r.getLong(2)))
          .groupBy(_._1).map { case (st, rs) => st -> rs.map(_._2).toSet }

      mem.addData(batch1: _*)
      q.processAllAvailable()
      assert(latestPerStratum() === batchPicks(batch1))
      val v1 = spark.table("picks").groupBy("stratum")
        .agg(max("version")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap

      mem.addData(batch2: _*)
      q.processAllAvailable()
      assert(latestPerStratum() === batchPicks(batch1 ++ batch2))
      val v2 = spark.table("picks").groupBy("stratum")
        .agg(max("version")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // lang2 got no new rows in batch 2: its sample must not re-emit
      assert(v2("lang2") === v1("lang2"), "unchanged stratum re-emitted")
    } finally q.stop()
  }
}
