package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.CurationOps

/** DSIR-on-ingest: streamed importance weights equal the batch applier's
  * on the same rows, and untrained buckets actually take the model
  * default (not a silent drop). */
class DsirStreamSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("stream == batch dsirApply; untrained buckets price at the model default") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // offline train on the fixture corpus
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val (weights, default) = CurationOps.dsirModel(corpus)

    val rows = Seq(
      InDoc(1L, "the quick brown fox jumps", ts("2024-01-01 10:00:00")),
      InDoc(2L, "zzqx11 qqzw22 wwvv33", ts("2024-01-01 10:01:00")), // OOV-ish
      InDoc(3L, "data pipeline quality", ts("2024-01-01 10:02:00")))

    val in = MemoryStream[InDoc]
    val q = CurationOps.dsirApply(in.toDF().withWatermark("ts", "10 minutes"),
        weights, default, keyNames = Seq("doc_id", "ts"))
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    try {
      in.addData(rows)
      q.processAllAvailable()
      in.addData(InDoc(99L, "push the watermark forward please now",
        ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      in.addData(InDoc(98L, "and once more beyond the horizon line",
        ts("2024-01-03 00:00:00")))
      q.processAllAvailable()

      val streamed = spark.table("dsir_out")
        .select("doc_id", "n_feats", "dsir_micro")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq.filter(_._1 < 90L)

      val batch = CurationOps.dsirApply(
          rows.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
          weights, default)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq

      assert(streamed === batch)

      // the OOV path must actually fire: re-applying with a sentinel
      // default must change at least one score
      val sentinel = CurationOps.dsirApply(
          rows.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
          weights, default + 1000000L)
        .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
      assert(sentinel !== batch.map(t => (t._1, t._3)),
        "no arriving feature hit an untrained bucket — OOV path untested")
    } finally q.stop()
  }
}
