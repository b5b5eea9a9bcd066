package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.AsOfStream
import graft.streaming.AsOfStream.AsOfIn

/** Streaming as-of enrichment: watermark-buffered, exactly-once, equal to
  * the batch asOfJoin — including right rows that arrive a micro-batch
  * AFTER the left row they must match. */
class AsOfStreamSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("real events corpus: streamed enrichment equals the batch j15 answer") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // purchases (left) + clicks (right) from the sf0.001 events table,
    // fed in EVENT-TIME order (any source with bounded disorder works —
    // the watermark bounds it; fully random arrival would make old rows
    // late, which is a property of watermarking, not of this operator)
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .orderBy("ts").collect()
    val tagged = ev.map { r =>
      AsOfStream.AsOfIn(r.getAs[Long]("user_id"), r.getAs[Timestamp]("ts"),
        if (r.getAs[String]("event_type") == "purchase") 1 else 0,
        r.getAs[Long]("event_id"))
    }
    val input = MemoryStream[AsOfIn]
    val out = AsOfStream.asOfEnrich(input.toDS(), watermark = "1 hour")
    val query = out.writeStream.format("memory")
      .queryName("asof_events_out").outputMode("append").start()
    try {
      tagged.grouped(100).foreach { chunk =>
        input.addData(chunk.toIndexedSeq: _*)
        query.processAllAvailable()
      }
      // two watermark pushers: far past every event, then one more batch
      // so the advanced watermark fires the remaining timeouts
      val far = new Timestamp(tagged.map(_.ts.getTime).max + 48L * 3600 * 1000)
      input.addData(AsOfStream.AsOfIn(-1L, far, 0, -1L))
      query.processAllAvailable()
      input.addData(AsOfStream.AsOfIn(-1L,
        new Timestamp(far.getTime + 1000), 0, -2L))
      query.processAllAvailable()

      val streamed = spark.table("asof_events_out")
        .filter(col("key") >= 0) // drop the pusher key
        .select("l_id", "r_id").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      val batch = graft.operators.TemporalJoins.purchaseClickAsOf(
          graft.core.Tables.events(spark, "/root/testdata/sf0.001"))
        .select("p_event", "c_event").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(streamed.size === batch.size && streamed === batch)
      assert(batch.values.exists(_ >= 0), "some purchases must have matched clicks")
    } finally query.stop()
  }

  test("stream equals batch as-of join; out-of-order rights still match") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val lefts = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // matches r 102 (09:45, batch 2!)
      // 09:10, not 09:00: it arrives in batch 2 when the watermark is
      // already 09:00, and a row AT the watermark is late input Spark
      // drops before the operator ever sees it
      (2L, 10L, ts("2024-01-01 09:10:00")), // before all rights → NULL
      (3L, 10L, ts("2024-01-01 09:30:00")), // tie with r 101 → inclusive
      (4L, 20L, ts("2024-01-01 11:00:00"))) // other key → NULL
    val rights = Seq(
      (101L, 10L, ts("2024-01-01 09:30:00")),
      (102L, 10L, ts("2024-01-01 09:45:00")))

    val input = MemoryStream[AsOfIn]
    val out = AsOfStream.asOfEnrich(input.toDS(), watermark = "1 hour")
    val query = out.writeStream.format("memory")
      .queryName("asof_out").outputMode("append").start()
    try {
      // batch 1: the 10:00 left arrives BEFORE its 09:45 match
      input.addData(AsOfIn(10L, ts("2024-01-01 10:00:00"), 1, 1L),
        AsOfIn(10L, ts("2024-01-01 09:30:00"), 0, 101L))
      query.processAllAvailable()
      assert(spark.table("asof_out").count() === 0, "nothing final before watermark")
      // batch 2: the out-of-order right + the remaining rows
      input.addData(AsOfIn(10L, ts("2024-01-01 09:45:00"), 0, 102L),
        AsOfIn(10L, ts("2024-01-01 09:10:00"), 1, 2L),
        AsOfIn(10L, ts("2024-01-01 09:30:00"), 1, 3L),
        AsOfIn(20L, ts("2024-01-01 11:00:00"), 1, 4L))
      query.processAllAvailable()
      // batch 3: watermark pusher far past every left
      input.addData(AsOfIn(99L, ts("2024-01-01 23:00:00"), 0, 999L))
      query.processAllAvailable()
      input.addData(AsOfIn(99L, ts("2024-01-02 23:00:00"), 0, 998L))
      query.processAllAvailable()

      val streamed = spark.table("asof_out")
        .select("l_id", "r_id").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(spark.table("asof_out").count() === 4, "each left exactly once")

      val batch = graft.operators.TemporalJoins.asOfJoin(
          lefts.toDF("l_id", "key", "ts"), rights.toDF("r_id", "key", "ts"),
          Seq("key"), "ts", "ts", Map("r_id" -> "matched"))
        .select("l_id", "matched").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(streamed === batch)
      assert(batch === Map(1L -> 102L, 2L -> -1L, 3L -> 101L, 4L -> -1L))
    } finally query.stop()
  }
}
