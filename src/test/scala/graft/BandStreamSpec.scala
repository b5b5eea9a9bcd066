package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.BandStream

final case class BandL(k: String, l_id: Long, l_v: Double, l_ts: Timestamp)
final case class BandR(k: String, r_id: Long, r_v: Double, r_ts: Timestamp)

/** The streaming band join must (a) run as a native watermarked
  * stream-stream join and (b) produce exactly the batch answer of the
  * same function — including band boundaries, bucket crossings, and the
  * time-lag cut. */
class BandStreamSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  // width 1.0, lag 600 s: pairs cross bucket edges, hit the v+width
  // boundary exactly, and one value-match sits outside the time lag
  private val lefts = Seq(
    BandL("a", 1L, 0.8, ts("2024-01-01 10:00:00")),
    BandL("a", 2L, 2.0, ts("2024-01-01 10:05:00")),
    BandL("b", 3L, 0.8, ts("2024-01-01 10:00:00")))
  private val rights = Seq(
    BandR("a", 11L, 1.3, ts("2024-01-01 10:04:00")), // in band of l1, in lag
    BandR("a", 12L, 1.8, ts("2024-01-01 10:09:30")), // in band of l1, in lag
    BandR("a", 13L, 3.0, ts("2024-01-01 10:06:00")), // boundary: = l2 + width
    BandR("a", 14L, 1.5, ts("2024-01-01 11:00:00")), // value-match l1, OUT of lag
    BandR("b", 15L, 1.9, ts("2024-01-01 10:01:00"))) // wrong band for l3

  private def run(l: org.apache.spark.sql.DataFrame,
                  r: org.apache.spark.sql.DataFrame) =
    BandStream.valueBandWithin(l, r, Seq("k"), "l_v", "r_v", 1.0,
      "l_ts", "r_ts", 600L)

  test("batch form: band + lag predicates select exactly the expected pairs") {
    val s = spark
    import s.implicits._
    val out = run(lefts.toDF(), rights.toDF())
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 11L), (1L, 12L), (2L, 13L)))
  }

  test("streaming form: native stream-stream join matches the batch answer") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val lIn = MemoryStream[BandL]
    val rIn = MemoryStream[BandR]
    val joined = run(
      lIn.toDF().withWatermark("l_ts", "10 minutes"),
      rIn.toDF().withWatermark("r_ts", "10 minutes"))
    val query = joined.writeStream.format("memory")
      .queryName("band_out").outputMode("append").start()
    try {
      // out-of-order delivery across two batches
      lIn.addData(lefts.take(2): _*)
      rIn.addData(rights.take(3): _*)
      query.processAllAvailable()
      lIn.addData(lefts.drop(2): _*)
      rIn.addData(rights.drop(3): _*)
      query.processAllAvailable()

      val streamed = spark.table("band_out")
        .select("l_id", "r_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed === Set((1L, 11L), (1L, 12L), (2L, 13L)))
    } finally query.stop()
  }
}
