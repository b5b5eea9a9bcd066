package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AnomalyOps

final case class TypedEvent(event_type: String, ts: Timestamp)

/** Live burst monitor (the x124 streaming twin): after every arrival
  * prefix the streamed hourly-count table equals the batch counts on
  * the same rows, and burst-verdict-on-read over the live table equals
  * the batch burstReport — including a burst that only MATERIALIZES
  * once later arrivals extend the baseline. */
class AnomalyStreamSpec extends AnyFunSuite with SparkSuite {

  private val h0 = 472224L

  private def ev(rows: Seq[(String, Int, Int)]): Seq[TypedEvent] =
    rows.flatMap { case (t, h, n) =>
      (0 until n).map(i => TypedEvent(t, new Timestamp(((h0 + h) * 3600L + i) * 1000L)))
    }

  private def snap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("streamed counts == batch counts per prefix; verdict-on-read == batch report") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // batch1: 10 steady hours — not enough baseline for any verdict;
    // batch2: 14 more steady hours plus a 5× spike at hour 24
    val batch1 = ev((0 until 10).map(("click", _, 4)))
    val batch2 = ev((10 until 24).map(("click", _, 4)) :+ (("click", 24, 20)))

    val in = MemoryStream[TypedEvent]
    val q = AnomalyOps.hourlyCounts(in.toDF())
      .writeStream.format("memory").queryName("live_hourly")
      .outputMode("complete").start()
    try {
      for ((prefix, adds) <- Seq((batch1, batch1), (batch1 ++ batch2, batch2))) {
        in.addData(adds); q.processAllAvailable()
        val live = spark.table("live_hourly")
        assert(snap(live) === snap(AnomalyOps.hourlyCounts(prefix.toDF())),
          s"hourly counts diverged at prefix of ${prefix.size}")
        val onRead = AnomalyOps.burstsFromHourly(live).collect()
        val batch = AnomalyOps.burstReport(prefix.toDF()).collect()
        assert(onRead.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
          "verdict-on-read must equal the batch report")
        // x166 twin: the SAME live panel finishes into the changepoint
        // report — pin a consistent snapshot first (multi-job read over
        // a complete-mode sink, the SketchStreamSpec discipline)
        val cpLive = AnomalyOps.changepointFromHourly(live.localCheckpoint(true))
          .collect().map(_.toSeq).sortBy(_.head.toString)
        val cpBatch = AnomalyOps.changepointReport(prefix.toDF())
          .collect().map(_.toSeq).sortBy(_.head.toString)
        assert(cpLive === cpBatch,
          s"changepoint-on-read diverged at prefix of ${prefix.size}")
      }
      // the spike is only a verdict once the baseline filled in batch2
      val verdict = AnomalyOps.burstsFromHourly(spark.table("live_hourly")).collect()
      assert(verdict.length === 1)
      assert(verdict.head.getAs[Long]("hour_epoch") === h0 + 24)
      assert(verdict.head.getAs[Long]("base_sum") === 96L) // 24 h × 4
    } finally q.stop()
  }
}
