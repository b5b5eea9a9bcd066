package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream,
  StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SubstringOps

/** Gate-on-ingest: streamed contamination flags equal the batch x79
  * gate on the same rows; short docs yield no row on either side; the
  * stream windows with the batch gate's native hash, not md5. */
class DecontaminationStreamSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("stream == batch x79 on the same corpus; short docs skip both gates") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val w = 3
    val evalText = "alpha beta gamma delta epsilon"
    val eval = Seq((1000L, evalText)).toDF("doc_id", "text")
    val evalWins = SubstringOps.evalWindows(eval, w)

    val arrivals = Seq(
      // carries "beta gamma delta" — a full eval window → contaminated
      InDoc(1L, "x beta gamma delta y", ts("2024-01-01 10:00:00")),
      // same vocabulary, different order → clean
      InDoc(2L, "delta beta alpha gamma epsilon", ts("2024-01-01 10:01:00")),
      // shorter than w tokens → no windows, no row
      InDoc(3L, "alpha beta", ts("2024-01-01 10:02:00")))

    val in = MemoryStream[InDoc]
    val q = SubstringOps.decontaminationGate(
        in.toDF().withWatermark("ts", "10 minutes"), evalWins, w,
        keyNames = Seq("doc_id", "ts"))
      .writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    try {
      in.addData(arrivals)
      q.processAllAvailable()
      in.addData(InDoc(99L, "push the watermark forward now ok",
        ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      in.addData(InDoc(98L, "and once more beyond the horizon",
        ts("2024-01-03 00:00:00")))
      q.processAllAvailable()

      val streamed = spark.table("decon_out")
        .select("doc_id", "n_windows", "hit_windows", "contaminated")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).sortBy(_._1).toSeq.filter(_._1 < 90L)

      // batch reference: same corpus, eval rows tagged by id
      val corpus = (Seq((1000L, evalText)) ++
        arrivals.map(d => (d.doc_id, d.text))).toDF("doc_id", "text")
      val batch = SubstringOps.ngramDecontamination(
          corpus, col("doc_id") >= 1000L, w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).sortBy(_._1).toSeq

      assert(streamed === batch)
      assert(streamed.map(t => t._1 -> t._4).toMap === Map(1L -> 1, 2L -> 0))
      assert(!streamed.exists(_._1 == 3L), "short doc yields no gate row")
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan.toString.toLowerCase
      assert(!plan.contains("md5"),
        "the streaming gate must window with the batch gate's native hash")
    } finally q.stop()
  }
}
