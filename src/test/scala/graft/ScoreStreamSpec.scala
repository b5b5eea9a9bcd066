package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps
import graft.streaming.ScoreStream

/** Score-on-ingest: streamed per-doc LM scores equal the batch scorer's
  * on the same rows; OOV tokens take the smoothing cost, not a drop. */
class ScoreStreamSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("stream == batch, and OOV costs the cnt=0 smoothing value") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // offline train: T=5 tokens, V=3 vocab → cost(a)=cost(b)=ln(8/3),
    // cost(c)=ln(8/2), OOV=ln(8)
    val corpus = Seq((100L, "a a b"), (101L, "b c")).toDF("doc_id", "text")
    val (costs, oov) = TextOps.lmModel(corpus)
    assert(oov === math.floor(math.log(8.0) * 1e6 + 0.5).toLong)

    val rows = Seq(
      InDoc(1L, "a b", ts("2024-01-01 10:00:00")), // all in-vocab
      InDoc(2L, "a zzz", ts("2024-01-01 10:01:00")), // one OOV token
      InDoc(3L, "zzz qqq", ts("2024-01-01 10:02:00"))) // fully OOV

    val in = MemoryStream[InDoc]
    val q = ScoreStream.scoreOnIngest(in.toDF(), costs, oov, "10 minutes")
      .writeStream.format("memory").queryName("score_out")
      .outputMode("append").start()
    try {
      in.addData(rows.take(2)); q.processAllAvailable()
      in.addData(rows.drop(2)); q.processAllAvailable()
      // push the watermark past every doc so append mode emits them
      in.addData(InDoc(99L, "a", ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      in.addData(InDoc(98L, "a", ts("2024-01-03 00:00:00")))
      q.processAllAvailable()

      val streamed = spark.table("score_out")
        .select("doc_id", "n_tokens", "nll_micro")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val batch = ScoreStream.scoreOnIngest(rows.toDF(), costs, oov, "10 minutes")
        .select("doc_id", "n_tokens", "nll_micro")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      for (id <- Seq(1L, 2L, 3L))
        assert(streamed(id) === batch(id), s"stream != batch for doc $id")

      val costAB = math.floor(math.log(8.0 / 3.0) * 1e6 + 0.5).toLong
      assert(streamed(1L) === ((2L, 2 * costAB)))
      assert(streamed(2L) === ((2L, costAB + oov)), "OOV token must cost ln(T+V)")
      assert(streamed(3L) === ((2L, 2 * oov)))
      // the fully-OOV doc scores strictly worse than the in-vocab doc
      assert(streamed(3L)._2 > streamed(1L)._2)

      // watermark contract: a doc arriving with an event time far
      // behind the advanced watermark is DROPPED, not scored — state
      // for its (doc_id, ts) group was already evicted
      in.addData(InDoc(50L, "a b", ts("2024-01-01 09:00:00")))
      q.processAllAvailable()
      in.addData(InDoc(97L, "a", ts("2024-01-04 00:00:00"))) // flush
      q.processAllAvailable()
      val ids = spark.table("score_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(!ids.contains(50L), "late row behind the watermark must drop")
    } finally q.stop()
  }
}
