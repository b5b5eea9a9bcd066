package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ClassifyOps
import graft.streaming.ClassifyStream

/** Classify-on-ingest: streamed NB predictions equal the batch scorer's
  * under the same offline-trained model; OOV tokens price at each
  * class's own cnt=0 smoothing cost; ties break alphabetically. */
class ClassifyStreamSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("stream == batch prediction under one model; OOV priced per class") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val corpus = Seq(
      (100L, "xx", "foo bar foo baz"),
      (101L, "xx", "bar baz foo foo"),
      (102L, "yy", "qux quux qux corge"),
      (103L, "yy", "corge qux quux quux")
    ).toDF("doc_id", "lang", "text")
    val (dense, priors) = ClassifyOps.nbModel(corpus)
    assert(priors.map(_.lang) == Seq("xx", "yy"))
    // symmetric corpus: equal priors, equal class totals -> equal OOV costs
    assert(priors(0).priorMicro == priors(1).priorMicro)
    assert(priors(0).oovMicro == priors(1).oovMicro)

    val rows = Seq(
      InDoc(1L, "foo bar", ts("2024-01-01 10:00:00")),   // clear xx
      InDoc(2L, "qux corge", ts("2024-01-01 10:01:00")), // clear yy
      InDoc(3L, "zzz www", ts("2024-01-01 10:02:00")))   // fully OOV -> tie -> xx

    val in = MemoryStream[InDoc]
    val q = ClassifyStream.classifyOnIngest(in.toDF(), dense, priors, "10 minutes")
      .writeStream.format("memory").queryName("classify_out")
      .outputMode("append").start()
    try {
      in.addData(rows); q.processAllAvailable()
      in.addData(InDoc(99L, "foo", ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      in.addData(InDoc(98L, "foo", ts("2024-01-03 00:00:00")))
      q.processAllAvailable()

      val streamed = spark.table("classify_out")
        .select("doc_id", "n_tokens", "pred_lang", "nll_micro")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
      val batch = ClassifyStream
        .classifyOnIngest(rows.toDF(), dense, priors, "10 minutes")
        .select("doc_id", "n_tokens", "pred_lang", "nll_micro")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
      for (id <- Seq(1L, 2L, 3L))
        assert(streamed(id) === batch(id), s"stream != batch for doc $id")

      assert(streamed(1L)._2 == "xx")
      assert(streamed(2L)._2 == "yy")
      // fully-OOV doc: both classes cost prior + 2*oov -> tie -> "xx"
      assert(streamed(3L) ===
        ((2L, "xx", priors(0).priorMicro + 2 * priors(0).oovMicro)))

      // consistency with the batch resubstitution scorer: same corpus,
      // same model arithmetic -> same prediction and nll per doc
      val batchSelf = ClassifyOps.nbLangScore(corpus)
        .select("doc_id", "pred_lang", "nll_micro")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      val corpusStream = ClassifyStream.classifyOnIngest(
        corpus.select($"doc_id", $"text",
          org.apache.spark.sql.functions.lit(ts("2024-01-01 00:00:00")).as("ts")),
        dense, priors, "10 minutes")
        .select("doc_id", "pred_lang", "nll_micro")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      for (id <- Seq(100L, 101L, 102L, 103L))
        assert(corpusStream(id) === batchSelf(id),
          s"online scorer must equal the batch scorer on doc $id")
    } finally q.stop()
  }
}
