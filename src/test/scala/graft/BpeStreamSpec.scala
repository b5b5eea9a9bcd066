package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.BpeOps
import graft.streaming.BpeStream

/** BPE pricing on ingest: streamed subword counts equal the batch
  * applier's on the same rows, including on words the training corpus
  * never saw (the no-OOV property of merge application). */
class BpeStreamSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("stream == batch applyCounts; unseen words segment without a lexicon") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // freeze a model on the fixture corpus
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val model = BpeOps.train(corpus, rounds = 16)

    // arriving docs: fixture-like text AND words training never saw
    val rows = Seq(
      InDoc(1L, "the quick brown fox jumps over the lazy dog",
        ts("2024-01-01 10:00:00")),
      InDoc(2L, "zzqxj wvvkp mmnnoo", ts("2024-01-01 10:01:00")), // unseen
      InDoc(3L, "data pipeline quality checks data",
        ts("2024-01-01 10:02:00")))

    val in = MemoryStream[InDoc]
    val q = BpeStream.countOnIngest(in.toDF(), model,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("bpe_out")
      .outputMode("append").start()
    in.addData(rows.take(2))
    q.processAllAvailable()
    in.addData(rows.drop(2))
    in.addData(InDoc(99L, "flush", ts("2024-01-01 12:00:00")))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("bpe_out")
      .filter(col("doc_id") < 99)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_subwords"),
          r.getAs[Double]("fertility"))).toMap

    val batch = BpeOps.applyCounts(
        rows.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"), model)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_subwords"),
          r.getAs[Double]("fertility"))).toMap

    assert(streamed === batch)
    assert(streamed.keySet === Set(1L, 2L, 3L))
    // the unseen-word doc still priced: every word costs >= 1 subword,
    // and fully-unseen words cost more than their word count
    val (w2, sub2, _) = streamed(2L)
    assert(w2 === 3L && sub2 >= w2)
  }
}
