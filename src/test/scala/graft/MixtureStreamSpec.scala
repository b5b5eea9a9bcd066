package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CurationOps

final case class LangDoc(doc_id: Long, text: String, lang: String)

/** Mixture monitoring on ingest: after every prefix of arrivals, the
  * streamed plan equals the batch planner on the same rows — including
  * the oversubscribed flag flipping as availability accumulates. */
class MixtureStreamSpec extends AnyFunSuite with SparkSuite {

  private def snapshot(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4), r.getInt(5))).sortBy(_._1).toSeq

  test("stream == batch after every arrival prefix; flag flips when tokens suffice") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // tiny budget so the en slice can actually satisfy its target:
    // weight(en) = 0.4, budget 20 → target 8 tokens
    val weights = CurationOps.defaultMixture
    val budget = 20L
    val batch1 = Seq(LangDoc(1L, "one two three", "en"),
      LangDoc(2L, "uno dos", "es"))
    val batch2 = Seq(LangDoc(3L, "four five six seven eight nine", "en"),
      LangDoc(4L, "ein zwei", "de"))

    val in = MemoryStream[LangDoc]
    val q = CurationOps.mixturePlan(in.toDF(), weights, budget)
      .writeStream.format("memory").queryName("mix_out")
      .outputMode("complete").start()
    try {
      in.addData(batch1); q.processAllAvailable()
      val s1 = snapshot(spark.table("mix_out"))
      assert(s1 === snapshot(CurationOps.mixturePlan(
        batch1.toDF(), weights, budget)))
      // en has 3 of 8 target tokens → oversubscribed
      assert(s1.find(_._1 == "en").get._6 === 1)

      in.addData(batch2); q.processAllAvailable()
      val s2 = snapshot(spark.table("mix_out"))
      assert(s2 === snapshot(CurationOps.mixturePlan(
        (batch1 ++ batch2).toDF(), weights, budget)))
      // en now has 9 ≥ 8 target tokens → the flag flipped live
      assert(s2.find(_._1 == "en").get._6 === 0)
      assert(s2.find(_._1 == "de").get._6 === 1)
    } finally q.stop()
  }
}
