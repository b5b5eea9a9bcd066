package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DictTagOps

final case class TagDoc(doc_id: Long, text: String)

/** Live dictionary tallies (the x143 streaming twin): after every
  * arrival prefix the streamed per-term table equals the batch
  * [[DictTagOps.dictionaryTags]] on the same rows — the sums merge law
  * — including the zero rows of never-matched terms. */
class DictTagStreamSpec extends AnyFunSuite with SparkSuite {

  private def snap(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getAs[Long]("term_id"), r.getAs[String]("term"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_occ")))
      .sortBy(_._1).toSeq

  test("streamed tallies == batch tallies after every prefix; zeros held live") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val terms = Seq("scan", "can", "a a", "table", "zebra")
    val batch1 = Seq(TagDoc(1L, "scan the table"), TagDoc(2L, "a a a can"))
    val batch2 = Seq(TagDoc(3L, "table table scan scan"), TagDoc(4L, "no hits here"))

    val in = MemoryStream[TagDoc]
    val q = DictTagOps.dictionaryTags(in.toDF(), terms)
      .writeStream.format("memory").queryName("dict_tags")
      .outputMode("complete").start()
    try {
      for ((prefix, adds) <- Seq((batch1, batch1), (batch1 ++ batch2, batch2))) {
        in.addData(adds); q.processAllAvailable()
        val live = snap(spark.table("dict_tags"))
        assert(live === snap(DictTagOps.dictionaryTags(prefix.toDF(), terms)),
          s"tallies diverged at prefix of ${prefix.size}")
        assert(live.size === terms.size, "every term holds a live row")
        assert(live.find(_._2 == "zebra").get._3 === 0L,
          "never-matched terms keep their zero row live")
      }
    } finally q.stop()
  }

  test("batch dictionaryTags rejects a duplicate term at call time") {
    val s = spark
    import s.implicits._
    val docs = Seq(TagDoc(1L, "scan the table")).toDF()
    intercept[IllegalArgumentException] {
      DictTagOps.dictionaryTags(docs, Seq("scan", "table", "scan"))
    }
  }
}
