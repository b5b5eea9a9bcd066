package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashFunctions
import graft.streaming.PriorityStream

/** Streaming priority sampling: the live per-stratum weighted sample
  * after any prefix of batches equals the batch-side computation over
  * the rows seen so far, regardless of batch boundaries. */
class PriorityStreamSpec extends AnyFunSuite with SparkSuite {

  test("stream priority sample == batch reference after each batch; length bias holds") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val k = 3
    def mkText(i: Long): String = Seq.fill((i % 17 + 1).toInt)("w").mkString(" ")
    val batch1 = (1L to 30L).map(i => (s"lang${i % 2}", i, mkText(i)))
    val batch2 = (31L to 50L).map(i => (s"lang${i % 2}", i, mkText(i)))

    val mem = MemoryStream[(String, Long, String)]
    val out = PriorityStream.prioritySampleStream(
      mem.toDF().toDF("lang", "doc_id", "text"), k)
    val q = out.writeStream.format("memory").queryName("ppicks")
      .outputMode("update").start()
    try {
      def latestPerStratum(): Map[String, Set[Long]] = {
        val rows = spark.table("ppicks")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        rows.groupBy(_._1).map { case (st, rs) =>
          val vmax = rs.map(_._2).max
          st -> rs.filter(_._2 == vmax).map(_._3).toSet
        }
      }
      // batch-side reference over an arbitrary prefix of rows
      def reference(rows: Seq[(String, Long, String)]): Map[String, Set[Long]] =
        rows.groupBy(_._1).map { case (st, rs) =>
          val scored = rs.map { case (_, id, text) =>
            val w = text.trim.split("\\s+").count(_.nonEmpty).toLong
            val u = hashU(id)
            (id, w, w.toDouble / u.toDouble)
          }
          st -> scored.sortBy(t => (-t._3, t._1)).take(k).map(_._1).toSet
        }

      mem.addData(batch1: _*)
      q.processAllAvailable()
      assert(latestPerStratum() == reference(batch1))

      mem.addData(batch2: _*)
      q.processAllAvailable()
      assert(latestPerStratum() == reference(batch1 ++ batch2))

      // length bias: the kept docs' mean weight exceeds the stream's
      // mean weight (the point of weighting — mirrors the x82 spec)
      val kept = spark.table("ppicks").collect()
        .groupBy(_.getString(0)).toSeq.flatMap { case (_, rs) =>
          val vmax = rs.map(_.getLong(1)).max
          rs.filter(_.getLong(1) == vmax).toSeq
        }
      val allW = (batch1 ++ batch2).map(_._3.trim.split("\\s+").length.toLong)
      assert(kept.map(_.getLong(3)).sum.toDouble / kept.size >
        allW.sum.toDouble / allW.size)
    } finally q.stop()
  }

  private def hashU(id: Long): Long = {
    val s = spark
    import s.implicits._
    Seq(id).toDF("doc_id")
      .select(HashFunctions.hash60(col("doc_id"), 7) + lit(1L))
      .head.getLong(0)
  }
}
