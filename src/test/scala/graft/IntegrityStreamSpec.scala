package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IntegrityOps

final case class ChildRow(row_id: Long, fk: java.lang.Long)

/** x147's streaming twin: arriving child rows are orphan-flagged the
  * moment they arrive against the offline parent key set, and the live
  * key-compressed panel finished through the SAME
  * IntegrityOps.auditFromPanel equals the batch edge audit on every
  * arrival prefix. */
class IntegrityStreamSpec extends AnyFunSuite with SparkSuite {

  // parent keys 1..5; children reference 1..7 (6,7 dangle) plus NULLs
  private val batch1: Seq[ChildRow] =
    Seq(ChildRow(1L, 1L), ChildRow(2L, 2L), ChildRow(3L, 6L),
      ChildRow(4L, null), ChildRow(5L, 1L))
  private val batch2: Seq[ChildRow] =
    Seq(ChildRow(6L, 7L), ChildRow(7L, 3L), ChildRow(8L, 6L),
      ChildRow(9L, null))

  private def auditSnap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq

  test("live panel finished via auditFromPanel == batch edgeAudit on every prefix") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val parent = (1L to 5L).toDF("pk")

    val in = MemoryStream[ChildRow]
    val q = IntegrityOps.childPanel(in.toDF(), "fk")
      .writeStream.format("memory").queryName("fk_panel")
      .outputMode("complete").start()
    try {
      for ((prefix, adds) <- Seq((batch1, batch1),
          (batch1 ++ batch2, batch2))) {
        in.addData(adds); q.processAllAvailable()
        // snapshot-then-finish: the finishing read is multi-job and a
        // complete-mode sink may rewrite between jobs (the
        // SketchStreamSpec read discipline)
        val live = IntegrityOps.auditFromPanel("child->parent",
          spark.table("fk_panel").localCheckpoint(true), parent, "pk")
        val batch = IntegrityOps.edgeAudit("child->parent",
          prefix.toDF(), "fk", parent, "pk")
        assert(auditSnap(live) === auditSnap(batch),
          s"audit diverged at prefix of ${prefix.size}")
      }
      // the full-prefix audit, by hand: 9 rows, 5 non-null distinct
      // keys (1,2,3,6,7), orphan rows = two 6s + one 7 + two NULLs = 5,
      // orphan keys = {6,7}
      val got = auditSnap(IntegrityOps.auditFromPanel("child->parent",
        spark.table("fk_panel").localCheckpoint(true), parent, "pk"))
      assert(got === Seq(("child->parent", 9L, 5L, 5L, 2L)), s"$got")
    } finally q.stop()
  }

  test("flagOnIngest: orphans flagged on arrival, rows pass through") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val parentK = IntegrityOps.parentKeys((1L to 5L).toDF("pk"), "pk")

    val in = MemoryStream[ChildRow]
    val q = IntegrityOps.flagOnIngest(in.toDF(), "fk", parentK)
      .writeStream.format("memory").queryName("fk_flags")
      .outputMode("append").start()
    try {
      in.addData(batch1); q.processAllAvailable()
      val flags = spark.table("fk_flags").collect()
        .map(r => r.getLong(0) -> r.getInt(2)).toMap
      // row 3 (fk=6) dangles, row 4 (fk NULL) dangles like the batch
      // audit counts it; the rest are clean
      assert(flags === Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 0),
        s"$flags")
    } finally q.stop()
  }
}
