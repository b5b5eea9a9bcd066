package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CurationOps

final case class GateDoc(doc_id: Long, text: String)

/** The Gopher battery is a pure per-row projection, so it composes onto
  * a stream UNCHANGED — no twin object needed: this spec pins that
  * gating a firehose is the same call as gating a table (the
  * stateless end of the streaming-curation spectrum; MixtureStreamSpec
  * and DecontaminationStreamSpec run the stateful end the same way —
  * `mixturePlan` and `decontaminationGate` on a watermarked stream). */
class CurationStreamSpec extends AnyFunSuite with SparkSuite {

  test("gopherGates on a stream == gopherGates on the same batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rows = Seq(
      GateDoc(1L, ("the wonderful weather and people " * 12).trim),
      GateDoc(2L, "short text only"),
      GateDoc(3L, ("#### " * 60).trim))

    val in = MemoryStream[GateDoc]
    val q = CurationOps.gopherGates(in.toDF())
      .writeStream.format("memory").queryName("gate_out")
      .outputMode("append").start()
    try {
      in.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("gate_out")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("g_pass")))
        .sortBy(_._1).toSeq
      val batch = CurationOps.gopherGates(rows.toDF())
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("g_pass")))
        .sortBy(_._1).toSeq
      assert(streamed === batch)
      assert(streamed === Seq((1L, 1), (2L, 0), (3L, 0)))
    } finally q.stop()
  }
}
