package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DedupStream

final case class InDoc(doc_id: Long, text: String, ts: Timestamp)

/** Dedup-on-ingest: duplicate texts inside the watermark horizon are
  * suppressed across micro-batches; distinct texts all pass. */
class DedupStreamSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming contamination guard flags eval-overlapping docs, stream == batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.DedupOps
    import graft.functions.HashFunctions

    // offline sketch build over the eval set's trigram hashes
    val eval = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val evalHashes = eval.select(
      explode(array_distinct(DedupOps.shingles(col("text"), 3))).as("sh"))
      .select(HashFunctions.hash60(col("sh")).as("h"))
    val bloom = evalHashes.stat.bloomFilter("h", 100L, 0.01)

    val rows = Seq(
      InDoc(1L, "the quick brown fox runs away", ts("2024-01-01 10:00:00")), // shares "the quick brown"
      InDoc(2L, "completely unrelated text here", ts("2024-01-01 10:01:00")),
      InDoc(3L, "fox jumps high over it", ts("2024-01-01 10:02:00"))) // shares "fox jumps high"

    val in = MemoryStream[InDoc]
    // n MUST match the sketch's build width (trigrams here)
    val q = DedupStream.flagContaminated(in.toDF(), bloom, n = 3)
      .writeStream.format("memory").queryName("contam_out")
      .outputMode("append").start()
    try {
      in.addData(rows.take(2)); q.processAllAvailable()
      in.addData(rows.drop(2)); q.processAllAvailable()
      val streamed = spark.table("contam_out")
        .select("doc_id", "contaminated").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val batch = DedupStream.flagContaminated(rows.toDF(), bloom, n = 3)
        .select("doc_id", "contaminated").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(streamed === batch)
      assert(streamed(1L) && streamed(3L), "overlapping docs must be flagged")
      assert(!streamed(2L), "clean doc must pass (fpp 1% on 3 shingles)")
    } finally q.stop()
  }

  test("within-horizon duplicates are suppressed across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val in = MemoryStream[InDoc]
    val query = DedupStream.dedupOnIngest(in.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(
        InDoc(1L, "alpha text", ts("2024-01-01 10:00:00")),
        InDoc(2L, "beta text", ts("2024-01-01 10:01:00")),
        InDoc(3L, "alpha text", ts("2024-01-01 10:02:00"))) // dup in-batch
      query.processAllAvailable()
      in.addData(
        InDoc(4L, "alpha text", ts("2024-01-01 10:10:00")), // dup across batches
        InDoc(5L, "gamma text", ts("2024-01-01 10:11:00")))
      query.processAllAvailable()

      val got = spark.table("dedup_out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // one survivor per distinct text; doc 1 beat 3 and 4
      assert(got === Set(1L, 2L, 5L))
    } finally query.stop()
  }
}
