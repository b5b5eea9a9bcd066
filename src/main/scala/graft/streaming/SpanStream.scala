package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.PinScope
import graft.operators.SpanIndex

/** Streaming admission into the persisted exact-substring index — the
  * online half of the [[SpanIndex]] contract, under exactly the
  * [[NearDupStream]] exactly-once discipline: each micro-batch commits
  * its NOVEL window hashes as epoch `b<batchId>`, a name already in the
  * committed manifest is a completed batch (replay: no-op), and a
  * crashed half-written attempt rebuilds deterministically because the
  * novel set is a function of the COMMITTED manifest the crash did not
  * advance. The indexed corpus is never re-windowed — each batch pays
  * its own windowing plus one whash-keyed probe.
  *
  * The index root must exist ([[SpanIndex.buildIndex]], possibly over
  * an empty seed corpus) before ingest starts. */
object SpanStream {

  /** One committed epoch of novel window hashes per micro-batch.
    * `stream` must carry (doc_id, text). `maintainEvery` > 0 merges the
    * accretion tail (base excluded) via [[SpanIndex.compactTail]]
    * whenever it reaches that many epochs — O(|tail|), manifest
    * bounded, replay-safe (tail compaction is bill-identical and the
    * trigger reads the manifest, not the batch id). */
  def ingest(stream: DataFrame, root: String, checkpointDir: String,
             w: Int = SpanIndex.defaultW, maintainEvery: Int = 0)
      : StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        PinScope { _ =>
          SpanIndex.extendEpoch(batch, root, s"b$id", w)
          if (maintainEvery > 0 && SpanIndex.tailSize(root) >= maintainEvery)
            SpanIndex.compactTail(batch.sparkSession, root)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
}
