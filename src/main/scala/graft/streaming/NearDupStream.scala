package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.PinScope
import graft.operators.NearDupIndex

/** Streaming admission into the persisted near-dup signature index —
  * the online half of the [[NearDupIndex]] contract: document batches
  * arriving on a stream are admitted against the LIVE index (exact
  * anti-join + band-collision estimate, O(|batch| + collisions)) and
  * the admitted contents committed as one epoch per micro-batch.
  *
  * Exactly-once under at-least-once delivery comes from epoch NAMING,
  * not the sink manifest: each micro-batch commits epoch `b<batchId>`,
  * and [[NearDupIndex.extendEpoch]] treats a name already in the
  * committed manifest as a completed batch (replay: no-op) while a
  * crashed half-written attempt — staged or even moved into place but
  * never promoted — is rebuilt and atomically replaced, which is
  * deterministic because the admitted set depends only on the COMMITTED
  * manifest the crash did not advance. The checkpoint makes Spark
  * replay the same rows under the same batch id, closing the loop.
  *
  * The index root must exist ([[NearDupIndex.buildIndex]], possibly
  * over an empty seed corpus) before ingest starts — the stream only
  * ever EXTENDS a committed index. */
object NearDupStream {

  /** Admission-gated ingest: one committed epoch per micro-batch.
    * `stream` must carry (doc_id, text).
    *
    * `maintainEvery` > 0 bounds the manifest: whenever the post-commit
    * accretion tail (the data epochs after the last tombstone,
    * excluding the protected base — [[NearDupIndex.compactTail]]'s
    * mergeable set) reaches that many epochs, compactTail merges it
    * into one — O(|tail|), the base is never rewritten, so probe
    * file-open cost stays bounded for a long-lived ingest. Safe under
    * replay: tail compaction is semantics-free (admissions and the
    * ledger are pinned bit-identical across it), and the trigger reads
    * the manifest itself, not the batch id, so it self-regulates
    * whatever the replay history looks like. */
  def ingest(stream: DataFrame, root: String, checkpointDir: String,
             minMatches: Int = NearDupIndex.defaultMinMatches,
             maintainEvery: Int = 0)
      : StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        PinScope { _ => // frees the batch's signing pins
          NearDupIndex.extendEpoch(batch, root, s"b$id", minMatches)
          if (maintainEvery > 0 &&
              NearDupIndex.tailSize(root) >= maintainEvery)
            NearDupIndex.compactTail(batch.sparkSession, root)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
}
