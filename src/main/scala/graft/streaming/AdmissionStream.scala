package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.PinScope
import graft.operators.{AnnAdmitIndex, NearDupIndex, ShardAdmission,
  SpanIndex}

/** The full production ingest loop, streaming: per micro-batch, emit
  * the [[ShardAdmission]] manifest for the arriving shard (the
  * per-content decision record an operator audits and a downstream
  * trimmer consumes) and commit the batch to BOTH persisted indexes —
  * the near-dup signature index (admitted contents + the rejected-copy
  * ledger) and the exact-substring index (novel window hashes) — so
  * the next batch admits against everything this one brought.
  *
  * Exactly-once, per part:
  *   - index extensions: epoch NAMING (`b<id>` per index; a replayed
  *     batch id is a committed-manifest no-op, a crashed half-written
  *     attempt rebuilds deterministically — the [[NearDupStream]] /
  *     [[SpanStream]] contract);
  *   - the manifest sink: one overwritten directory per batch id
  *     (`out/batch=<id>`), so a replay rewrites the same rows in place
  *     rather than appending duplicates.
  *
  * ORDER MATTERS and is pinned here: manifest write → near-dup extend
  * → span extend. Decisions must reflect the PRE-batch index state
  * (the batch [[ShardAdmission.report]] semantics), so a replay that
  * arrives AFTER an index already committed `b<id>` must not recompute
  * the manifest — the index it would read now contains the batch
  * itself, and every decision would collapse to reject_exact. The
  * guard is the near-dup manifest: `b<id>` committed there proves the
  * manifest write COMPLETED on the prior attempt (it strictly
  * precedes the extend), so the replay skips straight to the
  * (idempotent) extends; `b<id>` absent means the crash hit at or
  * before the manifest write, and rewriting against the unadvanced
  * index is bit-identical.
  *
  * `maintainEvery` applies both indexes' tail compaction (base never
  * rewritten) whenever either accretion tail reaches the bound.
  *
  * ONE PROBE PER TIER per micro-batch ([[ingestFull]], the production
  * loop): the near-dup ([[graft.operators.NearDupIndex.Probe]]), span
  * ([[graft.operators.SpanIndex.Probe]]) and ADC (a persisted
  * [[graft.operators.AnnAdmitIndex.admit]] relation) probes of the
  * PRE-batch indexes are each taken once, pinned into the batch's
  * [[PinScope]], and read by both the manifest and that tier's epoch
  * commit. Each probe is a lazy value, evaluated by its first consumer:
  * on a replay the commits of already-accounted tiers never evaluate
  * theirs, so no probe reads an index that already holds `b<id>`, and a
  * commit whose index moved since its probe re-probes under the index
  * lock. (The two-tier [[ingest]] commits through the same
  * probe-then-commit `extendEpoch`; its manifest is the analytic
  * [[ShardAdmission.report]], which probes on its own.) */
object AdmissionStream {

  /** `stream` must carry (doc_id, text). Returns the running query;
    * the manifest lands under `outDir/batch=<id>/`. */
  def ingest(stream: DataFrame, nearDupRoot: String, spanRoot: String,
             outDir: String, checkpointDir: String,
             minMatches: Int = NearDupIndex.defaultMinMatches,
             w: Int = SpanIndex.defaultW,
             maintainEvery: Int = 0): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        PinScope { _ => // the batch's pins: freed when the batch ends
          // hasEpoch, not raw manifest membership: a tail compaction may
          // have folded b<id> into a merged epoch (covered.json) — the
          // replay must still skip the manifest recompute
          if (!NearDupIndex.hasEpoch(nearDupRoot, s"b$id"))
            ShardAdmission.report(batch, nearDupRoot, spanRoot, minMatches,
                w, pin = false) // session pins would outlive the batch
              .write.mode("overwrite").parquet(s"$outDir/batch=$id")
          NearDupIndex.extendEpoch(batch, nearDupRoot, s"b$id", minMatches)
          SpanIndex.extendEpoch(batch, spanRoot, s"b$id", w)
          if (maintainEvery > 0) {
            // coveredFloor = the in-flight batch id: every batch below it
            // has committed offsets and can never replay, so its folded
            // replay-idempotency name may be forgotten — covered.json
            // stays O(1) instead of growing with the batch history
            if (NearDupIndex.tailSize(nearDupRoot) >= maintainEvery)
              NearDupIndex.compactTail(batch.sparkSession, nearDupRoot,
                coveredFloor = Some(id))
            if (SpanIndex.tailSize(spanRoot) >= maintainEvery)
              SpanIndex.compactTail(batch.sparkSession, spanRoot,
                coveredFloor = Some(id))
          }
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** The FOUR-TIER loop: [[ingest]]'s discipline with the embedding
    * tier composed in — per micro-batch ([[admitBatch]]), the
    * [[ShardAdmission.reportFullWith]] manifest (exact > near > embed >
    * trim > admit, reflecting the PRE-batch state of ALL FOUR indexes)
    * and one `b<id>` epoch committed to each index: near-dup
    * signatures, exact-substring windows, and the epoch-sharded ANN
    * admission index (admitted vectors int8-coded under the live
    * quantizer generation; [[graft.operators.AnnAdmitIndex.retrain]] —
    * ridden on full compaction — keeps that generation's k at
    * adaptiveK(N) so the probe stays sub-linear in the corpus). Each
    * index is probed once per batch (the object doc's rule).
    *
    * `stream` must carry (doc_id, text, embedding); rows with a NULL
    * embedding skip the embedding tier (NULL never rejects) and are
    * not posted to the ANN index.
    *
    * Replay guard, widened to all four tiers: the near-dup index is
    * still the FIRST extension after the manifest write, so `b<id>`
    * accounted there proves the manifest completed — the replay skips
    * straight to the extends, each of which is an accounted-name
    * no-op on every index (including through a compaction fold, via
    * covered.json). `maintainEvery` runs ALL THREE indexes' tail
    * compaction — bounded O(|tail|) maintenance on every tier, the
    * base epochs never rewritten. */
  def ingestFull(stream: DataFrame, nearDupRoot: String, spanRoot: String,
                 annRoot: String, outDir: String, checkpointDir: String,
                 tauMicro: Long, nProbe: Int,
                 minMatches: Int = NearDupIndex.defaultMinMatches,
                 w: Int = SpanIndex.defaultW,
                 maintainEvery: Int = 0): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        admitBatch(batch, id, nearDupRoot, spanRoot, annRoot, outDir,
          tauMicro, nProbe, minMatches, w, maintainEvery)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[ingestFull]] micro-batch: `batch` (doc_id, text, embedding)
    * under batch id `id`, its pins freed when it returns. */
  def admitBatch(batch: DataFrame, id: Long, nearDupRoot: String,
                 spanRoot: String, annRoot: String, outDir: String,
                 tauMicro: Long, nProbe: Int,
                 minMatches: Int = NearDupIndex.defaultMinMatches,
                 w: Int = SpanIndex.defaultW,
                 maintainEvery: Int = 0): Unit =
    PinScope { scope =>
      val emb = batch.filter(col("embedding").isNotNull)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      lazy val near = NearDupIndex.probe(batch, nearDupRoot, minMatches)
      lazy val span = SpanIndex.probe(batch, spanRoot, w)
      val verdicts = scope.persist(AnnAdmitIndex
        .admit(emb, annRoot, tauMicro, nProbe, pin = false))
      if (!NearDupIndex.hasEpoch(nearDupRoot, s"b$id"))
        ShardAdmission.reportFullWith(batch, verdicts, near, span)
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
      NearDupIndex.commitEpoch(nearDupRoot, s"b$id", near)
      SpanIndex.commitEpoch(spanRoot, s"b$id", span)
      AnnAdmitIndex.extendEpochAdmitted(emb, annRoot, s"b$id",
        verdicts.filter(col("verdict") === "admitted").select(col("vec_id")))
      if (maintainEvery > 0) {
        // coveredFloor = the in-flight batch id (see [[ingest]]):
        // O(1) replay metadata on every tier
        if (NearDupIndex.tailSize(nearDupRoot) >= maintainEvery)
          NearDupIndex.compactTail(batch.sparkSession, nearDupRoot,
            coveredFloor = Some(id))
        if (SpanIndex.tailSize(spanRoot) >= maintainEvery)
          SpanIndex.compactTail(batch.sparkSession, spanRoot,
            coveredFloor = Some(id))
        if (AnnAdmitIndex.tailSize(annRoot) >= maintainEvery)
          AnnAdmitIndex.compactTail(batch.sparkSession, annRoot,
            coveredFloor = Some(id))
      }
    }
}
