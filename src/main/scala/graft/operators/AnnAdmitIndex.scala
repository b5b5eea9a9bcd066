package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.EpochStore

/** Epoch-sharded PERSISTED ANN ADMISSION INDEX — the embedding tier of
  * the four-tier admission stack under the SAME manifest lifecycle as
  * the text tiers ([[NearDupIndex]], [[SpanIndex]]): immutable postings
  * epochs named by a versioned manifest, O(|batch|) extension, tiered
  * tail compaction with a protected base, batch-replay idempotency
  * that survives compaction via `covered.json`
  * ([[graft.core.EpochStore]]).
  *
  * Relationship to the flat layout: [[IvfOps.saveIndex]] +
  * [[graft.streaming.AnnIndexStream]] maintain a single postings
  * directory through Spark's transactional file sink — exactly-once by
  * sink manifest, but compaction must close the ingest epoch and swap
  * the whole directory ([[graft.streaming.AnnIndexStream.compactIndex]]).
  * This index instead gives the embedding tier the text tiers'
  * epoch-manifest discipline, which a FOUR-TIER streaming admitter
  * needs: per micro-batch, one `b<id>`-named epoch per index, one
  * shared replay rule, and maintenance that never rewrites the base.
  *
  * What persists:
  *   - `root/model/<gen>/centroids` — the coarse quantizer, IMMUTABLE
  *     per generation and named by the manifest (entry `model/<gen>`):
  *     model identity is what makes accumulated postings valid, so a
  *     [[retrain]] writes a NEW generation + recoded postings and
  *     swaps BOTH in one manifest promotion — never splices (the
  *     [[IvfOps.saveIndex]] rule, made crash-atomic: a reader resolves
  *     either (old model, old postings) or (new, new), never a mix);
  *   - `root/epochs/<name>/postings` (vec_id, centroid_id, qcode) —
  *     int8-coded vectors under that generation's model, the
  *     [[graft.streaming.AnnIndexStream.postings]] arithmetic
  *     (bit-exact with the offline builder).
  *
  * Admission ([[admit]]) is [[IvfOps.admitVectorsOver]] against the
  * live epoch union: per incoming vector, its best ADC neighbor among
  * the probed inverted lists, `dup_embed` at `tauMicro` — the
  * incremental SemDeDup decision; indexed floats are never re-read.
  * Extension posts ONLY vectors the live index admitted (the
  * contraction discipline: a semantic duplicate's anchor already
  * covers it; in-batch semantic dups both post, exactly as in-batch
  * near-dups both post in [[NearDupIndex]] — the batch is admitted
  * first, indexed second).
  *
  * Scale shape: per query only the nProbe touched lists are read
  * (probed-cid scan cut), and the probe form follows the batch
  * ([[IvfOps.ProbeAuto]]): small batches collect+broadcast, large
  * ones build probes on the executors and shuffle-join — no driver-
  * or broadcast-resident state grows with the batch. Extension is
  * O(|admitted batch|);
  * [[compactTail]] merges only the accretion tail, range-bucketed by
  * (centroid_id, vec_id) so each output file serves whole list ranges
  * with a tight centroid_id min/max — parallel rewrite, no
  * corpus-sized task. */
object AnnAdmitIndex {

  val defaultCompactRowsPerPartition: Long =
    NearDupIndex.defaultCompactRowsPerPartition

  private def lockFor(root: String) = EpochStore.lockFor(root)

  def committedEpochs(root: String): Seq[String] =
    EpochStore.committedEpochs(root)

  /** The live manifest's POSTINGS entries — the `model/<gen>`
    * quantizer entry filtered out (ops-surface counterpart of the
    * text tiers' committedEpochs). */
  def postingsEntries(root: String): Seq[String] =
    postingsEpochs(committedEpochs(root))

  /** The manifest's POSTINGS entries — everything but the `model/<gen>`
    * quantizer entry. */
  private def postingsEpochs(eps: Seq[String]): Seq[String] =
    eps.filterNot(_.startsWith("model/"))

  private def modelEntries(eps: Seq[String]): Seq[String] =
    eps.filter(_.startsWith("model/"))

  /** Write a quantizer generation as an immutable `root/model/<gen>`
    * dir (staged + atomic move, the [[EpochStore.writeEpoch]]
    * discipline) and return its manifest entry. Unreferenced until a
    * manifest naming it promotes — a crash leaves invisible garbage,
    * never a half-read model. Stale `.stage-*` leftovers of crashed
    * prior attempts (random names, so unlike writeEpoch a retry never
    * overwrites them) are swept here; retired generations and version
    * dirs are reclaimed by the explicit [[gc]]. */
  private def writeModel(spark: SparkSession, model: IvfOps.IvfModel,
                         root: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val name = "g" + java.util.UUID.randomUUID().toString.take(12)
    Files.createDirectories(Paths.get(root, "model"))
    val ls = Files.list(Paths.get(root, "model"))
    try ls.iterator().asScala
      .filter(_.getFileName.toString.startsWith(".stage-")).toList
      .foreach(EpochStore.deleteRecursively)
    finally ls.close()
    val stage = Paths.get(root, "model", s".stage-$name")
    model.centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("centroid_id", "cv")
      .repartition(1).write.parquet(s"$stage/centroids")
    Files.move(stage, Paths.get(root, "model", name),
      StandardCopyOption.ATOMIC_MOVE)
    s"model/$name"
  }

  /** The LIVE coarse quantizer of the index at `root` — the manifest's
    * `model/<gen>` entry ([[retrain]] swaps it atomically with the
    * recoded postings; `root/centroids` is the pre-generation legacy
    * fallback). */
  // quantizer generations are IMMUTABLE once promoted (writeModel's
  // stage+atomic-move; retrain writes a NEW generation) — so the
  // driver-side collect of a generation's centroids is safe to keep as
  // a Memo.session value per resolved dir: round 19, drops one collect
  // job from every admission query against the same live model. The
  // legacy root/centroids fallback has no immutability contract and is
  // never cached.
  def loadModel(spark: SparkSession, root: String): IvfOps.IvfModel = {
    def readAt(dir: String): IvfOps.IvfModel = {
      val rows = EpochStore.readTable(spark, Seq(dir))
        .orderBy("centroid_id").collect()
      IvfOps.IvfModel(rows.map(
        _.getAs[scala.collection.Seq[Double]]("cv").toArray))
    }
    modelEntries(committedEpochs(root)).lastOption match {
      case Some(e) =>
        val dir = s"$root/$e/centroids"
        graft.core.Memo.session(spark, ("ann_model", dir))(readAt(dir))
      case None => readAt(s"$root/centroids")
    }
  }

  /** The live postings relation `(vec_id, centroid_id, qcode)`. */
  private def load(spark: SparkSession, root: String): DataFrame = {
    val eps = postingsEpochs(committedEpochs(root))
    require(eps.nonEmpty, s"empty ANN admission index at $root")
    EpochStore.readTable(spark, eps.map(e => s"$root/$e/postings"))
  }

  /** Build and promote the initial index over `emb` `(vec_id,
    * embedding)` under `model` (generation g0 — immutable until a
    * [[retrain]] swaps it). Returns the promoted version path. */
  def buildIndex(emb: DataFrame, model: IvfOps.IvfModel,
                 root: String): String =
    lockFor(root).synchronized {
      val token = EpochStore.currentToken(root)
      val entry = writeModel(emb.sparkSession, model, root)
      val ep = EpochStore.writeEpoch(root,
        "e" + java.util.UUID.randomUUID().toString.take(12),
        Seq("postings" -> graft.streaming.AnnIndexStream
          .postings(emb, model)))
      EpochStore.promoteCas(root, Seq(entry, ep), token)
    }

  /** Admission verdicts for an embedding batch against the LIVE index:
    * `(vec_id, anchor_id, adc_cos_micro, verdict)` with verdict ∈
    * {admitted, dup_embed} — [[IvfOps.admitVectors]]' schema.
    *
    * `mode` is the probe form ([[IvfOps.ProbeMode]]): the default
    * [[IvfOps.ProbeAuto]] makes the streaming hot path batch-scale-
    * safe — above the collect threshold the batch's embeddings never
    * reach the driver (only the ≤K distinct probed centroid ids do,
    * keeping the postings-scan cut) and the probe relation
    * shuffle-joins instead of broadcasting; below it the query-few
    * collected plan is kept. Both forms return bit-identical verdicts
    * (AnnAdmitIndexSpec pins it). */
  def admit(queries: DataFrame, root: String, tauMicro: Long,
            nProbe: Int,
            mode: IvfOps.ProbeMode = IvfOps.ProbeAuto(),
            pin: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    val out = IvfOps.admitVectorsOver(loadModel(spark, root),
      load(spark, root), queries, tauMicro, nProbe, mode)
    // PROBE-ONCE (round 19, guide §2.1): batch-sized verdict relation,
    // deterministic in (batch plan, model literals, live postings
    // paths, τ, nProbe, resolved probe form) — all of which are IN the
    // canonicalized plan key, so the collected and distributed probe
    // forms never share an entry and a retrain/extension/gc (new
    // generation literals / epoch paths) can never serve stale rows.
    // pin=false for per-micro-batch callers (the streaming loop
    // persists its own copy), same contract as the text tiers.
    if (pin) graft.core.Memo.pinned(out) else out
  }

  /** Commit the batch's ADMITTED vectors as a new epoch under a
    * caller-chosen name — the idempotent-replay form shared with the
    * text tiers: a name already accounted for (committed or folded by
    * a compaction) is a completed batch, returns false untouched; a
    * crashed half-written attempt rebuilds deterministically from the
    * COMMITTED manifest. Probes the live index once internally; a
    * caller that already holds the batch's verdicts (the streaming
    * loop, which computed them for the admission manifest) should pass
    * them through [[extendEpochAdmitted]] instead — one ADC probe per
    * batch, not two. */
  def extendEpoch(emb: DataFrame, root: String, epochName: String,
                  tauMicro: Long, nProbe: Int): Boolean =
    lockFor(root).synchronized {
      // pin=false: the internal probe is consumed once right here, and
      // an extension loop would otherwise grow one session-memo entry
      // per epoch (each keyed by the previous epoch set's paths)
      extendEpochAdmitted(emb, root, epochName,
        admit(emb, root, tauMicro, nProbe, pin = false)
          .filter(col("verdict") === "admitted").select(col("vec_id")))
    }

  /** [[extendEpoch]] with the batch's ANN-tier verdicts PRECOMPUTED:
    * `admittedIds` carries the `vec_id`s the LIVE (pre-batch) index
    * admitted — the `verdict === "admitted"` rows of [[admit]], or
    * equivalently the manifest rows a four-tier streaming loop just
    * wrote (its persisted probe result), so the batch is ADC-probed
    * once per micro-batch, as the text tiers are through their pinned
    * [[NearDupIndex.Probe]] / [[SpanIndex.Probe]]. The relation is
    * evaluated ONLY on the
    * commit path — a replayed (accounted) name returns false without
    * touching it, so a replay never probes an index that already
    * contains the batch.
    *
    * TRUST BOUNDARY: the contraction invariant (only ANN-admitted
    * vectors post) is enforced here by CALLER discipline, on purpose
    * — re-probing inside the extension would defeat the one-probe-
    * per-batch contract, and the left_semi below already guarantees
    * nothing outside `emb` can post. A caller passing ids its own
    * probe did not admit gets exactly what it asked for (the repair
    * paths want that latitude); the streaming loop
    * ([[graft.streaming.AdmissionStream.ingestFull]]) is the
    * production caller and passes its persisted [[admit]] verdicts
    * verbatim. */
  def extendEpochAdmitted(emb: DataFrame, root: String, epochName: String,
                          admittedIds: DataFrame): Boolean =
    lockFor(root).synchronized {
      EpochStore.requireSafeEpochName(epochName)
      val token = EpochStore.currentToken(root)
      val committed = committedEpochs(root)
      if (hasEpoch(root, epochName)) false
      else {
        val spark = emb.sparkSession
        val model = loadModel(spark, root)
        val admitted = emb.join(
          admittedIds.select(col("vec_id")), Seq("vec_id"), "left_semi")
        val ep = EpochStore.writeEpoch(root, epochName,
          Seq("postings" -> graft.streaming.AnnIndexStream
            .postings(admitted, model)))
        EpochStore.promoteCas(root, committed :+ ep, token)
        true
      }
    }

  /** Range-bucket postings by (centroid_id, vec_id): parallel rewrite,
    * per-file centroid_id min/max for list-probe pruning. */
  private def ranged(posts: DataFrame, rows: Long,
                     target: Long): DataFrame = {
    val n = math.max(1L, (rows + target - 1) / target)
      .min(Int.MaxValue.toLong).toInt
    posts.repartitionByRange(n, col("centroid_id"), col("vec_id"))
      .sortWithinPartitions("centroid_id", "vec_id")
  }

  /** Rewrite the committed epochs as ONE range-bucketed epoch
    * (`dropVecIds` filters retracted vectors out on the way — the
    * takedown path, kill set broadcast into an anti-join). Folded
    * names persist in `covered.json`. Returns the promoted version
    * path.
    *
    * `retrainOver`: the float corpus `(vec_id, embedding)` — when
    * given, the full compact ALSO re-trains the coarse quantizer at
    * the corpus-aware k ([[retrain]]): the one O(corpus) maintenance
    * op is already being paid, and riding the re-train on it is what
    * keeps admission cost sub-linear as the index grows (a frozen
    * k=√n₀ quantizer makes probed postings per query grow linearly
    * with the corpus). */
  def compact(spark: SparkSession, root: String,
              targetRows: Long = defaultCompactRowsPerPartition,
              dropVecIds: Option[DataFrame] = None,
              retrainOver: Option[DataFrame] = None): String =
    retrainOver match {
      case Some(corpus) => retrain(spark, root, corpus, targetRows, dropVecIds)
      case None => lockFor(root).synchronized {
        val token = EpochStore.currentToken(root)
        val eps = committedEpochs(root)
        val all = load(spark, root)
        val kept = dropVecIds.fold(all)(kill => all.join(
          broadcast(kill.select(col("vec_id").cast("long")).distinct()),
          Seq("vec_id"), "left_anti"))
        val covered = postingsEpochs(eps).flatMap(e =>
          EpochStore.entryPath(e) +: EpochStore.coveredNames(root, e))
        val ep = EpochStore.writeEpoch(root,
          "c" + java.util.UUID.randomUUID().toString.take(12),
          Seq("postings" -> ranged(kept, kept.count(), targetRows)), covered)
        EpochStore.promoteCas(root, modelEntries(eps) :+ ep, token)
      }
    }

  /** RE-TRAIN the coarse quantizer at the corpus-aware k and re-code
    * every live posting under it — the maintenance op that clears the
    * embed tier's scale hazard: extension accretes under the
    * generation the index was built with, so k stays √n₀ while n
    * grows and the probed postings per query (`nProbe · n/k`) grow
    * LINEARLY with the corpus; re-training at `k =`
    * [[IvfOps.adaptiveK]]`(N)` (via [[IvfOps.trainBounded]], the
    * builder's own trainer) restores `nProbe · √N` probe mass.
    *
    * `corpusEmb` is the float corpus `(vec_id, embedding)` — the index
    * holds only int8 codes, and a re-code from codes would compound
    * quantization error; the lake still has the floats. Only vectors
    * LIVE in the index (minus `dropVecIds`) are kept: the re-trained
    * index covers exactly `live ∩ corpusEmb`, so the admission
    * decisions accumulated so far keep their meaning and a takedown
    * can ride the rewrite.
    *
    * Promotion is ONE manifest swap naming the new `model/<gen>` and
    * the one recoded epoch: ADC decisions legitimately change under a
    * new quantizer (that is the point), but a reader never sees a
    * mixed state, and folded batch names stay accounted through
    * `covered.json` (replay idempotency survives the re-train).
    * Post-retrain the index is bit-identical to [[buildIndex]] over
    * the same corpus with the same trainer (AnnAdmitIndexSpec pins
    * it, plus a planted-dup recall floor).
    *
    * Cost model: training is Lloyd at k=√N — O(N^1.5·d / executors)
    * flat assignment per round (the [[IvfOps.trainTwoLevel]] hierarchy
    * is the documented cut to O(N^1.25·d) when that dominates); the
    * re-code is one stateless corpus map; the write is the same
    * range-bucketed parallel rewrite as [[compact]]. */
  def retrain(spark: SparkSession, root: String, corpusEmb: DataFrame,
              targetRows: Long = defaultCompactRowsPerPartition,
              dropVecIds: Option[DataFrame] = None): String =
    lockFor(root).synchronized {
      val token = EpochStore.currentToken(root)
      val eps = committedEpochs(root)
      val liveIds = load(spark, root).select(col("vec_id"))
      val keptIds = dropVecIds.fold(liveIds)(kill => liveIds.join(
        broadcast(kill.select(col("vec_id").cast("long")).distinct()),
        Seq("vec_id"), "left_anti"))
      val corpus = corpusEmb
        .select(col("vec_id").cast("long"), col("embedding"))
        .join(keptIds, Seq("vec_id"), "left_semi")
      val model = IvfOps.trainBounded(corpus)
      val entry = writeModel(spark, model, root)
      val coded = graft.streaming.AnnIndexStream.postings(corpus, model)
      val covered = postingsEpochs(eps).flatMap(e =>
        EpochStore.entryPath(e) +: EpochStore.coveredNames(root, e))
      val ep = EpochStore.writeEpoch(root,
        "t" + java.util.UUID.randomUUID().toString.take(12),
        Seq("postings" -> ranged(coded, corpus.count(), targetRows)),
        covered)
      EpochStore.promoteCas(root, Seq(entry, ep), token)
    }

  /** TIERED (tail) compaction — merge the accretion tail (every epoch
    * after the protected first/base entry) into one range-bucketed
    * epoch, leaving the base untouched on disk: O(|tail|) however big
    * the base grows, the [[NearDupIndex.compactTail]] discipline.
    * Semantics-free: epochs hold disjoint vec_ids (each batch posted
    * only its own admitted vectors) and the probe is a plain union.
    * A <2-epoch tail is a promoted-version no-op. `coveredFloor`:
    * checkpoint-watermark prune of the folded names
    * ([[EpochStore.pruneCovered]]) — O(1) covered metadata for the
    * streaming loop. */
  def compactTail(spark: SparkSession, root: String,
                  targetRows: Long = defaultCompactRowsPerPartition,
                  coveredFloor: Option[Long] = None): String =
    lockFor(root).synchronized {
      val token = EpochStore.currentToken(root)
      val eps = committedEpochs(root)
      val posts = postingsEpochs(eps)
      val tail = posts.drop(1)
      if (tail.size < 2) graft.core.AtomicDir.current(root)
      else {
        val merged =
          EpochStore.readTable(spark, tail.map(e => s"$root/$e/postings"))
        val covered = EpochStore.pruneCovered(tail.flatMap(e =>
          EpochStore.entryPath(e) +: EpochStore.coveredNames(root, e)),
          coveredFloor)
        val ep = EpochStore.writeEpoch(root,
          "m" + java.util.UUID.randomUUID().toString.take(12),
          Seq("postings" -> ranged(merged, merged.count(), targetRows)),
          covered)
        EpochStore.promoteCas(root,
          modelEntries(eps) ++ Seq(posts.head, ep), token)
      }
    }

  /** Explicit space reclamation — [[EpochStore.gc]] over this root:
    * retired `v<N>` dirs, folded/orphaned epoch dirs, unreferenced
    * `model/<gen>` quantizer generations, stale staging leftovers.
    * Run at retrain/compaction cadence once no reader can hold an old
    * CURRENT pointer; rollback to prior versions is forfeited. */
  def gc(root: String): Int = EpochStore.gc(root)

  /** Size of the accretion tail [[compactTail]] would merge. */
  def tailSize(root: String): Int =
    math.max(postingsEpochs(committedEpochs(root)).size - 1, 0)

  /** True when batch epoch `name` is accounted for by the live
    * manifest — committed directly or folded by a compaction. */
  def hasEpoch(root: String, name: String): Boolean =
    EpochStore.isAccounted(root, s"epochs/$name")

  /** Ops inventory: one row per POSTINGS epoch in manifest order. */
  def stats(spark: SparkSession, root: String): DataFrame = {
    val rows = postingsEpochs(committedEpochs(root)).zipWithIndex
      .map { case (e, i) =>
        (i, e, EpochStore.readTable(spark, Seq(s"$root/$e/postings")).count())
      }
    import spark.implicits._
    rows.toDF("position", "entry", "n_postings")
  }
}
