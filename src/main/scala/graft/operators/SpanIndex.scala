package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.EpochStore

/** Persisted EXACT-SUBSTRING first-occurrence index — the incremental
  * form of the keep-first span-dedup bill (x181): a continuously-growing
  * corpus admits new shards span-by-span against 100 TB of ALREADY-SEEN
  * window content without re-windowing it. This is the third dedup axis
  * made incremental, beside the exact-content tier
  * ([[NearDupIndex.exactAdmission]], x54) and the near-dup signature
  * tier ([[NearDupIndex.admit]], x174): content identity / document
  * similarity / span overlap.
  *
  * What persists (one table per epoch under the shared
  * [[graft.core.EpochStore]] manifest protocol):
  *   - `postings` (whash, first_doc): every DISTINCT w-token window
  *     hash the corpus has seen, with the document that saw it first.
  *     Epochs hold DISJOINT hashes by construction — an extension
  *     stores only the batch's windows ABSENT from the index — so the
  *     live postings relation is a plain epoch union and extension
  *     writes are O(|new windows|), never a corpus rewrite.
  *
  * Admission ([[admitBill]]) prices a batch under the Lee et al. 2022
  * keep-one policy with INDEX PRECEDENCE: a window already in the index
  * was there first (whatever the batch's doc_ids), and within the batch
  * the min-doc_id holder keeps; every other occurrence is a dup window,
  * billed per document as the token mass under the UNION of its dup
  * windows (the x181 ordered sweep, overlaps counted once). With the
  * corpus committed before the batch, this equals the one-shot x181
  * bill restricted to the batch — SpanIndexSpec pins that identity.
  *
  * Scale shape: the batch is windowed once (O(|batch tokens|) md5
  * windows); the index is touched by ONE whash-keyed semi-join of the
  * batch windows against the postings table — [[compact]]/
  * [[compactTail]] range-bucket the postings by whash (parallel
  * rewrite, per-file whash min/max), so the probe prunes files instead
  * of scanning the corpus — plus the batch-local first-occurrence
  * aggregate and the doc-entity sweep window. The indexed corpus text
  * is never re-read.
  *
  * Reference framing: the reference's staging pipeline admits whole
  * files by exact hash (`FileDbDAL/FileHandler.py:42-165`); span-level
  * admission has no reference counterpart — it exists for the
  * training-data pipeline, where the unit of contamination is the
  * span, not the file.
  *
  * DELIBERATELY NO RETRACTION (unlike [[NearDupIndex.retract]]): a
  * posting records "this window content has been seen", attributed to
  * its FIRST holder only — later holders were billed and never posted.
  * Tombstoning a taken-down document's postings would therefore
  * un-see content that other (non-retracted) documents still carry,
  * and re-deriving the next holder requires re-windowing the corpus —
  * the O(corpus) operation this index exists to avoid. A takedown that
  * must forget spans is [[rebuildWithout]] — a one-call rebuild over
  * the surviving corpus (versioned promotion keeps the old index for
  * rollback, accounted batch names carry over); a
  * takedown that only removes the DOCUMENT needs nothing here — the
  * index holds hashes, not text, and keeping its spans "seen" is
  * usually the wanted dedup semantics. */
object SpanIndex {

  /** Window width shared with the batch span family (x72/x73/x181). */
  val defaultW = 8

  private def lockFor(root: String) = EpochStore.lockFor(root)

  /** The committed epoch list of the live version. */
  def committedEpochs(root: String): Seq[String] =
    EpochStore.committedEpochs(root)

  /** The live postings relation `(whash, first_doc)`. */
  private def load(spark: SparkSession, root: String): DataFrame = {
    val eps = committedEpochs(root)
    require(eps.nonEmpty, s"empty span index at $root")
    EpochStore.readTable(spark, eps.map(e => s"$root/$e/postings"))
  }

  /** Distinct first-occurrence postings of a relation's windows. */
  private def firstOccurrences(df: DataFrame, w: Int,
                               text: Column): DataFrame =
    SubstringOps.windows(df, w, text)
      .groupBy("whash").agg(min(col("doc_id")).as("first_doc"))

  /** The index hashes the batch's windows actually touch — the ONE
    * index-sized operation in admission/extension, shaped as a postings
    * SCAN with a broadcast probe (the batch's distinct hashes are
    * micro-batch-sized by contract) rather than a whash shuffle of the
    * postings table: at 100 TB the index side moves zero bytes over the
    * network, and every later join runs against this (≤ |batch hashes|)
    * broadcastable result. */
  private def matchedHashes(spark: SparkSession, root: String,
                            wins: DataFrame): DataFrame =
    load(spark, root).select(col("whash"))
      .join(broadcast(wins.select(col("whash")).distinct()),
        Seq("whash"), "left_semi")

  /** Build and promote the initial index. Returns the promoted version
    * path. */
  def buildIndex(df: DataFrame, root: String, w: Int = defaultW,
                 text: Column = col("text")): String =
    lockFor(root).synchronized {
      val token = EpochStore.currentToken(root)
      val ep = EpochStore.writeEpoch(root,
        "e" + java.util.UUID.randomUUID().toString.take(12),
        Seq("postings" -> firstOccurrences(df, w, text)))
      EpochStore.promoteCas(root, Seq(ep), token)
    }

  /** The keep-first span bill of `incoming` against the LIVE index —
    * one row per batch document with ≥1 window:
    * `(doc_id, n_tokens, n_windows, n_dup_windows, tokens_cut,
    * tokens_retained)`, x181's schema, where a window is dup when its
    * hash is already INDEXED (index precedence) or first held by an
    * EARLIER batch document. Σ tokens_retained is what this batch adds
    * to the post-dedup corpus.
    *
    * `pin = false` skips the session window cache and pins the windows
    * into the caller's [[graft.core.PinScope]] — required for
    * per-micro-batch callers, same contract as [[NearDupIndex.admit]]'s
    * flag. */
  def admitBill(incoming: DataFrame, root: String, w: Int = defaultW,
                text: Column = col("text"), pin: Boolean = true): DataFrame = {
    val wins0 = SubstringOps.windows(incoming, w, text)
    val wins =
      if (pin) graft.core.Memo.pinned(wins0)
      else graft.core.PinScope.pin(wins0)
    val out = billOf(incoming, wins,
      matchedHashes(incoming.sparkSession, root, wins), w, text)
    // PROBE-ONCE (round 19, guide §2.1): the bill is a deterministic,
    // batch-sized function of (batch plan, live postings paths, w) and
    // the manifest consumers (x189/x190/x191/x193/x194/x195/x196/x197/
    // x200) build the identical plan — one postings scan per (batch,
    // index) per session, every later consumer reads the pinned rows.
    // Plan-keyed, so extension/compaction (new epoch paths) and the
    // rebuilt/compacted fixture roots key separately; pin=false
    // (streaming) bypasses as before.
    if (pin) graft.core.Memo.pinned(out) else out
  }

  /** The [[admitBill]] of a batch's windows `wins` `(doc_id, pos,
    * whash)`, given the indexed hashes among them (`matched`). */
  private def billOf(incoming: DataFrame, wins: DataFrame,
                     matched: DataFrame, w: Int, text: Column): DataFrame = {
    val batchFirst = wins.groupBy("whash")
      .agg(min(col("doc_id")).as("bfirst"))
    val inIdx = wins.join(broadcast(matched), Seq("whash"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val inBatch = wins.join(batchFirst, Seq("whash"))
      .filter(col("bfirst") < col("doc_id"))
      .select(col("doc_id"), col("pos"))
    // a window can be dup on both grounds — union DISTINCT on position
    val dup = inIdx.union(inBatch).distinct()
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val cut = dup
      .withColumn("pme", max(col("pos") + (w - 1)).over(byDoc))
      .select(col("doc_id"),
        greatest(lit(0L), (col("pos") + (w - 1)) -
          greatest(col("pos") - 1, coalesce(col("pme"), lit(0L)))).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("tokens_cut"),
        count(lit(1)).as("n_dup_windows"))
    val nw = wins.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val toks = incoming.select(col("doc_id"),
      size(TextOps.words(text)).cast("long").as("n_tokens"))
    nw.join(toks, Seq("doc_id")).join(cut, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("tokens_cut"), lit(0L)).as("tokens_cut"),
        (col("n_tokens") - coalesce(col("tokens_cut"), lit(0L)))
          .as("tokens_retained"))
  }

  /** One batch's probe of the live index, pinned into the caller's
    * [[graft.core.PinScope]]: the batch's windows `(doc_id, pos, whash)`
    * and the batch-sized set of their hashes already indexed
    * (`matched`), with the `CURRENT` token of the index state `matched`
    * was read from. The manifest's span bill ([[bill]]) and the epoch
    * commit ([[commitEpoch]]) both read these pins, so the batch is
    * windowed and the postings scanned once. */
  final case class Probe(root: String, token: String, incoming: DataFrame,
                         w: Int, text: Column, wins: DataFrame,
                         matched: DataFrame)

  /** Probes the live index at `root` with `incoming` (see [[Probe]]);
    * the pins are eager. */
  def probe(incoming: DataFrame, root: String, w: Int = defaultW,
            text: Column = col("text")): Probe = {
    val token = EpochStore.currentToken(root) // read before the manifest
    val wins = graft.core.PinScope.pin(SubstringOps.windows(incoming, w, text))
    val matched = graft.core.PinScope.pin(
      matchedHashes(incoming.sparkSession, root, wins))
    Probe(root, token, incoming, w, text, wins, matched)
  }

  /** The [[admitBill]] rows of a probed batch. */
  def bill(p: Probe): DataFrame = billOf(p.incoming, p.wins, p.matched,
    p.w, p.text)

  /** Commits a probed batch's NOVEL window hashes — the first
    * occurrences of the pinned windows anti-joined to `matched` — as
    * epoch `epochName`, the idempotent-replay form: a name already
    * ACCOUNTED for (committed directly, or folded into a merged epoch by
    * [[compactTail]]/[[compact]]) is a completed batch: returns false
    * without evaluating `probe`; the novel set is a deterministic
    * function of the COMMITTED manifest, so a crashed half-written
    * attempt rebuilds exactly. A probe read from an older `CURRENT`
    * than the one under the lock is taken again. The index grows by
    * O(|novel windows|); nothing is rewritten. */
  def commitEpoch(root: String, epochName: String, probe: => Probe): Boolean =
    lockFor(root).synchronized {
      EpochStore.requireSafeEpochName(epochName)
      val token = EpochStore.currentToken(root)
      val committed = committedEpochs(root)
      if (hasEpoch(root, epochName)) false
      else {
        val p0 = probe
        require(p0.root == root, s"probe of ${p0.root} committed to $root")
        val p =
          if (p0.token == token) p0
          else this.probe(p0.incoming, root, p0.w, p0.text)
        val novel = p.wins.groupBy("whash")
          .agg(min(col("doc_id")).as("first_doc"))
          .join(broadcast(p.matched), Seq("whash"), "left_anti")
        val ep = EpochStore.writeEpoch(root, epochName,
          Seq("postings" -> novel))
        EpochStore.promoteCas(root, committed :+ ep, token)
        true
      }
    }

  /** Commit the batch's NOVEL window hashes as a new epoch under a
    * caller-chosen name: probe, then [[commitEpoch]] (which probes only
    * when the name is not yet accounted). */
  def extendEpoch(incoming: DataFrame, root: String, epochName: String,
                  w: Int = defaultW, text: Column = col("text")): Boolean =
    commitEpoch(root, epochName, probe(incoming, root, w, text))

  /** [[extendEpoch]] under a generated name. Returns the promoted
    * version path. */
  def extend(incoming: DataFrame, root: String, w: Int = defaultW,
             text: Column = col("text")): String = {
    extendEpoch(incoming, root,
      "e" + java.util.UUID.randomUUID().toString.take(12), w, text)
    graft.core.AtomicDir.current(root)
  }

  /** Compaction write sizing, the [[NearDupIndex
    * .defaultCompactRowsPerPartition]] rationale: ~8M postings per
    * range-partition keeps each output file a few hundred MB, written
    * by its own task. */
  val defaultCompactRowsPerPartition: Long =
    NearDupIndex.defaultCompactRowsPerPartition

  /** Range-bucket the postings by whash into ceil(rows / target)
    * sorted partitions — the whash-bucketed layout the header's scale
    * note calls for: the rewrite parallelizes (no corpus-sized single
    * task), and each parquet file carries a tight whash min/max the
    * admission probe's broadcast semi-join prunes against. */
  private def ranged(posts: DataFrame, rows: Long,
                     target: Long): DataFrame = {
    val n = math.max(1L, (rows + target - 1) / target)
      .min(Int.MaxValue.toLong).toInt
    posts.repartitionByRange(n, col("whash")).sortWithinPartitions("whash")
  }

  /** Rewrite the committed epochs as ONE epoch, range-bucketed and
    * sorted by probe key ([[ranged]]) — epochs hold disjoint hashes,
    * so the merge is a plain union; same crash-anywhere promotion
    * discipline as extension. The folded epochs' names persist in the
    * compacted epoch's `covered.json` so batch-replay idempotency
    * survives the fold. */
  def compact(spark: SparkSession, root: String,
              targetRows: Long = defaultCompactRowsPerPartition): String =
    lockFor(root).synchronized {
      val token = EpochStore.currentToken(root)
      val eps = committedEpochs(root)
      val all = load(spark, root)
      val covered = eps.flatMap(e =>
        EpochStore.entryPath(e) +: EpochStore.coveredNames(root, e))
      val ep = EpochStore.writeEpoch(root,
        "c" + java.util.UUID.randomUUID().toString.take(12),
        Seq("postings" -> ranged(all, all.count(), targetRows)), covered)
      EpochStore.promoteCas(root, Seq(ep), token)
    }

  /** TIERED (tail) compaction — merge the accretion tail (every epoch
    * after the protected first/base entry) into one range-bucketed
    * epoch, leaving the base untouched on disk: O(|tail|) however big
    * the base grows, the [[NearDupIndex.compactTail]] discipline.
    * Semantics-free (epochs are hash-disjoint); folded names persist
    * in `covered.json`. A <2-epoch tail is a promoted-version no-op.
    * `coveredFloor`: checkpoint-watermark prune of the folded names
    * ([[EpochStore.pruneCovered]]) — O(1) covered metadata for the
    * streaming loop. */
  def compactTail(spark: SparkSession, root: String,
                  targetRows: Long = defaultCompactRowsPerPartition,
                  coveredFloor: Option[Long] = None): String =
    lockFor(root).synchronized {
      val token = EpochStore.currentToken(root)
      val eps = committedEpochs(root)
      val tail = eps.drop(1)
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
        EpochStore.promoteCas(root, Seq(eps.head, ep), token)
      }
    }

  /** TAKEDOWN rebuild — the documented escape hatch of the
    * no-retraction contract (header), as one call: rebuild the index
    * over the SURVIVING corpus (every document except `docIds`) and
    * promote the result, so window content held ONLY by the
    * taken-down documents is forgotten (re-admittable) while content
    * other documents still carry stays seen — re-attributed to its
    * next-earliest surviving holder, exactly what [[buildIndex]] over
    * the filtered corpus would say. This is the O(corpus) operation
    * the epochs exist to avoid; it runs as a deliberate takedown step,
    * not maintenance (stop a live ingest first, resume after with a
    * fresh checkpoint — the directory-swap discipline of
    * [[graft.streaming.AnnIndexStream.compactIndex]]). Versioned
    * promotion keeps every prior version in place for rollback/audit.
    *
    * The rebuilt epoch CARRIES the old manifest's accounted names
    * (covered.json): a replayed pre-takedown batch stays a no-op — it
    * must not re-admit exactly the content the takedown removed.
    * Returns the promoted version path. */
  def rebuildWithout(spark: SparkSession, root: String, docIds: DataFrame,
                     corpus: DataFrame, w: Int = defaultW,
                     text: Column = col("text"),
                     targetRows: Long = defaultCompactRowsPerPartition)
      : String =
    lockFor(root).synchronized {
      val token = EpochStore.currentToken(root)
      val eps = committedEpochs(root)
      val survivors = corpus.join(
        broadcast(docIds.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti") // takedown sets are small by nature
      val posts = firstOccurrences(survivors, w, text)
      val covered = eps.flatMap(e =>
        EpochStore.entryPath(e) +: EpochStore.coveredNames(root, e))
      val ep = EpochStore.writeEpoch(root,
        "r" + java.util.UUID.randomUUID().toString.take(12),
        Seq("postings" -> ranged(posts, posts.count(), targetRows)),
        covered)
      EpochStore.promoteCas(root, Seq(ep), token)
    }

  /** Explicit space reclamation — [[EpochStore.gc]] over this root:
    * retired `v<N>` dirs, folded/orphaned epoch dirs, stale staging
    * leftovers. Run once no reader can hold an old CURRENT pointer;
    * rollback to prior versions is forfeited. */
  def gc(root: String): Int = EpochStore.gc(root)

  /** Size of the accretion tail [[compactTail]] would merge — the
    * maintenance trigger streaming ingests read. */
  def tailSize(root: String): Int =
    math.max(committedEpochs(root).size - 1, 0)

  /** True when batch epoch `name` is accounted for by the live
    * manifest — committed directly or folded by a compaction. */
  def hasEpoch(root: String, name: String): Boolean =
    EpochStore.isAccounted(root, s"epochs/$name")

  /** Ops inventory of the live manifest — one row per epoch in
    * manifest order: `(position, entry, n_postings)`. Manifest-sized,
    * never corpus-sized. */
  def stats(spark: SparkSession, root: String): DataFrame = {
    val rows = committedEpochs(root).zipWithIndex.map { case (e, i) =>
      (i, e, EpochStore.readTable(spark, Seq(s"$root/$e/postings")).count())
    }
    import spark.implicits._
    rows.toDF("position", "entry", "n_postings")
  }

  // ---- DuckDB twin ---------------------------------------------------------

  /** Static oracle for the gate's 80/20 split (indexed =
    * `indexedWhere`, default the 80% partition; incoming = the rest):
    * the whole build+admit replayed in SQL — the index is a
    * deterministic function of the indexed partition.
    * A narrower `indexedWhere` is also the [[rebuildWithout]] twin:
    * the rebuilt index IS buildIndex over the surviving partition. */
  def admissionSql(w: Int = defaultW,
                   indexedWhere: String = "doc_id % 5 <> 0"): String =
    s"""WITH sx_ex_w AS (
       |  SELECT md5(array_to_string(ws[i : i + ${w - 1}], ' ')) AS whash
       |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - ${w - 1}))
       |          AS i
       |        FROM (SELECT string_split(trim(text), ' ') AS ws
       |              FROM documents WHERE $indexedWhere))
       |),
       |sx_idx AS (SELECT DISTINCT whash FROM sx_ex_w),
       |sx_in_w AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    md5(array_to_string(ws[i : i + ${w - 1}], ' ')) AS whash
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, len(ws) - ${w - 1})) AS i
       |        FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws
       |              FROM documents WHERE doc_id % 5 = 0))
       |),
       |sx_bf AS (
       |  SELECT whash, min(doc_id) AS bfirst FROM sx_in_w GROUP BY whash
       |),
       |sx_dup AS (
       |  SELECT DISTINCT v.doc_id, v.pos
       |  FROM sx_in_w v
       |  JOIN sx_bf b USING (whash)
       |  LEFT JOIN sx_idx x USING (whash)
       |  WHERE x.whash IS NOT NULL OR b.bfirst < v.doc_id
       |),
       |sx_s AS (
       |  SELECT doc_id, pos,
       |    max(pos + ${w - 1}) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
       |  FROM sx_dup
       |),
       |sx_cut AS (
       |  SELECT doc_id,
       |    CAST(sum(greatest(0, (pos + ${w - 1})
       |      - greatest(pos - 1, coalesce(pme, 0)))) AS BIGINT)
       |      AS tokens_cut,
       |    CAST(count(*) AS BIGINT) AS n_dup_windows
       |  FROM sx_s GROUP BY doc_id
       |),
       |sx_nw AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
       |  FROM sx_in_w GROUP BY doc_id
       |),
       |sx_t AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
       |  FROM documents WHERE doc_id % 5 = 0
       |)
       |SELECT n.doc_id, t.n_tokens, n.n_windows,
       |  coalesce(c.n_dup_windows, 0) AS n_dup_windows,
       |  coalesce(c.tokens_cut, 0) AS tokens_cut,
       |  t.n_tokens - coalesce(c.tokens_cut, 0) AS tokens_retained
       |FROM sx_nw n
       |JOIN sx_t t USING (doc_id)
       |LEFT JOIN sx_cut c USING (doc_id)""".stripMargin
}
