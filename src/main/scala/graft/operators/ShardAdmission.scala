package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The production ENTRY POINT of the incremental-admission stack — one
  * call that takes an arriving shard and the two persisted indexes and
  * emits the per-content admission manifest a 100 TB ingest acts on,
  * composing the tiers in precedence order:
  *
  *   1. `reject_exact` — the content's fingerprint is already indexed
  *      ([[NearDupIndex]] exact tier; its batch copies feed the
  *      rejections ledger when the shard is committed);
  *   2. `reject_near` — a band collision's signature estimate reaches
  *      the threshold (the x174 sketch decision);
  *   3. `trim_spans` — admitted as a DOCUMENT, but ≥ `heavyNum/heavyDen`
  *      of its tokens sit under already-seen w-token windows
  *      ([[SpanIndex]] bill): ship it through span-level cutting
  *      (x73/x181), not whole — the remix/copy-paste population the
  *      signature tier admits whole (x190's finding cell);
  *   4. `admit` — novel at every tier; `tokens_retained` is what it
  *      adds to the post-dedup corpus.
  *
  * One row per DISTINCT incoming content (the x174 contraction
  * granularity): `(doc_id, content_hash, n_batch_copies, decision,
  * best_est_ppm, n_tokens, tokens_cut, tokens_retained)`. `n_tokens`
  * comes from the batch itself (the span bill has no row for docs
  * shorter than w tokens — sub-window docs still count their tokens,
  * with `tokens_cut` 0: nothing to trim by construction).
  *
  * Scale: exactly the union of its parts — each index touched once
  * (the near-dup probe O(|batch| + collisions), the span probe one
  * postings scan under a broadcast batch-hash set), one rep-keyed
  * join between the two verdict relations, output batch-sized. */
object ShardAdmission {

  def report(batch: DataFrame, nearDupRoot: String, spanRoot: String,
             minMatches: Int = NearDupIndex.defaultMinMatches,
             w: Int = SpanIndex.defaultW,
             heavyNum: Int = 1, heavyDen: Int = 2,
             text: Column = col("text"), pin: Boolean = true): DataFrame =
    compose(batch, NearDupIndex.admit(batch, nearDupRoot, minMatches, text, pin),
      SpanIndex.admitBill(batch, spanRoot, w, text, pin),
      heavyNum, heavyDen, text)

  /** [[report]] from the two text tiers' verdict relations: the
    * near-dup verdict rows and the span bill of `batch`. */
  private def compose(batch: DataFrame, near: DataFrame, bill: DataFrame,
                      heavyNum: Int, heavyDen: Int,
                      text: Column): DataFrame = {
    val span = bill.select(col("doc_id"), col("tokens_cut"))
    // n_tokens comes from the BATCH, not the span bill: the bill has no
    // row for docs shorter than w tokens, and coalescing those to 0
    // would make "Σ tokens_retained = what the batch adds" undercount
    // every short admitted doc. Same tokenization as the bill's.
    val toks = batch.select(col("doc_id"),
      size(TextOps.words(text)).cast("long").as("n_tokens"))
    val t = coalesce(col("n_tokens"), lit(0L))
    val c = coalesce(col("tokens_cut"), lit(0L))
    near.join(toks, Seq("doc_id"), "left")
      .join(span, Seq("doc_id"), "left")
      .select(col("doc_id"), col("content_hash"), col("n_batch_copies"),
        when(col("verdict") === "dup_exact", lit("reject_exact"))
          .when(col("verdict") === "dup_near", lit("reject_near"))
          .when(t > 0L && c * heavyDen >= t * heavyNum, lit("trim_spans"))
          .otherwise(lit("admit")).as("decision"),
        col("best_est_ppm"), t.as("n_tokens"), c.as("tokens_cut"),
        (t - c).as("tokens_retained"))
  }

  /** The FULL stack — [[report]] plus the embedding tier
    * ([[IvfOps.admitVectors]] against the persisted IVFADC index,
    * joined doc_id = vec_id): precedence reject_exact > reject_near >
    * reject_embed > trim_spans > admit, so a semantic duplicate that
    * escaped both text tiers (a translation-shaped or heavily-edited
    * copy) is caught before span accounting ships it. Contents without
    * an embedding row skip the tier (NULL never rejects). One extra
    * rep-keyed join; the embedding probe reads only int8 postings.
    * `pin = false` bypasses the session signing caches — required for
    * per-micro-batch callers, same contract as [[report]]. */
  def reportFull(batch: DataFrame, batchEmb: DataFrame,
                 nearDupRoot: String, spanRoot: String, annRoot: String,
                 tauMicro: Long, nProbe: Int,
                 minMatches: Int = NearDupIndex.defaultMinMatches,
                 w: Int = SpanIndex.defaultW,
                 heavyNum: Int = 1, heavyDen: Int = 2,
                 text: Column = col("text"), pin: Boolean = true): DataFrame = {
    val base = report(batch, nearDupRoot, spanRoot, minMatches, w,
      heavyNum, heavyDen, text, pin)
    overlayEmbed(base, IvfOps.admitVectors(batch.sparkSession, annRoot,
      batchEmb, tauMicro, nProbe, pin = pin))
  }

  /** [[reportFull]] with the embedding tier served by the
    * epoch-sharded [[AnnAdmitIndex]] instead of the flat
    * [[IvfOps.saveIndex]] layout — the batch replay of what the
    * FOUR-TIER streaming loop ([[graft.streaming.AdmissionStream
    * .ingestFull]]) writes per micro-batch through [[reportFullWith]].
    * Identical decision semantics. */
  def reportFullEpoch(batch: DataFrame, batchEmb: DataFrame,
                      nearDupRoot: String, spanRoot: String,
                      annRoot: String, tauMicro: Long, nProbe: Int,
                      minMatches: Int = NearDupIndex.defaultMinMatches,
                      w: Int = SpanIndex.defaultW,
                      heavyNum: Int = 1, heavyDen: Int = 2,
                      text: Column = col("text"),
                      pin: Boolean = true): DataFrame =
    overlayEmbed(report(batch, nearDupRoot, spanRoot, minMatches, w,
        heavyNum, heavyDen, text, pin),
      AnnAdmitIndex.admit(batchEmb, annRoot, tauMicro, nProbe, pin = pin))

  /** [[reportFullEpoch]] composed from the batch's per-tier probes —
    * the form the four-tier streaming loop writes: `near` and `span`
    * are the batch's [[NearDupIndex.Probe]] and [[SpanIndex.Probe]]
    * (pinned into the micro-batch's scope, and read again by the two
    * epoch commits), `embVerdicts` the embedding tier's persisted
    * [[AnnAdmitIndex.admit]] relation `(vec_id, anchor_id,
    * adc_cos_micro, verdict)` (read again by the ANN extension). Every
    * index is therefore probed once per batch. Identical decision
    * semantics to [[reportFullEpoch]] over the probed index states. */
  def reportFullWith(batch: DataFrame, embVerdicts: DataFrame,
                     near: NearDupIndex.Probe, span: SpanIndex.Probe,
                     heavyNum: Int = 1, heavyDen: Int = 2,
                     text: Column = col("text")): DataFrame =
    overlayEmbed(compose(batch, near.verdicts, SpanIndex.bill(span),
      heavyNum, heavyDen, text), embVerdicts)

  /** Overlay the embedding tier's verdict relation `(vec_id,
    * anchor_id, adc_cos_micro, verdict)` onto a two-tier [[report]]
    * at the shared precedence: exact/near rejections stand,
    * `dup_embed` pre-empts trim/admit. */
  private def overlayEmbed(base: DataFrame,
                           embVerdicts: DataFrame): DataFrame = {
    val emb = embVerdicts
      .select(col("vec_id").as("doc_id"),
        col("anchor_id").as("embed_anchor_id"),
        col("adc_cos_micro").as("embed_cos_micro"),
        (col("verdict") === "dup_embed").as("__embed_dup"))
    base.join(emb, Seq("doc_id"), "left")
      .select(col("doc_id"), col("content_hash"), col("n_batch_copies"),
        when(col("decision").isin("reject_exact", "reject_near"),
          col("decision"))
          .when(col("__embed_dup"), lit("reject_embed"))
          .otherwise(col("decision")).as("decision"),
        col("best_est_ppm"), col("embed_anchor_id"),
        col("embed_cos_micro"), col("n_tokens"), col("tokens_cut"),
        col("tokens_retained"))
  }

  /** x197: the admission DASHBOARD — the manifest rolled up to the
    * numbers an operator watches per arriving shard: one row per
    * decision with distinct-content count, raw batch copy mass, and
    * the token economics (total / cut / retained). Σ over the admit +
    * trim rows of tokens_retained IS what the shard adds to the
    * post-dedup corpus; the reject rows' n_batch_copies is the
    * duplication pressure the indexes absorbed. One ≤5-row aggregate
    * over [[reportFull]] — adds nothing to the probe cost. */
  def summary(batch: DataFrame, batchEmb: DataFrame,
              nearDupRoot: String, spanRoot: String, annRoot: String,
              tauMicro: Long, nProbe: Int,
              minMatches: Int = NearDupIndex.defaultMinMatches,
              w: Int = SpanIndex.defaultW,
              heavyNum: Int = 1, heavyDen: Int = 2,
              text: Column = col("text")): DataFrame =
    reportFull(batch, batchEmb, nearDupRoot, spanRoot, annRoot,
      tauMicro, nProbe, minMatches, w, heavyNum, heavyDen, text)
      .groupBy("decision")
      .agg(count(lit(1)).as("n_contents"),
        sum(col("n_batch_copies")).as("n_copies"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("tokens_cut")).as("tokens_cut"),
        sum(col("tokens_retained")).as("tokens_retained"))

  /** DuckDB twin of [[summary]] over the gate's 80/20 split. */
  def summarySql(adcAdmitSql: String,
                 minMatches: Int = NearDupIndex.defaultMinMatches,
                 w: Int = SpanIndex.defaultW,
                 heavyNum: Int = 1, heavyDen: Int = 2): String =
    s"""WITH sa_full AS (
       |${reportFullSql(adcAdmitSql, minMatches, w, heavyNum, heavyDen)}
       |)
       |SELECT decision,
       |  CAST(count(*) AS BIGINT) AS n_contents,
       |  CAST(sum(n_batch_copies) AS BIGINT) AS n_copies,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(tokens_cut) AS BIGINT) AS tokens_cut,
       |  CAST(sum(tokens_retained) AS BIGINT) AS tokens_retained
       |FROM sa_full GROUP BY decision""".stripMargin

  /** DuckDB twin of [[reportFull]] over the gate's 80/20 split — the
    * [[reportSql]] composition with the trained-centroid ADC replay
    * nested as a third CTE. */
  def reportFullSql(adcAdmitSql: String,
                    minMatches: Int = NearDupIndex.defaultMinMatches,
                    w: Int = SpanIndex.defaultW,
                    heavyNum: Int = 1, heavyDen: Int = 2): String =
    s"""WITH sa_base AS (
       |${reportSql(minMatches, w, heavyNum, heavyDen)}
       |), sa_e AS (
       |${adcAdmitSql}
       |)
       |SELECT b.doc_id, b.content_hash, b.n_batch_copies,
       |  CASE WHEN b.decision IN ('reject_exact', 'reject_near')
       |         THEN b.decision
       |       WHEN e.verdict = 'dup_embed' THEN 'reject_embed'
       |       ELSE b.decision END AS decision,
       |  b.best_est_ppm,
       |  CAST(e.anchor_id AS BIGINT) AS embed_anchor_id,
       |  CAST(e.adc_cos_micro AS BIGINT) AS embed_cos_micro,
       |  b.n_tokens, b.tokens_cut, b.tokens_retained
       |FROM sa_base b LEFT JOIN sa_e e ON e.vec_id = b.doc_id""".stripMargin

  /** DuckDB twin over the gate's 80/20 split: both tiers' static
    * replay twins nested as CTEs, composed by the same precedence. */
  def reportSql(minMatches: Int = NearDupIndex.defaultMinMatches,
                w: Int = SpanIndex.defaultW,
                heavyNum: Int = 1, heavyDen: Int = 2): String =
    s"""WITH sa_n AS (
       |${NearDupIndex.admissionSql(minMatches)}
       |), sa_s AS (
       |${SpanIndex.admissionSql(w)}
       |), sa_t AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
       |  FROM documents WHERE doc_id % 5 = 0
       |)
       |SELECT n.doc_id, n.content_hash, n.n_batch_copies,
       |  CASE WHEN n.verdict = 'dup_exact' THEN 'reject_exact'
       |       WHEN n.verdict = 'dup_near' THEN 'reject_near'
       |       WHEN coalesce(t.n_tokens, 0) > 0
       |         AND coalesce(s.tokens_cut, 0) * $heavyDen
       |           >= coalesce(t.n_tokens, 0) * $heavyNum
       |         THEN 'trim_spans'
       |       ELSE 'admit' END AS decision,
       |  n.best_est_ppm,
       |  CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(s.tokens_cut, 0) AS BIGINT) AS tokens_cut,
       |  CAST(coalesce(t.n_tokens, 0) - coalesce(s.tokens_cut, 0)
       |    AS BIGINT) AS tokens_retained
       |FROM sa_n n
       |LEFT JOIN sa_t t USING (doc_id)
       |LEFT JOIN sa_s s USING (doc_id)""".stripMargin
}
