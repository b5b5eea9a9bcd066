package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, TextExpressions}

/** Corpus-curation operators from the public LLM-data-pipeline
  * literature: DSIR importance weighting (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"),
  * the Gopher quality-rule battery (Rae et al. 2021 §A1.1), a
  * per-source Kolmogorov–Smirnov length-drift statistic, tokenizer
  * fertility accounting, and mixture/epoch planning for a token
  * budget.
  *
  * Everything follows the repo's determinism contract: counts stay
  * exact BIGINTs, every `ln` lands on integer-ratio arguments and is
  * snapped to micro-nats before summation (the x67 contract), and
  * single IEEE divisions in fixed operand order are the only raw
  * doubles that reach output columns.
  */
object CurationOps {

  private def snapMicro(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)).cast("long")

  // ---------------------------------------------------------------------
  // x97 — DSIR hashed n-gram importance weights
  // ---------------------------------------------------------------------

  /** DSIR importance weight per document: features are unigrams plus
    * word bigrams hashed into `buckets` buckets; a target bucket model
    * is fit on the `targetLang` slice and a raw model on the rest (both
    * add-one smoothed), and each document scores the sum over its
    * feature occurrences of ln(p_target(b) / p_raw(b)) — the
    * importance-resampling weight used to select raw-corpus documents
    * that look like the target distribution.
    *
    * Determinism: bucket counts are exact; each per-bucket log ratio is
    * ln of integer-ratio arguments (cnt+1 over total+B), snapped to
    * micro-nats, and the per-doc score is an exact BIGINT sum of
    * occ·w_micro.
    *
    * Scale: ONE corpus tokenization builds the (doc, tgt, bucket, occ)
    * occurrence matrix; the bucket model is a second aggregation of
    * that matrix (ReusedExchange, the [[TextOps.lmScore]] shape), is
    * `buckets`-sized regardless of corpus size, and broadcasts back
    * onto the matrix. No all-pairs, no driver state; the hash keeps the
    * model memory fixed at any vocabulary size — the reason DSIR hashes
    * at all. */
  def dsirWeights(df: DataFrame, targetLang: String = "en",
                  buckets: Int = 4096,
                  state: DedupOps.IterState = DedupOps.Local): DataFrame = {
    val toks = TextOps.wordsRe(col("text"))
    val feats = concat(toks, TextExpressions.wsBigramsFast(col("text")))
    val mat = df
      .filter(col("doc_id").isNotNull && col("text").isNotNull &&
        col("lang").isNotNull)
      .select(col("doc_id"), (col("lang") === lit(targetLang)).as("tgt"),
        explode(feats).as("feat"))
      // coalesce is a no-op (polyHash52 of a non-null string is non-null)
      // but marks the column non-nullable, so the final join can't infer
      // an IsNotNull(bucket) onto its probe branch only — which would
      // stop the model/scoring branches canonicalizing equal and
      // tokenize the corpus twice (the x67/x74 trap); a shared-base
      // filter would fix reuse too, but costs a second hash evaluation
      // per feature row (Filter and Project don't share subexpressions)
      .select(col("doc_id"), col("tgt"),
        coalesce(HashFunctions.polyHash52Fast(col("feat")) % lit(buckets.toLong),
          lit(0L)).as("bucket"))
      .groupBy("doc_id", "tgt", "bucket").agg(count(lit(1)).as("occ"))
    val cnt = mat.groupBy("bucket").agg(
      sum(when(col("tgt"), col("occ")).otherwise(lit(0L))).as("ct"),
      sum(when(!col("tgt"), col("occ")).otherwise(lit(0L))).as("cr"))
    val tot = cnt.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    val b = lit(buckets.toDouble)
    val w = cnt.crossJoin(broadcast(tot)).select(col("bucket"),
      snapMicro(
        log((col("ct") + lit(1L)).cast("double") / (col("tt").cast("double") + b)) -
        log((col("cr") + lit(1L)).cast("double") / (col("tr").cast("double") + b)))
        .as("w_micro"))
    // SCORE-ONCE (round 19, guide §2.1): the weight relation is narrow
    // (4 columns × |docs|) and a deterministic function of (corpus
    // plan, targetLang, buckets); x97 and x159 both derive it from the
    // identical plan, so under Local the corpus tokenize+model+score
    // runs once per session and the second consumer reads the pinned
    // rows — the x23-kernel sign-once discipline applied to the DSIR
    // model. memoPin: Unpinned stays plan-only, Reliable checkpoints.
    DedupOps.memoPin(state)(mat.join(broadcast(w), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_feats"),
        sum(col("occ") * col("w_micro")).as("dsir_micro"))
      .select(col("doc_id"), col("n_feats"), col("dsir_micro"),
        (col("dsir_micro").cast("double") /
          (col("n_feats").cast("double") * lit(1e6))).as("dsir_avg")))
  }

  /** DuckDB twin of [[dsirWeights]] — same snap-then-sum contract. */
  def dsirWeightsSql(targetLang: String = "en", buckets: Int = 4096): String =
    s"""WITH ds_base AS (
       |  SELECT doc_id, lang = '$targetLang' AS tgt,
       |    list_concat(toks, list_transform(
       |      generate_series(1, greatest(len(toks) - 1, 0)),
       |      ds_i -> toks[ds_i] || ' ' || toks[ds_i + 1])) AS feats
       |  FROM (SELECT doc_id, lang, ${TextOps.wordsReSql("text")} AS toks
       |        FROM documents
       |        WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |          AND lang IS NOT NULL)
       |),
       |ds_mat AS (
       |  SELECT doc_id, tgt,
       |    (${HashFunctions.polyHash52Sql("feat")}) % $buckets AS bucket,
       |    count(*) AS occ
       |  FROM (SELECT doc_id, tgt, unnest(feats) AS feat FROM ds_base)
       |  GROUP BY 1, 2, 3
       |),
       |ds_cnt AS (
       |  SELECT bucket,
       |    CAST(sum(CASE WHEN tgt THEN occ ELSE 0 END) AS BIGINT) AS ct,
       |    CAST(sum(CASE WHEN NOT tgt THEN occ ELSE 0 END) AS BIGINT) AS cr
       |  FROM ds_mat GROUP BY bucket
       |),
       |ds_tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
       |                  CAST(sum(cr) AS BIGINT) AS tr FROM ds_cnt),
       |ds_w AS (
       |  SELECT bucket,
       |    CAST(floor((ln(CAST(ct + 1 AS DOUBLE) / (CAST(tt AS DOUBLE) + $buckets.0))
       |      - ln(CAST(cr + 1 AS DOUBLE) / (CAST(tr AS DOUBLE) + $buckets.0)))
       |      * 1e6 + 0.5) AS BIGINT) AS w_micro
       |  FROM ds_cnt CROSS JOIN ds_tot
       |),
       |ds_doc AS (
       |  SELECT m.doc_id, CAST(sum(m.occ) AS BIGINT) AS n_feats,
       |    CAST(sum(m.occ * w.w_micro) AS BIGINT) AS dsir_micro
       |  FROM ds_mat m JOIN ds_w w USING (bucket)
       |  GROUP BY m.doc_id
       |)
       |SELECT doc_id, n_feats, dsir_micro,
       |  CAST(dsir_micro AS DOUBLE) / (CAST(n_feats AS DOUBLE) * 1e6)
       |    AS dsir_avg
       |FROM ds_doc""".stripMargin

  // ---------------------------------------------------------------------
  // x159 — cluster-corrected DSIR sampling mass (x23 × x97)
  // ---------------------------------------------------------------------

  /** Soft-dedup correction for DSIR sampling: a near-dup cluster of k
    * copies multiplies its source's raw importance mass k× — the
    * standard fix weights each doc by 1/cluster_size so the cluster
    * contributes its importance once, however many mirrors carry it.
    * Per source: doc count, docs in a >1 cluster, the effective
    * (dedup-corrected) doc count in micro units (Σ 1e6 div size over
    * x23's simhash components), and the raw vs corrected DSIR mass
    * (Σ dsir_micro vs Σ dsir_micro·share div 1e6) — the two numbers
    * whose gap IS the sampling bias near-dups would have bought.
    *
    * Determinism: cluster sizes and shares are exact integers; the
    * correction is a sign-magnitude integer division (Spark `div`
    * truncates toward zero, DuckDB `//` floors — they agree only on
    * magnitudes); cross-multiplies and sums ride DECIMAL(38,0) /
    * HUGEINT so overflow errors loudly on both engines.
    *
    * Scale: x23's banded pair machinery + Borůvka contraction (never
    * all-pairs), cluster sizes via a map-side-combinable groupBy +
    * join-back (the round-12 lint rule — no cluster_id window), x97's
    * fixed-size bucket model, then doc-keyed joins and one per-source
    * aggregate. */
  def clusterCorrectedDsir(df: DataFrame, targetLang: String = "en",
                           buckets: Int = 4096, maxDist: Int = 3,
                           state: DedupOps.IterState = DedupOps.Local)
      : DataFrame = {
    val clusters = DedupOps.simhashClusters(df, maxDist, state = state)
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    val share = clusters.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("sz"),
        expr("1000000L div sz").as("share_micro"))
    val dsir = dsirWeights(df, targetLang, buckets, state)
      .select(col("doc_id"), col("dsir_micro"))
    df.filter(col("doc_id").isNotNull && col("source").isNotNull &&
        col("text").isNotNull && col("lang").isNotNull)
      .select(col("doc_id"), col("source"))
      .join(share, Seq("doc_id"))
      .join(dsir, Seq("doc_id"))
      .withColumn("corr_micro", expr(
        "CASE WHEN dsir_micro < 0 THEN -CAST(((-CAST(dsir_micro AS " +
          "DECIMAL(38,0))) * share_micro) div 1000000L AS BIGINT) " +
          "ELSE CAST((CAST(dsir_micro AS DECIMAL(38,0)) * share_micro) " +
          "div 1000000L AS BIGINT) END"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sz") > 1L, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("share_micro")).as("eff_docs_micro"),
        sum(col("dsir_micro").cast("decimal(38,0)")).as("__raw"),
        sum(col("corr_micro").cast("decimal(38,0)")).as("__corr"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        col("eff_docs_micro"),
        expr("CAST(__raw AS BIGINT)").as("raw_dsir_mass"),
        expr("CAST(__corr AS BIGINT)").as("corr_dsir_mass"))
  }

  /** DuckDB twin of [[clusterCorrectedDsir]] — the x23 and x97 twins
    * nested verbatim as subqueries, same sign-magnitude division. */
  def clusterCorrectedDsirSql(targetLang: String = "en",
                              buckets: Int = 4096,
                              maxDist: Int = 3): String =
    s"""WITH cc_cl AS (
       |  SELECT c.doc_id, c.cluster_id
       |  FROM (
       |${DedupOps.dupClustersSql(DedupOps.simhashDupPairsSql(maxDist))}
       |  ) c JOIN documents d USING (doc_id)
       |), cc_sz AS (
       |  SELECT cluster_id, count(*) AS sz FROM cc_cl GROUP BY cluster_id
       |), cc_sh AS (
       |  SELECT doc_id, sz, CAST(1000000 // sz AS BIGINT) AS share_micro
       |  FROM cc_cl JOIN cc_sz USING (cluster_id)
       |), cc_d AS (
       |  SELECT doc_id, dsir_micro FROM (
       |${dsirWeightsSql(targetLang, buckets)}
       |  )
       |), cc_j AS (
       |  SELECT d.source, s.sz, s.share_micro, w.dsir_micro,
       |    CAST(CASE WHEN w.dsir_micro < 0
       |      THEN -(((-CAST(w.dsir_micro AS HUGEINT)) * s.share_micro)
       |        // 1000000)
       |      ELSE (CAST(w.dsir_micro AS HUGEINT) * s.share_micro)
       |        // 1000000
       |    END AS BIGINT) AS corr_micro
       |  FROM documents d
       |  JOIN cc_sh s USING (doc_id) JOIN cc_d w USING (doc_id)
       |  WHERE d.doc_id IS NOT NULL AND d.source IS NOT NULL
       |    AND d.text IS NOT NULL AND d.lang IS NOT NULL
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_docs,
       |  CAST(sum(share_micro) AS BIGINT) AS eff_docs_micro,
       |  CAST(sum(dsir_micro) AS BIGINT) AS raw_dsir_mass,
       |  CAST(sum(corr_micro) AS BIGINT) AS corr_dsir_mass
       |FROM cc_j GROUP BY source""".stripMargin

  // ---------------------------------------------------------------------
  // x98 — Gopher quality-rule battery
  // ---------------------------------------------------------------------

  /** Gopher-style document quality gates (Rae et al. 2021, §A1.1),
    * restricted to the rules meaningful on a single-line corpus (the
    * bullet-/ellipsis-line rules need line structure this corpus does
    * not have — stated here rather than silently passing everything):
    *
    *  - g_word_count:    50 ≤ word count ≤ 100,000
    *  - g_mean_word_len: 3 ≤ mean word length ≤ 10
    *  - g_alpha:         ≥ 80% of words contain an alphabetic character
    *  - g_stopword:      ≥ 2 stopword occurrences ([[TextOps.qualityStopwords]])
    *  - g_symbol:        (# + ellipsis occurrences) / words ≤ 0.1
    *
    * Flags are INTs (0/1) so the oracle hash never touches booleans;
    * the only double is mean word length — one IEEE division of exact
    * integers, bit-identical cross-engine.
    *
    * Scale: pure per-row projection — no shuffle, no state; gates
    * compose with any downstream filter at any corpus size. */
  def gopherGates(df: DataFrame): DataFrame = {
    // phase 1: tokenize ONCE. The consuming projection references `toks`
    // three times, which is the SPARK-36718 condition for CollapseProject
    // to keep this boundary — without it the plan inlines the tokenizer
    // into every rule (9 copies per row in the recorded first-cut plan,
    // the x19 trap).
    val p1 = df.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), TextOps.wordsRe(col("text")).as("toks"),
        TextExpressions.wsTokenCountFast(col("text")).cast("long")
          .as("n_words"),
        (regexp_count(col("text"), lit("#")) +
          regexp_count(col("text"), lit("\\.\\.\\."))).cast("long").as("syms"))
    // phase 2: per-rule raw counts over the materialized array (sum_len
    // is referenced twice downstream, so this boundary survives too)
    val p2 = p1.select(col("doc_id"), col("n_words"), col("syms"),
      aggregate(transform(col("toks"), t => length(t).cast("long")),
        lit(0L), (a, x) => a + x).as("sum_len"),
      size(filter(col("toks"), t => t.rlike("[a-z]"))).cast("long")
        .as("alpha_w"),
      size(filter(col("toks"),
        t => t.isin(TextOps.qualityStopwords.map(lit(_)): _*))).cast("long")
        .as("stops"))
    // phase 3: the gates — cheap comparisons over attributes
    val mwl = col("sum_len").cast("double") / col("n_words").cast("double")
    val gWc = (col("n_words") >= 50L && col("n_words") <= 100000L).cast("int")
    val gMwl = (mwl >= 3d && mwl <= 10d).cast("int")
    val gAlpha = (col("alpha_w").cast("double") /
      col("n_words").cast("double") >= 0.8d).cast("int")
    val gStop = (col("stops") >= 2L).cast("int")
    val gSym = (col("syms").cast("double") /
      col("n_words").cast("double") <= 0.1d).cast("int")
    p2.select(col("doc_id"), col("n_words"), mwl.as("mean_word_len"),
      gWc.as("g_word_count"), gMwl.as("g_mean_word_len"),
      gAlpha.as("g_alpha"), gStop.as("g_stopword"), gSym.as("g_symbol"),
      (gWc * gMwl * gAlpha * gStop * gSym).as("g_pass"))
  }

  /** DuckDB twin of [[gopherGates]]. */
  def gopherGatesSql: String = {
    val stopList = TextOps.qualityStopwords.map(w => s"'$w'").mkString(", ")
    val toks = TextOps.wordsReSql("text")
    s"""WITH gg_base AS (
       |  SELECT doc_id,
       |    CAST(len($toks) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform($toks,
       |      gg_t -> CAST(length(gg_t) AS BIGINT))) AS BIGINT) AS sum_len,
       |    CAST(len(list_filter($toks,
       |      gg_t -> regexp_matches(gg_t, '[a-z]'))) AS BIGINT) AS alpha_w,
       |    CAST(len(list_filter($toks,
       |      gg_t -> gg_t IN ($stopList))) AS BIGINT) AS stops,
       |    CAST(len(regexp_extract_all(text, '#')) +
       |         len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS syms
       |  FROM documents WHERE doc_id IS NOT NULL
       |),
       |gg_f AS (
       |  SELECT doc_id, n_words,
       |    CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
       |    CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS g_word_count,
       |    CAST(CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3
       |      AND CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10 AS INT)
       |      AS g_mean_word_len,
       |    CAST(CAST(alpha_w AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8 AS INT)
       |      AS g_alpha,
       |    CAST(stops >= 2 AS INT) AS g_stopword,
       |    CAST(CAST(syms AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.1 AS INT)
       |      AS g_symbol
       |  FROM gg_base
       |)
       |SELECT doc_id, n_words, mean_word_len, g_word_count, g_mean_word_len,
       |  g_alpha, g_stopword, g_symbol,
       |  g_word_count * g_mean_word_len * g_alpha * g_stopword * g_symbol
       |    AS g_pass
       |FROM gg_f""".stripMargin
  }

  /** x164: gate-attribution matrix — the ablation readout over [[gopherGates]].
    * Per gate: total kills (docs failing it, and their token mass) and SOLE
    * kills (docs failing ONLY it — exactly the docs that gate alone removes
    * from the kept set, the marginal cost of keeping the rule). A gate with
    * zero sole kills is redundant given the others; the sole-kill token
    * mass ranks which rule is actually doing the work — the first question
    * any curation-ablation asks, answered without running 2⁵ filter
    * combinations. Corpus-wide doc/pass counts ride every row so each rate
    * has its denominator in place.
    *
    * Scale shape: ONE pass over the per-doc gate relation into a single
    * 22-column global aggregate (map-side combinable sums), then a 5-row
    * stack of that one row — no shuffle beyond the 1-row reduce, no
    * per-gate re-scan, bounded output however big the corpus. */
  def gateAttribution(df: DataFrame): DataFrame = {
    val gates = Seq("word_count", "mean_word_len", "alpha", "stopword",
      "symbol")
    val d = gopherGates(df).withColumn("nf",
      gates.map(x => lit(1) - col(s"g_$x")).reduce(_ + _))
    val aggs = gates.flatMap { x =>
      val fail = col(s"g_$x") === 0
      val sole = fail && col("nf") === 1
      Seq(sum(when(fail, 1L).otherwise(0L)).as(s"${x}_nfail"),
        sum(when(fail, col("n_words")).otherwise(0L)).as(s"${x}_tfail"),
        sum(when(sole, 1L).otherwise(0L)).as(s"${x}_nsole"),
        sum(when(sole, col("n_words")).otherwise(0L)).as(s"${x}_tsole"))
    } ++ Seq(count(lit(1)).as("n_docs"),
      sum(when(col("nf") === 0, 1L).otherwise(0L)).as("n_pass"))
    val one = d.agg(aggs.head, aggs.tail: _*)
    one.select(expr("stack(5, " + gates.map(x =>
        s"'$x', ${x}_nfail, ${x}_tfail, ${x}_nsole, ${x}_tsole")
        .mkString(", ") +
        ") AS (gate, n_fail, tokens_fail, n_sole_kill, tokens_sole_kill)"),
      col("n_docs"), col("n_pass"))
  }

  /** DuckDB twin of [[gateAttribution]]. */
  def gateAttributionSql: String = {
    val gates = Seq("word_count", "mean_word_len", "alpha", "stopword",
      "symbol")
    val aggCols = gates.map { x =>
      s"""    CAST(sum(CASE WHEN g_$x = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ${x}_nfail,
         |    CAST(sum(CASE WHEN g_$x = 0 THEN n_words ELSE 0 END) AS BIGINT)
         |      AS ${x}_tfail,
         |    CAST(sum(CASE WHEN g_$x = 0 AND nf = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS ${x}_nsole,
         |    CAST(sum(CASE WHEN g_$x = 0 AND nf = 1 THEN n_words ELSE 0 END)
         |      AS BIGINT) AS ${x}_tsole""".stripMargin
    }.mkString(",\n")
    val rows = gates.map { x =>
      s"""SELECT '$x' AS gate, ${x}_nfail AS n_fail, ${x}_tfail AS tokens_fail,
         |  ${x}_nsole AS n_sole_kill, ${x}_tsole AS tokens_sole_kill,
         |  n_docs, n_pass FROM ga_one""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH gg_att AS (
       |$gopherGatesSql
       |),
       |ga_d AS (
       |  SELECT n_words,
       |    g_word_count, g_mean_word_len, g_alpha, g_stopword, g_symbol,
       |    5 - (g_word_count + g_mean_word_len + g_alpha + g_stopword
       |      + g_symbol) AS nf
       |  FROM gg_att
       |),
       |ga_one AS (
       |  SELECT
       |$aggCols,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN nf = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
       |  FROM ga_d
       |)
       |$rows""".stripMargin
  }

  /** x169: truncation-cap yield curve — the max-sequence-length decision
    * priced per source and per cap: for every candidate cap c on a
    * powers-of-two ladder, how many docs exceed it and how many tokens a
    * hard truncation at c throws away (Σ max(len−c, 0)). Sources differ
    * sharply here (code and transcripts carry their mass in long tails
    * that chat does not), so the per-source split is the decision view:
    * the cap where tokens_lost flattens per source is the context length
    * that source actually needs. Totals ride every row as denominators.
    *
    * Scale shape: ONE token-count scan into a per-source aggregate
    * carrying all caps as conditional-sum columns (map-side combinable —
    * a dominant source collapses in the partials), then a |caps|-row
    * stack per source: |sources|×|caps| output rows, no second scan, no
    * window, no join. */
  def truncationYield(df: DataFrame,
                      caps: Seq[Long] = Seq(16L, 32L, 64L, 128L, 256L,
                        512L, 1024L, 2048L, 4096L, 8192L)): DataFrame = {
    require(caps.nonEmpty && caps == caps.sorted, s"caps=$caps")
    val toks = df.filter(col("source").isNotNull)
      .select(col("source"),
        coalesce(graft.functions.TextExpressions.wsTokenCountFast(col("text"))
          .cast("long"), lit(0L)).as("n"))
    val aggs = caps.zipWithIndex.flatMap { case (c, i) =>
      Seq(sum(when(col("n") > c, 1L).otherwise(0L)).as(s"d$i"),
        sum(when(col("n") > c, col("n") - c).otherwise(0L)).as(s"t$i"))
    } ++ Seq(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens_total"))
    val one = toks.groupBy("source").agg(aggs.head, aggs.tail: _*)
    graft.functions.EdgeLadder.stackLadder(one, "cap",
      caps.zipWithIndex.map { case (c, i) => (c, Seq(s"d$i", s"t$i")) },
      Seq("n_docs_truncated", "tokens_lost"),
      Seq("source", "n_docs", "tokens_total"))
  }

  /** DuckDB twin of [[truncationYield]]. */
  def truncationYieldSql(caps: Seq[Long] = Seq(16L, 32L, 64L, 128L, 256L,
                           512L, 1024L, 2048L, 4096L, 8192L)): String = {
    val aggCols = caps.zipWithIndex.map { case (c, i) =>
      s"""    CAST(sum(CASE WHEN n > $c THEN 1 ELSE 0 END) AS BIGINT) AS d$i,
         |    CAST(sum(CASE WHEN n > $c THEN n - $c ELSE 0 END) AS BIGINT)
         |      AS t$i""".stripMargin
    }.mkString(",\n")
    val rows = graft.functions.EdgeLadder.stackLadderSqlRows("cap",
      caps.zipWithIndex.map { case (c, i) => (c, Seq(
        "n_docs_truncated" -> s"d$i", "tokens_lost" -> s"t$i")) },
      Seq("source", "n_docs", "tokens_total"), "ty_one")
    s"""WITH ty_t AS (
       |  SELECT source,
       |    coalesce(CAST(len(${graft.operators.TextOps.wordsReSql("text")})
       |      AS BIGINT), 0) AS n
       |  FROM documents WHERE source IS NOT NULL
       |),
       |ty_one AS (
       |  SELECT source,
       |$aggCols,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n) AS BIGINT) AS tokens_total
       |  FROM ty_t GROUP BY source
       |)
       |$rows""".stripMargin
  }

  // ---------------------------------------------------------------------
  // x99 — per-source Kolmogorov–Smirnov length drift
  // ---------------------------------------------------------------------

  /** Two-sample-style KS statistic per source: D_s = max over observed
    * lengths x of |F_s(x) − F(x)|, where F_s is the source's empirical
    * CDF of `n_chars` and F the whole-corpus CDF — the classic
    * distribution-drift gate ("is this domain's length profile unlike
    * the corpus?") that catches truncation bugs and template farms
    * which per-source means smooth over.
    *
    * Determinism: cumulative counts are exact BIGINT window sums over
    * the (source × distinct-length) grid; each CDF difference is two
    * fixed-order IEEE divisions, snapped to micro units before the
    * max so the reported statistic is an exact BIGINT.
    *
    * Scale: the corpus is scanned ONCE into (source, n_chars, c)
    * counts; every later relation (distinct lengths, source totals,
    * global per-length counts, the evaluation grid) derives from that
    * aggregate via ReusedExchange and is at most |lengths|·|sources|
    * rows — aggregate-sized, not corpus-sized. The single-partition
    * window runs over the distinct-length relation only. The `c >= 1`
    * filter is the tautological guard that keeps
    * RemoveRedundantAggregates from collapsing the keys-only distinct
    * back into a second corpus scan (the x80 trap). */
  def lengthKs(df: DataFrame): DataFrame = {
    val cnt = df.filter(col("source").isNotNull && col("n_chars").isNotNull)
      .groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 1L)
    val lens = cnt.select("n_chars").distinct()
    val stot = cnt.groupBy("source").agg(sum("c").as("n_docs"))
    val gcnt = cnt.groupBy("n_chars").agg(sum("c").as("g"))
      .withColumn("cum_g", sum(col("g")).over(
        Window.orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = stot.agg(sum("n_docs").as("n_total"))
    val grid = lens.crossJoin(broadcast(stot))
      .join(cnt, Seq("source", "n_chars"), "left")
      .select(col("source"), col("n_chars"), col("n_docs"),
        coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("cum_s", sum(col("c")).over(
        Window.partitionBy("source").orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    grid.join(broadcast(gcnt.select("n_chars", "cum_g")), "n_chars")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        abs(snapMicro(col("cum_s").cast("double") / col("n_docs").cast("double") -
          col("cum_g").cast("double") / col("n_total").cast("double")))
          .as("d_micro"))
      .groupBy("source").agg(max("n_docs").as("n_docs"),
        max("d_micro").as("ks_micro"))
      .select(col("source"), col("n_docs"), col("ks_micro"),
        (col("ks_micro").cast("double") / lit(1e6)).as("ks"))
  }

  /** DuckDB twin of [[lengthKs]]. */
  def lengthKsSql: String =
    s"""WITH ks_cnt AS (
       |  SELECT source, n_chars, count(*) AS c
       |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
       |  GROUP BY 1, 2 HAVING count(*) >= 1
       |),
       |ks_lens AS (SELECT DISTINCT n_chars FROM ks_cnt),
       |ks_stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs
       |            FROM ks_cnt GROUP BY source),
       |ks_g AS (
       |  SELECT n_chars, CAST(sum(CAST(sum(c) AS BIGINT)) OVER
       |    (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS cum_g
       |  FROM ks_cnt GROUP BY n_chars
       |),
       |ks_tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM ks_stot),
       |ks_grid AS (
       |  SELECT s.source, l.n_chars, s.n_docs,
       |    CAST(sum(coalesce(c.c, 0)) OVER
       |      (PARTITION BY s.source ORDER BY l.n_chars
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_s
       |  FROM ks_lens l CROSS JOIN ks_stot s
       |  LEFT JOIN ks_cnt c ON c.source = s.source AND c.n_chars = l.n_chars
       |)
       |SELECT g.source, CAST(max(g.n_docs) AS BIGINT) AS n_docs,
       |  CAST(max(abs(CAST(floor(
       |    (CAST(g.cum_s AS DOUBLE) / CAST(g.n_docs AS DOUBLE)
       |     - CAST(gg.cum_g AS DOUBLE) / CAST(t.n_total AS DOUBLE))
       |    * 1e6 + 0.5) AS BIGINT))) AS BIGINT) AS ks_micro,
       |  CAST(max(abs(CAST(floor(
       |    (CAST(g.cum_s AS DOUBLE) / CAST(g.n_docs AS DOUBLE)
       |     - CAST(gg.cum_g AS DOUBLE) / CAST(t.n_total AS DOUBLE))
       |    * 1e6 + 0.5) AS BIGINT))) AS DOUBLE) / 1e6 AS ks
       |FROM ks_grid g
       |JOIN ks_g gg USING (n_chars) CROSS JOIN ks_tot t
       |GROUP BY g.source""".stripMargin

  // ---------------------------------------------------------------------
  // x102 — tokenizer fertility per source × lang
  // ---------------------------------------------------------------------

  /** Tokenizer fertility accounting per (source, lang): how many
    * regex (BPE-ish) tokens each whitespace word costs, and how many
    * characters each token carries — the numbers that decide whether a
    * slice is cheap or expensive to train on (CJK and mangled encodings
    * show up as fertility outliers long before quality scores move).
    *
    * Determinism: all sums are exact BIGINTs; the two ratios are single
    * fixed-order IEEE divisions.
    *
    * Scale: one scan, one `(source, lang)`-sized aggregate; both token
    * counters are native codegen byte-scans, no explode. */
  def tokenFertility(df: DataFrame): DataFrame = {
    val ws = TextExpressions.wsTokenCountFast(col("text")).cast("long")
    val re = regexp_count(col("text"), lit(TextOps.tokenPattern)).cast("long")
    df.filter(col("source").isNotNull && col("lang").isNotNull)
      .select(col("source"), col("lang"), ws.as("ws"), re.as("re"),
        length(col("text")).cast("long").as("ch"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("ws").as("ws_tokens"),
        sum("re").as("re_tokens"), sum("ch").as("n_chars"))
      .select(col("source"), col("lang"), col("n_docs"), col("ws_tokens"),
        col("re_tokens"), col("n_chars"),
        (col("re_tokens").cast("double") / col("ws_tokens").cast("double"))
          .as("re_per_word"),
        (col("n_chars").cast("double") / col("re_tokens").cast("double"))
          .as("chars_per_token"))
  }

  /** DuckDB twin of [[tokenFertility]]. */
  def tokenFertilitySql: String =
    s"""WITH tf AS (
       |  SELECT source, lang,
       |    CAST(len(${TextOps.wordsReSql("text")}) AS BIGINT) AS ws,
       |    CAST(len(regexp_extract_all(text, '${TextOps.tokenPattern}'))
       |      AS BIGINT) AS re,
       |    CAST(length(text) AS BIGINT) AS ch
       |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
       |)
       |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
       |  CAST(sum(re) AS BIGINT) AS re_tokens,
       |  CAST(sum(ch) AS BIGINT) AS n_chars,
       |  CAST(sum(re) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) AS re_per_word,
       |  CAST(sum(ch) AS DOUBLE) / CAST(sum(re) AS DOUBLE) AS chars_per_token
       |FROM tf GROUP BY source, lang""".stripMargin

  // ---------------------------------------------------------------------
  // x103 — mixture / epoch planning for a token budget
  // ---------------------------------------------------------------------

  /** Mixture planning: given target mixture weights per language and a
    * total token budget, report per language the available whitespace
    * tokens, the budgeted target tokens, and the epoch factor
    * (target / available) — epochs > 1 means the slice must repeat,
    * the number a mixture designer reads before committing weights
    * (the planning half of DoReMi-style mixture work).
    *
    * Determinism: availability is an exact BIGINT sum; target tokens
    * are floor(budget · weight + 0.5) on a literal weight; the epoch
    * factor is one fixed-order IEEE division.
    *
    * Scale: one scan, lang-sized aggregate, no joins. The same call on
    * a stream is the live monitor: state is one row per language, no
    * watermark, `complete` output mode — the `oversubscribed` flag flips
    * as a slice fills (the streaming spec pins stream == batch). */
  def mixturePlan(df: DataFrame,
                  weights: Seq[(String, Double)] = defaultMixture,
                  budget: Long = 1000000L): DataFrame = {
    val w = weights.tail.foldLeft(
      when(col("lang") === weights.head._1, lit(weights.head._2))) {
        case (acc, (l, x)) => acc.when(col("lang") === l, lit(x))
      }.otherwise(lit(0d))
    df.filter(col("lang").isNotNull)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextExpressions.wsTokenCountFast(col("text")).cast("long"))
          .as("avail_tokens"))
      .select(col("lang"), col("n_docs"), col("avail_tokens"),
        floor(lit(budget.toDouble) * w + lit(0.5)).cast("long")
          .as("target_tokens"))
      .select(col("lang"), col("n_docs"), col("avail_tokens"),
        col("target_tokens"),
        (col("target_tokens").cast("double") /
          col("avail_tokens").cast("double")).as("epochs"),
        (col("target_tokens") > col("avail_tokens")).cast("int")
          .as("oversubscribed"))
  }

  val defaultMixture: Seq[(String, Double)] =
    Seq("en" -> 0.4, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.15, "zh" -> 0.15)

  /** DuckDB twin of [[mixturePlan]]. */
  def mixturePlanSql(weights: Seq[(String, Double)] = defaultMixture,
                     budget: Long = 1000000L): String = {
    val cases = weights.map { case (l, x) => s"WHEN '$l' THEN $x" }
      .mkString(" ")
    s"""WITH mp AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(${TextOps.wordsReSql("text")})) AS BIGINT)
       |      AS avail_tokens
       |  FROM documents WHERE lang IS NOT NULL GROUP BY lang
       |)
       |SELECT lang, n_docs, avail_tokens,
       |  CAST(floor($budget.0 * (CASE lang $cases ELSE 0 END) + 0.5) AS BIGINT)
       |    AS target_tokens,
       |  CAST(floor($budget.0 * (CASE lang $cases ELSE 0 END) + 0.5) AS DOUBLE)
       |    / CAST(avail_tokens AS DOUBLE) AS epochs,
       |  CAST(CAST(floor($budget.0 * (CASE lang $cases ELSE 0 END) + 0.5)
       |    AS BIGINT) > avail_tokens AS INT) AS oversubscribed
       |FROM mp""".stripMargin
  }

  /** x133: temperature-scaled mixture weights (the sampling-temperature
    * read of multilingual pretraining — mC4/XLM-R's p^α reweighting):
    * beside each language's natural token share, the allocation a
    * budget gets under α = 1/2 and α = 1/4 flattening. Temperatures are
    * deliberately HALF-INTEGER: p^(1/2) = sqrt, p^(1/4) = sqrt∘sqrt,
    * and IEEE sqrt is correctly rounded on both engines — a general
    * exp(α·ln p) would stake the gate's hash on libm pow parity, which
    * (unlike ln, probed bit-identical on the integer-ratio class) is
    * NOT guaranteed. sqrt outputs snap to micro ints per row before any
    * cross-row arithmetic; shares and allocations are exact integer
    * ppm/ratios from then on.
    *
    * Scale: one scan, one lang-sized aggregate, a 1-row total window —
    * nothing joins the fact. */
  def mixtureTemperature(df: DataFrame,
                         budget: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    val agg = df.filter(col("lang").isNotNull)
      .groupBy("lang")
      .agg(sum(TextExpressions.wsTokenCountFast(col("text")).cast("long"))
        .as("n_tokens"))
      .select(col("lang"), col("n_tokens"),
        floor(sqrt(col("n_tokens").cast("double")) * lit(1e6) + lit(0.5))
          .cast("long").as("s_half"),
        floor(sqrt(sqrt(col("n_tokens").cast("double"))) * lit(1e6) + lit(0.5))
          .cast("long").as("s_quarter"))
    // numerator products in DECIMAL(38,0) (HUGEINT on DuckDB, the
    // joinSizeCalibration convention): n_tokens·1e6 wraps BIGINT past
    // ~9.2e12 tokens/lang and budget·s_half past ~8.5e13 — both inside
    // the 100 TB-corpus envelope, and ANSI would throw. The quotients
    // are ≤ 1e6 (ppm) / ≤ budget, so the BIGINT casts after the
    // division are always exact.
    agg
      .withColumn("tot", sum(col("n_tokens")).over(w))
      .withColumn("tot_half", sum(col("s_half")).over(w))
      .withColumn("tot_quarter", sum(col("s_quarter")).over(w))
      .select(col("lang"), col("n_tokens"),
        expr("CAST((CAST(n_tokens AS DECIMAL(38,0)) * 1000000) div tot AS BIGINT)")
          .as("share_ppm"),
        expr("CAST((CAST(s_half AS DECIMAL(38,0)) * 1000000) div tot_half AS BIGINT)")
          .as("w_half_ppm"),
        expr("CAST((CAST(s_quarter AS DECIMAL(38,0)) * 1000000) div tot_quarter AS BIGINT)")
          .as("w_quarter_ppm"),
        expr(s"CAST((CAST(s_half AS DECIMAL(38,0)) * ${budget}) div tot_half AS BIGINT)")
          .as("alloc_half"),
        expr(s"CAST((CAST(s_quarter AS DECIMAL(38,0)) * ${budget}) div tot_quarter AS BIGINT)")
          .as("alloc_quarter"))
  }

  /** DuckDB twin of [[mixtureTemperature]]. */
  def mixtureTemperatureSql(budget: Long = 1000000L): String =
    s"""WITH mt AS (
       |  SELECT lang,
       |    CAST(sum(len(${TextOps.wordsReSql("text")})) AS BIGINT) AS n_tokens
       |  FROM documents WHERE lang IS NOT NULL GROUP BY lang
       |), mt_s AS (
       |  SELECT lang, n_tokens,
       |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       |      AS s_half,
       |    CAST(floor(sqrt(sqrt(CAST(n_tokens AS DOUBLE))) * 1e6 + 0.5)
       |      AS BIGINT) AS s_quarter
       |  FROM mt
       |)
       |SELECT lang, n_tokens,
       |  CAST((CAST(n_tokens AS HUGEINT) * 1000000) // sum(n_tokens) OVER ()
       |    AS BIGINT) AS share_ppm,
       |  CAST((CAST(s_half AS HUGEINT) * 1000000) // sum(s_half) OVER ()
       |    AS BIGINT) AS w_half_ppm,
       |  CAST((CAST(s_quarter AS HUGEINT) * 1000000) // sum(s_quarter) OVER ()
       |    AS BIGINT) AS w_quarter_ppm,
       |  CAST((CAST(s_half AS HUGEINT) * $budget) // sum(s_half) OVER ()
       |    AS BIGINT) AS alloc_half,
       |  CAST((CAST(s_quarter AS HUGEINT) * $budget) // sum(s_quarter) OVER ()
       |    AS BIGINT) AS alloc_quarter
       |FROM mt_s""".stripMargin

  /** x139: corpus content manifest — the reproducibility fingerprint a
    * release pins: per source, doc count, token volume, and an
    * ORDER-INDEPENDENT content digest (bit_xor of per-doc 60-bit
    * content hashes — xor is commutative/associative, so any partition
    * order, any shard layout, any engine produces the same digest; a
    * concatenation-based digest would need a global sort). Two corpora
    * with equal manifests row-for-row are content-identical per source;
    * a drifted source names itself. The whole-corpus row (source = '*')
    * folds the same digests once more.
    *
    * Scale: one scan, one source-sized aggregate, plus a 1-row global
    * fold unioned in. Output: (source, n_docs, n_tokens, xor_digest). */
  def corpusManifest(df: DataFrame): DataFrame = {
    val base = df.filter(col("doc_id").isNotNull && col("source").isNotNull)
      .select(col("source"),
        TextExpressions.wsTokenCountFast(col("text")).cast("long").as("nt"),
        graft.functions.HashFunctions.hash60(
          concat(col("doc_id").cast("string"), lit("|"),
            coalesce(col("text"), lit("")))).as("h"))
    val perSource = base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        expr("bit_xor(h)").as("xor_digest"))
    perSource.unionByName(
      perSource.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        expr("bit_xor(xor_digest)").as("xor_digest"))
        .select(lit("*").as("source"), col("n_docs"), col("n_tokens"),
          col("xor_digest")))
  }

  /** DuckDB twin of [[corpusManifest]]. */
  def corpusManifestSql: String = {
    val h = graft.functions.HashFunctions.hash60Sql(
      "CAST(doc_id AS VARCHAR) || '|' || COALESCE(text, '')")
    s"""WITH cm AS (
       |  SELECT source,
       |    CAST(len(${TextOps.wordsReSql("text")}) AS BIGINT) AS nt,
       |    $h AS h
       |  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
       |), cm_s AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(nt) AS BIGINT) AS n_tokens,
       |    CAST(bit_xor(h) AS BIGINT) AS xor_digest
       |  FROM cm GROUP BY source
       |)
       |SELECT source, n_docs, n_tokens, xor_digest FROM cm_s
       |UNION ALL
       |SELECT '*', CAST(sum(n_docs) AS BIGINT),
       |  CAST(sum(n_tokens) AS BIGINT), CAST(bit_xor(xor_digest) AS BIGINT)
       |FROM cm_s""".stripMargin
  }

  /** x138: water-filling token allocation — the budget split x103/x133
    * cannot give: every language capped at its AVAILABILITY (no epoch>1
    * oversubscription), the remaining budget spread evenly across the
    * unsaturated rest, exactly. The classic algorithm, closed-form in
    * one sorted-prefix window: sort languages by availability, find the
    * saturation rank k where the common level L = (B − prefix_k)/(n−k)
    * first fits between a_k and a_{k+1}; langs below rank k keep their
    * full availability, the rest take L — with the integer remainder
    * (B − prefix_k) mod (n−k) handed one token each to the
    * lexicographically-first unsaturated languages, so allocations sum
    * to EXACTLY min(B, Σa) with no float anywhere.
    *
    * Scale: one scan to the lang-sized aggregate; everything after is
    * windows over |langs| rows. Output: (lang, avail_tokens, alloc,
    * saturated). */
  def waterFill(df: DataFrame, budget: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = df.filter(col("lang").isNotNull)
      .groupBy("lang")
      .agg(sum(TextExpressions.wsTokenCountFast(col("text")).cast("long"))
        .as("avail"))
    val byAvail = Window.orderBy(col("avail"), col("lang"))
    val w = Window.partitionBy()
    val ranked = agg
      .withColumn("rk", row_number().over(byAvail).cast("long"))
      .withColumn("prefix", sum(col("avail")).over(
        byAvail.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("total", sum(col("avail")).over(w))
    // saturation rank: the LAST rank whose availability still fits under
    // the level computed with it saturated — a lang saturates iff
    // avail·(n−rk+1) ≤ B − prefix_{rk−1}, i.e. (B − prefix + avail) ≥
    // avail·(n−rk+1); monotone in rk, so max(rk where it holds)
    val sat = ranked.withColumn("is_sat",
      (lit(budget) - col("prefix") + col("avail")) >=
        col("avail") * (col("n") - col("rk") + 1L))
      .withColumn("k", coalesce(
        max(when(col("is_sat"), col("rk"))).over(w), lit(0L)))
      .withColumn("sat_prefix", coalesce(
        max(when(col("rk") === col("k"), col("prefix"))).over(w), lit(0L)))
    sat
      .withColumn("rest", col("n") - col("k"))
      // integer div/mod via expr — Column./ is DOUBLE division on longs
      .withColumn("level",
        when(col("rest") > 0L,
          expr(s"(${budget}L - sat_prefix) div rest")).otherwise(lit(0L)))
      .withColumn("rem",
        when(col("rest") > 0L,
          expr(s"(${budget}L - sat_prefix) % rest")).otherwise(lit(0L)))
      // remainder rank among unsaturated langs, lexicographic
      .withColumn("lex_rk",
        row_number().over(Window.partitionBy(col("rk") <= col("k"))
          .orderBy(col("lang"))).cast("long"))
      .select(col("lang"), col("avail").as("avail_tokens"),
        when(col("rk") <= col("k"), col("avail"))
          .otherwise(greatest(col("level") +
            when(col("lex_rk") <= col("rem"), 1L).otherwise(0L), lit(0L)))
          .as("alloc"),
        (col("rk") <= col("k")).cast("int").as("saturated"))
  }

  /** DuckDB twin of [[waterFill]]. */
  def waterFillSql(budget: Long = 1000000L): String =
    s"""WITH wf AS (
       |  SELECT lang,
       |    CAST(sum(len(${TextOps.wordsReSql("text")})) AS BIGINT) AS avail
       |  FROM documents WHERE lang IS NOT NULL GROUP BY lang
       |), wf_r AS (
       |  SELECT lang, avail,
       |    CAST(row_number() OVER av AS BIGINT) AS rk,
       |    CAST(sum(avail) OVER (av ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW) AS BIGINT) AS prefix,
       |    CAST(count(*) OVER () AS BIGINT) AS n
       |  FROM wf
       |  WINDOW av AS (ORDER BY avail, lang)
       |), wf_k AS (
       |  SELECT *,
       |    COALESCE(max(CASE WHEN ($budget - prefix + avail)
       |        >= avail * (n - rk + 1) THEN rk END) OVER (), 0) AS k
       |  FROM wf_r
       |), wf_l AS (
       |  SELECT *,
       |    COALESCE(max(CASE WHEN rk = k THEN prefix END) OVER (), 0)
       |      AS sat_prefix,
       |    n - k AS rest
       |  FROM wf_k
       |), wf_x AS (
       |  SELECT *,
       |    CASE WHEN rest > 0 THEN ($budget - sat_prefix) // rest
       |      ELSE 0 END AS level,
       |    CASE WHEN rest > 0 THEN ($budget - sat_prefix) % rest
       |      ELSE 0 END AS rem,
       |    CAST(row_number() OVER (PARTITION BY rk <= k ORDER BY lang)
       |      AS BIGINT) AS lex_rk
       |  FROM wf_l
       |)
       |SELECT lang, avail AS avail_tokens,
       |  CAST(CASE WHEN rk <= k THEN avail
       |    ELSE greatest(level + CASE WHEN lex_rk <= rem THEN 1 ELSE 0 END, 0)
       |    END AS BIGINT) AS alloc,
       |  CAST(rk <= k AS INT) AS saturated
       |FROM wf_x""".stripMargin

  // ---------------------------------------------------------------------
  // x108 — release audit: the composed keep/drop decision per document
  // ---------------------------------------------------------------------

  /** The per-document release decision a corpus-release job publishes:
    * every candidate gets ONE verdict — the first failing stage in the
    * fixed order eval-quarantine → quality gate → exact dup →
    * eval-contamination → perplexity band — or `kept`. The composed
    * capstone of the curation stack: x98's gates, x5's dedup rank, x79's
    * window collision, x71's band, in one Catalyst plan with one reason
    * CASE at the end.
    *
    * Stage semantics (each evaluated INDEPENDENTLY, x94-style, so a
    * reason never depends on another stage's verdict): the dup rank runs
    * over all non-eval candidates; the LM is corpus-trained (including
    * dups/eval — the x67 convention); contamination joins the broadcast
    * eval window set; docs too short to carry a full window are clean by
    * construction. A doc with NO LM score (empty text) fails the band.
    *
    * Scale: gates are a projection; dedup survivorship is a
    * map-side-combinable `groupBy(ch).min(doc_id)` joined back (a
    * content-hash rank window was the round-11 viral-key `weak` shape);
    * contamination is the x79 broadcast join; scoring is the x67
    * matrix. Four derived relations left-join back onto the id spine —
    * each is doc-sized or smaller, each shuffles on doc_id once. */
  def releaseAudit(df: DataFrame, w: Int = 8,
                   loNats: Double = 3.39, hiNats: Double = 3.45,
                   evalMod: Int = 10): DataFrame = {
    val evalPred = col("doc_id") % evalMod === 0
    val base = df.filter(col("doc_id").isNotNull)
    val gates = gopherGates(base).select(col("doc_id"), col("g_pass"))
    val hashed = base.filter(!evalPred)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("ch"))
    val minDoc = hashed.groupBy("ch").agg(min(col("doc_id")).as("__min_doc"))
    // downstream only tests dup_rank > 1: min-doc survivor ranks 1,
    // every other copy 2 — same verdict as the row_number it replaces
    val dup = hashed.join(minDoc, Seq("ch"))
      .select(col("doc_id"),
        when(col("doc_id") === col("__min_doc"), lit(1L)).otherwise(lit(2L))
          .as("dup_rank"))
    val decon = SubstringOps.ngramDecontamination(base, evalPred, w)
      .select(col("doc_id"), col("hit_windows"))
    val ppl = TextOps.lmScore(base).select(col("doc_id"), col("avg_nll"))
    val reason = when(evalPred, lit("eval"))
      .when(col("g_pass") === 0, lit("gate"))
      .when(col("dup_rank") > 1L, lit("dup"))
      .when(coalesce(col("hit_windows"), lit(0L)) > 0L, lit("contaminated"))
      .when(col("avg_nll").isNull ||
        col("avg_nll") < lit(loNats) || col("avg_nll") > lit(hiNats),
        lit("ppl"))
      .otherwise(lit("kept"))
    base.select(col("doc_id"))
      .join(gates, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .join(decon, Seq("doc_id"), "left")
      .join(ppl, Seq("doc_id"), "left")
      .select(col("doc_id"), reason.as("reason"),
        (reason === "kept").cast("int").as("keep"))
  }

  /** DuckDB twin of [[releaseAudit]] — the same stage CTEs composed from
    * the member operators' own SQL builders, same reason order. */
  def releaseAuditSql(w: Int = 8, loNats: Double = 3.39,
                      hiNats: Double = 3.45, evalMod: Int = 10): String = {
    val evalSql = s"doc_id % $evalMod = 0"
    s"""WITH ra_gates AS (
       |  SELECT doc_id, g_pass FROM (
       |${gopherGatesSql.linesIterator.map("    " + _).mkString("\n")}
       |  )
       |),
       |ra_dup AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
       |      AS BIGINT) AS dup_rank
       |  FROM documents WHERE doc_id IS NOT NULL AND NOT ($evalSql)
       |),
       |ra_decon AS (
       |  SELECT doc_id, hit_windows FROM (
       |${SubstringOps.ngramDecontaminationSql(evalSql, w)
           .linesIterator.map("    " + _).mkString("\n")}
       |  )
       |),
       |ra_ppl AS (
       |  SELECT doc_id, avg_nll FROM (
       |${TextOps.lmScoreSql.linesIterator.map("    " + _).mkString("\n")}
       |  )
       |),
       |ra AS (
       |  SELECT d.doc_id,
       |    CASE WHEN d.doc_id % $evalMod = 0 THEN 'eval'
       |         WHEN g.g_pass = 0 THEN 'gate'
       |         WHEN u.dup_rank > 1 THEN 'dup'
       |         WHEN coalesce(c.hit_windows, 0) > 0 THEN 'contaminated'
       |         WHEN p.avg_nll IS NULL OR p.avg_nll < $loNats
       |           OR p.avg_nll > $hiNats THEN 'ppl'
       |         ELSE 'kept' END AS reason
       |  FROM (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL) d
       |  LEFT JOIN ra_gates g USING (doc_id)
       |  LEFT JOIN ra_dup u USING (doc_id)
       |  LEFT JOIN ra_decon c USING (doc_id)
       |  LEFT JOIN ra_ppl p USING (doc_id)
       |)
       |SELECT doc_id, reason,
       |  CAST(reason = 'kept' AS INT) AS keep
       |FROM ra""".stripMargin
  }

  // ---------------------------------------------------------------------
  // x109 — quality-score calibration histogram
  // ---------------------------------------------------------------------

  /** Calibration of the x3 quality score against OBSERVED curation
    * outcomes: fixed-width score bins (width 0.1 over the score's [0,1]
    * range), each reporting its corpus-wide duplicate rate and Gopher
    * pass rate — the read that decides whether a score threshold is
    * worth filtering on ("do high-quality-score docs actually dedup
    * cleaner and pass the gates?"). Bins are value-domain, NOT deciles:
    * decile assignment needs a global sort; fixed-width binning is a
    * pure projection, which is the form that survives 100 TB (the bin
    * for a doc never depends on other docs).
    *
    * Determinism: the score double is micro-snapped before binning
    * (identical IEEE op order on both engines — the x3 contract);
    * everything after is exact integers plus two final divisions.
    *
    * Scale: dup flag from a map-side-combinable `groupBy(ch).count`
    * joined back onto the narrow (doc_id, q_micro, ch) projection — a
    * viral content hash collapses in the partials and the join-back is
    * AQE-skew-splittable (the content-hash WINDOW here was a round-11
    * `weak`: one task buffering the whole viral cluster); then one
    * doc_id join for the gates, a 10-row aggregate. */
  def qualityCalibration(df: DataFrame): DataFrame = {
    val base = df.filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"),
        snapMicro(TextOps.qualityScoreCol(col("text"))).as("q_micro"),
        DedupOps.normalizedKey(col("text")).as("ch"))
    val chCounts = base.groupBy("ch").agg(count(lit(1)).as("n_tot"))
    val withDup = base.join(chCounts, Seq("ch"))
    val gates = gopherGates(df).select(col("doc_id"), col("g_pass"))
    withDup.join(gates, "doc_id")
      .groupBy(least(floor(col("q_micro").cast("double") / lit(1e5)), lit(9d))
        .cast("long").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tot") > 1L, 1L).otherwise(0L)).as("n_dup"),
        sum(col("g_pass").cast("long")).as("n_pass"),
        sum(col("q_micro")).as("sum_q_micro"))
      .select(col("bin"), col("n_docs"),
        (col("n_dup").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"),
        (col("n_pass").cast("double") / col("n_docs").cast("double"))
          .as("gate_pass_rate"),
        (col("sum_q_micro").cast("double") /
          (col("n_docs").cast("double") * lit(1e6))).as("mean_quality"))
  }

  /** DuckDB twin of [[qualityCalibration]]. */
  def qualityCalibrationSql: String = {
    val key = "md5(array_to_string(list_sort(list_distinct(" +
      s"${TextOps.wordsReSql("text")})), ' '))"
    s"""WITH qc_base AS (
       |  SELECT doc_id,
       |    CAST(floor((${TextOps.qualityScoreColSql("text")}) * 1e6 + 0.5)
       |      AS BIGINT) AS q_micro,
       |    $key AS ch
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |),
       |qc_dup AS (
       |  SELECT doc_id, q_micro,
       |    CAST(count(*) OVER (PARTITION BY ch) AS BIGINT) AS n_tot
       |  FROM qc_base
       |),
       |qc_gates AS (
       |  SELECT doc_id, g_pass FROM (
       |${gopherGatesSql.linesIterator.map("    " + _).mkString("\n")}
       |  )
       |)
       |SELECT CAST(least(floor(CAST(q_micro AS DOUBLE) / 1e5), 9) AS BIGINT)
       |    AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN n_tot > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS dup_rate,
       |  CAST(sum(g_pass) AS DOUBLE) / count(*) AS gate_pass_rate,
       |  CAST(sum(q_micro) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e6)
       |    AS mean_quality
       |FROM qc_dup JOIN qc_gates USING (doc_id)
       |GROUP BY 1""".stripMargin
  }

  /** Offline-trained DSIR model for [[dsirApply]]: the (bucket →
    * w_micro) weight table plus the default weight an UNTRAINED bucket
    * takes — with zero counts on both sides the smoothed log ratio
    * collapses to ln((tr+B)/(tt+B)), a corpus constant. The 1-row totals
    * collect is a driver-side action at train time (the [[TextOps.lmModel]]
    * convention), not per-batch work. */
  def dsirModel(df: DataFrame, targetLang: String = "en",
                buckets: Int = 4096): (DataFrame, Long) = {
    val toks = TextOps.wordsRe(col("text"))
    val feats = concat(toks, TextExpressions.wsBigramsFast(col("text")))
    val mat = df
      .filter(col("doc_id").isNotNull && col("text").isNotNull &&
        col("lang").isNotNull)
      .select((col("lang") === lit(targetLang)).as("tgt"),
        explode(feats).as("feat"))
      .select(col("tgt"),
        coalesce(HashFunctions.polyHash52Fast(col("feat")) % lit(buckets.toLong),
          lit(0L)).as("bucket"))
    val cnt = mat.groupBy("bucket").agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("tgt"), 1L).otherwise(0L)).as("cr"))
    // sum() over zero rows is SQL-null: unguarded unboxing would NPE (or
    // silently price the default at ln(B/B)=0 from garbage totals) on an
    // empty/filtered-out corpus — a model trained on nothing is an error,
    // not a degenerate weight table
    val totals = cnt.agg(sum("ct"), sum("cr")).head()
    require(!totals.isNullAt(0) && !totals.isNullAt(1),
      "dsirModel: corpus is empty after the id/text/lang filters — " +
        "cannot train importance weights on zero features")
    val Array(tt, tr) = totals.toSeq.map(_.asInstanceOf[Long]).toArray
    require(tt + tr > 0, "dsirModel: zero total feature count")
    val b = buckets.toDouble
    val w = cnt.select(col("bucket"),
      snapMicro(
        log((col("ct") + lit(1L)).cast("double") / lit(tt.toDouble + b)) -
        log((col("cr") + lit(1L)).cast("double") / lit(tr.toDouble + b)))
        .as("w_micro"))
    val default = math.floor(
      (math.log(1.0 / (tt.toDouble + b)) - math.log(1.0 / (tr.toDouble + b)))
        * 1e6 + 0.5).toLong
    (w, default)
  }

  /** Application of a trained DSIR model: per document `keyNames` +
    * (n_feats, dsir_micro, dsir_avg). The weight table is
    * `buckets`-sized and broadcasts; features hashing into buckets the
    * training corpus never touched take the model's zero-count default
    * rather than dropping.
    *
    * The same call scores a stream on arrival — the importance-
    * resampling deployment shape (Xie et al. 2023): watermark the
    * stream on its event time and carry it in `keyNames`
    * (`Seq("doc_id", "ts")`), so the per-doc re-collapse is an
    * event-time aggregation whose state is O(arrival rate × horizon)
    * and the weight table joins stream-static (the streaming spec pins
    * stream == batch). */
  def dsirApply(df: DataFrame, weights: DataFrame, defaultMicro: Long,
                buckets: Int = 4096,
                keyNames: Seq[String] = Seq("doc_id")): DataFrame = {
    val keys = keyNames.map(col)
    val toks = TextOps.wordsRe(col("text"))
    val feats = concat(toks, TextExpressions.wsBigramsFast(col("text")))
    df.filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(keys :+ explode(feats).as("feat"): _*)
      .select(keys :+
        coalesce(HashFunctions.polyHash52Fast(col("feat")) % lit(buckets.toLong),
          lit(0L)).as("bucket"): _*)
      .join(broadcast(weights), Seq("bucket"), "left_outer")
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_feats"),
        sum(coalesce(col("w_micro"), lit(defaultMicro))).as("dsir_micro"))
      .select(keys ++ Seq(col("n_feats"), col("dsir_micro"),
        (col("dsir_micro").cast("double") /
          (col("n_feats").cast("double") * lit(1e6))).as("dsir_avg")): _*)
  }

  /** x141: corpus release diff — what changed between two releases, per
    * source: docs added / removed / CONTENT-CHANGED (same id, different
    * content hash), token-volume delta, and whether the x139 digest
    * moved. The read a release manager runs before shipping: the x139
    * manifest says THAT a source drifted; this says HOW.
    *
    * Scale: one doc_id-keyed full-outer join (both sides hash-shuffle
    * on the id — no broadcast assumption, releases are corpus-sized),
    * then a source-sized aggregate; per-doc hashes are the exact x139
    * content hash so diff verdicts and manifest digests can never
    * disagree. Per-source digests fold with bit_xor (order-independent,
    * null-skipping); sources present on one side only report a changed
    * digest by the coalesce(…, 0) convention x139 pins for the empty
    * fold. */
  def releaseDiff(prev: DataFrame, curr: DataFrame): DataFrame = {
    def keyed(df: DataFrame, side: String) =
      df.filter(col("doc_id").isNotNull && col("source").isNotNull)
        .select(col("doc_id"),
          col("source").as(s"src_$side"),
          TextExpressions.wsTokenCountFast(col("text")).cast("long")
            .as(s"nt_$side"),
          graft.functions.HashFunctions.hash60(
            concat(col("doc_id").cast("string"), lit("|"),
              coalesce(col("text"), lit("")))).as(s"h_$side"))
    keyed(prev, "p").join(keyed(curr, "c"), Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_c"), col("src_p")).as("source"),
        col("nt_p"), col("nt_c"), col("h_p"), col("h_c"))
      .groupBy("source")
      .agg(count(col("h_p")).as("n_prev"),
        count(col("h_c")).as("n_curr"),
        sum(when(col("h_p").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("h_c").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("h_p").isNotNull && col("h_c").isNotNull &&
          col("h_p") =!= col("h_c"), 1L).otherwise(0L)).as("n_changed"),
        (sum(coalesce(col("nt_c"), lit(0L)))
          - sum(coalesce(col("nt_p"), lit(0L)))).as("tok_delta"),
        (coalesce(expr("bit_xor(h_p)"), lit(0L)) =!=
          coalesce(expr("bit_xor(h_c)"), lit(0L))).as("digest_changed"))
  }

  /** The deterministic release pair behind [[releaseDiffDemo]] and
    * [[sourceDriftDemo]]: prev drops the hash60(doc_id)%20==0 slice
    * (those docs are ADDED in curr), curr drops the %20==1 slice
    * (REMOVED) and appends an edit marker to the %20==2 slice
    * (CHANGED). */
  def releasePair(docs: DataFrame): (DataFrame, DataFrame) = {
    val bucket = pmod(graft.functions.HashFunctions.hash60(
      col("doc_id").cast("string")), lit(20L))
    val prev = docs.filter(bucket =!= 0L)
    val curr = docs.filter(bucket =!= 1L)
      .withColumn("text",
        when(bucket === 2L, concat(col("text"), lit(" v2-edit")))
          .otherwise(col("text")))
    (prev, curr)
  }

  /** x141 gate composition over [[releasePair]]: every diff verdict
    * class fires on the fixture. */
  def releaseDiffDemo(docs: DataFrame): DataFrame = {
    val (prev, curr) = releasePair(docs)
    releaseDiff(prev, curr)
  }

  /** x154: per-source tokenizer/novelty DRIFT between releases — the
    * composition that makes x141 actionable: x141 says a source's
    * docs/tokens moved, this says whether the source's CONTENT CHARACTER
    * moved with them. Per source present in both releases: x142's BPE
    * fertility (subwords per word under the frozen production model) and
    * the x146-style novelty rate (share of the source's distinct
    * shingles that first occur in its own release), each computed on
    * prev and curr, with signed relative drift in ppm and a flag when
    * |drift| crosses `thresholdPpm`. A fertility jump = the feed's
    * script/vocabulary shifted away from what the tokenizer was priced
    * on; a novelty collapse = the feed started repeating itself (or the
    * release duplicated it) — "which feed went bad THIS release",
    * before it reaches training loss.
    *
    * Scale shape: per release, one word-level aggregate (map-side
    * combined) for fertility with a vocab-sized shared lexicon
    * segmentation, and the x146 min-aggregate first-occurrence for
    * novelty (a viral gram lands in map-side partials, never one task);
    * everything meets at |sources| granularity — no windows, no
    * doc×doc anything. Drift divisions are signed → sign-magnitude
    * (the Spark-div-truncates / DuckDB-//-floors rule). */
  def sourceDrift(prev: DataFrame, curr: DataFrame, model: BpeOps.BpeModel,
                  thresholdPpm: Long = 20000L): DataFrame = {
    def fert(rel: DataFrame, side: String) =
      BpeOps.compressionBySource(rel, model)
        .select(col("source"),
          col("fertility_micro").as(s"fert_${side}_micro"))
    def nov(rel: DataFrame, side: String) = {
      val sh = DedupOps.shingles(col("text"))
      val grams = rel
        .select(col("source"), size(array_distinct(sh)).cast("long").as("ng"))
        .groupBy("source").agg(sum(col("ng")).as("ng"))
      val novel = rel
        .select(col("doc_id"), explode(array_distinct(sh)).as("s"))
        .groupBy("s").agg(min(col("doc_id")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("nn"))
        .join(rel.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source").agg(sum(col("nn")).as("nn"))
      grams.join(novel, Seq("source"), "left")
        .select(col("source"),
          expr("CAST((CAST(coalesce(nn, 0L) AS DECIMAL(38,0)) * 1000000) " +
            "div greatest(ng, 1L) AS BIGINT)").as(s"nov_${side}_ppm"))
    }
    def drift(c: String, p: String) = expr(
      s"CASE WHEN $c < $p THEN " +
        s"-CAST(((CAST($p AS DECIMAL(38,0)) - $c) * 1000000) " +
        s"div greatest($p, 1L) AS BIGINT) " +
        s"ELSE CAST(((CAST($c AS DECIMAL(38,0)) - $p) * 1000000) " +
        s"div greatest($p, 1L) AS BIGINT) END")
    fert(prev, "prev").join(fert(curr, "curr"), Seq("source"))
      .join(nov(prev, "prev"), Seq("source"))
      .join(nov(curr, "curr"), Seq("source"))
      .withColumn("fert_drift_ppm",
        drift("fert_curr_micro", "fert_prev_micro"))
      .withColumn("nov_drift_ppm", drift("nov_curr_ppm", "nov_prev_ppm"))
      .select(col("source"),
        col("fert_prev_micro"), col("fert_curr_micro"), col("fert_drift_ppm"),
        col("nov_prev_ppm"), col("nov_curr_ppm"), col("nov_drift_ppm"),
        (abs(col("fert_drift_ppm")) > thresholdPpm).cast("int")
          .as("fert_flag"),
        (abs(col("nov_drift_ppm")) > thresholdPpm).cast("int").as("nov_flag"))
  }

  /** x154 gate composition over [[releasePair]]. */
  def sourceDriftDemo(docs: DataFrame, model: BpeOps.BpeModel,
                      thresholdPpm: Long = 20000L): DataFrame = {
    val (prev, curr) = releasePair(docs)
    sourceDrift(prev, curr, model, thresholdPpm)
  }

  /** DuckDB twin of [[sourceDriftDemo]] — one shared lexicon
    * segmentation over the union vocabulary, per-release word and
    * shingle aggregates, drift by sign-magnitude division. */
  def sourceDriftSql(model: BpeOps.BpeModel,
                     thresholdPpm: Long = 20000L): String = {
    val b = s"(${graft.functions.HashFunctions.hash60Sql(
      "CAST(doc_id AS VARCHAR)")} % 20)"
    val n = DedupOps.shingleWords
    val cat = (0 until n).map(j => s"ws[sd_i+$j]").mkString(" || ' ' || ")
    val shingleList = "list_distinct(list_transform(" +
      s"generate_series(1, greatest(len(ws) - ${n - 1}, 0)), " +
      s"sd_i -> $cat))"
    def drift(c: String, p: String) =
      s"""CASE WHEN $c < $p THEN
         |    -CAST(((CAST($p AS HUGEINT) - $c) * 1000000)
         |      // greatest($p, 1) AS BIGINT)
         |  ELSE CAST(((CAST($c AS HUGEINT) - $p) * 1000000)
         |      // greatest($p, 1) AS BIGINT) END""".stripMargin
    s"""WITH sd_prev AS (
       |  SELECT doc_id, source, text FROM documents WHERE $b <> 0
       |), sd_curr AS (
       |  SELECT doc_id, source,
       |    CASE WHEN $b = 2 THEN text || ' v2-edit' ELSE text END AS text
       |  FROM documents WHERE $b <> 1
       |), sd_u AS (
       |  SELECT 'p' AS rel, doc_id, source, text FROM sd_prev
       |  UNION ALL
       |  SELECT 'c' AS rel, doc_id, source, text FROM sd_curr
       |), sd_w AS (
       |  SELECT rel, source, word
       |  FROM (SELECT rel, source,
       |          unnest(${TextOps.wordsReSql("text")}) AS word
       |        FROM sd_u)
       |  WHERE length(word) > 0 AND word NOT LIKE '%' || chr(31) || '%'
       |), sd_lex AS (
       |  SELECT word,
       |    CAST((length(s) - length(replace(s, chr(31), ''))) // 2 AS BIGINT)
       |      AS n_sub
       |  FROM (SELECT word, ${BpeOps.segSql(model)} AS s
       |        FROM (SELECT DISTINCT word,
       |                regexp_replace(word, '(.)',
       |                  chr(31) || '\\1' || chr(31), 'g') AS syms
       |              FROM sd_w))
       |), sd_fert AS (
       |  SELECT rel, source,
       |    CAST((CAST(sum(x.n_sub) AS HUGEINT) * 1000000) // count(*)
       |      AS BIGINT) AS fert
       |  FROM sd_w w JOIN sd_lex x USING (word)
       |  GROUP BY rel, source
       |), sd_ws AS (
       |  SELECT rel, doc_id, source, ${TextOps.wordsReSql("text")} AS ws
       |  FROM sd_u
       |), sd_ng AS (
       |  SELECT rel, source, sum(len($shingleList)) AS ng
       |  FROM sd_ws GROUP BY rel, source
       |), sd_sh AS (
       |  SELECT rel, doc_id, unnest($shingleList) AS sh FROM sd_ws
       |), sd_first AS (
       |  SELECT rel, sh, min(doc_id) AS doc_id FROM sd_sh GROUP BY rel, sh
       |), sd_nnd AS (
       |  SELECT rel, doc_id, count(*) AS nn FROM sd_first GROUP BY rel, doc_id
       |), sd_nn AS (
       |  SELECT d.rel, u.source, sum(d.nn) AS nn
       |  FROM sd_nnd d
       |  JOIN (SELECT DISTINCT rel, doc_id, source FROM sd_u) u
       |    USING (rel, doc_id)
       |  GROUP BY d.rel, u.source
       |), sd_nov AS (
       |  SELECT g.rel, g.source,
       |    CAST((CAST(coalesce(n.nn, 0) AS HUGEINT) * 1000000)
       |      // greatest(g.ng, 1) AS BIGINT) AS nov
       |  FROM sd_ng g LEFT JOIN sd_nn n ON g.rel = n.rel
       |    AND g.source = n.source
       |), sd_f AS (
       |  SELECT p.source,
       |    p.fert AS fert_prev_micro, c.fert AS fert_curr_micro,
       |    np.nov AS nov_prev_ppm, nc.nov AS nov_curr_ppm
       |  FROM (SELECT source, fert FROM sd_fert WHERE rel = 'p') p
       |  JOIN (SELECT source, fert FROM sd_fert WHERE rel = 'c') c
       |    USING (source)
       |  JOIN (SELECT source, nov FROM sd_nov WHERE rel = 'p') np
       |    USING (source)
       |  JOIN (SELECT source, nov FROM sd_nov WHERE rel = 'c') nc
       |    USING (source)
       |)
       |SELECT source, fert_prev_micro, fert_curr_micro,
       |  ${drift("fert_curr_micro", "fert_prev_micro")} AS fert_drift_ppm,
       |  nov_prev_ppm, nov_curr_ppm,
       |  ${drift("nov_curr_ppm", "nov_prev_ppm")} AS nov_drift_ppm,
       |  CAST(CASE WHEN abs(${drift("fert_curr_micro", "fert_prev_micro")})
       |    > $thresholdPpm THEN 1 ELSE 0 END AS INTEGER) AS fert_flag,
       |  CAST(CASE WHEN abs(${drift("nov_curr_ppm", "nov_prev_ppm")})
       |    > $thresholdPpm THEN 1 ELSE 0 END AS INTEGER) AS nov_flag
       |FROM sd_f""".stripMargin
  }

  /** DuckDB twin of [[releaseDiffDemo]]. */
  def releaseDiffDemoSql: String = {
    val b = s"(${graft.functions.HashFunctions.hash60Sql(
      "CAST(doc_id AS VARCHAR)")} % 20)"
    def h(textExpr: String) = graft.functions.HashFunctions.hash60Sql(
      s"CAST(doc_id AS VARCHAR) || '|' || COALESCE($textExpr, '')")
    s"""WITH rd_prev AS (
       |  SELECT doc_id, source,
       |    CAST(len(${TextOps.wordsReSql("text")}) AS BIGINT) AS nt,
       |    ${h("text")} AS h
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND source IS NOT NULL AND $b <> 0
       |), rd_curr0 AS (
       |  SELECT doc_id, source,
       |    CASE WHEN $b = 2 THEN text || ' v2-edit' ELSE text END AS text
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND source IS NOT NULL AND $b <> 1
       |), rd_curr AS (
       |  SELECT doc_id, source,
       |    CAST(len(${TextOps.wordsReSql("text")}) AS BIGINT) AS nt,
       |    ${h("text")} AS h
       |  FROM rd_curr0
       |), rd_j AS (
       |  SELECT COALESCE(c.source, p.source) AS source,
       |    p.nt AS nt_p, c.nt AS nt_c, p.h AS h_p, c.h AS h_c
       |  FROM rd_prev p FULL OUTER JOIN rd_curr c USING (doc_id)
       |)
       |SELECT source,
       |  CAST(count(h_p) AS BIGINT) AS n_prev,
       |  CAST(count(h_c) AS BIGINT) AS n_curr,
       |  CAST(sum(CASE WHEN h_p IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_added,
       |  CAST(sum(CASE WHEN h_c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_removed,
       |  CAST(sum(CASE WHEN h_p IS NOT NULL AND h_c IS NOT NULL
       |    AND h_p <> h_c THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |  CAST(sum(COALESCE(nt_c, 0)) - sum(COALESCE(nt_p, 0)) AS BIGINT)
       |    AS tok_delta,
       |  COALESCE(bit_xor(h_p), 0) <> COALESCE(bit_xor(h_c), 0)
       |    AS digest_changed
       |FROM rd_j GROUP BY source""".stripMargin
  }
}
