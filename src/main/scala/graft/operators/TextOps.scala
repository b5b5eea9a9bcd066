package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, language ID, quality scoring, and
  * document fingerprinting over the `documents` table.
  *
  * All operators are pure narrow transformations (per-row column
  * expressions, no shuffle, fully codegen'd) — at 100 TB they run
  * map-side at scan speed, and any downstream groupBy benefits from
  * partial aggregation. Every operator has a DuckDB SQL twin (the
  * `*Sql` methods) so results are oracle-checkable; keep both sides in
  * sync when editing.
  */
object TextOps {

  /** Single-space tokens of `text` (single-space-delimited corpus shape).
    * The dedup family (shingles/minhash/simhash/normalized keys) tokenizes
    * with [[wordsRe]], which survives real multi-space/tab/newline text;
    * this splitter remains only where an operator's oracle twin contracts
    * on single-space corpora (lang-id scores, winnowing positions). */
  def words(text: Column): Column = split(trim(text), " ")

  // Whitespace run as an explicit class, NOT \s: Java's \s includes \x0B
  // (vertical tab), RE2's doesn't — the spelled-out class means both
  // engines tokenize identically. The same literal is a valid Java regex
  // (Spark side) and a valid RE2 pattern (DuckDB single-quoted literal).
  val wsRunRegex = "[ \\t\\n\\r\\f]+"

  /** Robust whitespace tokenization: splits on runs of any whitespace.
    * Equal to [[words]] on single-space text; correct on real corpora.
    * Routed through the native byte-scan expression (one array copy per
    * row, no regex matcher) — array-equal to `split(trim(text),
    * wsRunRegex)`, pinned by WsTokenParitySpec. */
  def wordsRe(text: Column): Column =
    graft.functions.TextExpressions.wsTokensFast(text)

  def wordsReSql(expr: String): String =
    s"regexp_split_to_array(trim($expr), '$wsRunRegex')"

  // BPE-ish pre-tokenizer: letter runs | digit runs | single other glyph.
  // Public-pattern analog of byte-level BPE pre-tokenization regexes.
  val tokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Token counts: whitespace tokens (robust [[wordsRe]] split) and regex
    * (BPE-ish) tokens. */
  def tokenCounts(df: DataFrame, text: Column = col("text")): DataFrame =
    df.select(col("doc_id"),
      graft.functions.TextExpressions.wsTokenCountFast(text).as("ws_tokens"),
      regexp_count(text, lit(tokenPattern)).as("re_tokens"),
      length(text).as("n_chars"))

  def tokenCountsSql: String =
    s"""SELECT doc_id, CAST(len(${wordsReSql("text")}) AS INT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$tokenPattern')) AS INT) AS re_tokens,
       |  CAST(length(text) AS INT) AS n_chars
       |FROM documents""".stripMargin

  /** Function-word profiles per language (public frequency lists),
    * alphabetical by language code — the tie-break order. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "en" -> Seq("the", "a", "and", "of", "is", "in"),
    "es" -> Seq("el", "la", "de", "y", "es", "un"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "wo3", "you3"))

  /** Per-language function-word score over a MATERIALIZED token-array
    * attribute (never over an inline `split` — see [[pickLang]]). */
  def langScoreOf(toks: Column, profile: Seq[String]): Column =
    size(filter(toks, t => t.isin(profile.map(lit(_)): _*)))

  /** Winning language over materialized score ATTRIBUTES (ties
    * alphabetical, all-zero → "und").
    *
    * Two-phase by design: language ID used to be a single Column whose
    * nested CASE re-stated every `langScore` per branch, and each score
    * embedded its own `split(trim(text))` — 38 copies of the tokenization
    * subtree in one Project (Catalyst's subexpression elimination only
    * partially covers conditional branches and never hoists into lambda
    * bodies). Mirroring `langIdSql`'s `scored` CTE — score columns once
    * behind a projection boundary, then a CASE over plain attributes —
    * keeps tokenization at ONE evaluation per row; PlanShapeSpec pins the
    * single-split plan. */
  def pickLang(scores: Seq[(String, Column)]): Column = {
    val mx = greatest(scores.map(_._2): _*)
    val pick = scores.foldRight(lit("und")) { case ((lang, s), el) =>
      when(s === mx, lit(lang)).otherwise(el)
    }
    when(mx === 0, "und").otherwise(pick)
  }

  /** The five `s_<lang>` score columns over a token-array attribute. */
  def langScoreCols(toks: Column): Seq[Column] =
    langProfiles.map { case (l, p) => langScoreOf(toks, p).as(s"s_$l") }

  /** `s_<lang>` attribute references for [[pickLang]] after
    * [[langScoreCols]] has been projected. */
  def langScoreAttrs: Seq[(String, Column)] =
    langProfiles.map { case (l, _) => l -> col(s"s_$l") }

  /** N-gram/stopword-heuristic language ID: per-language score = count of
    * tokens in that language's function-word profile; winner = highest
    * score, ties broken alphabetically; all-zero → "und".
    *
    * Three projections: token array (referenced 5×, so CollapseProject
    * keeps the boundary per SPARK-36718) → five scores (each referenced
    * 2+× by the CASE) → winner over attributes. One `split` per row. */
  def langId(df: DataFrame, text: Column = col("text")): DataFrame =
    df.select(col("doc_id"), words(text).as("__toks"))
      .select(col("doc_id") +: langScoreCols(col("__toks")): _*)
      .select(
        (Seq(col("doc_id"), pickLang(langScoreAttrs).as("detected_lang")) ++
          langProfiles.map { case (l, _) => col(s"s_$l") }): _*)

  def langIdSql: String = {
    val scores = langProfiles.map { case (lang, profile) =>
      val inList = profile.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(trim(text), ' '), w -> w IN ($inList))) AS INT) AS s_$lang"
    }.mkString(",\n    ")
    val mx = "greatest(" + langProfiles.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
    val pick = langProfiles.map { case (l, _) =>
      s"WHEN s_$l = $mx THEN '$l'"
    }.mkString(" ")
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    $scores
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CASE WHEN $mx = 0 THEN 'und' $pick ELSE 'und' END AS detected_lang,
       |  ${langProfiles.map { case (l, _) => s"s_$l" }.mkString(", ")}
       |FROM scored""".stripMargin
  }

  // English stopwords used by the quality heuristic (subset of public lists)
  val qualityStopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "is", "in")

  /** The combined [0,1] quality score as a single Column — reusable in
    * composed pipelines. All arithmetic is per-row IEEE double →
    * bit-identical across engines. */
  def qualityScoreCol(text: Column): Column = {
    val w = words(text)
    val nWords = size(w).cast("double")
    val punctRatio = regexp_count(text, lit("[^a-z0-9 ]")).cast("double") /
      length(text).cast("double")
    val stopRatio = size(filter(w,
      t => t.isin(qualityStopwords.map(lit(_)): _*))).cast("double") / nWords
    least(nWords / 100d, lit(1d)) * 0.4 +
      (lit(1d) - punctRatio) * 0.3 + least(stopRatio * 5d, lit(1d)) * 0.3
  }

  /** Quality scoring: document length, punctuation ratio, stopword ratio,
    * mean word length — combined into a [0,1] score. */
  def qualityScore(df: DataFrame, text: Column = col("text")): DataFrame = {
    val w = words(text)
    val nWords = size(w).cast("double")
    val nChars = length(text).cast("double")
    val punct = regexp_count(text, lit("[^a-z0-9 ]")).cast("double")
    val stops = size(filter(w, t => t.isin(qualityStopwords.map(lit(_)): _*))).cast("double")
    val avgWordLen = length(regexp_replace(text, " ", "")).cast("double") / nWords
    df.select(col("doc_id"), nWords.as("n_words"), avgWordLen.as("avg_word_len"),
      (punct / nChars).as("punct_ratio"), (stops / nWords).as("stopword_ratio"),
      qualityScoreCol(text).as("quality_score"))
  }

  /** x148: per-document quality PERCENTILE within its source — the
    * feature-assignment complement of x129's per-group quantile report:
    * x129 reads a handful of quantile values per group, this stamps
    * every ROW with its exact percent_rank, the normalized quality
    * feature a cross-source curation policy thresholds on ("keep the
    * top 40% of every feed" — raw scores are not comparable across
    * feeds with different length/punctuation profiles, ranks are).
    *
    * Scale shape (the x129 count-compression discipline): percent_rank
    * under ties depends only on how many docs of the source sit at each
    * score, and the micro-snapped score lives on a ≤10^6-value GRID —
    * so the corpus compresses in one scan to a per-(source, q_micro)
    * count relation bounded by |sources|·grid, NEVER corpus-sized; all
    * windows run over that aggregate, and rows get their rank by
    * joining the aggregate back on (source, q_micro). No window
    * anywhere partitions a corpus-sized relation on `source` alone.
    * Exact integers: rank = strictly-below count, pctl_ppm =
    * below·10^6 div (n−1) — the percent_rank definition, ties sharing
    * one value on both engines. */
  def qualityPercentile(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = df.select(col("doc_id"), col("source"),
      floor(qualityScoreCol(col("text")) * lit(1000000.0) + lit(0.5))
        .cast("long").as("q_micro"))
    val perQ = t.groupBy("source", "q_micro").agg(count(lit(1)).as("c"))
    val cum = perQ
      .withColumn("cc", sum(col("c")).over(Window.partitionBy("source")
        .orderBy("q_micro")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
    t.join(cum, Seq("source", "q_micro"))
      .select(col("doc_id"), col("source"), col("q_micro"),
        expr("((cc - c) * 1000000L) div greatest(n - 1L, 1L)")
          .as("pctl_ppm"))
  }

  /** x149: code-switching / language-mix profile — per document, the
    * x2 language ID re-voted over fixed token WINDOWS: window count,
    * distinct window languages, majority language + its share, and the
    * number of adjacent-window language SWITCHES. A doc-level ID (x2)
    * averages a mixed document into one label; mixed documents hurt
    * monolingual training and leak across per-language mixtures
    * (x103/x133 allocate by `lang` — this is the read that says how
    * dirty that column is). `n_switches` separates interleaved
    * code-switching from a simple bilingual concatenation at equal
    * language shares.
    *
    * One corpus pass: token array materialized once (SPARK-36718
    * boundary: the window slice references it per window, the five
    * scores reference the slice, the pick references the scores), the
    * window explode is `⌈tokens/W⌉` rows per doc, the lag window
    * partitions on `doc_id` (high-cardinality, per-task input = one
    * doc's windows), and the language axis PIVOTS into six fixed
    * conditional sums in ONE aggregate — no second pass for the
    * majority, no (doc, lang) relation, no join. Ties break
    * alphabetically across all six categories (`und` between `fr` and
    * `zh`), matching the oracle's CASE order. */
  def langMixProfile(df: DataFrame, windowTokens: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowTokens >= 4 && windowTokens <= 4096, s"W=$windowTokens")
    val W = windowTokens
    val cats = (langProfiles.map(_._1) :+ "und").sorted
    val win = df
      .select(col("doc_id"), words(col("text")).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        greatest(ceil(size(col("__toks")).cast("double") / W).cast("long"),
          lit(1L)).as("nw"))
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("nw") - 1L)).as("w"), col("__toks"))
      .select(col("doc_id"), col("w"),
        slice(col("__toks"), (col("w") * W + 1L).cast("int"), lit(W))
          .as("__wt"))
      .select(Seq(col("doc_id"), col("w")) ++ langScoreCols(col("__wt")): _*)
      .select(col("doc_id"), col("w"), pickLang(langScoreAttrs).as("wl"))
    val seq = win.withColumn("__prev",
      lag(col("wl"), 1).over(Window.partitionBy("doc_id").orderBy("w")))
    val aggCols = count(lit(1)).as("n_windows") +:
      sum(when(col("__prev").isNotNull && col("__prev") =!= col("wl"), 1L)
        .otherwise(0L)).as("n_switches") +:
      cats.map(l =>
        sum(when(col("wl") === l, 1L).otherwise(0L)).as(s"c_$l"))
    val agged = seq.groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
    val mx = greatest(cats.map(l => col(s"c_$l")): _*)
    val majority = cats.foldRight(lit("und")) { case (l, el) =>
      when(col(s"c_$l") === mx, lit(l)).otherwise(el)
    }
    agged.select(col("doc_id"), col("n_windows"),
      cats.map(l => when(col(s"c_$l") > 0L, 1L).otherwise(0L))
        .reduce(_ + _).as("n_langs"),
      majority.as("majority_lang"),
      expr(s"(greatest(${cats.map(l => s"c_$l").mkString(", ")}) * 1000000L)" +
        " div n_windows").as("majority_ppm"),
      col("n_switches"))
  }

  /** DuckDB twin of [[langMixProfile]] — list-level throughout (no
    * unnest; lambda variables prefixed per the capture rule). */
  def langMixProfileSql(windowTokens: Int = 32): String = {
    val W = windowTokens
    val cats = (langProfiles.map(_._1) :+ "und").sorted
    def scoreOf(sl: String, profile: Seq[String]): String = {
      val inList = profile.map(w => s"'$w'").mkString(", ")
      s"len(list_filter($sl, qt -> qt IN ($inList)))"
    }
    val sl = s"list_slice(ws, (qw - 1) * $W + 1, qw * $W)"
    val mxWin = "greatest(" +
      langProfiles.map { case (_, p) => scoreOf(sl, p) }.mkString(", ") + ")"
    val pickWin = "CASE WHEN " + mxWin + " = 0 THEN 'und' " +
      langProfiles.map { case (l, p) =>
        s"WHEN ${scoreOf(sl, p)} = $mxWin THEN '$l'"
      }.mkString(" ") + " ELSE 'und' END"
    val cCols = cats.map(l =>
      s"len(list_filter(wins, qx -> qx = '$l')) AS c_$l").mkString(",\n    ")
    val mx = "greatest(" + cats.map(l => s"c_$l").mkString(", ") + ")"
    val pickMaj = "CASE " + cats.map(l =>
      s"WHEN c_$l = $mx THEN '$l'").mkString(" ") + " ELSE 'und' END"
    s"""WITH lm_w AS (
       |  SELECT doc_id, ${wordsReSql("text")} AS ws FROM documents
       |), lm_v AS (
       |  SELECT doc_id,
       |    list_transform(
       |      generate_series(1, greatest((len(ws) + ${W - 1}) // $W, 1)),
       |      qw -> $pickWin) AS wins
       |  FROM lm_w
       |), lm_c AS (
       |  SELECT doc_id, len(wins) AS n_windows,
       |    len(list_filter(generate_series(2, len(wins)),
       |      qi -> wins[qi] != wins[qi - 1])) AS n_switches,
       |    $cCols
       |  FROM lm_v
       |)
       |SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows,
       |  CAST(${cats.map(l => s"CASE WHEN c_$l > 0 THEN 1 ELSE 0 END")
            .mkString(" + ")} AS BIGINT) AS n_langs,
       |  $pickMaj AS majority_lang,
       |  CAST(($mx * 1000000) // n_windows AS BIGINT) AS majority_ppm,
       |  CAST(n_switches AS BIGINT) AS n_switches
       |FROM lm_c""".stripMargin
  }

  /** x153: cross-source quantile NORMALIZATION — map every document's
    * within-source percentile onto the GLOBAL score scale: the
    * normalized score is the largest global score whose global
    * percentile does not exceed the doc's source percentile (classic
    * quantile mapping / quantile-normalization). x148 makes ranks
    * comparable; this makes the SCORES comparable — a threshold tuned
    * on the global distribution then applies uniformly to every feed,
    * however shifted a feed's raw scoring profile is (a feed whose raw
    * scores sit uniformly low maps its best docs onto the global top,
    * instead of losing them to a raw-score cut).
    *
    * Scale shape: both grids come from ONE per-(source, q_micro) count
    * aggregate (the global grid is its q-level rollup — no second
    * derivation of the corpus), and docs get their mapping by joining
    * the grid back on (source, q_micro) — the x148 discipline end to
    * end. The two GLOBAL running computations (the global grid's
    * cumulative count and the union carry-forward as-of) never sort
    * their relation in one task: both run through [[TwoPhase.prefixed]]
    * with a deterministic equi-width bucket over their exactly-known
    * domains (q_micro and pctl both live on [0, 10^6] ppm), so each
    * task sorts one bucket of the grid union — never the whole
    * |sources|·grid relation (the round-10 VERDICT's scale-killer in
    * the first cut of this operator). The carry-forward rewrites as a
    * running MAX: global `gq` is order-aligned with `pctl`, so "last
    * non-null gq at pctl ≤ mine, global rows first on ties" equals the
    * exclusive running max of `tag=0 ? gq : null` under the same
    * (pctl, tag, gq) order — TwoPhase's `maxes` measure verbatim.
    * Percentile ties between global grid rows collapse to the same ppm
    * only under flooring; ordering ties by (tag, gq) makes the carried
    * value the MAX such q on both engines. */
  def quantileNormalize(df: DataFrame, buckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = df.select(col("doc_id"), col("source"),
      floor(qualityScoreCol(col("text")) * lit(1000000.0) + lit(0.5))
        .cast("long").as("q_micro"))
    // the grid aggregate feeds FIVE consumers (sGrid, g0, and two
    // TwoPhase double-evaluations of the union) — pin it once or every
    // branch re-scans the corpus and re-evaluates the quality score; it
    // is |sources|·grid-bounded by construction, so the pin is cheap
    val perQ = graft.core.Memo.pinned(
      t.groupBy("source", "q_micro").agg(count(lit(1)).as("c")))
    val sGrid = perQ
      .withColumn("cc", sum(col("c")).over(Window.partitionBy("source")
        .orderBy("q_micro")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
      .select(col("source"), col("q_micro"),
        expr("((cc - c) * 1000000L) div greatest(n - 1L, 1L)").as("pctl"))
    val g0 = perQ.groupBy("q_micro").agg(sum(col("c")).as("gc"))
    val gGrid = TwoPhase.prefixed(g0,
        partCols = Seq.empty,
        bucketCol = TwoPhase.equiWidthBucketSql("q_micro", "0L", "1000000L",
          buckets),
        orderCols = Seq(col("q_micro")),
        sums = Seq("gc" -> col("gc")))
      .select(col("q_micro").as("gq"),
        expr("((gc_pre - gc) * 1000000L) div greatest(gc_tot - 1L, 1L)")
          .as("pctl"))
    val u = gGrid
      .select(lit(0).as("tag"), col("pctl"), col("gq"),
        lit(null).cast("string").as("source"),
        lit(null).cast("long").as("q_micro"))
      .unionByName(sGrid.select(lit(1).as("tag"), col("pctl"),
        lit(null).cast("long").as("gq"), col("source"), col("q_micro")))
    val mapped = TwoPhase.prefixed(u,
        partCols = Seq.empty,
        bucketCol = TwoPhase.equiWidthBucketSql("pctl", "0L", "1000000L",
          buckets),
        orderCols = Seq(col("pctl"), col("tag"), col("gq")),
        maxes = Seq("norm" -> when(col("tag") === 0, col("gq"))))
      .filter(col("tag") === 1)
      .select(col("source"), col("q_micro"),
        col("norm_prior").as("norm_q_micro"))
    t.join(mapped, Seq("source", "q_micro"))
      .select(col("doc_id"), col("source"), col("q_micro"),
        col("norm_q_micro"))
  }

  /** DuckDB twin of [[quantileNormalize]]. */
  def quantileNormalizeSql: String =
    s"""WITH qn_t AS (
       |  SELECT doc_id, source,
       |    CAST(floor((${qualityScoreColSql("text")}) * 1000000 + 0.5)
       |      AS BIGINT) AS q_micro
       |  FROM documents
       |), qn_c AS (
       |  SELECT source, q_micro, count(*) AS c FROM qn_t
       |  GROUP BY source, q_micro
       |), qn_s AS (
       |  SELECT source, q_micro,
       |    ((sum(c) OVER (PARTITION BY source ORDER BY q_micro
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
       |      * 1000000)
       |      // greatest(sum(c) OVER (PARTITION BY source) - 1, 1) AS pctl
       |  FROM qn_c
       |), qn_g0 AS (
       |  SELECT q_micro, sum(c) AS gc FROM qn_c GROUP BY q_micro
       |), qn_g AS (
       |  SELECT q_micro AS gq,
       |    ((sum(gc) OVER (ORDER BY q_micro
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - gc)
       |      * 1000000)
       |      // greatest(sum(gc) OVER () - 1, 1) AS pctl
       |  FROM qn_g0
       |), qn_u AS (
       |  SELECT 0 AS tag, pctl, gq,
       |    CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS q_micro
       |  FROM qn_g
       |  UNION ALL
       |  SELECT 1, pctl, CAST(NULL AS BIGINT), source, q_micro FROM qn_s
       |), qn_m AS (
       |  SELECT source, q_micro, tag,
       |    last_value(gq IGNORE NULLS) OVER (ORDER BY pctl, tag, gq
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS norm_q_micro
       |  FROM qn_u
       |)
       |SELECT t.doc_id, t.source, t.q_micro,
       |  CAST(m.norm_q_micro AS BIGINT) AS norm_q_micro
       |FROM qn_t t
       |JOIN (SELECT source, q_micro, norm_q_micro FROM qn_m WHERE tag = 1) m
       |  USING (source, q_micro)""".stripMargin

  /** DuckDB twin of [[qualityPercentile]]. */
  def qualityPercentileSql: String =
    s"""WITH qp_t AS (
       |  SELECT doc_id, source,
       |    CAST(floor((${qualityScoreColSql("text")}) * 1000000 + 0.5)
       |      AS BIGINT) AS q_micro
       |  FROM documents
       |), qp_c AS (
       |  SELECT source, q_micro, count(*) AS c FROM qp_t
       |  GROUP BY source, q_micro
       |), qp_w AS (
       |  SELECT source, q_micro, c,
       |    sum(c) OVER (PARTITION BY source ORDER BY q_micro
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
       |    sum(c) OVER (PARTITION BY source) AS n
       |  FROM qp_c
       |)
       |SELECT t.doc_id, t.source, t.q_micro,
       |  CAST(((w.cc - w.c) * 1000000) // greatest(w.n - 1, 1) AS BIGINT)
       |    AS pctl_ppm
       |FROM qp_t t JOIN qp_w w USING (source, q_micro)""".stripMargin

  /** DuckDB twin of [[qualityScoreCol]] as an inline expression over a
    * text column — keep in sync with the Column form. */
  def qualityScoreColSql(t: String): String = {
    val stopList = qualityStopwords.map(w => s"'$w'").mkString(", ")
    s"""least(len(string_split(trim($t), ' ')) / 100.0, 1.0) * 0.4
       |    + (1.0 - CAST(len(regexp_extract_all($t, '[^a-z0-9 ]')) AS DOUBLE) / length($t)) * 0.3
       |    + least(CAST(len(list_filter(string_split(trim($t), ' '), w -> w IN ($stopList))) AS DOUBLE)
       |            / len(string_split(trim($t), ' ')) * 5.0, 1.0) * 0.3""".stripMargin
  }

  def qualityScoreSql: String = {
    val stopList = qualityStopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS n_words,
       |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |    / len(string_split(trim(text), ' ')) AS avg_word_len,
       |  CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
       |    / length(text) AS punct_ratio,
       |  CAST(len(list_filter(string_split(trim(text), ' '), w -> w IN ($stopList))) AS DOUBLE)
       |    / len(string_split(trim(text), ' ')) AS stopword_ratio,
       |  ${qualityScoreColSql("text")} AS quality_score
       |FROM documents""".stripMargin
  }

  /** Corpus-trained unigram LM negative-log-likelihood (the CCNet-style
    * quality signal): p(t) = (count(t)+1) / (T+V) with add-one
    * smoothing, score = mean over the doc's tokens of -ln p(t) — rare-
    * word documents score high, boilerplate scores low.
    *
    * Determinism: per-token costs are pre-snapped to integer micro-nats
    * (`floor(ln·1e6 + 0.5)`, the cross-engine-safe rounding) so the
    * per-doc SUM is order-independent exact BIGINT arithmetic — a double
    * sum would depend on partition order (the j16 micro-unit trick). Both
    * engines evaluate ln over the same small set of integer (cnt, T, V)
    * triples, one value per distinct count, so a last-ulp ln disagreement
    * matters only within ~1e-10 of a micro-grid boundary.
    *
    * Scale shape: the corpus is tokenized ONCE — a `(doc_id, token)`
    * occurrence matrix (map-side combine over the explode) whose shuffle
    * both consumers share via ReuseExchange; corpus totals are a
    * tree-reduced 1-row aggregate broadcast back onto the vocab (never
    * an empty-partitionBy window, which would funnel the whole vocab —
    * billions of rows once noise tokens track the corpus — into one
    * task), and the cost table broadcasts back onto the matrix. No
    * all-pairs, no driver collect. On an open-vocab 100 TB corpus drop
    * the broadcast hint (or min-df prune first) and the cost join
    * becomes a plain token-keyed shuffle join. */
  def lmScore(df: DataFrame): DataFrame = {
    // explicit doc_id non-null filter: a composition that later joins
    // the scores on doc_id (x71) infers IsNotNull(doc_id) and pushes it
    // through the aggregate into the SCORING branch only, splitting the
    // occurrence matrix into two un-reusable subtrees (the x70 source
    // trap, doc_id flavored). Present at the base, the constraint is
    // already satisfied and both consumers stay canonically identical.
    val docTok = df.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(wordsRe(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("occ"))
    val counts = docTok.groupBy("token").agg(sum("occ").as("cnt"))
    // T and V as a tree-reduced 1-row broadcast (the x49 convention) —
    // an empty-partitionBy window here would funnel the whole vocab
    // relation into a single task once noise tokens grow it with the
    // corpus; the crossJoin branch re-reads counts' exchange, which
    // stays canonical (no join-key, so no IsNotNull is inferred)
    val tv = counts.agg(sum("cnt").as("t_sum"), count(lit(1)).as("v_cnt"))
    val costs = counts.crossJoin(broadcast(tv))
      .select(col("token"), col("cnt"),
        floor(log((col("t_sum") + col("v_cnt")).cast("double") /
          (col("cnt") + lit(1L)).cast("double")) * lit(1e6) + lit(0.5))
          .as("cost_micro"))
    docTok.join(broadcast(costs.drop("cnt")), "token")
      .groupBy("doc_id")
      .agg(sum("occ").as("n_tokens"),
        sum(col("occ") * col("cost_micro")).as("nll_micro"))
      .select(col("doc_id"), col("n_tokens"), col("nll_micro"),
        (col("nll_micro").cast("double") / col("n_tokens").cast("double")
          / lit(1e6)).as("avg_nll"))
  }

  /** Offline-trained unigram model for the streaming twin: the (token →
    * micro-nat cost) table plus the out-of-vocabulary cost — an unseen
    * token has cnt = 0 under the same add-one smoothing, i.e.
    * floor(ln(T+V)·1e6 + 0.5). The 1-row stats collect is a driver-side
    * action at train time, not per-batch work. */
  def lmModel(df: DataFrame): (DataFrame, Long) = {
    val counts = df.select(explode(wordsRe(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val tvAgg = counts.filter(col("cnt") >= 1L)
      .agg(sum("cnt").as("t_sum"), count(lit(1)).as("v_cnt"))
    val costs = counts.crossJoin(broadcast(tvAgg))
      .select(col("token"),
        floor(log((col("t_sum") + col("v_cnt")).cast("double") /
          (col("cnt") + lit(1L)).cast("double")) * lit(1e6) + lit(0.5))
          .as("cost_micro"))
    val tv = tvAgg.select((col("t_sum") + col("v_cnt")).cast("double").as("tv"))
      .head.getDouble(0)
    (costs, math.floor(math.log(tv) * 1e6 + 0.5).toLong)
  }

  /** DuckDB twin of [[lmScore]] — the same two-pass shape as CTEs. */
  def lmScoreSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${wordsReSql("text")}) AS token FROM documents
       |),
       |counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
       |stats AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS t_tokens, count(*) AS v_vocab
       |  FROM counts
       |),
       |costs AS (
       |  SELECT token,
       |    CAST(floor(ln(CAST(t_tokens + v_vocab AS DOUBLE)
       |        / CAST(cnt + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS cost_micro
       |  FROM counts CROSS JOIN stats
       |)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(c.cost_micro) AS BIGINT) AS nll_micro,
       |  CAST(sum(c.cost_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
       |    AS avg_nll
       |FROM tok t JOIN costs c USING (token)
       |GROUP BY t.doc_id""".stripMargin

  /** Second-order (bigram) LM score — the KenLM-style step past
    * [[lmScore]]: p(wᵢ | wᵢ₋₁) = (c₂(wᵢ₋₁ wᵢ)+1) / (c₁(wᵢ₋₁)+V) with
    * add-one smoothing, where c₁ is the token's count as a bigram
    * CONTEXT (sum of its outgoing bigram counts) and V is the number of
    * distinct contexts — both derivable from the bigram relation alone,
    * so the corpus is scanned once. Documents with fewer than two
    * tokens have no bigrams and drop out (both engines agree).
    *
    * Same determinism contract as [[lmScore]]: costs snapped to integer
    * micro-nats, per-doc sums exact BIGINT. Same scale shape: one
    * (doc_id, bigram) occurrence matrix feeds counts and scoring via
    * exchange reuse; context totals and the V scalar are vocab-sized
    * aggregations; the cost table broadcasts back (shuffle-join it on
    * an open-vocab corpus). The bigram column is `prefix ' ' suffix` —
    * safe because [[wordsRe]] tokens cannot contain whitespace. */
  def bigramLmScore(df: DataFrame): DataFrame = {
    // same explicit doc_id filter as [[lmScore]] — keeps future doc_id
    // joins over the scores from splitting the matrix subtrees
    val docBi = df.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(
        graft.functions.TextExpressions.wsBigramsFast(col("text"))).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("occ"))
    val biCounts = docBi.groupBy("bigram").agg(sum("occ").as("c2"))
    val ctx = biCounts
      .groupBy(substring_index(col("bigram"), " ", 1).as("w"))
      .agg(sum("c2").as("c1"))
    // V via 1-row aggregate + broadcast, not an empty-partitionBy
    // window over the context vocabulary (the x49 convention). The
    // c1 >= 1 tautology blocks RemoveRedundantAggregates from
    // collapsing the keys-only count into a fresh corpus-wide distinct
    // (the x75 clt-filter pattern) — without it the ctx exchange stops
    // matching its other consumer and the corpus tokenizes twice
    val ctxV = ctx.crossJoin(broadcast(
      ctx.filter(col("c1") >= 1L).agg(count(lit(1)).as("v"))))
    val costs = biCounts
      .join(broadcast(ctxV), substring_index(col("bigram"), " ", 1) === col("w"))
      .select(col("bigram"),
        floor(log((col("c1") + col("v")).cast("double") /
          (col("c2") + lit(1L)).cast("double")) * lit(1e6) + lit(0.5))
          .as("cost_micro"))
    docBi.join(broadcast(costs), "bigram")
      .groupBy("doc_id")
      .agg(sum("occ").as("n_bigrams"),
        sum(col("occ") * col("cost_micro")).as("nll_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_micro"),
        (col("nll_micro").cast("double") / col("n_bigrams").cast("double")
          / lit(1e6)).as("avg_nll"))
  }

  /** DuckDB twin of [[bigramLmScore]]. */
  def bigramLmScoreSql: String =
    s"""WITH btok AS (
       |  SELECT doc_id, ${wordsReSql("text")} AS toks FROM documents
       |),
       |bi AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(toks)),
       |                          bg_i -> toks[bg_i] || ' ' || toks[bg_i + 1]))
       |      AS bigram
       |  FROM btok
       |),
       |docbi AS (
       |  SELECT doc_id, bigram, count(*) AS occ FROM bi GROUP BY doc_id, bigram
       |),
       |bic AS (
       |  SELECT bigram, CAST(sum(occ) AS BIGINT) AS c2 FROM docbi GROUP BY bigram
       |),
       |bctx AS (
       |  SELECT split_part(bigram, ' ', 1) AS w, CAST(sum(c2) AS BIGINT) AS c1
       |  FROM bic GROUP BY 1
       |),
       |bv AS (SELECT count(*) AS v FROM bctx),
       |bcosts AS (
       |  SELECT b.bigram,
       |    CAST(floor(ln(CAST(c.c1 + bv.v AS DOUBLE)
       |        / CAST(b.c2 + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS cost_micro
       |  FROM bic b
       |  JOIN bctx c ON split_part(b.bigram, ' ', 1) = c.w
       |  CROSS JOIN bv
       |)
       |SELECT d.doc_id, CAST(sum(d.occ) AS BIGINT) AS n_bigrams,
       |  CAST(sum(d.occ * c.cost_micro) AS BIGINT) AS nll_micro,
       |  CAST(sum(d.occ * c.cost_micro) AS DOUBLE) / CAST(sum(d.occ) AS DOUBLE)
       |    / 1e6 AS avg_nll
       |FROM docbi d JOIN bcosts c USING (bigram)
       |GROUP BY d.doc_id""".stripMargin

  /** Stupid-backoff bigram scoring (Brants et al. 2007, "Large Language
    * Models in Machine Translation") over a HELD-OUT split: the model —
    * bigram costs, unigram costs, OOV cost — trains on `trainPred` docs
    * only, and every document is scored against it, so unseen bigrams
    * genuinely occur (self-scoring, as in [[bigramLmScore]], can never
    * back off). A bigram present in the model costs its smoothed
    * conditional; an absent one costs the backoff penalty −ln α plus the
    * unigram cost of its continuation token (OOV-priced when the token
    * itself is new). All costs snap to micro-nats; per-doc sums are
    * exact BIGINT — the [[lmScore]] determinism contract.
    *
    * Scale: train-side aggregations are token/bigram-vocab sized; both
    * cost tables broadcast back onto the scoring stream (shuffle-join on
    * open-vocab corpora); the backoff decision is a left join + CASE,
    * never a second pass. The train split deliberately RE-SCANS the
    * corpus (a map-side tokenize of the 90%) rather than deriving train
    * counts from the all-docs occurrence matrix: that derivation would
    * either shuffle the matrix by doc_id or broadcast a corpus-sized id
    * set — both strictly worse than one more CPU-bound scan at 100 TB. */
  def backoffLmScore(df: DataFrame, trainPred: Column,
                     alpha: Double = 0.4): DataFrame = {
    val train = df.filter(trainPred)
    // unigram model (train split): costs + the cnt=0 OOV cost; T and V
    // via 1-row aggregate + broadcast (x49 convention), never an
    // empty-partitionBy window over the vocabulary
    val uniCounts = train
      .select(explode(wordsRe(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val uniTv = uniCounts.filter(col("cnt") >= 1L)
      .agg(sum("cnt").as("t_sum"), count(lit(1)).as("v_cnt"))
    val uniCosts = uniCounts.crossJoin(broadcast(uniTv))
      .select(col("token"),
        floor(log((col("t_sum") + col("v_cnt")).cast("double") /
          (col("cnt") + lit(1L)).cast("double")) * lit(1e6) + lit(0.5))
          .as("uni_micro"))
    // the OOV cost rides a 1-row broadcast relation: it must survive a
    // FAILED continuation join (where every right-side column is null)
    val uniStats = uniCounts.agg(
      floor(log((sum("cnt") + count(lit(1))).cast("double")) * lit(1e6)
        + lit(0.5)).as("oov_micro"))
    // bigram model (train split)
    val biOf = (d: DataFrame) => d
      .select(col("doc_id"), explode(
        graft.functions.TextExpressions.wsBigramsFast(col("text"))).as("bigram"))
    val biCounts = biOf(train).groupBy("bigram").agg(count(lit(1)).as("c2"))
    val ctx = biCounts
      .groupBy(substring_index(col("bigram"), " ", 1).as("w"))
      .agg(sum("c2").as("c1"))
    val ctxV = ctx.crossJoin(broadcast(
      ctx.filter(col("c1") >= 1L).agg(count(lit(1)).as("v"))))
    val biCosts = biCounts
      .join(broadcast(ctxV), substring_index(col("bigram"), " ", 1) === col("w"))
      .select(col("bigram"),
        floor(log((col("c1") + col("v")).cast("double") /
          (col("c2") + lit(1L)).cast("double")) * lit(1e6) + lit(0.5))
          .as("bi_micro"))
    val penaltyMicro = math.floor(-math.log(alpha) * 1e6 + 0.5).toLong
    // score EVERY doc: model bigram cost, else penalty + continuation cost
    biOf(df).groupBy("doc_id", "bigram").agg(count(lit(1)).as("occ"))
      .join(broadcast(biCosts), Seq("bigram"), "left_outer")
      .join(broadcast(uniCosts.withColumnRenamed("token", "cont")),
        substring_index(col("bigram"), " ", -1) === col("cont"), "left_outer")
      .crossJoin(broadcast(uniStats))
      .select(col("doc_id"), col("occ"),
        coalesce(col("bi_micro"),
          lit(penaltyMicro) + coalesce(col("uni_micro"), col("oov_micro")))
          .as("cost_micro"))
      .groupBy("doc_id")
      .agg(sum("occ").as("n_bigrams"),
        sum(col("occ") * col("cost_micro")).as("nll_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_micro"),
        (col("nll_micro").cast("double") / col("n_bigrams").cast("double")
          / lit(1e6)).as("avg_nll"))
  }

  /** DuckDB twin of [[backoffLmScore]]; `trainPredSql` must mirror the
    * Column predicate. The backoff penalty is computed ONCE here (same
    * JVM floor/log as the Spark literal) and inlined as a number. */
  def backoffLmScoreSql(trainPredSql: String, alpha: Double = 0.4): String = {
    val penaltyMicro = math.floor(-math.log(alpha) * 1e6 + 0.5).toLong
    s"""WITH sb_train AS (
       |  SELECT doc_id, text FROM documents WHERE $trainPredSql
       |),
       |sb_unic AS (
       |  SELECT token, count(*) AS cnt
       |  FROM (SELECT unnest(${wordsReSql("text")}) AS token FROM sb_train)
       |  GROUP BY token
       |),
       |sb_ustat AS (
       |  SELECT CAST(sum(cnt) + count(*) AS BIGINT) AS tv,
       |    CAST(floor(ln(CAST(sum(cnt) + count(*) AS DOUBLE)) * 1e6 + 0.5)
       |      AS BIGINT) AS oov_micro
       |  FROM sb_unic
       |),
       |sb_ucost AS (
       |  SELECT token,
       |    CAST(floor(ln(CAST(s.tv AS DOUBLE) / CAST(cnt + 1 AS DOUBLE))
       |        * 1e6 + 0.5) AS BIGINT) AS uni_micro
       |  FROM sb_unic CROSS JOIN sb_ustat s
       |),
       |sb_bic AS (
       |  SELECT bigram, count(*) AS c2
       |  FROM (SELECT unnest(list_transform(range(1, len(toks)),
       |                 sb_i -> toks[sb_i] || ' ' || toks[sb_i + 1])) AS bigram
       |        FROM (SELECT ${wordsReSql("text")} AS toks FROM sb_train))
       |  GROUP BY bigram
       |),
       |sb_ctx AS (
       |  SELECT split_part(bigram, ' ', 1) AS w, CAST(sum(c2) AS BIGINT) AS c1
       |  FROM sb_bic GROUP BY 1
       |),
       |sb_v AS (SELECT count(*) AS v FROM sb_ctx),
       |sb_bcost AS (
       |  SELECT b.bigram,
       |    CAST(floor(ln(CAST(c.c1 + sb_v.v AS DOUBLE)
       |        / CAST(b.c2 + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS bi_micro
       |  FROM sb_bic b
       |  JOIN sb_ctx c ON split_part(b.bigram, ' ', 1) = c.w
       |  CROSS JOIN sb_v
       |),
       |sb_all AS (
       |  SELECT doc_id, bigram, count(*) AS occ
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(range(1, len(toks)),
       |            sb_j -> toks[sb_j] || ' ' || toks[sb_j + 1])) AS bigram
       |        FROM (SELECT doc_id, ${wordsReSql("text")} AS toks
       |              FROM documents))
       |  GROUP BY doc_id, bigram
       |)
       |SELECT a.doc_id, CAST(sum(a.occ) AS BIGINT) AS n_bigrams,
       |  CAST(sum(a.occ * coalesce(bc.bi_micro,
       |    $penaltyMicro + coalesce(uc.uni_micro, us.oov_micro)))
       |    AS BIGINT) AS nll_micro,
       |  CAST(sum(a.occ * coalesce(bc.bi_micro,
       |    $penaltyMicro + coalesce(uc.uni_micro, us.oov_micro)))
       |    AS DOUBLE) / CAST(sum(a.occ) AS DOUBLE) / 1e6 AS avg_nll
       |FROM sb_all a
       |LEFT JOIN sb_bcost bc USING (bigram)
       |LEFT JOIN sb_ucost uc ON split_part(a.bigram, ' ', 2) = uc.token
       |CROSS JOIN sb_ustat us
       |GROUP BY a.doc_id""".stripMargin
  }

  /** Per-source KL divergence from the corpus token distribution — the
    * mixture-drift diagnostic a multi-source training pipeline watches:
    * KL(Pₛ ‖ P) = Σₜ pₛ(t) · ln(pₛ(t)/p(t)) over the source's observed
    * tokens (absent tokens contribute 0·ln 0 = 0; p(t) > 0 for every
    * token any source observed, so no smoothing is needed). A source
    * sampled from the corpus mix scores near 0; a drifted domain scores
    * high.
    *
    * Determinism: each distinct (cₛ, c) pair's log-ratio is snapped to
    * micro-nats, the per-source accumulation is Σ cₛ·ln((cₛ·T)/(Tₛ·c))
    * in exact BIGINT (= KL·Tₛ·1e6), and the final normalization is one
    * fixed-order double division chain — the [[lmScore]] contract. The
    * log-ratio itself is computed on doubles (identical op order in
    * both engines) because the integer cross-product overflows at real
    * corpus counts. Envelope: the BIGINT accumulator holds while
    * Tₛ·KL < 9.2e12 nat·tokens per source (≈ a 4-trillion-token single
    * source at KL 2); past that, shard the source or snap milli-nats —
    * ANSI overflow throws loudly rather than corrupting.
    *
    * Scale: one (source, token) aggregation over the token stream (the
    * corpus totals derive from IT, exchange-reused — the corpus is
    * tokenized once); per-source totals and the global total are
    * source-cardinality and 1-row broadcasts. */
  def sourceKl(df: DataFrame): DataFrame = {
    // the explicit non-null filter keeps all three consumers' subtrees
    // canonically IDENTICAL: the source-keyed joins infer
    // IsNotNull(source) into their probe branches only, which would
    // otherwise split the occurrence matrix into two un-reusable plans
    // (the vocab branch never touches source). Inner-join semantics
    // drop null sources in the DuckDB twin too.
    val srcTok = df.filter(col("source").isNotNull)
      .select(col("source"), explode(wordsRe(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("cs"))
    val vocabBase = srcTok.groupBy("token").agg(sum("cs").as("c"))
    // T as a 1-row aggregate broadcast (x49 convention) — not an
    // empty-partitionBy window funneling the vocab into one task
    val vocab = vocabBase
      .crossJoin(broadcast(vocabBase.agg(sum("c").as("t_all"))))
    val srcTotals = srcTok.groupBy("source").agg(sum("cs").as("ts"))
    srcTok
      .join(broadcast(vocab), "token")
      .join(broadcast(srcTotals), "source")
      .select(col("source"), col("cs"), col("ts"),
        // ratio in DOUBLE space: the BIGINT product cs·t_all overflows
        // (ANSI-throws) once counts reach real-corpus scale (t_all ~2e13
        // × common-token cs ~5e11); double products cannot overflow and
        // both engines run the identical op order, so parity holds
        (col("cs") * floor(log(
          (col("cs").cast("double") * col("t_all").cast("double")) /
            (col("ts").cast("double") * col("c").cast("double")))
          * lit(1e6) + lit(0.5))).as("term_micro"))
      .groupBy("source")
      .agg(max("ts").as("n_tokens"), sum("term_micro").as("kl_micro"))
      .select(col("source"), col("n_tokens"), col("kl_micro"),
        (col("kl_micro").cast("double") / col("n_tokens").cast("double")
          / lit(1e6)).as("kl_nats"))
  }

  /** DuckDB twin of [[sourceKl]]. */
  def sourceKlSql: String =
    s"""WITH kl_st AS (
       |  SELECT source, token, count(*) AS cs
       |  FROM (SELECT source, unnest(${wordsReSql("text")}) AS token
       |        FROM documents)
       |  GROUP BY source, token
       |),
       |kl_vocab AS (
       |  SELECT token, CAST(sum(cs) AS BIGINT) AS c FROM kl_st GROUP BY token
       |),
       |kl_tall AS (SELECT CAST(sum(c) AS BIGINT) AS t_all FROM kl_vocab),
       |kl_ts AS (
       |  SELECT source, CAST(sum(cs) AS BIGINT) AS ts FROM kl_st GROUP BY source
       |)
       |SELECT s.source, max(t.ts) AS n_tokens,
       |  CAST(sum(s.cs * floor(ln((CAST(s.cs AS DOUBLE) * CAST(a.t_all AS DOUBLE))
       |      / (CAST(t.ts AS DOUBLE) * CAST(v.c AS DOUBLE))) * 1e6 + 0.5)) AS BIGINT)
       |    AS kl_micro,
       |  CAST(sum(s.cs * floor(ln((CAST(s.cs AS DOUBLE) * CAST(a.t_all AS DOUBLE))
       |      / (CAST(t.ts AS DOUBLE) * CAST(v.c AS DOUBLE))) * 1e6 + 0.5)) AS DOUBLE)
       |    / CAST(max(t.ts) AS DOUBLE) / 1e6 AS kl_nats
       |FROM kl_st s
       |JOIN kl_vocab v USING (token)
       |JOIN kl_ts t USING (source)
       |CROSS JOIN kl_tall a
       |GROUP BY s.source""".stripMargin

  /** x76: per-source curation report — the domain-level gate a
    * multi-source pipeline applies before document-level filtering
    * (drop the feeds whose aggregate quality is poor, rather than
    * paying per-doc scoring on them forever): per source, document and
    * token counts, lexical diversity (type-token ratio — boilerplate
    * feeds repeat a tiny vocabulary), mean quality, and the keep/drop
    * decision.
    *
    * Determinism: per-doc quality snaps to integer micro-units before
    * the per-source SUM (a double sum would depend on partition
    * order); the mean is one fixed-order double division chain, and
    * the keep flag compares that mean to a literal — identical IEEE
    * semantics in both engines.
    *
    * Scale: one narrow per-doc projection aggregated by source, one
    * (source, token) distinct-count aggregation — both partial-agg
    * shuffles keyed by source (salt via [[SkewOps]] if one source
    * dominates). No driver state. */
  def sourceReport(df: DataFrame, minQuality: Double = 0.60): DataFrame = {
    val perDoc = df.filter(col("source").isNotNull)
      .select(col("source"),
        floor(qualityScoreCol(col("text")) * lit(1e6) + lit(0.5)).as("q_micro"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("q_micro").as("q_sum"))
    val lex = df.filter(col("source").isNotNull)
      .select(col("source"), explode(wordsRe(col("text"))).as("token"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct("token").as("distinct_tokens"))
    val meanQ = col("q_sum").cast("double") / col("n_docs").cast("double") / lit(1e6)
    perDoc.join(lex, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("distinct_tokens"),
        (col("distinct_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        meanQ.as("mean_quality"),
        when(meanQ >= minQuality, 1).otherwise(0).as("keep"))
  }

  /** DuckDB twin of [[sourceReport]]. */
  def sourceReportSql(minQuality: Double = 0.60): String = {
    val meanQ = "CAST(a.q_sum AS DOUBLE) / CAST(a.n_docs AS DOUBLE) / 1e6"
    s"""WITH sr_doc AS (
       |  SELECT source,
       |    CAST(floor((${qualityScoreColSql("text")}) * 1e6 + 0.5) AS BIGINT)
       |      AS q_micro
       |  FROM documents WHERE source IS NOT NULL
       |),
       |sr_agg AS (
       |  SELECT source, count(*) AS n_docs, CAST(sum(q_micro) AS BIGINT) AS q_sum
       |  FROM sr_doc GROUP BY source
       |),
       |sr_lex AS (
       |  SELECT source, count(*) AS n_tokens,
       |    CAST(count(DISTINCT token) AS BIGINT) AS distinct_tokens
       |  FROM (SELECT source, unnest(${wordsReSql("text")}) AS token
       |        FROM documents WHERE source IS NOT NULL)
       |  GROUP BY source
       |)
       |SELECT a.source, a.n_docs, l.n_tokens, l.distinct_tokens,
       |  CAST(l.distinct_tokens AS DOUBLE) / CAST(l.n_tokens AS DOUBLE) AS ttr,
       |  $meanQ AS mean_quality,
       |  CASE WHEN $meanQ >= $minQuality THEN 1 ELSE 0 END AS keep
       |FROM sr_agg a JOIN sr_lex l USING (source)""".stripMargin
  }

  /** CCNet-style perplexity-band curation (Wenzek et al. 2020 bucket
    * corpora exactly this way): documents whose LM score sits in the
    * middle band survive — too-LOW perplexity is boilerplate/template
    * text, too-HIGH is gibberish and OOV noise. Composes [[lmScore]]
    * with exact dedup: the band filter is a cheap attribute compare on
    * the scored relation (double literals — identical IEEE semantics in
    * both engines), then ONE content-hash shuffle over the survivors
    * only, lowest doc_id kept as representative (same-text docs carry
    * identical scores, so min() is exact on every column). */
  def perplexityBand(df: DataFrame, loNats: Double, hiNats: Double): DataFrame =
    lmScore(df)
      .filter(col("avg_nll") >= loNats && col("avg_nll") <= hiNats)
      .join(df.select(col("doc_id"), col("text")), "doc_id")
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min("doc_id").as("doc_id"), min("n_tokens").as("n_tokens"),
        min("avg_nll").as("avg_nll"))
      .select(col("doc_id"), col("n_tokens"), col("avg_nll"))

  /** DuckDB twin of [[perplexityBand]]. */
  def perplexityBandSql(loNats: Double, hiNats: Double): String =
    s"""WITH pb_scored AS (
       |  SELECT * FROM (
       |${lmScoreSql.linesIterator.map("    " + _).mkString("\n")}
       |  ) t
       |  WHERE avg_nll >= $loNats AND avg_nll <= $hiNats
       |)
       |SELECT min(s.doc_id) AS doc_id,
       |  CAST(min(s.n_tokens) AS BIGINT) AS n_tokens,
       |  min(s.avg_nll) AS avg_nll
       |FROM pb_scored s JOIN documents d ON s.doc_id = d.doc_id
       |GROUP BY md5(d.text)""".stripMargin

  /** The composed curation pipeline a training-data job runs end-to-end:
    * language filter → quality filter → exact dedup (canonical
    * representative = lowest doc_id per text hash) → token accounting.
    *
    * One scan, one shuffle over SURVIVORS only: the token array is
    * materialized once (phase 1), every numeric feature is computed over
    * that attribute (phase 2), and the language/quality DECISIONS are
    * cheap CASE/arithmetic over the feature attributes (phase 3) — so the
    * filter that runs before the dedup groupBy costs attribute
    * comparisons, not a second scoring pass, and the Exchange carries
    * only docs that pass it. (The round-6 form filtered after the
    * aggregation to avoid double-scoring; the projection boundaries give
    * single scoring AND the narrow shuffle at once.) Rows sharing a
    * text_hash share ALL feature values (pure functions of text), so
    * `min` picks the canonical row without a window function. */
  def trainingSelection(df: DataFrame, lang: String = "en",
                        minQuality: Double = 0.5): DataFrame = {
    val text = col("text")
    val toks = col("__toks")
    df.select(col("doc_id"), text, words(text).as("__toks"))
      .select((Seq(col("doc_id"),
        size(toks).cast("double").as("__n_words"),
        size(filter(toks, t => t.isin(qualityStopwords.map(lit(_)): _*)))
          .cast("double").as("__stops"),
        regexp_count(text, lit("[^a-z0-9 ]")).cast("double").as("__punct"),
        length(text).cast("double").as("__n_chars"),
        graft.functions.TextExpressions.wsTokenCountFast(text).as("ws_tokens"),
        HashFunctions.hash60(text).as("text_hash")) ++
        langScoreCols(toks)): _*)
      .select(col("doc_id"),
        pickLang(langScoreAttrs).as("detected_lang"),
        // same arithmetic as qualityScoreCol, over the materialized counts
        (least(col("__n_words") / 100d, lit(1d)) * 0.4 +
          (lit(1d) - col("__punct") / col("__n_chars")) * 0.3 +
          least(col("__stops") / col("__n_words") * 5d, lit(1d)) * 0.3)
          .as("quality_score"),
        col("ws_tokens"), col("text_hash"))
      // CollectMetrics is deliberate and load-bearing: predicate pushdown
      // substitutes aliases with NO cost guard, so a Filter placed directly
      // over the scoring projections gets rewritten into a scan-level
      // predicate that re-inlines split(trim(text)) 21× per row (measured;
      // the projection boundaries themselves survive — only the pushed
      // filter copy explodes). Pushdown cannot cross CollectMetrics, so the
      // filter stays HERE — cheap attribute comparisons, below the Exchange
      // — and the observation doubles as real curation telemetry (docs
      // scored before selection, retrievable via the observe API).
      .observe(s"training_selection_scored_${obsId.incrementAndGet()}",
        count(lit(1)).as("docs_scored"))
      .filter(col("detected_lang") === lang && col("quality_score") >= minQuality)
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("quality_score")).as("quality_score"),
        min(col("ws_tokens")).as("ws_tokens"))
      // every surviving row has detected_lang == lang (the filter pinned
      // it), so re-attach the constant instead of aggregating the string:
      // min(string) is not hash-aggregable and forced a SortAggregate +
      // per-partition Sort on both sides of the Exchange
      .select(col("doc_id"), lit(lang).as("detected_lang"),
        col("quality_score"), col("ws_tokens"), col("text_hash"))
  }

  // observe() metric names must be unique within a query plan — a fixed
  // name would make two composed trainingSelection calls (e.g. a union of
  // two curated corpora) fail analysis
  private val obsId = new java.util.concurrent.atomic.AtomicLong

  def trainingSelectionSql(lang: String = "en", minQuality: Double = 0.5): String = {
    val scores = langProfiles.map { case (l, profile) =>
      val inList = profile.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(trim(text), ' '), w -> w IN ($inList))) AS INT) AS s_$l"
    }.mkString(",\n    ")
    val mx = "greatest(" + langProfiles.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
    val pick = langProfiles.map { case (l, _) => s"WHEN s_$l = $mx THEN '$l'" }.mkString(" ")
    val stopList = qualityStopwords.map(w => s"'$w'").mkString(", ")
    val quality =
      s"""least(len(string_split(trim(text), ' ')) / 100.0, 1.0) * 0.4
         |      + (1.0 - CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) / length(text)) * 0.3
         |      + least(CAST(len(list_filter(string_split(trim(text), ' '), w -> w IN ($stopList))) AS DOUBLE)
         |              / len(string_split(trim(text), ' ')) * 5.0, 1.0) * 0.3""".stripMargin
    s"""WITH scored AS (
       |  SELECT doc_id, text,
       |    $scores
       |  FROM documents
       |), enriched AS (
       |  SELECT doc_id,
       |    CASE WHEN $mx = 0 THEN 'und' $pick ELSE 'und' END AS detected_lang,
       |    $quality AS quality_score,
       |    CAST(len(${wordsReSql("text")}) AS INT) AS ws_tokens,
       |    ${HashFunctions.hash60Sql("text")} AS text_hash
       |  FROM scored
       |)
       |SELECT min(doc_id) AS doc_id, min(detected_lang) AS detected_lang,
       |  min(quality_score) AS quality_score, min(ws_tokens) AS ws_tokens, text_hash
       |FROM enriched
       |WHERE detected_lang = '$lang' AND quality_score >= $minQuality
       |GROUP BY text_hash""".stripMargin
  }

  // Redaction patterns: explicit character classes only (no \w / \d / \b
  // shorthands — Java and RE2 agree on these classes byte-for-byte).
  val emailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val longNumPattern = "[0-9]{7,}"

  /** Scrub direct identifiers from a text column — the redaction pass a
    * training pipeline runs before a corpus leaves curation: email
    * addresses → `<EMAIL>`, long digit runs (phone/account-shaped) →
    * `<NUM>`. Pure per-row codegen'd projection; replacement strings are
    * literals (no backreferences — the one regex feature whose syntax
    * diverges between engines). */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      longNumPattern, "<NUM>")

  def redactSql(expr: String): String =
    s"regexp_replace(regexp_replace($expr, '$emailPattern', '<EMAIL>', 'g'), '$longNumPattern', '<NUM>', 'g')"

  /** x33: redaction report — per doc, how many identifiers were found
    * and the hash of the scrubbed text (compact oracle evidence that the
    * scrub itself matched, not just the counts). */
  def redactionReport(df: DataFrame, text: Column = col("text")): DataFrame =
    df.select(col("doc_id"),
      regexp_count(text, lit(emailPattern)).as("n_emails"),
      regexp_count(text, lit(longNumPattern)).as("n_long_nums"),
      md5(redact(text)).as("redacted_hash"))

  def redactionReportSql(expr: String = "text"): String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all($expr, '$emailPattern')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all($expr, '$longNumPattern')) AS INT) AS n_long_nums,
       |  md5(${redactSql(expr)}) AS redacted_hash
       |FROM documents""".stripMargin

  /** x34: repetition ratios — the Gopher-style quality signal: fraction
    * of duplicated words and duplicated word 2-grams per document (1 −
    * distinct/total; 0 for empty docs). High repetition flags boilerplate
    * and degenerate generations. Per-row IEEE arithmetic over integer
    * counts — engine-exact; narrow codegen projection, no shuffle. */
  def repetitionReport(df: DataFrame, text: Column = col("text")): DataFrame = {
    def ratio(arr: Column): Column = {
      val total = size(arr)
      when(total > 0,
        lit(1d) - size(array_distinct(arr)).cast("double") / total.cast("double"))
        .otherwise(lit(0d))
    }
    df.select(col("doc_id"),
      ratio(words(text)).as("dup_word_ratio"),
      ratio(DedupOps.shingles(text, 2)).as("dup_2gram_ratio"))
  }

  def repetitionReportSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS ws,
       |    list_transform(generate_series(1, greatest(len(string_split(trim(text), ' ')) - 1, 0)),
       |      i -> string_split(trim(text), ' ')[i] || ' ' || string_split(trim(text), ' ')[i+1]) AS g2
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CASE WHEN len(ws) > 0
       |       THEN 1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
       |       ELSE 0.0 END AS dup_word_ratio,
       |  CASE WHEN len(g2) > 0
       |       THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
       |       ELSE 0.0 END AS dup_2gram_ratio
       |FROM g""".stripMargin

  /** x32: per-language document-length quantiles (discrete, rank-based)
    * — the corpus profile a curation run reports before choosing length
    * filters. Quantile p = the value at row_number `ceil(p·n)` in
    * (token count, doc_id) order: pure integer selection, so both
    * engines agree bit-for-bit (interpolated `percentile`/`quantile_cont`
    * would hinge on float rounding; the one double op here, `ceil(p·n)`,
    * uses identical literals and IEEE multiply on both sides).
    *
    * One narrow projection + one window + one partial-agg groupBy. At
    * 100 TB swap the window for `approx_percentile` (t-digest: mergeable
    * map-side, no per-stratum sort) — [[TextOpsQuantileSpec]] pins the
    * sketch within tolerance of this exact form. */
  def lengthQuantiles(df: DataFrame,
                      ps: Seq[(String, Double)] = quantilePoints): DataFrame = {
    // same count-compression as [[sampleQuantileCalibration]]: the
    // rank-based quantile needs only counts per (lang, token count) —
    // one scan, one tokenization, windows only over the aggregate-sized
    // count relation (never a lang-partitioned window over the corpus)
    val toks = df.select(col("lang"),
      graft.functions.TextExpressions.wsTokenCountFast(col("text"))
        .cast("long").as("n"))
    val perLen = toks.groupBy("lang", "n").agg(count(lit(1)).as("c"))
    val wLen = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("n")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = perLen.withColumn("cc", sum(col("c")).over(wLen))
      .withColumn("cnt", sum(col("c"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("lang")))
    val aggs = max(col("cnt")).as("n_docs") +:
      ps.map { case (name, p) =>
        max(when(col("cc") - col("c") < ceil(lit(p) * col("cnt")) &&
          ceil(lit(p) * col("cnt")) <= col("cc"), col("n"))).as(name)
      }
    cum.groupBy("lang").agg(aggs.head, aggs.tail: _*)
  }

  val quantilePoints: Seq[(String, Double)] =
    Seq("p10" -> 0.10, "p50" -> 0.50, "p90" -> 0.90, "p99" -> 0.99)

  /** x129: sample-quantile calibration — per-language length quantiles
    * from a deterministic 1/`k` hash sample beside the exact rank-based
    * values, error in exact ppm. At 100 TB the full per-stratum sort
    * behind exact quantiles is the cost you refuse to pay; a hash
    * sample bounds it to n/k with DKW-bounded quantile error — this is
    * the read that picks k by MEASURING that error on the corpus
    * instead of trusting the bound.
    *
    * Exact per-language ranks WITHOUT a per-language sort task, and
    * without ranking rows at all: a rank-based quantile depends only on
    * how many docs (and how many SAMPLED docs) sit at each token count,
    * so the corpus compresses in ONE scan and ONE tokenization to a
    * per-(lang, n) count relation — bounded by languages × the longest
    * document, NOT by corpus size — and the target rank is located in
    * its cumulative sums. Every window runs over that aggregate (the
    * x124 densify-then-window discipline) — nothing anywhere partitions
    * a corpus-sized relation on `lang` alone. Membership is a pure hash
    * predicate — reproducible, merge-stable, no rand(). */
  def sampleQuantileCalibration(df: DataFrame, k: Int = 16,
      ps: Seq[(String, Double)] = Seq("p50" -> 0.50, "p90" -> 0.90))
      : DataFrame = {
    require(k >= 2 && k <= 4096, s"k=$k")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col("lang"),
      graft.functions.TextExpressions.wsTokenCountFast(col("text"))
        .cast("long").as("n"),
      (pmod(graft.functions.HashFunctions.hash60(col("doc_id").cast("string")),
        lit(k.toLong)) === 0L).as("in_samp"))
    // corpus → counts per (lang, token count): partial map-side combine,
    // shuffle keyed on |langs|×|lengths| — every task input bounded
    val perLen = toks.groupBy("lang", "n")
      .agg(count(lit(1)).as("c"),
        sum(when(col("in_samp"), 1L).otherwise(0L)).as("s"))
    val wLen = Window.partitionBy("lang").orderBy("n")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // cc/sc = docs (sampled docs) with token count ≤ n: the quantile at
    // p is the n whose cumulative interval (cc-c, cc] contains the
    // target rank ceil(p·cnt) — identical to the row-ranked definition,
    // because every row in the interval carries the same n. The totals
    // window partitions perLen, whose per-lang size is the number of
    // DISTINCT lengths (bounded by the longest document, like x135's
    // |types|² matrix) — a second aggregate branch would re-scan and
    // re-tokenize the corpus
    val cum = perLen
      .withColumn("cc", sum(col("c")).over(wLen))
      .withColumn("sc", sum(col("s")).over(wLen))
      .withColumn("cnt", sum(col("c")).over(Window.partitionBy("lang")))
      .withColumn("cs", sum(col("s")).over(Window.partitionBy("lang")))
    val aggs = Seq(max(col("cnt")).as("n_docs"), max(col("cs")).as("n_sample")) ++
      ps.flatMap { case (name, p) => Seq(
        max(when(col("cc") - col("c") < ceil(lit(p) * col("cnt")) &&
          ceil(lit(p) * col("cnt")) <= col("cc"), col("n"))).as(name),
        max(when(col("cs") > 0L &&
          col("sc") - col("s") < ceil(lit(p) * col("cs")) &&
          ceil(lit(p) * col("cs")) <= col("sc"), col("n"))).as(s"${name}_est"))
      }
    val errs = ps.map { case (name, _) =>
      when(col(name) > 0L && col(s"${name}_est").isNotNull,
        expr(s"(abs(${name}_est - $name) * 1000000L) div $name"))
        .otherwise(lit(null).cast("long")).as(s"${name}_err_ppm")
    }
    val outCols = Seq(col("lang"), col("n_docs"), col("n_sample")) ++
      ps.flatMap { case (name, _) => Seq(col(name), col(s"${name}_est")) } ++
      errs
    cum.groupBy("lang").agg(aggs.head, aggs.tail: _*).select(outCols: _*)
  }

  /** DuckDB twin of [[sampleQuantileCalibration]]. */
  def sampleQuantileCalibrationSql(k: Int = 16,
      ps: Seq[(String, Double)] = Seq("p50" -> 0.50, "p90" -> 0.90))
      : String = {
    val h = graft.functions.HashFunctions.hash60Sql("CAST(doc_id AS VARCHAR)")
    val qcols = ps.map { case (name, p) =>
      s"""  CAST(max(CASE WHEN rn = CAST(ceil(CAST($p AS DOUBLE) * cnt) AS BIGINT)
         |    THEN n END) AS BIGINT) AS $name,
         |  CAST(max(CASE WHEN in_samp AND rs = CAST(ceil(CAST($p AS DOUBLE) * cs) AS BIGINT)
         |    THEN n END) AS BIGINT) AS ${name}_est""".stripMargin
    }.mkString(",\n")
    val ecols = ps.map { case (name, _) =>
      s"""  CASE WHEN $name > 0 AND ${name}_est IS NOT NULL
         |    THEN (abs(${name}_est - $name) * 1000000) // $name
         |    ELSE NULL END AS ${name}_err_ppm""".stripMargin
    }.mkString(",\n")
    s"""WITH sq_toks AS (
       |  SELECT lang, doc_id, CAST(len(${wordsReSql("text")}) AS BIGINT) AS n,
       |    ($h % $k = 0) AS in_samp
       |  FROM documents
       |), sq_ranked AS (
       |  SELECT lang, n, in_samp,
       |    CAST(row_number() OVER lw AS BIGINT) AS rn,
       |    CAST(sum(CASE WHEN in_samp THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY lang ORDER BY n, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rs,
       |    count(*) OVER (PARTITION BY lang) AS cnt,
       |    CAST(sum(CASE WHEN in_samp THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY lang) AS BIGINT) AS cs
       |  FROM sq_toks
       |  WINDOW lw AS (PARTITION BY lang ORDER BY n, doc_id)
       |), sq_q AS (
       |  SELECT lang, count(*) AS n_docs,
       |    CAST(sum(CASE WHEN in_samp THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
       |$qcols
       |  FROM sq_ranked GROUP BY lang
       |)
       |SELECT lang, n_docs, n_sample,
       |${ps.map { case (name, _) => s"  $name, ${name}_est" }.mkString(",\n")},
       |$ecols
       |FROM sq_q""".stripMargin
  }

  def lengthQuantilesSql(ps: Seq[(String, Double)] = quantilePoints): String = {
    val cols = ps.map { case (name, p) =>
      s"CAST(max(CASE WHEN rn = CAST(ceil(CAST($p AS DOUBLE) * cnt) AS BIGINT) THEN n END) AS BIGINT) AS $name"
    }.mkString(",\n  ")
    s"""WITH toks AS (
       |  SELECT lang, doc_id, CAST(len(${wordsReSql("text")}) AS BIGINT) AS n
       |  FROM documents
       |), ranked AS (
       |  SELECT lang, n,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n, doc_id) AS BIGINT) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS cnt
       |  FROM toks
       |)
       |SELECT lang, count(*) AS n_docs,
       |  $cols
       |FROM ranked GROUP BY lang""".stripMargin
  }

  /** x36: distinctive top-K terms per language — TF-IDF-shaped corpus
    * analytics with a log-free score: `tf/df`, where tf = docs of the
    * language containing the term and df = docs overall containing it.
    * (A log() idf would rank near-identically but `ln` is libm-dependent
    * and can split engines by an ulp; the rational score is one IEEE
    * division — exact everywhere.) Ties break on the term itself.
    *
    * Shape: explode per-doc distinct terms once, two partial-agg
    * groupBys (per-language and overall document frequency), one
    * broadcast-sized join on the term, one per-language top-K window.
    * The exploded relation is the only big intermediate and it is
    * aggregated immediately — nothing quadratic, no driver state. */
  def topTerms(df: DataFrame, k: Int = 10): DataFrame = {
    val tok = df.select(col("lang"), col("doc_id"),
      explode(array_distinct(wordsRe(col("text")))).as("w"))
    val perLang = tok.groupBy("lang", "w").agg(count(lit(1)).as("tf"))
    val overall = tok.groupBy("w").agg(count(lit(1)).as("df"))
    val scored = perLang.join(overall, "w")
      .withColumn("score", col("tf").cast("double") / col("df").cast("double"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("score").desc, col("w"))
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("lang", "w", "tf", "df", "score", "rank")
  }

  def topTermsSql(k: Int = 10): String =
    s"""WITH tok AS (
       |  SELECT DISTINCT lang, doc_id, unnest(${wordsReSql("text")}) AS w
       |  FROM documents
       |), pl AS (
       |  SELECT lang, w, count(*) AS tf FROM tok GROUP BY lang, w
       |), ov AS (
       |  SELECT w, count(*) AS df FROM tok GROUP BY w
       |)
       |SELECT lang, w, tf, df, CAST(tf AS DOUBLE) / df AS score,
       |  CAST(row_number() OVER (PARTITION BY lang
       |    ORDER BY CAST(tf AS DOUBLE) / df DESC, w) AS INT) AS rank
       |FROM pl JOIN ov USING (w)
       |QUALIFY rank <= $k""".stripMargin

  /** x41: sliding-window token chunks — the RAG/context-window chunker.
    * Each document becomes `1 + ceil(max(n−window, 0)/stride)` chunks;
    * chunk k covers tokens `[k·stride+1, k·stride+window]` (1-based,
    * last chunk may be shorter). Tokens are the single-space [[words]]
    * convention shared with the shingle/minhash family.
    *
    * Pure narrow projection: the chunk index list is generated per row
    * (`sequence` over the doc's own length — unbounded, no fixed cap)
    * and each chunk is emitted as its md5, not its text, so the exploded
    * relation stays slim. At 100 TB this runs map-side at scan speed;
    * the only shuffle is whatever the CONSUMER does with the chunks.
    * All index arithmetic is integer (ceil-division spelled
    * `floor((x+stride−1)/stride)` on exact small ints) — engine-exact. */
  def slidingChunks(df: DataFrame, window: Int = 32, stride: Int = 24,
                    text: Column = col("text")): DataFrame = {
    require(stride > 0 && window >= stride, "need 0 < stride <= window")
    // Materialize the token array once per row (same lambda trap as
    // winnowing: an inlined `words(text)` would re-split the text on
    // every slice access inside the chunk transform — O(chunks·L)).
    // The consumer references `ws` twice per chunk struct, so
    // CollapseProject keeps the projection boundary (SPARK-36718).
    val base = df.select(col("doc_id"), words(text).as("ws"))
    val ws = col("ws")
    val n = size(ws).cast("long")
    val lastK = floor((greatest(n - window, lit(0L)) + (stride - 1)) / stride).cast("long")
    val chunk = explode(transform(sequence(lit(0L), lastK), k =>
      struct(k.as("chunk_id"),
        size(slice(ws, (k * stride + 1).cast("int"), lit(window))).as("chunk_tokens"),
        md5(array_join(slice(ws, (k * stride + 1).cast("int"), lit(window)), " "))
          .as("chunk_hash"))))
    base.select(col("doc_id"), chunk.as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.chunk_tokens"), col("c.chunk_hash"))
  }

  def slidingChunksSql(window: Int = 32, stride: Int = 24): String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
       |)
       |SELECT doc_id, k AS chunk_id,
       |  CAST(len(ws[k*$stride+1 : k*$stride+$window]) AS INT) AS chunk_tokens,
       |  md5(array_to_string(ws[k*$stride+1 : k*$stride+$window], ' ')) AS chunk_hash
       |FROM (SELECT doc_id, ws,
       |        unnest(generate_series(0, (greatest(len(ws) - $window, 0) + ${stride - 1}) // $stride)) AS k
       |      FROM t)""".stripMargin

  /** x45: dedup'd chunk index — the composed RAG-ingest build: chunk the
    * corpus ([[slidingChunks]]), then keep ONE representative per
    * distinct chunk content corpus-wide (lowest (doc_id, chunk_id)), and
    * report the index: representative coordinates + how many chunk
    * instances collapsed onto it. One narrow chunking pass, one
    * partial-agg shuffle keyed by content hash — the same two-stage
    * shape as exact doc dedup, applied at chunk granularity. */
  def chunkIndex(df: DataFrame, window: Int = 32, stride: Int = 24,
                 text: Column = col("text")): DataFrame =
    slidingChunks(df, window, stride, text)
      .groupBy("chunk_hash")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("rep"),
        count(lit(1)).as("n_copies"),
        max(col("chunk_tokens")).as("chunk_tokens"))
      .select(col("chunk_hash"), col("rep.doc_id").as("rep_doc"),
        col("rep.chunk_id").as("rep_chunk"), col("chunk_tokens"), col("n_copies"))

  def chunkIndexSql(window: Int = 32, stride: Int = 24): String =
    s"""WITH chunks AS (
       |${slidingChunksSql(window, stride)}
       |), ranked AS (
       |  SELECT chunk_hash, doc_id, chunk_id, chunk_tokens,
       |    row_number() OVER (PARTITION BY chunk_hash
       |      ORDER BY doc_id, chunk_id) AS rn,
       |    count(*) OVER (PARTITION BY chunk_hash) AS n_copies
       |  FROM chunks
       |)
       |SELECT chunk_hash, doc_id AS rep_doc, chunk_id AS rep_chunk,
       |  chunk_tokens, CAST(n_copies AS BIGINT) AS n_copies
       |FROM ranked WHERE rn = 1""".stripMargin

  /** x42: passage-level duplication report — the intra-corpus analog of
    * paragraph dedup for corpora without structural breaks: each doc is
    * cut into consecutive `block`-token passages (last one may be short),
    * passages are matched corpus-wide by content hash, and each doc
    * reports how many of its passages also appear in some OTHER document
    * (`shared_blocks`) plus the duplication ratio. This is the signal
    * used to strip boilerplate passages that exact whole-doc dedup
    * misses.
    *
    * Shape: one narrow per-row block projection, one explode, one
    * partial-agg groupBy on the block hash (the only big shuffle, keyed
    * by content so it spreads evenly), a semi-broadcast join back, and a
    * per-doc agg. No self-join, nothing quadratic. */
  def passageDupReport(df: DataFrame, block: Int = 8,
                       text: Column = col("text")): DataFrame = {
    // non-overlapping blocks ARE the chunker at stride == window (the
    // two last-index formulas are arithmetically equal) — one boundary
    // definition, not two that can drift
    val blocks = slidingChunks(df, block, block, text)
      .select(col("doc_id"), col("chunk_hash").as("block_hash"))
    // distinct docs per block hash; a hash is "shared" when ≥2 docs carry it
    val byHash = blocks.distinct()
      .groupBy("block_hash").agg(count(lit(1)).as("n_docs"))
    blocks.join(byHash, "block_hash")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("shared_blocks"))
      .select(col("doc_id"), col("n_blocks"), col("shared_blocks"),
        (col("shared_blocks").cast("double") / col("n_blocks").cast("double"))
          .as("dup_ratio"))
  }

  def passageDupReportSql(block: Int = 8): String =
    s"""WITH b AS (
       |  SELECT doc_id, chunk_hash AS block_hash FROM (
       |${slidingChunksSql(block, block)}
       |  ) ch
       |), h AS (
       |  SELECT block_hash, count(*) AS n_docs
       |  FROM (SELECT DISTINCT doc_id, block_hash FROM b)
       |  GROUP BY block_hash
       |)
       |SELECT doc_id, count(*) AS n_blocks,
       |  -- CAST: DuckDB types sum(INTEGER) as HUGEINT, which the gate's
       |  -- hasher canonicalizes differently from Spark's BIGINT
       |  CAST(sum(CASE WHEN h.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared_blocks,
       |  CAST(sum(CASE WHEN h.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_ratio
       |FROM b JOIN h USING (block_hash)
       |GROUP BY doc_id""".stripMargin

  /** x43: corpus bigram counts, top K — the n-gram language-model
    * statistic (raw occurrence counts, not per-doc distinct). Total
    * order (count desc, bigram) makes the cut deterministic; Spark plans
    * the sort+limit as TakeOrderedAndProject (each partition keeps K,
    * the driver merges K·P rows — no global sort at any scale). */
  def bigramTop(df: DataFrame, k: Int = 50, text: Column = col("text")): DataFrame =
    df.select(explode(DedupOps.shingles(text, 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(k)

  def bigramTopSql(k: Int = 50): String =
    s"""SELECT bigram, count(*) AS cnt
       |FROM (
       |  SELECT unnest(list_transform(
       |    generate_series(1, greatest(len(ws) - 1, 0)),
       |    i -> ws[i] || ' ' || ws[i+1])) AS bigram
       |  FROM (SELECT string_split(trim(text), ' ') AS ws FROM documents)
       |)
       |GROUP BY bigram
       |ORDER BY cnt DESC, bigram
       |LIMIT $k""".stripMargin

  /** x74: top-K collocations by pointwise mutual information — the
    * classic corpus-linguistics statistic (Church & Hanks 1990) a
    * tokenizer-/phrase-mining pass computes before merging multi-word
    * units: PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) ) = ln( c₂·T₁² /
    * (T₂·c₁ₐ·c₁ᵦ) ), with a raw-count floor (`minCount`) so
    * one-off pairs don't dominate (PMI's well-known rare-pair bias).
    *
    * Determinism: the score is snapped to integer micro-nats (the
    * [[lmScore]] contract); the ratio is computed on doubles with
    * identical operation order in both engines (a BIGINT cross-product
    * would ANSI-overflow at corpus scale). Total order (pmi desc,
    * bigram) makes the cut exact; Spark plans it as
    * TakeOrderedAndProject.
    *
    * Scale: unigram and bigram relations are vocab-sized aggregations
    * of one corpus scan each; totals ride window sums over those small
    * relations; the two unigram joins broadcast. Nothing quadratic. */
  def pmiCollocations(df: DataFrame, minCount: Long = 5, k: Int = 50): DataFrame = {
    // totals via 1-row aggregates + broadcast (x49 convention), never
    // empty-partitionBy windows over the vocab relations
    val uni = df.select(explode(wordsRe(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c1"))
    // the c1/c2 >= 1 tautologies block the sum-of-counts collapse into
    // a fresh global count over a second tokenization (the x75 pattern)
    val uniT = uni.crossJoin(broadcast(
        uni.filter(col("c1") >= 1L).agg(sum("c1").as("t1"))))
      .select(col("token"), col("c1"), col("t1"))
    val biBase = df.select(explode(
        graft.functions.TextExpressions.wsBigramsFast(col("text"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c2"))
    // T₂ sums over ALL bigrams, so the total aggregates before the
    // count floor
    val biT = biBase
      .crossJoin(broadcast(
        biBase.filter(col("c2") >= 1L).agg(sum("c2").as("t2"))))
      .filter(col("c2") >= minCount)
    // BOTH unigram sides derive from uniT (ub's t1 column is dropped, not
    // unneeded-at-source): deriving ub from the window-free `uni` would
    // make the two subtrees canonically different and the corpus would be
    // tokenized a third time — from uniT they share one scan + exchange
    // chain and AQE's stage cache serves the second consumer for free
    val ua = uniT.select(col("token").as("wa"), col("c1").as("c1a"), col("t1"))
    val ub = uniT.select(col("token").as("wb"), col("c1").as("c1b"))
    biT
      .join(broadcast(ua), substring_index(col("bigram"), " ", 1) === col("wa"))
      .join(broadcast(ub), substring_index(col("bigram"), " ", -1) === col("wb"))
      .select(col("bigram"), col("c2").as("cnt"), col("c1a"), col("c1b"),
        floor(log(
          (col("c2").cast("double") * col("t1").cast("double") * col("t1").cast("double")) /
            (col("t2").cast("double") * col("c1a").cast("double") * col("c1b").cast("double")))
          * lit(1e6) + lit(0.5)).as("pmi_micro"))
      .select(col("bigram"), col("cnt"), col("c1a"), col("c1b"), col("pmi_micro"),
        (col("pmi_micro").cast("double") / lit(1e6)).as("pmi_nats"))
      .orderBy(col("pmi_micro").desc, col("bigram"))
      .limit(k)
  }

  /** DuckDB twin of [[pmiCollocations]]. */
  def pmiCollocationsSql(minCount: Long = 5, k: Int = 50): String = {
    val score =
      """floor(ln((CAST(b.c2 AS DOUBLE) * CAST(t1.t1 AS DOUBLE) * CAST(t1.t1 AS DOUBLE))
        |    / (CAST(t2.t2 AS DOUBLE) * CAST(ua.c1 AS DOUBLE) * CAST(ub.c1 AS DOUBLE))) * 1e6 + 0.5)""".stripMargin
    s"""WITH pm_uni AS (
       |  SELECT token, count(*) AS c1
       |  FROM (SELECT unnest(${wordsReSql("text")}) AS token FROM documents)
       |  GROUP BY token
       |),
       |pm_t1 AS (SELECT CAST(sum(c1) AS BIGINT) AS t1 FROM pm_uni),
       |pm_bi AS (
       |  SELECT bigram, count(*) AS c2
       |  FROM (SELECT unnest(list_transform(range(1, len(toks)),
       |                 pm_i -> toks[pm_i] || ' ' || toks[pm_i + 1])) AS bigram
       |        FROM (SELECT ${wordsReSql("text")} AS toks FROM documents))
       |  GROUP BY bigram
       |),
       |pm_t2 AS (SELECT CAST(sum(c2) AS BIGINT) AS t2 FROM pm_bi)
       |SELECT b.bigram, b.c2 AS cnt, ua.c1 AS c1a, ub.c1 AS c1b,
       |  CAST($score AS BIGINT) AS pmi_micro,
       |  CAST($score AS DOUBLE) / 1e6 AS pmi_nats
       |FROM pm_bi b
       |JOIN pm_uni ua ON split_part(b.bigram, ' ', 1) = ua.token
       |JOIN pm_uni ub ON split_part(b.bigram, ' ', 2) = ub.token
       |CROSS JOIN pm_t1 t1 CROSS JOIN pm_t2 t2
       |WHERE b.c2 >= $minCount
       |ORDER BY pmi_micro DESC, bigram
       |LIMIT $k""".stripMargin
  }

  /** x80: top-K keywords per document by TF-IDF — the per-document
    * "what is this about" signal every retrieval/curation stack keeps
    * beside BM25 (x49 ranks documents for a query; this ranks TERMS for
    * a document): score(d, t) = tf(d,t) · ln(N / df(t)).
    *
    * Determinism: idf is snapped to integer micro-nats once per token
    * (ln over the integer ratio N/df — the [[lmScore]] contract), and
    * the per-doc score is the exact BIGINT product tf · idf_micro, so
    * the rank cut (score desc, token) is a total order both engines
    * agree on bit-for-bit.
    *
    * Scale: the corpus is tokenized ONCE into the (doc_id, token, tf)
    * matrix; document frequency and the corpus doc count both derive
    * from that matrix (exchange reuse — and the doc-count branch keeps a
    * tautological `tf >= 1` filter so RemoveRedundantAggregates can't
    * collapse it into a second corpus-wide distinct, the x75 vocab
    * trap). The idf table is vocab-sized and broadcasts back onto the
    * matrix; the per-doc cut is a rank-1..k window, which Spark plans
    * with WindowGroupLimit pushdown — no global sort, no second scan. */
  def tfidfKeywords(df: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // token.isNotNull at the shared base: the scoring join infers
    // IsNotNull(token) into its own branches only; without the base
    // filter the doc-count branch stays constraint-free, the three
    // matrix subtrees stop comparing canonically equal, and the corpus
    // is tokenized twice (the x70 source trap, token flavored)
    val mat = df.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(wordsRe(col("text"))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // corpus doc count from the SAME matrix; the tautological filter on
    // the aggregated column blocks RemoveRedundantAggregates from
    // rewriting distinct(doc_id)-over-aggregate as a fresh corpus scan
    val nDocs = mat.filter(col("tf") >= 1)
      .agg(countDistinct("doc_id").as("n_docs"))
    // same tautological filter on the df branch: counting rows per token
    // is a keys-only aggregate over the matrix, which the optimizer
    // otherwise collapses into a fresh (doc_id, token) distinct whose
    // partial aggregate no longer matches the matrix exchange
    val idf = mat.filter(col("tf") >= 1)
      .groupBy("token").agg(count(lit(1)).as("df_docs"))
      .crossJoin(broadcast(nDocs))
      .select(col("token"), col("df_docs"),
        floor(log(col("n_docs").cast("double") / col("df_docs").cast("double"))
          * lit(1e6) + lit(0.5)).as("idf_micro"))
    val scored = mat.join(broadcast(idf), "token")
      .select(col("doc_id"), col("token"), col("tf"), col("df_docs"),
        (col("tf") * col("idf_micro")).as("score_micro"))
    scored
      .withColumn("rank", row_number().over(
          Window.partitionBy("doc_id")
            .orderBy(col("score_micro").desc, col("token"))).cast("long"))
      .filter(col("rank") <= k)
  }

  /** DuckDB twin of [[tfidfKeywords]] — same matrix/df/N derivation. */
  def tfidfKeywordsSql(k: Int = 5): String =
    s"""WITH tk_mat AS (
       |  SELECT doc_id, token, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(${wordsReSql("text")}) AS token
       |        FROM documents WHERE doc_id IS NOT NULL)
       |  GROUP BY doc_id, token
       |),
       |tk_n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tk_mat),
       |tk_idf AS (
       |  SELECT token, count(*) AS df_docs,
       |    CAST(floor(ln(CAST(n.n_docs AS DOUBLE) / CAST(count(*) AS DOUBLE))
       |         * 1e6 + 0.5) AS BIGINT) AS idf_micro
       |  FROM tk_mat CROSS JOIN tk_n n
       |  GROUP BY token, n.n_docs
       |)
       |SELECT doc_id, token, tf, df_docs, score_micro, rank FROM (
       |  SELECT m.doc_id, m.token, m.tf, i.df_docs,
       |    CAST(m.tf * i.idf_micro AS BIGINT) AS score_micro,
       |    CAST(row_number() OVER (PARTITION BY m.doc_id
       |           ORDER BY m.tf * i.idf_micro DESC, m.token) AS BIGINT) AS rank
       |  FROM tk_mat m JOIN tk_idf i USING (token))
       |WHERE rank <= $k""".stripMargin

  /** x81: per-source keyness by Dunning log-likelihood (Dunning 1993,
    * the corpus-linguistics G² statistic): for each (source, token)
    * 2×2 contingency table — a = token-in-source, b = token-elsewhere,
    * c = other-tokens-in-source, d = the rest —
    *
    *   G² = 2·( Σ x·ln x  −  Σ margin·ln margin  +  N·ln N )
    *
    * over the four cells and four margins. This is [[sourceKl]]'s
    * sibling: KL says HOW FAR a source drifts from the corpus, keyness
    * says WHICH TOKENS carry the drift — the report a curation run
    * reads before deciding a domain filter.
    *
    * Determinism: every ln argument is a non-negative integer (cells
    * and margins of a count table), so both engines evaluate the same
    * fixed-order double expression and the single final micro-nat snap
    * is hash-stable (the x67–x75 contract). 0·ln 0 is defined as 0 via
    * a short-circuiting CASE, never evaluated.
    *
    * Scale: one corpus tokenization into the (source, token, cnt)
    * matrix; token margins, source margins, and the grand total all
    * derive from that matrix (exchange reuse, tautological `cnt >= 1`
    * guards against RemoveRedundantAggregates); margins are vocab- and
    * source-sized and broadcast back. Over-represented rows only
    * (a·T > tok_total·T_s — compared on doubles, BIGINT cross-products
    * overflow at corpus scale), count-floored, rank-k per source via
    * WindowGroupLimit. */
  def sourceKeyness(df: DataFrame, minCount: Long = 5, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def xlx(c: Column): Column =
      when(c > 0, c.cast("double") * log(c.cast("double"))).otherwise(lit(0.0))
    // both join keys pre-filtered at the shared base: the margin joins
    // infer IsNotNull(source)/IsNotNull(token) branch-by-branch, and any
    // asymmetry splits the matrix into non-canonical copies (x80 trap)
    val mat = df.filter(col("doc_id").isNotNull && col("source").isNotNull)
      .select(col("source"), explode(wordsRe(col("text"))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy("source", "token").agg(count(lit(1)).as("cnt"))
    val tokTot = mat.filter(col("cnt") >= 1)
      .groupBy("token").agg(sum("cnt").as("tok_total"))
    val srcTotBase = mat.filter(col("cnt") >= 1)
      .groupBy("source").agg(sum("cnt").as("src_total"))
    val srcTot = srcTotBase
      .crossJoin(broadcast(srcTotBase.agg(sum("src_total").as("t_all"))))
    val g2 = (xlx(col("cnt")) + xlx(col("tok_total") - col("cnt"))
      + xlx(col("src_total") - col("cnt"))
      + xlx(col("t_all") - col("src_total") - col("tok_total") + col("cnt"))
      - xlx(col("tok_total")) - xlx(col("t_all") - col("tok_total"))
      - xlx(col("src_total")) - xlx(col("t_all") - col("src_total"))
      + xlx(col("t_all"))) * lit(2.0)
    mat
      .join(broadcast(tokTot), "token")
      .join(broadcast(srcTot), "source")
      .filter(col("cnt") >= minCount &&
        col("cnt").cast("double") * col("t_all").cast("double") >
          col("tok_total").cast("double") * col("src_total").cast("double"))
      .select(col("source"), col("token"), col("cnt"),
        col("src_total"), col("tok_total"),
        floor(g2 * lit(1e6) + lit(0.5)).as("g2_micro"))
      .withColumn("rank", row_number().over(
          Window.partitionBy("source")
            .orderBy(col("g2_micro").desc, col("token"))).cast("long"))
      .filter(col("rank") <= k)
  }

  /** DuckDB twin of [[sourceKeyness]] — same table, margins, and the
    * same fixed-order G² expression. */
  def sourceKeynessSql(minCount: Long = 5, k: Int = 10): String = {
    def xlx(x: String): String =
      s"(CASE WHEN ($x) > 0 THEN CAST($x AS DOUBLE) * ln(CAST($x AS DOUBLE)) ELSE 0.0 END)"
    val g2 =
      s"""(${xlx("cnt")} + ${xlx("tok_total - cnt")}
         |   + ${xlx("src_total - cnt")}
         |   + ${xlx("t_all - src_total - tok_total + cnt")}
         |   - ${xlx("tok_total")} - ${xlx("t_all - tok_total")}
         |   - ${xlx("src_total")} - ${xlx("t_all - src_total")}
         |   + ${xlx("t_all")}) * 2.0""".stripMargin
    s"""WITH ky_mat AS (
       |  SELECT source, token, count(*) AS cnt
       |  FROM (SELECT source, unnest(${wordsReSql("text")}) AS token
       |        FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL)
       |  GROUP BY source, token
       |),
       |ky_tok AS (SELECT token, CAST(sum(cnt) AS BIGINT) AS tok_total
       |           FROM ky_mat GROUP BY token),
       |ky_src AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS src_total
       |           FROM ky_mat GROUP BY source),
       |ky_n AS (SELECT CAST(sum(cnt) AS BIGINT) AS t_all FROM ky_mat),
       |ky_cells AS (
       |  SELECT m.source, m.token, m.cnt, s.src_total, t.tok_total, n.t_all
       |  FROM ky_mat m
       |  JOIN ky_tok t USING (token)
       |  JOIN ky_src s USING (source)
       |  CROSS JOIN ky_n n
       |  WHERE m.cnt >= $minCount
       |    AND CAST(m.cnt AS DOUBLE) * CAST(n.t_all AS DOUBLE)
       |        > CAST(t.tok_total AS DOUBLE) * CAST(s.src_total AS DOUBLE)
       |)
       |SELECT source, token, cnt, src_total, tok_total, g2_micro, rank FROM (
       |  SELECT source, token, cnt, src_total, tok_total,
       |    CAST(floor(($g2) * 1e6 + 0.5) AS BIGINT) AS g2_micro,
       |    CAST(row_number() OVER (PARTITION BY source
       |           ORDER BY floor(($g2) * 1e6 + 0.5) DESC, token) AS BIGINT)
       |      AS rank
       |  FROM ky_cells)
       |WHERE rank <= $k""".stripMargin
  }

  /** x84: vocabulary-growth (Heaps' law) curve — cumulative distinct
    * vocabulary and token volume over id-ordered tenths of the corpus:
    * the "how much new vocabulary does the next 10% of data buy"
    * diagnostic a data-acquisition loop reads to see whether a corpus
    * is saturating. Buckets are value-based doc_id ranges (exact integer
    * arithmetic against the max id), so the curve is a pure function of
    * the data.
    *
    * Scale: one tokenization into the (doc_id, token, occ) matrix; a
    * token's contribution to the curve is its FIRST-SEEN bucket
    * (min doc_id — one vocab-sized aggregate), token volume is one
    * 10-row aggregate, and the cumulative sums ride a window over those
    * 10 rows. Nothing global-sorted; the classic rank-the-whole-corpus
    * formulation is replaced by the max-id bucket function. */
  def vocabGrowth(df: DataFrame, buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mat = df.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(wordsRe(col("text"))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("occ"))
    val maxId = mat.filter(col("occ") >= 1)
      .agg(max("doc_id").as("max_id"))
    // `div`, not `/`: Column `/` is double division, which loses id
    // exactness past 2^53; SQL div matches DuckDB's `//` bit-for-bit
    def bucketOf(idName: String): Column =
      expr(s"least($idName * $buckets div (max_id + 1), ${buckets - 1})")
    // per-bucket: docs + token volume from the matrix, new vocab from
    // each token's first-seen doc — all three derive from the matrix
    val perBucket = mat.filter(col("occ") >= 1)
      .groupBy("doc_id").agg(sum("occ").as("doc_tokens"))
      .crossJoin(broadcast(maxId))
      .groupBy(bucketOf("doc_id").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("doc_tokens").as("n_tokens"))
    val firstSeen = mat.filter(col("occ") >= 1)
      .groupBy("token").agg(min("doc_id").as("first_id"))
      .crossJoin(broadcast(maxId))
      .groupBy(bucketOf("first_id").as("bucket"))
      .agg(count(lit(1)).as("new_vocab"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(firstSeen, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_vocab"), lit(0L)).as("new_vocab"))
      .select(col("bucket"),
        sum("n_docs").over(w).as("n_docs_cum"),
        sum("n_tokens").over(w).as("n_tokens_cum"),
        sum("new_vocab").over(w).as("vocab_cum"))
  }

  /** DuckDB twin of [[vocabGrowth]] — same matrix, bucket function,
    * first-seen derivation, and 10-row cumulative window. */
  def vocabGrowthSql(buckets: Int = 10): String =
    s"""WITH vg_mat AS (
       |  SELECT doc_id, token, count(*) AS occ
       |  FROM (SELECT doc_id, unnest(${wordsReSql("text")}) AS token
       |        FROM documents WHERE doc_id IS NOT NULL)
       |  GROUP BY doc_id, token
       |),
       |vg_max AS (SELECT max(doc_id) AS max_id FROM vg_mat),
       |vg_docs AS (
       |  SELECT least(d.doc_id * $buckets // (m.max_id + 1), ${buckets - 1})
       |      AS bucket,
       |    count(*) AS n_docs, CAST(sum(d.doc_tokens) AS BIGINT) AS n_tokens
       |  FROM (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS doc_tokens
       |        FROM vg_mat GROUP BY doc_id) d
       |  CROSS JOIN vg_max m GROUP BY 1
       |),
       |vg_vocab AS (
       |  SELECT least(t.first_id * $buckets // (m.max_id + 1), ${buckets - 1})
       |      AS bucket,
       |    count(*) AS new_vocab
       |  FROM (SELECT token, min(doc_id) AS first_id
       |        FROM vg_mat GROUP BY token) t
       |  CROSS JOIN vg_max m GROUP BY 1
       |)
       |SELECT d.bucket,
       |  CAST(sum(d.n_docs) OVER win AS BIGINT) AS n_docs_cum,
       |  CAST(sum(d.n_tokens) OVER win AS BIGINT) AS n_tokens_cum,
       |  CAST(sum(coalesce(v.new_vocab, 0)) OVER win AS BIGINT) AS vocab_cum
       |FROM vg_docs d LEFT JOIN vg_vocab v USING (bucket)
       |WINDOW win AS (ORDER BY d.bucket
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** x85: hapax ratio per document — the rare-token quality signal: the
    * fraction of a document's token occurrences that are corpus-wide
    * hapax legomena (appear exactly once in the whole corpus). High
    * ratios flag OCR noise, gibberish, and mangled encodings; near-zero
    * ratios flag boilerplate — the cheap complement to the LM scores
    * (x67: a hapax-heavy doc is expensive under the LM too, but this
    * needs no cost table and names the offending mass directly).
    *
    * Determinism: counts are exact BIGINTs; the ratio is one IEEE
    * division (bit-identical cross-engine — the x82 rule).
    *
    * Scale: the (doc_id, token, occ) matrix feeds corpus counts
    * (vocab-sized, broadcast back) and per-doc re-aggregation — one
    * tokenization, exchange-reused, same shape as [[lmScore]]. */
  def hapaxReport(df: DataFrame): DataFrame = {
    val mat = df.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(wordsRe(col("text"))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("occ"))
    val corpus = mat.filter(col("occ") >= 1)
      .groupBy("token").agg(sum("occ").as("cnt"))
    mat.join(broadcast(corpus), "token")
      .groupBy("doc_id")
      .agg(sum("occ").as("n_tokens"),
        sum(when(col("cnt") === 1, col("occ")).otherwise(lit(0L)))
          .as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_hapax"),
        (col("n_hapax").cast("double") / col("n_tokens").cast("double"))
          .as("hapax_ratio"))
  }

  /** DuckDB twin of [[hapaxReport]]. */
  def hapaxReportSql: String =
    s"""WITH hx_mat AS (
       |  SELECT doc_id, token, count(*) AS occ
       |  FROM (SELECT doc_id, unnest(${wordsReSql("text")}) AS token
       |        FROM documents WHERE doc_id IS NOT NULL)
       |  GROUP BY doc_id, token
       |),
       |hx_corpus AS (SELECT token, CAST(sum(occ) AS BIGINT) AS cnt
       |              FROM hx_mat GROUP BY token)
       |SELECT m.doc_id, CAST(sum(m.occ) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN c.cnt = 1 THEN m.occ ELSE 0 END) AS BIGINT)
       |    AS n_hapax,
       |  CAST(sum(CASE WHEN c.cnt = 1 THEN m.occ ELSE 0 END) AS DOUBLE)
       |    / CAST(sum(m.occ) AS DOUBLE) AS hapax_ratio
       |FROM hx_mat m JOIN hx_corpus c USING (token)
       |GROUP BY m.doc_id""".stripMargin

  /** x86: Zipf rank–frequency fit — least-squares slope of ln(cnt) on
    * ln(rank) over the top-N vocabulary. Natural language sits near
    * slope −1 (Zipf 1949); a corpus that drifts far from it is
    * boilerplate-heavy (flatter) or template/spam-skewed (steeper) —
    * a one-row naturalness gate beside the per-doc scores.
    *
    * Determinism: ranks and counts are integers, so ln lands on the
    * hash-stable integer-argument class (x67–x75); each per-term
    * x, y, x·y, x² is snapped to micro units and SUMMED AS BIGINT —
    * summing raw doubles would be partition-order-dependent. The final
    * slope/intercept divide the exact sums in fixed double order (the
    * BIGINT cross-products Sx·Sy would overflow at 1000 terms).
    *
    * Scale: vocab-sized aggregate, top-N cut via TakeOrderedAndProject,
    * then a window + 1-row aggregate over N rows. The corpus is scanned
    * once; nothing global-sorted at corpus size. */
  def zipfFit(df: DataFrame, topN: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(explode(wordsRe(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val ranked = counts.orderBy(col("cnt").desc, col("token")).limit(topN)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("token"))).cast("long"))
    def snap(c: Column): Column = floor(c * lit(1e6) + lit(0.5))
    val lr = log(col("rank").cast("double"))
    val lc = log(col("cnt").cast("double"))
    val sums = ranked.select(
        snap(lr).as("xm"), snap(lc).as("ym"),
        snap(lr * lc).as("xym"), snap(lr * lr).as("xxm"))
      .agg(count(lit(1)).as("n_terms"), sum("xm").as("sx"),
        sum("ym").as("sy"), sum("xym").as("sxy"), sum("xxm").as("sxx"))
    val n = col("n_terms").cast("double")
    val sx = col("sx").cast("double") / lit(1e6)
    val sy = col("sy").cast("double") / lit(1e6)
    val sxy = col("sxy").cast("double") / lit(1e6)
    val sxx = col("sxx").cast("double") / lit(1e6)
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    sums.select(col("n_terms"), slope.as("slope"),
      ((sy - slope * sx) / n).as("intercept"))
  }

  /** DuckDB twin of [[zipfFit]] — same snap-then-sum contract. */
  def zipfFitSql(topN: Int = 1000): String =
    s"""WITH zf_counts AS (
       |  SELECT token, count(*) AS cnt
       |  FROM (SELECT unnest(${wordsReSql("text")}) AS token FROM documents)
       |  GROUP BY token
       |),
       |zf_ranked AS (
       |  SELECT cnt, CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
       |      AS rank
       |  FROM zf_counts ORDER BY cnt DESC, token LIMIT $topN
       |),
       |zf_sums AS (
       |  SELECT count(*) AS n_terms,
       |    CAST(sum(CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sx,
       |    CAST(sum(CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sy,
       |    CAST(sum(CAST(floor(ln(CAST(rank AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sxy,
       |    CAST(sum(CAST(floor(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sxx
       |  FROM zf_ranked
       |)
       |SELECT n_terms,
       |  (CAST(n_terms AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e6)
       |     - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
       |  / (CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e6)
       |     - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6)) AS slope,
       |  ((CAST(sy AS DOUBLE) / 1e6)
       |     - ((CAST(n_terms AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e6)
       |          - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
       |        / (CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e6)
       |           - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6)))
       |       * (CAST(sx AS DOUBLE) / 1e6))
       |  / CAST(n_terms AS DOUBLE) AS intercept
       |FROM zf_sums""".stripMargin

  /** x88: pairwise source Jensen–Shannon divergence — the
    * distributional sibling of x77's window-overlap matrix: x77 finds
    * VERBATIM mirroring, this measures how far two sources' token
    * DISTRIBUTIONS diverge (0 = same voice, ln 2 = nothing in common),
    * the statistic behind "are these two domains the same content farm"
    * and mixture-design dedup of near-identical feeds.
    *
    * JSD(a,b) = ½·KL(pₐ‖m) + ½·KL(p_b‖m), m = (pₐ+p_b)/2, decomposed
    * into shared-token terms plus ln 2 times each side's UNSHARED
    * probability mass — so only the intersection join is ever computed;
    * a pair with no shared tokens is absent (JSD exactly ln 2).
    *
    * Determinism: per-token terms are fixed-order double expressions
    * over exact integer products (cₐ·T_b etc.), snapped to nano units
    * and summed as BIGINT; the final combine divides exact sums in
    * fixed order (the x67 contract at 1e9 scale — probabilities are
    * ~1e-5, micro units would quantize them away).
    *
    * Scale: one corpus tokenization into the (source, token, cnt)
    * matrix (vocab×S aggregate-sized, NOT corpus-sized); totals
    * broadcast; the self-join shuffles the matrix on token with
    * fan-out ≤ S² per token, S = source cardinality. At web-scale S,
    * gate the matrix to the sources under review first. */
  def sourceJsMatrix(df: DataFrame): DataFrame = {
    val mat = df.filter(col("source").isNotNull)
      .select(col("source"), explode(wordsRe(col("text"))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy("source", "token").agg(count(lit(1)).as("cnt"))
    val tot = mat.filter(col("cnt") >= 1)
      .groupBy("source").agg(sum("cnt").as("t"))
    val m = mat.join(broadcast(tot), "source")
    val a = m.select(col("source").as("src_a"), col("token"),
      col("cnt").as("ca"), col("t").as("ta"))
    val b = m.select(col("source").as("src_b"), col("token"),
      col("cnt").as("cb"), col("t").as("tb"))
    def d(c: Column): Column = c.cast("double")
    val denom = d(col("ca")) * d(col("tb")) + d(col("cb")) * d(col("ta"))
    val termA = (d(col("ca")) / d(col("ta"))) *
      log(lit(2.0) * d(col("ca")) * d(col("tb")) / denom)
    val termB = (d(col("cb")) / d(col("tb"))) *
      log(lit(2.0) * d(col("cb")) * d(col("ta")) / denom)
    def snap9(c: Column): Column = floor(c * lit(1e9) + lit(0.5))
    val shared = a.join(b, Seq("token")).filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        snap9(termA + termB).as("term_nano"),
        snap9(d(col("ca")) / d(col("ta"))).as("pa_nano"),
        snap9(d(col("cb")) / d(col("tb"))).as("pb_nano"))
    val sums = shared.groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"), sum("term_nano").as("ts"),
        sum("pa_nano").as("sa"), sum("pb_nano").as("sb"))
    sums.select(col("src_a"), col("src_b"), col("n_shared"),
      (lit(0.5) * (col("ts").cast("double") / lit(1e9))
        + lit(0.5) * log(lit(2.0))
          * ((lit(1e9) - col("sa").cast("double"))
             + (lit(1e9) - col("sb").cast("double"))) / lit(1e9))
        .as("jsd_nats"))
  }

  /** DuckDB twin of [[sourceJsMatrix]] — same matrix, fixed-order
    * term expressions, nano snapping, and final combine. */
  def sourceJsMatrixSql: String = {
    val denom = "(CAST(a.ca AS DOUBLE) * CAST(b.tb AS DOUBLE) + CAST(b.cb AS DOUBLE) * CAST(a.ta AS DOUBLE))"
    val termA = s"(CAST(a.ca AS DOUBLE) / CAST(a.ta AS DOUBLE)) * ln(2.0 * CAST(a.ca AS DOUBLE) * CAST(b.tb AS DOUBLE) / $denom)"
    val termB = s"(CAST(b.cb AS DOUBLE) / CAST(b.tb AS DOUBLE)) * ln(2.0 * CAST(b.cb AS DOUBLE) * CAST(a.ta AS DOUBLE) / $denom)"
    s"""WITH js_mat AS (
       |  SELECT source, token, count(*) AS cnt
       |  FROM (SELECT source, unnest(${wordsReSql("text")}) AS token
       |        FROM documents WHERE source IS NOT NULL)
       |  GROUP BY source, token
       |),
       |js_tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS t
       |           FROM js_mat GROUP BY source),
       |js_m AS (SELECT m.source, m.token, m.cnt, t.t
       |         FROM js_mat m JOIN js_tot t USING (source)),
       |js_shared AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(floor(($termA + $termB) * 1e9 + 0.5) AS BIGINT) AS term_nano,
       |    CAST(floor((CAST(a.ca AS DOUBLE) / CAST(a.ta AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS pa_nano,
       |    CAST(floor((CAST(b.cb AS DOUBLE) / CAST(b.tb AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS pb_nano
       |  FROM (SELECT source, token, cnt AS ca, t AS ta FROM js_m) a
       |  JOIN (SELECT source, token, cnt AS cb, t AS tb FROM js_m) b
       |    USING (token)
       |  WHERE a.source < b.source
       |)
       |SELECT src_a, src_b, count(*) AS n_shared,
       |  0.5 * (CAST(CAST(sum(term_nano) AS BIGINT) AS DOUBLE) / 1e9)
       |    + 0.5 * ln(2.0)
       |      * ((1e9 - CAST(CAST(sum(pa_nano) AS BIGINT) AS DOUBLE))
       |         + (1e9 - CAST(CAST(sum(pb_nano) AS BIGINT) AS DOUBLE))) / 1e9
       |    AS jsd_nats
       |FROM js_shared
       |GROUP BY src_a, src_b""".stripMargin
  }

  /** x92: exact Pearson correlation between document length and quality
    * score — the "are my quality heuristics just measuring length"
    * sanity check every filter stack owes itself before gating on a
    * composite score (a |r| near 1 means the quality model adds nothing
    * over a length cut; near 0 means the two gates are independent).
    *
    * Determinism: per-doc quality snaps to integer micro-units, token
    * counts are integers, so all five moment sums are EXACT BIGINTs
    * (products bounded: q ≤ 1e6, n ≤ 1e6 ⇒ q² ≤ 1e12 per doc — room
    * for 9e6 docs per partition-sum before BIGINT pressure; shard the
    * sums at larger scale). The final r divides the exact sums in
    * fixed double order; sqrt is IEEE-exact. Zero variance on either
    * side yields NULL (guarded — ANSI throws on double division by
    * zero), not a crash.
    *
    * Scale: one narrow projection over the scan + one 1-row aggregate.
    * No shuffle beyond the single-partition combine. */
  def lengthQualityCorr(df: DataFrame): DataFrame = {
    val n = graft.functions.TextExpressions.wsTokenCountFast(col("text"))
      .cast("long")
    val q = floor(qualityScoreCol(col("text")) * lit(1e6) + lit(0.5))
    val sums = df.filter(col("doc_id").isNotNull)
      .select(n.as("n"), q.as("q"))
      .agg(count(lit(1)).as("c"), sum("n").as("sn"), sum("q").as("sq"),
        sum(col("n") * col("q")).as("snq"),
        sum(col("n") * col("n")).as("snn"),
        sum(col("q") * col("q")).as("sqq"))
    val c = col("c").cast("double")
    val sn = col("sn").cast("double")
    val sq = col("sq").cast("double")
    val varN = c * col("snn").cast("double") - sn * sn
    val varQ = c * col("sqq").cast("double") - sq * sq
    sums.select(col("c").as("n_docs"),
      (sn / c).as("mean_tokens"),
      (sq / c / lit(1e6)).as("mean_quality"),
      when(varN > 0 && varQ > 0,
        (c * col("snq").cast("double") - sn * sq)
          / (sqrt(varN) * sqrt(varQ))).as("pearson_r"))
  }

  /** DuckDB twin of [[lengthQualityCorr]] — same snapped moments, same
    * fixed-order combine. */
  def lengthQualityCorrSql: String = {
    val varN = "(CAST(c AS DOUBLE) * CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE))"
    val varQ = "(CAST(c AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))"
    s"""WITH lq_doc AS (
       |  SELECT CAST(len(${wordsReSql("text")}) AS BIGINT) AS n,
       |    CAST(floor((${qualityScoreColSql("text")}) * 1e6 + 0.5) AS BIGINT)
       |      AS q
       |  FROM documents WHERE doc_id IS NOT NULL
       |),
       |lq_sums AS (
       |  SELECT count(*) AS c, CAST(sum(n) AS BIGINT) AS sn,
       |    CAST(sum(q) AS BIGINT) AS sq, CAST(sum(n * q) AS BIGINT) AS snq,
       |    CAST(sum(n * n) AS BIGINT) AS snn, CAST(sum(q * q) AS BIGINT) AS sqq
       |  FROM lq_doc
       |)
       |SELECT c AS n_docs,
       |  CAST(sn AS DOUBLE) / CAST(c AS DOUBLE) AS mean_tokens,
       |  CAST(sq AS DOUBLE) / CAST(c AS DOUBLE) / 1e6 AS mean_quality,
       |  CASE WHEN $varN > 0 AND $varQ > 0 THEN
       |    (CAST(c AS DOUBLE) * CAST(snq AS DOUBLE)
       |       - CAST(sn AS DOUBLE) * CAST(sq AS DOUBLE))
       |    / (sqrt($varN) * sqrt($varQ))
       |  END AS pearson_r
       |FROM lq_sums""".stripMargin
  }

  /** x177: per-source length×quality Pearson — x92 answers "is the
    * quality score just length" for the corpus; per source the answer
    * differs (a code feed's quality legitimately tracks length, a chat
    * feed's should not), and the per-source r is what says WHICH feeds'
    * quality gates are redundant with their length cut. Sources whose
    * variance vanishes on either axis read NULL r, not a crash (ANSI
    * division guard), and |r| comparisons against x92's corpus row
    * localize the correlation.
    *
    * Determinism: the same snapped integer moments as x92 in the same
    * order; per-source sums ride DECIMAL(38,0) (a single source can
    * carry the whole corpus — the 9e6-doc BIGINT headroom x92 documents
    * is per-corpus, not per-group, so the group sums take the wide
    * type and error loudly rather than wrap). The finish divides in
    * fixed double order; sqrt is IEEE-exact.
    *
    * Scale: one narrow projection, ONE map-side-combinable groupBy —
    * a dominant source collapses in the partials — |sources| rows out. */
  def sourceLengthQualityCorr(df: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val n = graft.functions.TextExpressions.wsTokenCountFast(col("text"))
      .cast("long")
    val q = floor(qualityScoreCol(col("text")) * lit(1e6) + lit(0.5))
      .cast("long")
    val sums = df.filter(col("doc_id").isNotNull && col("source").isNotNull)
      .select(col("source"), n.as("n"), q.as("q"))
      .groupBy("source")
      .agg(count(lit(1)).as("c"),
        sum(col("n").cast(dec)).as("sn"), sum(col("q").cast(dec)).as("sq"),
        sum((col("n").cast(dec) * col("q").cast(dec)).cast(dec)).as("snq"),
        sum((col("n").cast(dec) * col("n").cast(dec)).cast(dec)).as("snn"),
        sum((col("q").cast(dec) * col("q").cast(dec)).cast(dec)).as("sqq"))
    val c = col("c").cast("double")
    val sn = col("sn").cast("double")
    val sq = col("sq").cast("double")
    val varN = c * col("snn").cast("double") - sn * sn
    val varQ = c * col("sqq").cast("double") - sq * sq
    sums.select(col("source"), col("c").as("n_docs"),
      (sn / c).as("mean_tokens"),
      (sq / c / lit(1e6)).as("mean_quality"),
      when(varN > 0 && varQ > 0,
        (c * col("snq").cast("double") - sn * sq)
          / (sqrt(varN) * sqrt(varQ))).as("pearson_r"))
  }

  /** DuckDB twin of [[sourceLengthQualityCorr]]. */
  def sourceLengthQualityCorrSql: String = {
    val varN = "(CAST(c AS DOUBLE) * CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE))"
    val varQ = "(CAST(c AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))"
    s"""WITH slq_doc AS (
       |  SELECT source, CAST(len(${wordsReSql("text")}) AS BIGINT) AS n,
       |    CAST(floor((${qualityScoreColSql("text")}) * 1e6 + 0.5) AS BIGINT)
       |      AS q
       |  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
       |),
       |slq_sums AS (
       |  SELECT source, count(*) AS c,
       |    sum(CAST(n AS HUGEINT)) AS sn, sum(CAST(q AS HUGEINT)) AS sq,
       |    sum(CAST(n AS HUGEINT) * q) AS snq,
       |    sum(CAST(n AS HUGEINT) * n) AS snn,
       |    sum(CAST(q AS HUGEINT) * q) AS sqq
       |  FROM slq_doc GROUP BY source
       |)
       |SELECT source, c AS n_docs,
       |  CAST(sn AS DOUBLE) / CAST(c AS DOUBLE) AS mean_tokens,
       |  CAST(sq AS DOUBLE) / CAST(c AS DOUBLE) / 1e6 AS mean_quality,
       |  CASE WHEN $varN > 0 AND $varQ > 0 THEN
       |    (CAST(c AS DOUBLE) * CAST(snq AS DOUBLE)
       |       - CAST(sn AS DOUBLE) * CAST(sq AS DOUBLE))
       |    / (sqrt($varN) * sqrt($varQ))
       |  END AS pearson_r
       |FROM slq_sums""".stripMargin
  }

  /** x94: per-source curation funnel — where each domain's documents
    * die in the gate stack: per source, how many docs pass the quality
    * gate, the length band, exact dedup (first copy of each normalized
    * key survives), and ALL gates together. x30 reports the funnel for
    * the whole corpus; attribution by source is what turns a shrinking
    * corpus into an actionable acquisition decision ("this feed loses
    * 80% to dedup, that one to quality").
    *
    * Determinism: gates are integer/snapped comparisons; dedup
    * survivorship is "doc_id == min(doc_id) of its content_hash" — a
    * total order. Counts are exact.
    *
    * Scale: survivorship rides a map-side-combinable
    * `groupBy(content_hash).min(doc_id)` joined back onto the narrow
    * projection (AQE-skew-splittable) — a rank-1 window over the dedup
    * key buffered a viral cluster in one task with no mitigation, the
    * round-11 `weak` shape — then the small per-source aggregate. */
  def sourceFunnel(df: DataFrame, minQuality: Double = 0.5,
                   minTokens: Long = 10, maxTokens: Long = 500): DataFrame = {
    val n = graft.functions.TextExpressions.wsTokenCountFast(col("text"))
      .cast("long")
    val qMicro = floor(qualityScoreCol(col("text")) * lit(1e6) + lit(0.5))
    val scored = df.filter(col("doc_id").isNotNull && col("source").isNotNull)
      .select(col("source"), col("doc_id"),
        graft.operators.DedupOps.normalizedKey(col("text")).as("content_hash"),
        qMicro.as("q_micro"), n.as("n_tokens"))
    val minDoc = scored.groupBy("content_hash")
      .agg(min(col("doc_id")).as("__min_doc"))
    val qMin = math.floor(minQuality * 1e6 + 0.5).toLong
    scored.join(minDoc, Seq("content_hash"))
      .withColumn("pass_dedup",
        (col("doc_id") === col("__min_doc")).cast("long"))
      .select(col("source"),
        (col("q_micro") >= qMin).cast("long").as("pass_quality"),
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
          .cast("long").as("pass_length"),
        col("pass_dedup"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("pass_quality").as("pass_quality"),
        sum("pass_length").as("pass_length"),
        sum("pass_dedup").as("pass_dedup"),
        sum(col("pass_quality") * col("pass_length") * col("pass_dedup"))
          .as("pass_all"))
  }

  /** DuckDB twin of [[sourceFunnel]]. */
  def sourceFunnelSql(minQuality: Double = 0.5,
                      minTokens: Long = 10, maxTokens: Long = 500): String = {
    val key = s"md5(array_to_string(list_sort(list_distinct(${wordsReSql("text")})), ' '))"
    val qMin = math.floor(minQuality * 1e6 + 0.5).toLong
    s"""WITH sf_doc AS (
       |  SELECT source, doc_id, $key AS content_hash,
       |    CAST(floor((${qualityScoreColSql("text")}) * 1e6 + 0.5) AS BIGINT)
       |      AS q_micro,
       |    CAST(len(${wordsReSql("text")}) AS BIGINT) AS n_tokens
       |  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
       |),
       |sf_flags AS (
       |  SELECT source,
       |    CASE WHEN q_micro >= $qMin THEN 1 ELSE 0 END AS pass_quality,
       |    CASE WHEN n_tokens >= $minTokens AND n_tokens <= $maxTokens
       |         THEN 1 ELSE 0 END AS pass_length,
       |    CASE WHEN row_number() OVER (PARTITION BY content_hash
       |           ORDER BY doc_id) = 1 THEN 1 ELSE 0 END AS pass_dedup
       |  FROM sf_doc
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(pass_quality) AS BIGINT) AS pass_quality,
       |  CAST(sum(pass_length) AS BIGINT) AS pass_length,
       |  CAST(sum(pass_dedup) AS BIGINT) AS pass_dedup,
       |  CAST(sum(pass_quality * pass_length * pass_dedup) AS BIGINT)
       |    AS pass_all
       |FROM sf_flags GROUP BY source""".stripMargin
  }

  /** x44: length gate by corpus profile — keep documents inside their
    * language's (p10, p90] token-length band, with the band computed
    * from the corpus itself ([[lengthQuantiles]]' exact rank-based
    * quantiles). The composed "filter by a corpus statistic" op every
    * curation run performs; the quantile table is tiny (one row per
    * language) and broadcasts. */
  def lengthGate(df: DataFrame,
                 lo: (String, Double) = "p10" -> 0.10,
                 hi: (String, Double) = "p90" -> 0.90): DataFrame = {
    val bands = lengthQuantiles(df, Seq(lo, hi))
      .select(col("lang"), col(lo._1), col(hi._1))
    val toks = df.select(col("lang"), col("doc_id"),
      graft.functions.TextExpressions.wsTokenCountFast(col("text"))
        .cast("long").as("n"))
    toks.join(broadcast(bands), "lang")
      .filter(col("n") > col(lo._1) && col("n") <= col(hi._1))
      .select("doc_id", "lang", "n")
  }

  def lengthGateSql(lo: (String, Double) = "p10" -> 0.10,
                    hi: (String, Double) = "p90" -> 0.90): String =
    s"""WITH q AS (
       |${lengthQuantilesSql(Seq(lo, hi))}
       |), toks AS (
       |  SELECT lang, doc_id, CAST(len(${wordsReSql("text")}) AS BIGINT) AS n
       |  FROM documents
       |)
       |SELECT doc_id, toks.lang, n
       |FROM toks JOIN q ON toks.lang = q.lang
       |WHERE n > q.${lo._1} AND n <= q.${hi._1}""".stripMargin

  /** x46: vocabulary induction + OOV coverage — the accounting step of
    * tokenizer/vocab construction: the vocabulary is every term whose
    * document frequency reaches `minDf`, and each document reports how
    * many of its token OCCURRENCES fall outside it. High OOV flags docs
    * a fixed vocab would shred into bytes/unknowns.
    *
    * Shape: one explode feeding two aggregations — document frequency
    * (distinct (doc, term) then count per term) and the per-doc token
    * scan — joined on the term. Both joins/aggs key on the TERM, so the
    * shuffle spreads by vocabulary, not by document size; nothing is
    * collected to the driver and the vocab itself never needs to fit
    * anywhere whole (at 100 TB it is just another keyed relation — a
    * broadcast is an optional optimization when minDf prunes hard). */
  def vocabCoverage(df: DataFrame, minDf: Long = 5,
                    text: Column = col("text")): DataFrame = {
    val tok = df.select(col("doc_id"), explode(words(text)).as("w"))
    val vocab = tok.select("doc_id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("df_docs"))
      .filter(col("df_docs") >= minDf)
      .select(col("w"), lit(true).as("in_vocab"))
    tok.join(vocab, Seq("w"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("oov_tokens"),
        (col("oov_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("oov_ratio"))
  }

  def vocabCoverageSql(minDf: Long = 5): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents
       |), v AS (
       |  SELECT w FROM (SELECT DISTINCT doc_id, w FROM tok)
       |  GROUP BY w HAVING count(*) >= $minDf
       |)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
       |  CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_ratio
       |FROM tok LEFT JOIN v ON tok.w = v.w
       |GROUP BY doc_id""".stripMargin

  /** Approximate term-frequency sketch — the 100 TB path for
    * heavy-hitter term statistics (x36/x43 compute exact counts, fine
    * while the distinct-term relation fits a shuffle; at corpus scale a
    * mergeable Count-Min sketch replaces the term groupBy the way
    * `approx_percentile` replaces x32's rank windows — built map-side
    * per partition and merged, one pass, O(1/eps) memory). Estimates
    * only ever OVERcount (classic CMS guarantee: true <= est <=
    * true + eps·N with prob. `confidence`) — `TermSketchSpec` in
    * ChunkingOpsSpec pins both bounds against the exact counts. */
  def termSketch(df: DataFrame, eps: Double = 0.001,
                 confidence: Double = 0.99, seed: Int = 42,
                 text: Column = col("text")): org.apache.spark.util.sketch.CountMinSketch =
    df.select(explode(words(text)).as("w"))
      .stat.countMinSketch("w", eps, confidence, seed)

  /** x48: winnowing fingerprints (the MOSS local-fingerprint scheme,
    * Schleimer/Wilkerson/Aiken 2003): hash every character k-gram, slide
    * a window of `w` consecutive k-gram hashes, select each window's
    * MINIMUM, and keep the distinct selections. Guarantees: any shared
    * substring of length >= w+k-1 yields at least one shared
    * fingerprint, and selection density is ~2/(w+1) — positional
    * robustness that whole-doc and bag-of-words hashes lack.
    *
    * Emitted as (doc_id, n_fingerprints, fp_hash) where fp_hash is the
    * md5 of the sorted distinct fingerprint list — compact gate
    * evidence that the SELECTION matched, not just its size. Pure
    * narrow projection (per-row generated index sequences, no explode,
    * no shuffle): map-side at scan speed at any corpus size. */
  /** The winnowing SELECTION itself: `(doc_id, selected: array<long>)`
    * of distinct chosen fingerprints — the shared base of the x48
    * summary and the x55 match report. Computed by the native one-pass
    * [[graft.functions.WinnowExpressions.winnowSelect]] expression: the
    * declarative HOF form ([[winnowingSelectionsHof]], kept as the
    * spec-pinned semantic reference) is an optimizer trap — a
    * single-reference consumer (x55's explode) lets CollapseProject
    * inline the gram pipeline into the lambda where it re-evaluates PER
    * WINDOW, O(L²) md5s per doc. */
  def winnowingSelections(df: DataFrame, k: Int = 5, w: Int = 4,
                          text: Column = col("text")): DataFrame =
    df.select(col("doc_id"),
      graft.functions.WinnowExpressions.winnowSelect(text, k, w).as("selected"))

  /** Declarative reference formulation of [[winnowingSelections]] — the
    * documented/oracle semantics, byte-compared by WinnowParitySpec. Do
    * NOT use in query paths (see the evaluation-shape note above). */
  def winnowingSelectionsHof(df: DataFrame, k: Int = 5, w: Int = 4,
                             text: Column = col("text")): DataFrame = {
    val t = trim(text)
    val nGrams = greatest(length(t) - (k - 1), lit(1))
    val gramsExpr = transform(sequence(lit(1), nGrams),
      i => HashFunctions.polyHash52(t.substr(i, lit(k))))
    val base = df.select(col("doc_id"), gramsExpr.as("grams"))
    val nWins = greatest(size(col("grams")) - (w - 1), lit(1))
    base.select(col("doc_id"),
      array_distinct(transform(sequence(lit(1), nWins),
        i => array_min(slice(col("grams"), i, lit(w))))).as("selected"))
  }

  def winnowingFingerprints(df: DataFrame, k: Int = 5, w: Int = 4,
                            text: Column = col("text")): DataFrame =
    winnowingSelections(df, k, w, text).select(col("doc_id"),
      size(col("selected")).as("n_fingerprints"),
      // sort NUMERICALLY, then render: both engines join the same
      // decimal strings in the same order (concat_ws needs strings)
      md5(concat_ws(",", transform(array_sort(col("selected")), _.cast("string"))))
        .as("fp_hash"))

  /** x55: the MOSS match report — cross-doc UNALIGNED passage matches.
    * Two docs share a winnowing fingerprint iff they share a substring
    * of length >= w+k-1 at ANY offsets (no block alignment needed — the
    * gap x42's fixed-stride passage report leaves open). Pairs meet on a
    * fingerprint EQUI-JOIN (bucketed by fingerprint — never all-pairs),
    * and fingerprints carried by more than `maxDf` docs are dropped
    * first: the standard MOSS boilerplate guard, which also bounds the
    * join's per-key fan-out (≤ maxDf² pairs per fingerprint) at any
    * corpus size. Returns `(doc_a, doc_b, shared_fps)` with
    * `shared_fps >= minShared`. */
  def winnowingMatches(df: DataFrame, k: Int = 5, w: Int = 4,
                       minShared: Long = 2, maxDf: Long = 20,
                       text: Column = col("text"),
                       state: DedupOps.IterState = DedupOps.Local): DataFrame = {
    // The fingerprint rows feed THREE consumers (df-guard, both self-join
    // sides); unpinned, each re-runs the per-gram digest pipeline. Pin
    // once — 2 longs per fp row, executor-memory bounded (pass
    // DedupOps.Reliable for a checkpoint-dir-backed pin at corpus
    // scale). Fan the digest work out first when the source arrives
    // under-partitioned (the small-file case: one parquet block would
    // otherwise serialize all hashing on one core). The probe reads the
    // source's reported file list — never df.rdd, which would force
    // eager physical planning outside AQE at construction time.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val nFiles = df.inputFiles.length
    val src = if (nFiles > 0 && nFiles < par) df.repartition(par) else df
    val fps = state.pin(winnowingSelections(src, k, w, text)
      .select(col("doc_id"), explode(col("selected")).as("fp")))
    // One groupBy(fp) produces BOTH the df guard and the in-group pair
    // expansion — a self-join would shuffle-sort the fp rows twice more.
    // The doc list per fingerprint is sorted, so nested transforms emit
    // each (a < b) pair exactly once; fan-out is bounded by the df guard
    // (≤ maxDf·(maxDf−1)/2 pairs per fingerprint). `ds` is an attribute,
    // so the lambdas index a materialized array (no re-evaluation trap).
    val pairs = fps.groupBy(col("fp"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) <= maxDf && size(col("ds")) >= 2)
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))), y =>
          struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
    pairs.groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Shared `g`/`sel` CTE pair of the winnowing twins (no leading WITH). */
  private def winnowingSelSqlCtes(k: Int, w: Int): String =
    s"""g AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, greatest(length(trim(text)) - ${k - 1}, 1)),
       |      i -> ${HashFunctions.polyHash52Sql(s"substr(trim(text), i, $k)")}) AS grams
       |  FROM documents
       |), sel AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      generate_series(1, greatest(len(grams) - ${w - 1}, 1)),
       |      i -> list_min(grams[i : i + ${w - 1}]))) AS fps
       |  FROM g
       |)""".stripMargin

  def winnowingFingerprintsSql(k: Int = 5, w: Int = 4): String =
    s"""WITH ${winnowingSelSqlCtes(k, w)}
       |SELECT doc_id, CAST(len(fps) AS INT) AS n_fingerprints,
       |  md5(array_to_string(list_sort(fps), ',')) AS fp_hash
       |FROM sel""".stripMargin

  /** DuckDB twin of [[winnowingMatches]]. */
  def winnowingMatchesSql(k: Int = 5, w: Int = 4,
                          minShared: Long = 2, maxDf: Long = 20): String =
    s"""WITH ${winnowingSelSqlCtes(k, w)},
       |fp_rows AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
       |keep AS (SELECT fp FROM fp_rows GROUP BY fp HAVING count(*) <= $maxDf),
       |rare AS (SELECT f.doc_id, f.fp FROM fp_rows f SEMI JOIN keep USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
       |FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared""".stripMargin

  /** Document fingerprints: a bag-of-words canonical hash (order-
    * independent — catches shuffled near-dups) and a min-shingle rolling
    * hash (winnowing-style, robust to small edits). */
  def fingerprints(df: DataFrame, text: Column = col("text")): DataFrame = {
    val canonical = concat_ws(" ", array_sort(array_distinct(words(text))))
    df.select(col("doc_id"),
      HashFunctions.hash60(canonical).as("bow_fingerprint"),
      minShingleHash(text).as("min_shingle_hash"))
  }

  /** Min over polyHash52 of all character 5-grams — the "rolling hash"
    * fingerprint. Native one-pass expression (one multiply-add per char;
    * the HOF form paid an md5 digest per character and re-evaluated
    * `trim` per element — the honest bit_xor bench sink exposed it at
    * 3.0 s where the overflow-truncated sink had reported 0.17 s). */
  def minShingleHash(text: Column, n: Int = 5): Column =
    graft.functions.WinnowExpressions.minGramHash(text, n)

  /** The declarative HOF reference of [[minShingleHash]] — parity target
    * for WinnowParitySpec, not the hot path (per-element `trim`
    * re-evaluation, see the no-hoisting trap). */
  def minShingleHashHof(text: Column, n: Int = 5): Column = {
    val t = trim(text)
    val idx = sequence(lit(1), greatest(length(t) - (n - 1), lit(1)))
    array_min(transform(idx, i => HashFunctions.polyHash52(t.substr(i, lit(n)))))
  }

  def fingerprintsSql: String =
    s"""WITH grams AS (
       |  -- per-row generate_series: unbounded in document length, same as
       |  -- the Spark side's one-pass native expression (no range cap)
       |  SELECT doc_id, min(${HashFunctions.polyHash52Sql("substr(trim(text), i, 5)")}) AS min_shingle_hash
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(1, greatest(length(trim(text)) - 4, 1))) AS i
       |        FROM documents)
       |  GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |  ${HashFunctions.hash60Sql("array_to_string(list_sort(list_distinct(string_split(trim(d.text), ' '))), ' ')")} AS bow_fingerprint,
       |  g.min_shingle_hash
       |FROM documents d JOIN grams g ON d.doc_id = g.doc_id""".stripMargin
}
