package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TextOps.words

/** Exact duplicated-substring detection — the span-level dedup pass of
  * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
  * Better"): whole-document dedup misses documents that share long runs
  * of identical text inside otherwise-distinct pages (licenses, navboxes,
  * quoted boilerplate), so the pipeline finds every w-token window whose
  * content appears in two or more distinct documents and cuts the merged
  * spans out of each.
  *
  * The paper builds a corpus-global suffix array — inherently
  * single-machine. The Spark-distributable equivalent used here is
  * stride-1 window hashing: every w-token window becomes one
  * (doc, position, content-hash) row; a hash held by ≥2 distinct docs
  * marks its windows duplicated; per document, overlapping or adjacent
  * duplicated windows merge into maximal spans with one
  * gaps-and-islands window pass. Any cross-document duplicated run of
  * length ≥ w is found exactly (it contains a full window in each doc);
  * runs shorter than w are below the cut threshold by design.
  *
  * Scale shape: the window relation is the corpus × ~1 row per token —
  * large but narrow (pos + 32-byte hash), aggregated immediately by
  * content hash (the only corpus-sized shuffle, evenly spread by
  * construction), then joined back and windowed per doc_id. Nothing
  * quadratic, no driver state. Production swaps the oracle-portable md5
  * for `xxhash64` and drops the hash width to 8 bytes.
  */
object SubstringOps {

  /** One row per w-token window: (doc_id, pos, whash), pos 1-based.
    * Docs shorter than w tokens yield no windows (explode of the null
    * `when` branch emits nothing — no pushdown-prone pre-filter). The
    * token array is materialized once per row and referenced three
    * times (guard, sequence bound, slice), so CollapseProject keeps the
    * projection boundary and the text is tokenized once.
    *
    * `fastHash` (round 18, guide §2.3 narrower types + §1.2 per-task
    * work): consumers whose whash is INTERNAL — equality classes only,
    * never output, never persisted — take `xxhash64` chained over the
    * w tokens (one LongType column) instead of `md5(array_join(...))`
    * (a 32-char hex string): no per-window gram-string allocation, no
    * crypto digest, and the whash-keyed exchange — the one corpus-sized
    * shuffle every consumer has — carries 8 bytes instead of 32+.
    * Per-element seed chaining is boundary-unambiguous (("ab","c") and
    * ("a","bc") hash differently), so no separator is needed. Results
    * are identical as long as the hash is injective on the corpus's
    * window set (birthday bound ~n²/2⁶⁵: ~10⁻⁷ at sf0.1's ~10⁶ windows;
    * at 10¹³ windows expect a few thousand colliding pairs — for span/
    * contamination REPORTS that is noise of the order production 64-bit
    * fingerprints already accept; the DuckDB twins keep md5, so every
    * driver SF proves the equality end-to-end). Consumers whose hash IS
    * the contract — x95's report column, the SpanIndex persisted
    * postings — stay on md5. */
  private[graft] def windows(df: DataFrame, w: Int, text: Column,
                             keyNames: Seq[String] = Seq("doc_id"),
                             fastHash: Boolean = false): DataFrame = {
    val ws = col("ws")
    val keys = keyNames.map(col)
    if (fastHash) {
      // round 18 second pass (guide §4): the HOF-lambda formulation
      // (`transform(sequence(…), i -> xxhash64(element_at…))`) is
      // evaluated INTERPRETED per window — the native expression
      // computes the identical chained-xxhash64 array in one compiled
      // pass per row (WindowHashParitySpec pins value equality)
      df.select(keys :+ words(text).as("ws"): _*)
        .select(keys :+ posexplode(
          graft.functions.TextExpressions.windowHashes(ws, w))
          .as(Seq("p0", "whash")): _*)
        .select(keys ++ Seq((col("p0") + 1).cast("long").as("pos"),
          col("whash")): _*)
    } else {
      def whashOf(i: Column): Column = md5(array_join(slice(ws, i, lit(w)), " "))
      val win = explode(when(size(ws) >= w,
        transform(sequence(lit(1), size(ws) - (w - 1)), i =>
          struct(i.cast("long").as("pos"), whashOf(i).as("whash")))))
      df.select(keys :+ words(text).as("ws"): _*)
        .select(keys :+ win.as("wn"): _*)
        .select(keys ++ Seq(col("wn.pos"), col("wn.whash")): _*)
    }
  }

  /** The HOF-lambda reference of the fastHash window kernel — parity
    * target for WindowHashParitySpec, not a query path. */
  private[graft] def windowsFastHof(df: DataFrame, w: Int, text: Column)
      : DataFrame = {
    val ws = col("ws")
    val win = explode(when(size(ws) >= w,
      transform(sequence(lit(1), size(ws) - (w - 1)), i =>
        struct(i.cast("long").as("pos"),
          xxhash64((0 until w).map(j => element_at(ws, i + j)): _*)
            .as("whash")))))
    df.select(col("doc_id"), words(text).as("ws"))
      .select(col("doc_id"), win.as("wn"))
      .select(col("doc_id"), col("wn.pos"), col("wn.whash"))
  }

  /** x72: maximal duplicated spans per document. A window is duplicated
    * when its content occurs in ≥2 DISTINCT documents (within-doc
    * repetition alone does not count — that is x34's repetition signal);
    * sorted duplicated start positions merge into one span while each
    * consecutive gap is ≤ w (start `p` covers tokens [p, p+w−1], so the
    * next window at `p+w` is token-adjacent and still merges). Output:
    * span token range, width, and the number of duplicated windows
    * inside it. All arithmetic is integer — engine-exact. */
  def dupSpans(df: DataFrame, w: Int = 8,
               text: Column = col("text")): DataFrame = {
    val wins = windows(df, w, text, fastHash = true) // whash internal-only
    val shared = wins.select(col("doc_id"), col("whash")).distinct()
      .groupBy("whash").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select("whash")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    wins.join(shared, "whash")
      .select(col("doc_id"), col("pos"))
      .withColumn("brk",
        when(coalesce(col("pos") - lag("pos", 1).over(byDoc), lit(0L)) > w, 1L)
          .otherwise(0L))
      .withColumn("island", sum("brk")
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max("pos") + (w - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"))
  }

  /** DuckDB cost-model query: total w-token window count — the exact
    * mass the [[windows]] md5 kernel processes (x72/x73/x79/x90's cost
    * driver; linear in token mass by construction).
    * tools/scale_smoke.py bounds those queries' time growth by it. */
  def windowMassSql(w: Int = 8): String =
    s"""SELECT CAST(coalesce(sum(greatest(
       |    len(string_split(trim(text), ' ')) - ${w - 1}, 0)), 0) AS BIGINT)
       |  AS mass
       |FROM documents WHERE text IS NOT NULL""".stripMargin

  // Shared CTE block: ss_spans = the x72 result (plus ss_t for reuse).
  // Keep in sync with [[windows]] + [[dupSpans]].
  private def spanCtes(w: Int): String =
    s"""ss_t AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
       |),
       |ss_w AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    md5(array_to_string(ws[i : i + ${w - 1}], ' ')) AS whash
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, len(ws) - ${w - 1})) AS i
       |        FROM ss_t)
       |),
       |ss_shared AS (
       |  SELECT whash FROM (SELECT DISTINCT doc_id, whash FROM ss_w)
       |  GROUP BY whash HAVING count(*) >= 2
       |),
       |ss_i AS (
       |  SELECT doc_id, pos,
       |    sum(CASE WHEN gap > $w THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM (SELECT doc_id, pos,
       |          coalesce(pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0) AS gap
       |        FROM ss_w JOIN ss_shared USING (whash))
       |),
       |ss_spans AS (
       |  SELECT doc_id, min(pos) AS span_start,
       |    max(pos) + ${w - 1} AS span_end,
       |    max(pos) + ${w - 1} - min(pos) + 1 AS span_tokens,
       |    count(*) AS n_windows
       |  FROM ss_i GROUP BY doc_id, island
       |)""".stripMargin

  /** DuckDB twin of [[dupSpans]]. */
  def dupSpansSql(w: Int = 8): String =
    s"""WITH ${spanCtes(w)}
       |SELECT doc_id, span_start, span_end, span_tokens, n_windows
       |FROM ss_spans""".stripMargin

  /** x181: KEEP-FIRST span-dedup bill — x73 cuts duplicated spans from
    * EVERY holder (the symmetric clean, which can destroy the only
    * copies); production exact-substring dedup (Lee et al. 2022,
    * arXiv:2107.06499) keeps one. Policy here: the first DOCUMENT (min
    * doc_id) to carry a window's content keeps it; every occurrence in
    * a LATER document is a dup window, and per document the bill is the
    * token mass under the UNION of its dup windows — overlapping cuts
    * counted once via an ordered sweep (each window's marginal
    * contribution = its end minus the running max end before it,
    * clamped at 0). Within-doc repetition is untouched (min doc_id =
    * the doc itself — that is x34's signal, deliberately not a dedup
    * matter, same separation as x72). One row per doc with ≥1 window:
    * `(doc_id, n_tokens, n_windows, n_dup_windows, tokens_cut,
    * tokens_retained)` — Σ tokens_retained IS the post-dedup corpus
    * size under the keep-first policy, the number the x158 curve's
    * document-level bill cannot give (spans cut within survivors).
    *
    * Scale shape: the one corpus-sized shuffle is the whash-keyed
    * first-occurrence aggregate (map-side combinable — a boilerplate
    * window's million holders collapse in the partials); the sweep is
    * a doc_id-entity window (longest-document bounded); everything
    * else is doc-keyed. Integer arithmetic throughout. */
  def keepFirstSpanBill(df: DataFrame, w: Int = 8,
                        text: Column = col("text")): DataFrame = {
    val wins = graft.core.Memo.pinned(
      windows(df, w, text, fastHash = true)) // whash internal-only
    val first = wins.groupBy("whash").agg(min(col("doc_id")).as("first_doc"))
    val dup = wins.join(first, Seq("whash"))
      .filter(col("doc_id") > col("first_doc"))
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cut = dup
      .withColumn("pme", max(col("pos") + (w - 1)).over(byDoc))
      .select(col("doc_id"),
        greatest(lit(0L), (col("pos") + (w - 1)) -
          greatest(col("pos") - 1, coalesce(col("pme"), lit(0L)))).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("tokens_cut"),
        count(lit(1)).as("n_dup_windows"))
    val nw = wins.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val toks = df.select(col("doc_id"),
      size(words(text)).cast("long").as("n_tokens"))
    nw.join(toks, Seq("doc_id")).join(cut, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("tokens_cut"), lit(0L)).as("tokens_cut"),
        (col("n_tokens") - coalesce(col("tokens_cut"), lit(0L)))
          .as("tokens_retained"))
  }

  /** DuckDB twin of [[keepFirstSpanBill]]. */
  def keepFirstSpanBillSql(w: Int = 8): String =
    s"""WITH ss_t AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
       |),
       |ss_w AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    md5(array_to_string(ws[i : i + ${w - 1}], ' ')) AS whash
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, len(ws) - ${w - 1})) AS i
       |        FROM ss_t)
       |),
       |kf_f AS (
       |  SELECT whash, min(doc_id) AS first_doc FROM ss_w GROUP BY whash
       |),
       |kf_d AS (
       |  SELECT w.doc_id, w.pos
       |  FROM ss_w w JOIN kf_f f USING (whash)
       |  WHERE w.doc_id > f.first_doc
       |),
       |kf_s AS (
       |  SELECT doc_id, pos,
       |    max(pos + ${w - 1}) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
       |  FROM kf_d
       |),
       |kf_cut AS (
       |  SELECT doc_id,
       |    CAST(sum(greatest(0, (pos + ${w - 1})
       |      - greatest(pos - 1, coalesce(pme, 0)))) AS BIGINT)
       |      AS tokens_cut,
       |    CAST(count(*) AS BIGINT) AS n_dup_windows
       |  FROM kf_s GROUP BY doc_id
       |),
       |kf_nw AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
       |  FROM ss_w GROUP BY doc_id
       |),
       |kf_t AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |)
       |SELECT n.doc_id, t.n_tokens, n.n_windows,
       |  coalesce(c.n_dup_windows, 0) AS n_dup_windows,
       |  coalesce(c.tokens_cut, 0) AS tokens_cut,
       |  t.n_tokens - coalesce(c.tokens_cut, 0) AS tokens_retained
       |FROM kf_nw n
       |JOIN kf_t t USING (doc_id)
       |LEFT JOIN kf_cut c USING (doc_id)""".stripMargin

  /** x73: the cleaned corpus — every token covered by a duplicated span
    * is cut, and each document reports its before/after token accounting
    * plus the md5 of the surviving text (compact oracle evidence that
    * the cut itself matched, not just the counts; md5 of the empty
    * string for fully-duplicated docs). Spans never overlap (islands are
    * maximal by construction), so covered positions need no dedup.
    *
    * Shape: spans explode into covered positions (output-sized), the
    * corpus explodes into (doc, pos, token) once, an anti-join keeps
    * uncovered tokens, and a per-doc ordered re-assembly emits the
    * cleaned text hash. The collect_list is per-document — bounded by
    * the longest document, the same envelope every per-doc array op in
    * this engine already lives in. */
  def substringClean(df: DataFrame, w: Int = 8,
                     text: Column = col("text")): DataFrame = {
    val covered = dupSpans(df, w, text).select(col("doc_id"),
      explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val base = df.select(col("doc_id"), words(text).as("ws"))
    val kept = base
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("tok"))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")), " ")).as("clean_hash"))
    base.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L)))
          .as("removed_tokens"),
        coalesce(col("clean_hash"), md5(lit(""))).as("clean_hash"))
  }

  /** x77: cross-source content-overlap matrix — the mirror-feed /
    * syndication diagnostic a multi-source pipeline runs before choosing
    * mixture weights: for every source pair, how many distinct w-token
    * windows they share, plus the containment ratio
    * (shared / min(|A|, |B|) — 1.0 means the smaller source's window set
    * is a subset of the larger's). Exact doc-level overlap misses
    * near-mirrors that rewrap shared text; window-level overlap catches
    * any shared run of ≥ w tokens, the same guarantee as [[dupSpans]].
    *
    * Scale shape: the distinct (source, window-hash) relation is one
    * corpus-sized aggregation; windows held by only one source (the
    * overwhelming majority) drop before the self-join, and a max-df
    * guard (`maxSources`, the x55 winnowing pattern) bounds the
    * remaining per-window pair fan-out at S·(S−1)/2 ≤ maxSources² even
    * when source = web domain and viral boilerplate appears everywhere.
    * Per-source totals broadcast back.
    *
    * No silent caps: the guard's exclusions are REPORTED — every row
    * carries `n_viral_windows`, the count of distinct windows in more
    * than `maxSources` sources that the guard kept out of
    * `shared_windows` (a 1-row broadcast stat off the same per-window
    * aggregate, so the reporting adds no extra corpus pass). 0 means
    * the matrix is exhaustive; anything else tells the reader how much
    * ultra-viral boilerplate the numbers deliberately ignore. */
  def sourceOverlap(df: DataFrame, w: Int = 8, maxSources: Int = 64,
                    text: Column = col("text")): DataFrame = {
    val sw = windows(df.filter(col("source").isNotNull), w, text, Seq("source"),
        fastHash = true) // whash internal-only
      .select(col("source"), col("whash")).distinct()
    val byWindow = sw.groupBy("whash").agg(count(lit(1)).as("n_src"))
    val shared = byWindow
      .filter(col("n_src") >= 2 && col("n_src") <= maxSources)
      .select("whash")
    val viral = byWindow.filter(col("n_src") > maxSources)
      .agg(count(lit(1)).as("n_viral_windows"))
    val swShared = sw.join(shared, "whash")
    val totals = sw.groupBy("source").agg(count(lit(1)).as("n"))
    swShared.as("a")
      .join(swShared.as("b"),
        col("a.whash") === col("b.whash") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared_windows"))
      .join(broadcast(totals.select(col("source").as("src_a"), col("n").as("n_a"))),
        "src_a")
      .join(broadcast(totals.select(col("source").as("src_b"), col("n").as("n_b"))),
        "src_b")
      .crossJoin(broadcast(viral))
      .select(col("src_a"), col("src_b"), col("shared_windows"),
        col("n_a"), col("n_b"),
        (col("shared_windows").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("containment"),
        col("n_viral_windows"))
  }

  /** DuckDB twin of [[sourceOverlap]]. */
  def sourceOverlapSql(w: Int = 8, maxSources: Int = 64): String =
    s"""WITH so_w AS (
       |  SELECT DISTINCT source,
       |    md5(array_to_string(ws[i : i + ${w - 1}], ' ')) AS whash
       |  FROM (SELECT source, ws,
       |          unnest(generate_series(1, len(ws) - ${w - 1})) AS i
       |        FROM (SELECT source, string_split(trim(text), ' ') AS ws
       |              FROM documents WHERE source IS NOT NULL) so_t)
       |),
       |so_sh AS (
       |  SELECT whash FROM so_w
       |  GROUP BY whash HAVING count(*) BETWEEN 2 AND $maxSources
       |),
       |so_f AS (SELECT source, whash FROM so_w JOIN so_sh USING (whash)),
       |so_n AS (SELECT source, count(*) AS n FROM so_w GROUP BY source),
       |so_v AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_viral_windows
       |  FROM (SELECT whash FROM so_w
       |        GROUP BY whash HAVING count(*) > $maxSources)
       |)
       |SELECT a.source AS src_a, b.source AS src_b,
       |  count(*) AS shared_windows,
       |  CAST(max(na.n) AS BIGINT) AS n_a, CAST(max(nb.n) AS BIGINT) AS n_b,
       |  CAST(count(*) AS DOUBLE)
       |    / CAST(least(max(na.n), max(nb.n)) AS DOUBLE) AS containment,
       |  max(v.n_viral_windows) AS n_viral_windows
       |FROM so_f a
       |JOIN so_f b ON a.whash = b.whash AND a.source < b.source
       |JOIN so_n na ON na.source = a.source
       |JOIN so_n nb ON nb.source = b.source
       |CROSS JOIN so_v v
       |GROUP BY a.source, b.source""".stripMargin

  /** x79: n-gram eval-overlap decontamination — the published exact
    * method (GPT-3's 13-gram and PaLM's 8-gram collision checks): a
    * training document is contaminated when ANY of its w-token windows
    * also occurs in the evaluation split. Completes the decontamination
    * family: x28 is whole-doc exact, x40 the Bloom-prefiltered
    * approximation, x39 split leakage — this is the window-exact form,
    * and it reports evidence (hit counts), not just the verdict.
    *
    * Scale shape: THE production decontamination pass — eval windows are
    * a small distinct relation (eval sets are tiny next to the corpus),
    * broadcast against one map-side pass over the training windows; the
    * left-outer hit flag folds into the same per-doc aggregation that
    * counts windows, so the corpus is scanned and tokenized exactly
    * once. Train docs shorter than w tokens carry no windows and drop
    * out (both engines agree). */
  def ngramDecontamination(df: DataFrame, evalPred: Column, w: Int = 8,
                           text: Column = col("text")): DataFrame =
    decontaminationGate(df.filter(!evalPred),
      evalWindows(df.filter(evalPred), w, text), w, text)

  /** The eval side of [[ngramDecontamination]]: the distinct eval-split
    * window hashes, each flagged `__hit = 1`. Computed once from the
    * quarantined eval corpus; the gate broadcasts it. */
  def evalWindows(evalDocs: DataFrame, w: Int = 8,
                  text: Column = col("text")): DataFrame =
    windows(evalDocs, w, text, fastHash = true)
      .select(col("whash")).distinct()
      .select(col("whash"), lit(1).as("__hit"))

  /** The training side of [[ngramDecontamination]]: per document
    * `keyNames` + (n_windows, hit_windows, contaminated) against an
    * [[evalWindows]] table. Docs shorter than w tokens yield no row.
    *
    * The same call gates a stream on arrival: watermark the stream on
    * its event time and carry it in `keyNames` (`Seq("doc_id", "ts")`);
    * the eval table joins stream-static (no join state) and the per-doc
    * re-collapse is an event-time aggregation whose state is
    * O(arrival rate × horizon), emitted in append mode once the
    * watermark passes (the streaming spec pins stream == batch). */
  def decontaminationGate(docs: DataFrame, evalWins: DataFrame, w: Int = 8,
                          text: Column = col("text"),
                          keyNames: Seq[String] = Seq("doc_id")): DataFrame = {
    val keys = keyNames.map(col)
    windows(docs, w, text, keyNames, fastHash = true)
      .join(broadcast(evalWins), Seq("whash"), "left_outer")
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("hit_windows"))
      .select(keys ++ Seq(col("n_windows"), col("hit_windows"),
        when(col("hit_windows") > 0, 1).otherwise(0).as("contaminated")): _*)
  }

  /** DuckDB twin of [[ngramDecontamination]]; `evalPredSql` must mirror
    * the Column predicate over the documents columns. */
  def ngramDecontaminationSql(evalPredSql: String, w: Int = 8): String =
    s"""WITH nd_t AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
       |),
       |nd_w AS (
       |  SELECT doc_id, md5(array_to_string(ws[i : i + ${w - 1}], ' ')) AS whash
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, len(ws) - ${w - 1})) AS i
       |        FROM nd_t)
       |),
       |nd_e AS (SELECT DISTINCT whash FROM nd_w WHERE $evalPredSql)
       |SELECT t.doc_id, count(*) AS n_windows,
       |  CAST(sum(CASE WHEN e.whash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS hit_windows,
       |  CASE WHEN sum(CASE WHEN e.whash IS NOT NULL THEN 1 ELSE 0 END) > 0
       |       THEN 1 ELSE 0 END AS contaminated
       |FROM nd_w t LEFT JOIN nd_e e USING (whash)
       |WHERE NOT ($evalPredSql)
       |GROUP BY t.doc_id""".stripMargin

  /** x165: decontamination yield curve — x79 flags a training doc at ANY
    * eval-window overlap (`hit_windows > 0`), the strictest policy; real
    * pipelines threshold on the CONTAMINATION SHARE (hit windows / total
    * windows) to spare docs that merely quote a benchmark line. This
    * prices every share cutoff in one pass: contaminated docs banded by
    * `(hit_windows·bands) div n_windows` (integer-exact, clamp to the top
    * band at share 1.0); per band — doc count, their token mass, and
    * their hit-window mass. Cumulative sums from the top band are exactly
    * the removal bill at each share threshold (each doc sits in exactly
    * one band: its own share); the table total is x79's strict policy.
    *
    * Scale shape: the same windows kernel + broadcast eval anti-join as
    * x79 (the one corpus-scale cost, already profiled), then a doc-keyed
    * equi-join onto the narrow token projection and a ≤bands-row
    * aggregate — no new shuffle class, no window anywhere. */
  def decontaminationYield(df: DataFrame, evalPred: Column, w: Int = 8,
                           bands: Int = 20): DataFrame = {
    require(bands >= 2 && bands <= 1000, s"bands=$bands")
    val toks = df.select(col("doc_id"),
      coalesce(graft.functions.TextExpressions.wsTokenCountFast(col("text"))
        .cast("long"), lit(0L)).as("tok"))
    import graft.functions.EdgeLadder
    ngramDecontamination(df, evalPred, w)
      .filter(col("hit_windows") > 0)
      .select(col("doc_id"), col("hit_windows"),
        expr(EdgeLadder.ratioBandSqlExpr("hit_windows", "n_windows", bands))
          .as("band"))
      .join(toks, Seq("doc_id"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("doc_tokens"),
        sum(col("hit_windows")).as("hit_windows"))
      .select(col("band"),
        expr(EdgeLadder.bandLoPpmExpr(bands)).as("share_lo_ppm"),
        col("n_docs"), col("doc_tokens"), col("hit_windows"))
  }

  /** DuckDB twin of [[decontaminationYield]]. */
  def decontaminationYieldSql(evalPredSql: String, w: Int = 8,
                              bands: Int = 20): String =
    s"""WITH dy_d AS (
       |${ngramDecontaminationSql(evalPredSql, w)}
       |),
       |dy_b AS (
       |  SELECT doc_id, hit_windows,
       |    ${graft.functions.EdgeLadder.ratioBandDuck(
            "hit_windows", "n_windows", bands)} AS band
       |  FROM dy_d WHERE hit_windows > 0
       |),
       |dy_t AS (
       |  SELECT doc_id,
       |    coalesce(CAST(len(${graft.operators.TextOps.wordsReSql("text")})
       |      AS BIGINT), 0) AS tok
       |  FROM documents
       |)
       |SELECT CAST(band AS BIGINT) AS band,
       |  ${graft.functions.EdgeLadder.bandLoPpmDuck(bands)} AS share_lo_ppm,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(tok) AS BIGINT) AS doc_tokens,
       |  CAST(sum(hit_windows) AS BIGINT) AS hit_windows
       |FROM dy_b JOIN dy_t USING (doc_id)
       |GROUP BY band""".stripMargin

  /** x95: top boilerplate windows — the most document-frequent w-gram
    * windows, WITH their text: the "these are the footer lines / cookie
    * banners to strip" report that turns x72's anonymous duplicated
    * spans into an actionable removal list. Ranked by document
    * frequency (occurrence count kept for context), ties by hash.
    *
    * Scale shape (deliberately two-phase): phase 1 shuffles only the
    * 16-byte window HASH to count df/occurrences and cut top-K —
    * shuffling the gram text itself would inflate the exchange by
    * w tokens per window corpus-wide. Phase 2 re-scans, filters
    * map-side against the broadcast top-K hashes, and recovers one
    * example text per hash (they are all equal md5 preimages modulo
    * collisions) — the same re-scan-beats-materialize call x77 makes.
    * All counts exact integers. */
  def topBoilerplate(df: DataFrame, w: Int = 8, k: Int = 20,
                     text: Column = col("text")): DataFrame = {
    val top = windows(df, w, text)
      .select(col("doc_id"), col("whash"))
      .groupBy("whash")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct("doc_id").as("n_docs"))
      .orderBy(col("n_docs").desc, col("whash"))
      .limit(k)
    val ws = col("ws")
    val grams = df.select(words(text).as("ws"))
      .select(explode(when(size(ws) >= w,
        transform(sequence(lit(1), size(ws) - (w - 1)), i =>
          array_join(slice(ws, i, lit(w)), " ")))).as("gram"))
      .select(md5(col("gram")).as("whash"), col("gram"))
    grams.join(broadcast(top), "whash")
      .groupBy("whash", "n_docs", "n_occurrences")
      .agg(min("gram").as("gram"))
      .select(col("whash"), col("gram"), col("n_docs"), col("n_occurrences"))
  }

  /** DuckDB twin of [[topBoilerplate]]. */
  def topBoilerplateSql(w: Int = 8, k: Int = 20): String =
    s"""WITH tb_t AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
       |),
       |tb_w AS (
       |  SELECT doc_id, array_to_string(ws[i : i + ${w - 1}], ' ') AS gram
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, len(ws) - ${w - 1})) AS i
       |        FROM tb_t)
       |),
       |tb_top AS (
       |  SELECT md5(gram) AS whash, count(*) AS n_occurrences,
       |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM tb_w GROUP BY md5(gram)
       |  ORDER BY n_docs DESC, whash LIMIT $k
       |)
       |SELECT t.whash, min(w.gram) AS gram, t.n_docs, t.n_occurrences
       |FROM tb_w w JOIN tb_top t ON md5(w.gram) = t.whash
       |GROUP BY t.whash, t.n_docs, t.n_occurrences""".stripMargin

  /** x90: contamination RUN profile — x79 says WHETHER a training doc
    * collides with the eval split; this says HOW BADLY: the longest
    * contiguous token run covered by eval-shared windows, per training
    * doc. An isolated w-gram hit is incidental vocabulary; a 200-token
    * run is a copied eval item — the number that decides drop-the-doc
    * vs cut-the-span (x73) during decontamination.
    *
    * Shape: ONE pass over the training windows (the expensive per-window
    * md5 evaluates once): flag eval-shared windows via the broadcast
    * eval set, then a single doc-partition window computes each hit's
    * distance to the previous hit ("last hit pos" over the unbounded
    * preceding frame — lag can't skip the non-hit rows in between) and
    * gaps > w break islands, exactly the x72 merge rule. Non-hit rows
    * ride along with island-group counts so per-doc totals come from
    * the same aggregation — no second window pass, no self-join.
    * All arithmetic integer — engine-exact. */
  def contaminationRuns(df: DataFrame, evalPred: Column, w: Int = 8,
                        text: Column = col("text")): DataFrame = {
    val evalWins = windows(df.filter(evalPred), w, text, fastHash = true)
      .select(col("whash")).distinct()
      .select(col("whash"), lit(1).as("__hit"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val flagged = windows(df.filter(!evalPred), w, text, fastHash = true)
      .join(broadcast(evalWins), Seq("whash"), "left_outer")
      .select(col("doc_id"), col("pos"),
        when(col("__hit").isNotNull, 1L).otherwise(0L).as("hit"))
    val lastHit = max(when(col("hit") === 1, col("pos")))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val runs = flagged
      .withColumn("brk",
        when(col("hit") === 1 &&
          coalesce(col("pos") - lastHit > w, lit(true)), 1L).otherwise(0L))
      .withColumn("island", sum("brk")
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(count(lit(1)).as("total_w"),
        sum("hit").as("nw"),
        min(when(col("hit") === 1, col("pos"))).as("rs"),
        max(when(col("hit") === 1, col("pos"))).as("re"))
    runs.groupBy("doc_id")
      .agg(sum("total_w").as("n_windows"),
        sum("nw").as("hit_windows"),
        count(when(col("nw") > 0, lit(1))).as("n_runs"),
        coalesce(max(when(col("nw") > 0, col("re") - col("rs") + w)), lit(0L))
          .as("max_run_tokens"))
  }

  /** DuckDB twin of [[contaminationRuns]]. */
  def contaminationRunsSql(evalPredSql: String, w: Int = 8): String =
    s"""WITH cr_t AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
       |),
       |cr_w AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    md5(array_to_string(ws[i : i + ${w - 1}], ' ')) AS whash
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, len(ws) - ${w - 1})) AS i
       |        FROM cr_t)
       |),
       |cr_e AS (SELECT DISTINCT whash FROM cr_w WHERE $evalPredSql),
       |cr_f AS (
       |  SELECT t.doc_id, t.pos,
       |    CASE WHEN e.whash IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM cr_w t LEFT JOIN cr_e e USING (whash)
       |  WHERE NOT ($evalPredSql)
       |),
       |cr_b AS (
       |  SELECT doc_id, pos, hit,
       |    CASE WHEN hit = 1 AND coalesce(pos - max(CASE WHEN hit = 1 THEN pos END)
       |        OVER (PARTITION BY doc_id ORDER BY pos
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > $w,
       |      TRUE) THEN 1 ELSE 0 END AS brk
       |  FROM cr_f
       |),
       |cr_i AS (
       |  SELECT doc_id, pos, hit,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS island
       |  FROM cr_b
       |),
       |cr_runs AS (
       |  SELECT doc_id, island, count(*) AS total_w,
       |    CAST(sum(hit) AS BIGINT) AS nw,
       |    min(CASE WHEN hit = 1 THEN pos END) AS rs,
       |    max(CASE WHEN hit = 1 THEN pos END) AS re
       |  FROM cr_i GROUP BY doc_id, island
       |)
       |SELECT doc_id, CAST(sum(total_w) AS BIGINT) AS n_windows,
       |  CAST(sum(nw) AS BIGINT) AS hit_windows,
       |  CAST(count(CASE WHEN nw > 0 THEN 1 END) AS BIGINT) AS n_runs,
       |  CAST(coalesce(max(CASE WHEN nw > 0 THEN re - rs + $w END), 0) AS BIGINT)
       |    AS max_run_tokens
       |FROM cr_runs GROUP BY doc_id""".stripMargin

  /** DuckDB twin of [[substringClean]]. */
  def substringCleanSql(w: Int = 8): String =
    s"""WITH ${spanCtes(w)},
       |ss_cov AS (
       |  SELECT doc_id, unnest(generate_series(span_start, span_end)) AS pos
       |  FROM ss_spans
       |),
       |ss_tok AS (
       |  SELECT doc_id, CAST(unnest(generate_series(1, len(ws))) AS BIGINT) AS pos,
       |    unnest(ws) AS tok
       |  FROM ss_t
       |),
       |ss_kept AS (
       |  SELECT t.doc_id, count(*) AS kept_tokens,
       |    md5(array_to_string(list(t.tok ORDER BY t.pos), ' ')) AS clean_hash
       |  FROM ss_tok t ANTI JOIN ss_cov c
       |    ON t.doc_id = c.doc_id AND t.pos = c.pos
       |  GROUP BY t.doc_id
       |)
       |SELECT b.doc_id, CAST(len(b.ws) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       |  CAST(len(b.ws) - coalesce(k.kept_tokens, 0) AS BIGINT) AS removed_tokens,
       |  coalesce(k.clean_hash, md5('')) AS clean_hash
       |FROM ss_t b LEFT JOIN ss_kept k USING (doc_id)""".stripMargin
}
