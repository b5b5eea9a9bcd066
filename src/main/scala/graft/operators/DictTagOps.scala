package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{AcDict, AcExpressions}

/** Dictionary tagging over the corpus — the blocklist / PII-lexicon /
  * taxonomy audit: for every term of a fixed lexicon, how many
  * documents contain it and how often it occurs, counting every
  * starting position (overlapping included; exact contract at
  * [[graft.functions.AcUtils]]).
  *
  * Scale shape: ONE automaton pass per document
  * ([[graft.functions.AcExpressions.acTermCounts]] — O(bytes) whatever
  * the dictionary size, vs |D| text re-scans for a per-term
  * `regexp_count` pipeline), producing the DENSE per-term count
  * vector; the explode is therefore |D| rows per document regardless
  * of match volume, and the aggregate shuffles |D| keys with map-side
  * partials. Absent terms keep their zero row because every document
  * emits every term id — no terms-relation join-back anywhere. The
  * DuckDB twin evaluates the positional definition directly
  * (substr-equality over every start position), so the gate's hash
  * equality is the automaton's correctness proof against the naive
  * O(|D|·L²) form. */
object DictTagOps {

  /** The gate lexicon: corpus-vocabulary terms chosen to exercise the
    * automaton — nested terms (`can`⊂`scan`, `tab`/`able`⊂`table`,
    * `win`⊂`window`, `at`⊂`data`/`batch`), a self-overlapping
    * multi-word term (`a a`, two occurrences in `a a a`), single-byte
    * hot terms, cross-token phrases, and one absent term (`zebra`,
    * pinning the zero row). */
  val gateTerms: Seq[String] = Seq(
    "scan", "can", "a", "a a", "table", "tab", "able", "fast sort",
    "sort", "stream", "data", "at", "merge batch", "window", "win",
    "zebra")

  /** x143: per-term corpus tally `(term_id, term, n_docs, n_occ)` —
    * one row per dictionary term, zeros preserved.
    *
    * The same call on a stream keeps the tallies live: one stateful
    * sum-aggregation, |D| rows of two longs of state, no watermark, and
    * absent terms hold their zero rows from the first document on. Both
    * tallies are SUMS, so the live table equals the batch one on every
    * arrival prefix (the streaming spec pins it) — and sums COUNT
    * replays: deliver exactly-once or dedup upstream on doc_id. */
  def dictionaryTags(df: DataFrame, terms: Seq[String] = gateTerms,
                     text: Column = col("text")): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      "dictionary must be non-empty and duplicate-free")
    val dict = AcDict(terms.toIndexedSeq)
    val termArr = array(terms.map(lit): _*)
    df.select(posexplode(AcExpressions.acTermCounts(text, dict))
        .as(Seq("tid", "n")))
      .groupBy("tid")
      .agg(sum(when(col("n") > 0L, 1L).otherwise(0L)).as("n_docs"),
        sum(col("n")).as("n_occ"))
      .select(col("tid").cast("long").as("term_id"),
        element_at(termArr, col("tid") + 1).as("term"),
        col("n_docs"), col("n_occ"))
  }

  /** x151: hit LOCALIZATION — `(doc_id, term_id, term, pos)` for the
    * first `cap` occurrences of each term per document (1-based
    * CHARACTER positions, overlapping included): where x143 says HOW
    * MUCH, this says WHERE — the offsets a redaction/annotation pass
    * consumes. Same single automaton scan; the expression counts
    * codepoints beside bytes so positions are character-exact on any
    * unicode input, and the per-term cap bounds the explode at |D|·cap
    * rows per document whatever the match volume (a viral term yields
    * its first `cap` spans, never an unbounded row stream — the x143
    * dense-vector discipline applied to spans). Positions ride one
    * encoded long (`term_id·2^32 + pos`) out of the kernel and decode
    * with div/mod in the projection. */
  def dictionarySpans(df: DataFrame, terms: Seq[String] = gateTerms,
                      cap: Int = 4, text: Column = col("text")): DataFrame = {
    val dict = AcDict(terms.toIndexedSeq)
    val termArr = array(terms.map(lit): _*)
    df.select(col("doc_id"),
        explode(AcExpressions.acHitPositions(text, dict, cap)).as("e"))
      .select(col("doc_id"),
        expr("e div 4294967296L").as("term_id"),
        expr("e % 4294967296L").as("pos"))
      .select(col("doc_id"), col("term_id"),
        element_at(termArr, (col("term_id") + 1).cast("int")).as("term"),
        col("pos"))
  }

  /** DuckDB twin of [[dictionarySpans]] — positional definition,
    * list-sliced to the cap before unnesting. */
  def dictionarySpansSql(terms: Seq[String] = gateTerms,
                         cap: Int = 4): String = {
    val vals = terms.zipWithIndex
      .map { case (t, i) => s"($i, ${sqlLit(t)})" }.mkString(", ")
    s"""WITH sp_terms(term_id, term) AS (VALUES $vals),
       |sp_occ AS (
       |  SELECT d.doc_id, t.term_id, t.term,
       |    list_slice(list_filter(
       |      generate_series(1, greatest(length(d.text) - length(t.term) + 1, 0)),
       |      sp_i -> substr(d.text, sp_i, length(t.term)) = t.term),
       |      1, $cap) AS ps
       |  FROM documents d CROSS JOIN sp_terms t
       |)
       |SELECT doc_id, CAST(term_id AS BIGINT) AS term_id, term,
       |  unnest(ps) AS pos
       |FROM sp_occ""".stripMargin
  }

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB twin of [[dictionaryTags]]: the positional definition —
    * occurrences = start positions where the substring equals the term
    * (lambda variable prefixed `ac_` per the polyHash52Sql capture
    * rule). */
  def dictionaryTagsSql(terms: Seq[String] = gateTerms): String = {
    val vals = terms.zipWithIndex
      .map { case (t, i) => s"($i, ${sqlLit(t)})" }.mkString(", ")
    s"""WITH ac_terms(term_id, term) AS (VALUES $vals),
       |ac_occ AS (
       |  SELECT t.term_id, d.doc_id,
       |    len(list_filter(
       |      generate_series(1, greatest(length(d.text) - length(t.term) + 1, 0)),
       |      ac_i -> substr(d.text, ac_i, length(t.term)) = t.term)) AS n
       |  FROM documents d CROSS JOIN ac_terms t
       |),
       |ac_hits AS (SELECT term_id, doc_id, n FROM ac_occ WHERE n > 0)
       |SELECT CAST(t.term_id AS BIGINT) AS term_id, t.term,
       |  CAST(coalesce(count(h.doc_id), 0) AS BIGINT) AS n_docs,
       |  CAST(coalesce(sum(h.n), 0) AS BIGINT) AS n_occ
       |FROM ac_terms t LEFT JOIN ac_hits h USING (term_id)
       |GROUP BY t.term_id, t.term""".stripMargin
  }
}
