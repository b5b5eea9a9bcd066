package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions
import graft.operators.TextOps.{wordsRe, wordsReSql}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard — each with a DuckDB SQL twin for the
  * correctness oracle (keep both sides in sync).
  *
  * Scale design (the whole point of these operators):
  *   - Exact dedup is one hash-groupBy — partial aggregation map-side,
  *     single shuffle on the content hash.
  *   - MinHash signatures are computed per-row (no explode, no shuffle):
  *     shingling + k hash-mins run inside one generated projection.
  *   - LSH banding explodes to b rows per doc (b≈4) and self-joins on the
  *     band hash — the shuffle key is the band bucket, so only docs
  *     sharing a bucket ever meet. Candidate verification (exact Jaccard)
  *     touches candidate pairs only, never the full cross product.
  *   - SimHash pairs use pigeonhole byte-blocking: 4 equi-joins on one
  *     byte each — exact for Hamming distance ≤ 3, no cross join.
  */
object DedupOps {

  /** Iteration-state persistence for the iterative operators (LSH
    * candidate sets, simhash signatures, Borůvka rounds). Each round's
    * state is consumed by several downstream plans, so it must be pinned
    * — the question is where:
    *
    *   - [[Local]] (default): `localCheckpoint` — executor memory/disk,
    *     no configuration, fastest. State dies with an executor, so a
    *     lost node kills the job; acceptable for bench/single-app runs.
    *   - [[Reliable]]: `checkpoint` to the SparkContext checkpoint dir
    *     (HDFS/object store at cluster scale — call
    *     `sc.setCheckpointDir` first). Survives executor loss; the
    *     100 TB posture, where a 20-round CC job must not restart
    *     because one of 1000 executors was preempted.
    */
  sealed trait IterState { def pin(df: DataFrame): DataFrame }
  case object Local extends IterState {
    // round state is only consumed by the invocation that created it, so
    // it belongs to the caller's PinScope, which frees it when the
    // invocation ends instead of waiting for GC + ContextCleaner (see the
    // PinScope scaladoc for the measured in-sweep degradation this fixes)
    def pin(df: DataFrame): DataFrame = graft.core.PinScope.pin(df)
  }
  case object Reliable extends IterState {
    def pin(df: DataFrame): DataFrame = df.checkpoint(true)
  }
  /** No-op pin for plan-only callers (explain/lineage inspection): keeps
    * query CONSTRUCTION free of eager checkpoint jobs at the cost of
    * recomputing the pinned subtree per consumer when executed. */
  case object Unpinned extends IterState {
    def pin(df: DataFrame): DataFrame = df
  }

  /** Pin `df` hash-partitioned on `cols` — and KEEP the partitioning
    * visible to the planner across the checkpoint. `localCheckpoint`
    * erases outputPartitioning (Spark 4 publishes UnknownPartitioning on
    * the LogicalRDD leaf even under an explicit repartition), so every
    * downstream join/aggregate keyed on `cols` would re-shuffle rows the
    * pin already laid out. The explicit partition count is what makes
    * the re-declared metadata truthful: AQE never coalesces a
    * user-numbered repartition, so rows sit at murmur3(cols) % n exactly
    * as declared (see [[org.apache.spark.sql.graftbridge.Bridge
    * .declareHashPartitioning]] for the contract). Under [[Unpinned]]
    * the repartition node itself carries the partitioning — same plan
    * shape, no checkpoint. */
  private[graft] def pinPartitioned(state: IterState, df: DataFrame,
                                    cols: String*): DataFrame = {
    // SCALE-ADAPTIVE partition count (guide §2.2): derived from the
    // plan's own size estimate at ~64 MB per partition, capped by the
    // session's configured shuffle parallelism (the cluster knob) —
    // never a constant, which would be tuned for exactly one of local
    // mode or the cluster. The floor keeps tiny local inputs on ONE
    // task instead of `cap` near-empty ones; AQE cannot do this
    // coalescing for us because only an explicit user count keeps the
    // declared murmur3(cols) % n layout truthful (AQE merges adjacent
    // reducer partitions, which is NOT hash-modulo any smaller n).
    val cap = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = BigInt(64L << 20)
    val n = ((bytes + target - 1) / target).max(1).min(cap).toInt
    val pinned = state.pin(df.repartition(n, cols.map(col): _*))
    org.apache.spark.sql.graftbridge.Bridge
      .declareHashPartitioning(pinned, cols, n)
  }

  // ---- exact --------------------------------------------------------------

  /** Exact-duplicate groups by content hash: one row per distinct content,
    * with the representative (min doc_id) and the duplicate count. */
  def exactDupGroups(df: DataFrame, text: Column = col("text")): DataFrame =
    df.groupBy(md5(text).as("content_hash"))
      .agg(min(col("doc_id")).as("representative"), count(lit(1)).as("n_docs"))

  def exactDupGroupsSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS representative,
      |  count(*) AS n_docs
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** Bag-of-words-normalized duplicate groups (catches word-order shuffles):
    * only groups with >1 member. Tokenizes on whitespace RUNS
    * ([[TextOps.wordsRe]]) so real multi-space/tab text normalizes
    * correctly. */
  def normalizedDupGroups(df: DataFrame, text: Column = col("text")): DataFrame =
    df.groupBy(md5(concat_ws(" ", array_sort(array_distinct(wordsRe(text)))))
        .as("content_hash"))
      .agg(min(col("doc_id")).as("representative"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)

  def normalizedDupGroupsSql: String =
    s"""SELECT md5(array_to_string(list_sort(list_distinct(${wordsReSql("text")})), ' ')) AS content_hash,
      |  min(doc_id) AS representative, count(*) AS n_docs
      |FROM documents
      |GROUP BY 1 HAVING count(*) > 1""".stripMargin

  /** Normalized content key shared by [[normalizedDupGroups]] and
    * [[incrementalDedup]]: order-independent bag-of-words md5 over
    * whitespace-run tokens. */
  def normalizedKey(text: Column = col("text")): Column =
    md5(concat_ws(" ", array_sort(array_distinct(wordsRe(text)))))

  /** x87: per-source duplication rate — WHICH domains are bringing
    * redundant content: for every source, its doc count and the share
    * of its docs whose normalized content key occurs more than once in
    * the WHOLE corpus (cross-source duplication counts — a mirror site
    * is 100% duplicated even if internally unique). The acquisition-
    * priority number next to x76's quality gate: a high-dup source buys
    * little new data per byte.
    *
    * Scale: the narrow (source, content_hash) projection feeds a
    * map-side-combinable `groupBy(content_hash).count` — a viral
    * boilerplate page collapses to ONE row in the partials before the
    * shuffle — joined back onto the projection (AQE can skew-split the
    * join; a `count over Window.partitionBy(content_hash)` buffered the
    * whole viral cluster in one task with no mitigation — the round-11
    * `weak`). Ratio is one IEEE division. */
  def sourceDupRate(df: DataFrame, text: Column = col("text")): DataFrame = {
    val keyed = df.filter(col("source").isNotNull)
      .select(col("source"), normalizedKey(text).as("content_hash"))
      .filter(col("content_hash").isNotNull)
    val counts = keyed.groupBy("content_hash")
      .agg(count(lit(1)).as("n_total"))
    keyed.join(counts, Seq("content_hash"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_total") > 1, lit(1L)).otherwise(lit(0L)))
          .as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        (col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
          .as("dup_ratio"))
  }

  /** DuckDB twin of [[sourceDupRate]]. */
  def sourceDupRateSql: String = {
    val key = s"md5(array_to_string(list_sort(list_distinct(${wordsReSql("text")})), ' '))"
    s"""WITH sd_keyed AS (
       |  SELECT source, $key AS content_hash
       |  FROM documents WHERE source IS NOT NULL
       |),
       |sd_counted AS (
       |  SELECT source,
       |    count(*) OVER (PARTITION BY content_hash) AS n_total
       |  FROM sd_keyed WHERE content_hash IS NOT NULL
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN n_total > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_docs,
       |  CAST(sum(CASE WHEN n_total > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS dup_ratio
       |FROM sd_counted
       |GROUP BY source""".stripMargin
  }

  /** x54: incremental corpus refresh — admit only NEW content from an
    * incoming batch: drop any incoming doc whose normalized content key
    * already exists in the corpus (LEFT ANTI join), then collapse
    * in-batch duplicates to the lowest doc_id. This is the shape every
    * continuously-updated training corpus needs: the existing corpus is
    * touched exactly once (a narrow key projection feeding the anti-join
    * shuffle — or a broadcast/Bloom probe when the batch, not the
    * corpus, is small), never pairwise. The gate itself is
    * [[NearDupIndex.exactAdmission]] — the SAME admission tier the
    * persisted index runs, so corpus refresh and index ingest share one
    * exact-admission semantics (this variant keys by normalized
    * content, the index by raw md5; the relation is identical).
    *
    * Returns the admitted rows `(doc_id, lang, content_hash)`. */
  def incrementalDedup(incoming: DataFrame, existing: DataFrame,
                       text: Column = col("text")): DataFrame =
    NearDupIndex.exactAdmission(
        incoming.select(col("doc_id"), col("lang"),
          normalizedKey(text).as("content_hash")),
        existing.select(normalizedKey(text).as("content_hash")))
      .select(col("doc_id"), col("lang"), col("content_hash"))

  /** DuckDB twin of [[incrementalDedup]] for the gate's 80/20 split of
    * `documents` (existing = doc_id % 5 <> 0, incoming = the rest). */
  def incrementalDedupSql: String = {
    val key = s"md5(array_to_string(list_sort(list_distinct(${wordsReSql("text")})), ' '))"
    s"""WITH incoming AS (
       |  SELECT doc_id, lang, $key AS content_hash FROM documents WHERE doc_id % 5 = 0
       |), existing AS (
       |  SELECT DISTINCT $key AS content_hash FROM documents WHERE doc_id % 5 <> 0
       |)
       |SELECT min(doc_id) AS doc_id, min_by(lang, doc_id) AS lang, content_hash
       |FROM incoming ANTI JOIN existing USING (content_hash)
       |GROUP BY content_hash""".stripMargin
  }

  // ---- MinHash + LSH ------------------------------------------------------

  val numHashes = 16
  val numBands = 4 // 4 bands × 4 rows
  val rowsPerBand: Int = numHashes / numBands
  val shingleWords = 3

  /** Hot-bucket cap for both near-dup kernels' bucket self-joins
    * ([[lshContraction]] band buckets, [[simhashContraction]] 15-bit
    * block buckets): a bucket holding more than this many DISTINCT
    * contents is excluded from candidate pairing. The exact-dup
    * contraction already collapses k identical copies to one rep, but
    * DISTINCT near-identical contents — boilerplate templates with
    * small edits, the single most common shape in web-scale training
    * data — still share buckets and pay Θ(m²) candidate pairs with no
    * cap between them and the corpus. A pair is dropped only when
    * EVERY bucket it shares is hot (LSH pairs on any cold shared band;
    * the simhash block joins claim a pair at its first COLD agreeing
    * block), identical copies always pair (the clique branch never
    * consults buckets), and the refusal is never silent:
    * [[lshGuardAudit]]/[[simhashGuardAudit]] ride `n_hot_buckets` and
    * the refused `hot_candidate_mass` (Σ C(m,2) over hot buckets) on
    * every gated consumer's output. 128 is fed by the measured skew
    * ladder (x180 and the rep-level bucket profile): at sf0.1 the
    * 15-bit block buckets run p99 ≈ 69 with a 1580-rep max — capping
    * at 128 excludes the 15 boilerplate buckets carrying 94% of the
    * 2.9M-pair candidate mass while keeping every bucket a single
    * task can verify in milliseconds; at 100 TB the cap is what keeps
    * a 10⁶-variant template from putting Θ(10¹²) pairs on one key. */
  val bucketMaxDf = 128L

  /** Word n-gram shingles of a text column, as an array (per-row, no
    * explode). Empty array when the doc is shorter than n words.
    * Backed by the native codegen expression — the HOF chain below is the
    * documented semantics; ShingleParitySpec pins byte-equality. */
  def shingles(text: Column, n: Int = shingleWords): Column =
    graft.functions.ShingleExpressions.shinglesFast(text, n)

  /** The declarative (higher-order-function) formulation — the semantic
    * reference for [[shingles]]; CodegenFallback, so not the hot path. */
  def shinglesHof(text: Column, n: Int = shingleWords): Column = {
    val w = wordsRe(text)
    val count = size(w) - (n - 1)
    when(count > 0,
      transform(sequence(lit(1), count),
        i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** DuckDB twin: `(doc_id, sh)` relation of DISTINCT word shingles.
    * The index list is generated per row (`generate_series` over the
    * document's own word count), so the oracle is unbounded in document
    * length — exactly like the Spark side's `sequence` — instead of
    * capping at a fixed join range. */
  def shinglesSqlCte: String = shinglesSqlCteN(shingleWords)

  /** Generalized form: n-word shingles of `rel` as CTE `name`. */
  def shinglesSqlCteN(n: Int, rel: String = "documents",
                      name: String = "sh"): String = {
    val cat = (0 until n).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    s"""$name AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(generate_series(1, greatest(len(ws) - ${n - 1}, 0)),
       |      i -> $cat)) AS sh
       |  FROM (SELECT doc_id, ${wordsReSql("text")} AS ws FROM $rel)
       |)""".stripMargin
  }

  // Affine MinHash family over a 32-bit md5 base hash: h_i = (a_i·h + b_i)
  // mod p. ONE md5 per shingle feeds all k family members (the classic
  // a·x+b construction) — 16× less hashing than k independent md5s, and
  // products stay < 2^62 so the arithmetic is exact BIGINT in both
  // engines. Constants are md5-derived so both engines embed identical
  // literals.
  val minhashPrime: Long = 2147483647L // 2^31 - 1
  lazy val minhashCoeffs: IndexedSeq[(Long, Long)] =
    (0 until numHashes).map { i =>
      def h(tag: String): Long = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$tag$i".getBytes("UTF-8"))
        val hex = d.map("%02x".format(_)).mkString.substring(0, 7)
        java.lang.Long.parseLong(hex, 16)
      }
      ((h("a") % (minhashPrime - 1)) + 1, h("b") % minhashPrime)
    }

  /** 32-bit base hash of a shingle (both engines: first 8 hex of md5). */
  def baseHash(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  def baseHashSql(expr: String): String =
    s"CAST(concat('0x', substr(md5($expr), 1, 8)) AS BIGINT)"

  /** MinHash signature via explode → one base md5 per (doc, shingle) →
    * k affine minima inside one partial-aggregating groupBy. The shuffle
    * carries only k mins per doc; the md5 work happens map-side exactly
    * once per shingle. */
  def minhashSignatures(df: DataFrame, text: Column = col("text")): DataFrame = {
    val exploded = df
      .select(col("doc_id"), explode(array_distinct(shingles(text))).as("sh"))
      .select(col("doc_id"), baseHash(col("sh")).as("h"))
    val mins = minhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % minhashPrime).as(s"m$i")
    }
    exploded.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  def minhashSignaturesSql: String = {
    val mins = minhashCoeffs.zipWithIndex
      .map { case ((a, b), i) =>
        s"min((${baseHashSql("sh")} * $a + $b) % $minhashPrime) AS m$i"
      }
      .mkString(",\n    ")
    s"""WITH ${shinglesSqlCte}
       |SELECT doc_id,
       |    $mins
       |FROM sh GROUP BY doc_id""".stripMargin
  }

  // ---- exact-content contraction (shared by both near-dup kernels) --------

  /** Exact-duplicate CONTRACTION of the corpus, keyed by the raw content
    * fingerprint `md5(text)` (x1's key): `members` maps every eligible doc
    * to its fingerprint, `cliques` holds one row per DISTINCT content with
    * the representative (min doc_id) and the copy count (`weight`).
    *
    * Why it exists: both near-dup candidate generators are bucket
    * self-joins, and k IDENTICAL documents share every bucket — one viral
    * boilerplate page with k copies used to emit Θ(k²) candidate pairs
    * through every consumer (the round-12 top-of-profile). Pairing
    * DISTINCT contents only drops candidate mass from Σ n_b² to Σ m_b²
    * (m = distinct fingerprints per bucket); exact-dup cliques re-attach
    * afterwards — ANALYTICALLY where the consumer needs masses or
    * connectivity (identical text is Jaccard 1.0 / Hamming 0 /
    * Levenshtein 0 by definition: x23 attaches members by key, x158/x160
    * add closed-form clique counts to the top band), by member expansion
    * only where the consumer's CONTRACT is the pair relation itself
    * (x8/x10/x50 — there the expansion is output, not compute).
    *
    * Everything derived from `text` is clique-constant by construction
    * (shingle sets, minhash signatures, simhash, token counts, quality,
    * edit distance), so verifying representatives only is EXACT, not an
    * approximation. The residual quadratic term is cross-clique member
    * products on VERIFIED pairs — two distinct viral templates that are
    * near-dups of each other — which only the pair-contract operators
    * materialize. */
  case class Contraction(members: DataFrame, cliques: DataFrame)

  /** Builds the contraction for one kernel. `sign` maps the rep-only
    * corpus to its one-row-per-eligible-doc signature relation (minhash
    * signatures need ≥ [[shingleWords]] words, simhash ≥ 1 word); a rep
    * with no signature row drops its whole clique — exact, because
    * identical text implies identical eligibility, and the uncontracted
    * kernels never paired ineligible docs either. Returns the contraction
    * plus the REP-keyed signature relation. */
  /** [[Local]] pins of the CONTRACTION KERNEL tables route through the
    * session-scoped [[graft.core.Memo]]: a gate/bench/
    * pipeline session runs MANY consumers of the same kernel (x8/x50/
    * x89/x156/x158/x160/x171 all need the minhash contraction of the
    * same corpus; x23/x159/x161/x83/x10 the simhash one), and signing
    * a 100 TB corpus once per session — not once per query — is the
    * production shape (the same sign-once discipline [[graft.operators
    * .NearDupIndex]] makes durable across sessions). Keyed by the
    * input's canonicalized plan, so a different corpus, SF dir or
    * mutated pipeline state never collides; [[Reliable]]/[[Unpinned]]
    * semantics are unchanged. */
  private[graft] def memoPin(state: IterState)(df: DataFrame): DataFrame =
    state match {
      case Local => graft.core.Memo.pinned(df)
      case other => other.pin(df)
    }

  private def contractedKernel(df: DataFrame, text: Column,
                               state: IterState)
                              (sign: DataFrame => DataFrame)
      : (Contraction, DataFrame) = {
    val keyed = df.select(col("doc_id"), md5(text).as("fp"))
      .filter(col("fp").isNotNull && col("doc_id").isNotNull)
    val cliques0 = keyed.groupBy("fp")
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("weight"))
    val repDocs = df.join(cliques0.select(col("rep").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val sigs = memoPin(state)(sign(repDocs))
    val cliques = memoPin(state)(cliques0.join(
      sigs.select(col("doc_id").as("rep")), Seq("rep"), "left_semi"))
    val members = memoPin(state)(keyed.join(cliques.select(col("fp")),
      Seq("fp"), "left_semi"))
    (Contraction(members, cliques), sigs)
  }

  /** Expands rep-level verified pair rows to doc level: every payload
    * column is clique-constant, so each (clique_a × clique_b) member
    * pair carries the rep values verbatim; orientation re-normalizes to
    * `doc_a < doc_b` because members of the two cliques interleave
    * arbitrarily in doc_id order. The joins are fingerprint-keyed and
    * sized by the RESULT's own row count — output, not compute.
    * Private: the internal join columns (fp_a/fp_b/da/db) would clash
    * with a payload column of the same name, so only the pair-contract
    * operators in this object call it. */
  private def expandRepPairs(repRows: DataFrame, c: Contraction): DataFrame = {
    val payload = repRows.columns.filterNot(Set("doc_a", "doc_b"))
    val fpOf = c.cliques.select(col("rep"), col("fp"))
    repRows
      .join(fpOf.select(col("rep").as("doc_a"), col("fp").as("fp_a")), Seq("doc_a"))
      .join(fpOf.select(col("rep").as("doc_b"), col("fp").as("fp_b")), Seq("doc_b"))
      .join(c.members.select(col("fp").as("fp_a"), col("doc_id").as("da")), Seq("fp_a"))
      .join(c.members.select(col("fp").as("fp_b"), col("doc_id").as("db")), Seq("fp_b"))
      .select(least(col("da"), col("db")).as("doc_a") +:
        greatest(col("da"), col("db")).as("doc_b") +:
        payload.map(col).toSeq: _*)
  }

  /** All C(w,2) within-clique doc pairs (w ≥ 2 cliques only), each
    * carrying the given identity payload (Jaccard 1.0 / Hamming 0 / …,
    * exact for identical text). Output-bound by contract: only the
    * pair-relation operators materialize these; mass consumers take the
    * closed form off `cliques` instead. Private for the same payload-
    * column-clash reason as [[expandRepPairs]]. */
  private def intraCliquePairs(c: Contraction, payload: Seq[Column]): DataFrame = {
    val m = c.members.join(
      c.cliques.filter(col("weight") >= 2L).select(col("fp")),
      Seq("fp"), "left_semi")
    m.as("ia").join(m.as("ib"),
        col("ia.fp") === col("ib.fp") && col("ia.doc_id") < col("ib.doc_id"))
      .select(col("ia.doc_id").as("doc_a") +: col("ib.doc_id").as("doc_b") +:
        payload: _*)
  }

  /** Band hashes: b rows per doc, `(doc_id, band, band_hash)`. Docs sharing
    * any `(band, band_hash)` bucket are LSH candidates. */
  def lshBands(signatures: DataFrame): DataFrame = {
    val bands = (0 until numBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"m$i").cast("string"))
      struct(lit(b).as("band"),
        md5(concat_ws(",", cols: _*)).as("band_hash"))
    }
    signatures.select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
  }

  /** Rep-level band rows plus the hot-bucket set — shared by
    * [[lshContraction]] and [[lshGuardAudit]] so both build the
    * IDENTICAL pinned plans (one [[graft.core.Memo]] entry per
    * session per corpus). */
  private def lshHot(df: DataFrame, text: Column, state: IterState,
                     maxDf: Long): (Contraction, DataFrame, DataFrame, DataFrame) = {
    val (c, sigs) = contractedKernel(df, text, state)(minhashSignatures(_, text))
    val bands = lshBands(sigs)
    // bucket sizes over DISTINCT contents (band rows are rep rows);
    // map-side-combinable aggregate, never a window — a hot bucket must
    // not gather its members in one task just to be counted
    val hot = memoPin(state)(bands.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("m"))
      .filter(col("m") > maxDf))
    (c, sigs, bands, hot)
  }

  /** Contracted LSH machinery: (contraction, rep signatures, rep-level
    * candidate pairs). Signatures are computed for REPRESENTATIVES only
    * (k copies of a viral page hash their shingles once, not k times);
    * the band-bucket self-join pairs distinct contents only, so bucket
    * mass is Σ m_b², not Σ n_b² — and buckets above `maxDf` distinct
    * contents are excluded from pairing entirely (see [[bucketMaxDf]]):
    * a candidate pair survives iff it shares at least one COLD bucket,
    * so the per-bucket join work is ≤ C(maxDf, 2) by construction and a
    * boilerplate template with 10⁶ distinct variants costs one counted
    * bucket, not Θ(10¹²) pairs. The refusal is audited, never silent —
    * [[lshGuardAudit]] rides on every gated consumer. Both relations
    * are pinned: the signature table feeds both join sides, the
    * candidate set feeds several verifiers. The anti-join and the self-
    * join share the (band, band_hash) key, so one exchange serves both
    * at cluster scale. */
  def lshContraction(df: DataFrame, text: Column = col("text"),
                     state: IterState = Local,
                     maxDf: Long = bucketMaxDf)
      : (Contraction, DataFrame, DataFrame) = {
    val (c, sigs, bands, hot) = lshHot(df, text, state, maxDf)
    val cold = bands.join(hot.select("band", "band_hash"),
      Seq("band", "band_hash"), "left_anti")
    val repCand = memoPin(state)(cold.as("a")
      .join(cold.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct())
    (c, sigs, repCand)
  }

  /** One-row audit of [[lshContraction]]'s hot-bucket guard:
    * `(n_hot_buckets, hot_candidate_mass)` — how many band buckets the
    * cap excluded and the Σ C(m,2) candidate pairs it refused to
    * enumerate (an upper bound on dropped pairs: a refused pair may
    * still arrive through another, cold, shared bucket). Gated
    * consumers cross-join this onto their output (x78's max-df
    * discipline) so the cap is never silent. */
  def lshGuardAudit(df: DataFrame, text: Column = col("text"),
                    state: IterState = Local,
                    maxDf: Long = bucketMaxDf): DataFrame = {
    val (_, _, _, hot) = lshHot(df, text, state, maxDf)
    hot.agg(count(lit(1)).cast("long").as("n_hot_buckets"),
      coalesce(expr("sum(m * (m - 1)) div 2"), lit(0L))
        .as("hot_candidate_mass"))
  }

  /** Rep-level verified near-dup pairs: `(doc_a, doc_b, jaccard)` over
    * REPRESENTATIVES with `jaccard >= threshold` — the contracted form
    * mass consumers (x158/x160) read together with the contraction's
    * closed-form clique terms, never materializing within-clique pairs. */
  def lshVerifiedReps(df: DataFrame, threshold: Double,
                      text: Column = col("text"),
                      state: IterState = Local,
                      maxDf: Long = bucketMaxDf): (Contraction, DataFrame) = {
    val (c, _, repCand) = lshContraction(df, text, state, maxDf)
    (c, jaccardFor(df, repCand, text, state).filter(col("jaccard") >= threshold))
  }

  /** LSH candidate pairs verified with exact Jaccard over the shingle
    * sets. Returns `(doc_a, doc_b, jaccard)` with `jaccard >= threshold`,
    * `doc_a < doc_b`. Jaccard is exact-integer arithmetic (|∩| / |∪|).
    * Verification runs on representatives only ([[lshVerifiedReps]]);
    * cross-clique pairs expand by membership and within-clique pairs are
    * emitted directly at Jaccard 1.0 (identical shingle sets) — the pair
    * RELATION is this operator's contract, so its size is the output's
    * own; consumers that only need masses should take the contracted
    * form instead. */
  def lshDupPairs(df: DataFrame, threshold: Double,
                  text: Column = col("text"),
                  state: IterState = Local,
                  maxDf: Long = bucketMaxDf): DataFrame = {
    val (c, verified) = lshVerifiedReps(df, threshold, text, state, maxDf)
    // a threshold above 1.0 empties the intra branch too (constant-folds
    // to an empty relation), mirroring the SQL twin's WHERE — identical
    // copies sit at exactly Jaccard 1.0
    expandRepPairs(verified, c)
      .unionByName(intraCliquePairs(c, Seq(lit(1.0).as("jaccard")))
        .filter(lit(threshold <= 1.0)))
  }

  /** x50: fuzzy near-dup pairs — the same LSH banding prunes the O(n²)
    * pair space, but candidates are verified by LEVENSHTEIN edit
    * similarity (`1 - dist/max_len`) instead of shingle Jaccard. Edit
    * distance is the right verifier when near-dups differ by small
    * in-place edits (OCR noise, template fills) rather than block moves:
    * Jaccard over shingles under-counts a single mid-shingle character
    * flip, Levenshtein counts it exactly once.
    *
    * Scale shape: identical to [[lshDupPairs]] — banding keeps the
    * candidate set near-linear; the O(len²) DP runs only on candidates.
    * Determinism: distance and lengths are exact integers; `edit_sim` is
    * one division of identical integers → bit-identical doubles on both
    * engines.
    *
    * Returns `(doc_a, doc_b, lev, edit_sim)` with `edit_sim >= minSim`,
    * `doc_a < doc_b`. */
  /** x146: incremental n-gram novelty — for every document, how many of
    * its distinct word shingles appear HERE FIRST (no lower doc_id
    * holds them) vs how many it has at all: the memorization-pressure
    * read behind exact-substring dedup (Lee et al. 2022,
    * arXiv:2107.06499 §4 motivates it — repeated n-grams are what the
    * model memorizes), and per-source it separates feeds that keep
    * contributing new text from feeds re-serving the corpus.
    *
    * Scale shape — three spots where the obvious form breaks at 100 TB,
    * each avoided: (a) `n_grams` is a ROW-LOCAL scalar
    * (`size(array_distinct(shingles))`) — no gram matrix, no shuffle,
    * where a matrix `groupBy(doc_id).count` would re-shuffle the corpus;
    * (b) first occurrence is a gram-keyed AGGREGATE (map-side-combined
    * `min`) — a `min(...).over(partitionBy(gram))` window would put a
    * viral boilerplate gram's every holder in ONE task (the x77/x78
    * max-df failure mode, immune here because partial aggregation
    * absorbs skew); (c) per-doc novel counts come off the
    * one-row-per-gram first-occurrence relation ALONE (`groupBy(
    * first_doc)`) — never joined back onto the gram matrix. The only
    * corpus-sized exchanges are the gram aggregate and the final
    * doc-keyed left join of two doc-sized relations. Docs shorter than
    * `n` words carry no row (no grams — both engines agree). */
  def noveltyScore(df: DataFrame, n: Int = shingleWords,
                   text: Column = col("text")): DataFrame = {
    val grams = df
      .select(col("doc_id"),
        size(array_distinct(shingles(text, n))).cast("long").as("n_grams"))
      .filter(col("n_grams") > 0L)
    val novel = df
      .select(col("doc_id"),
        explode(array_distinct(shingles(text, n))).as("sh"))
      .groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    grams.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm",
        expr("CAST((CAST(n_novel AS DECIMAL(38,0)) * 1000000) " +
          "div n_grams AS BIGINT)"))
  }

  /** DuckDB twin of [[noveltyScore]]. */
  def noveltyScoreSql(n: Int = shingleWords): String = {
    val cat = (0 until n).map(j => s"ws[nv_i+$j]").mkString(" || ' ' || ")
    s"""WITH nv_w AS (
       |  SELECT doc_id, ${wordsReSql("text")} AS ws FROM documents
       |), nv_g AS (
       |  SELECT doc_id,
       |    CAST(len(list_distinct(list_transform(
       |      generate_series(1, greatest(len(ws) - ${n - 1}, 0)),
       |      nv_i -> $cat))) AS BIGINT) AS n_grams
       |  FROM nv_w
       |), nv_sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(
       |      generate_series(1, greatest(len(ws) - ${n - 1}, 0)),
       |      nv_i -> $cat)) AS sh
       |  FROM nv_w
       |), nv_first AS (
       |  SELECT sh, min(doc_id) AS first_doc FROM nv_sh GROUP BY sh
       |), nv_novel AS (
       |  SELECT first_doc AS doc_id, count(*) AS n_novel FROM nv_first
       |  GROUP BY first_doc
       |)
       |SELECT g.doc_id, g.n_grams,
       |  CAST(coalesce(v.n_novel, 0) AS BIGINT) AS n_novel,
       |  CAST((CAST(coalesce(v.n_novel, 0) AS HUGEINT) * 1000000)
       |    // g.n_grams AS BIGINT) AS novelty_ppm
       |FROM nv_g g LEFT JOIN nv_novel v USING (doc_id)
       |WHERE g.n_grams > 0""".stripMargin
  }

  def editDistancePairs(df: DataFrame, minSim: Double = 0.9,
                        text: Column = col("text"),
                        state: IterState = Local): DataFrame = {
    val (c, _, cand) = lshContraction(df, text, state)
    val t = df.select(col("doc_id"), text.as("t"))
    // the O(len²) DP runs on REP pairs only — identical texts are lev 0
    // by definition and within-clique pairs are emitted directly below
    val cross = cand
      .join(t.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(t.as("tb"), col("doc_b") === col("tb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta.t"), col("tb.t")).cast("long").as("lev"),
        greatest(length(col("ta.t")), length(col("tb.t")))
          .cast("long").as("max_len"))
      .select(col("doc_a"), col("doc_b"), col("lev"),
        // two empty texts: max_len = 0 would make this 0/0 = NaN, and
        // NaN >= minSim is TRUE under Spark's NaN ordering — define the
        // pair as identical (sim 1.0) instead, mirrored in the SQL twin
        when(col("max_len") === 0, lit(1.0))
          .otherwise(lit(1.0) - col("lev").cast("double") / col("max_len").cast("double"))
          .as("edit_sim"))
      .filter(col("edit_sim") >= minSim)
    // minSim above 1.0 empties the intra branch (constant-folded),
    // matching the twin's WHERE on the identical-copy edit_sim of 1.0
    expandRepPairs(cross, c).unionByName(
      intraCliquePairs(c, Seq(lit(0L).as("lev"), lit(1.0).as("edit_sim")))
        .filter(lit(minSim <= 1.0)))
  }

  /** DuckDB twin of [[editDistancePairs]] — shares the candidate CTEs
    * with the Jaccard twin. */
  def editDistancePairsSql(minSim: Double = 0.9): String =
    s"""$lshCandSqlCtes,
       |verified AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS lev,
       |    CAST(greatest(length(ta.text), length(tb.text)) AS BIGINT) AS max_len
       |  FROM cand c
       |  JOIN documents ta ON ta.doc_id = c.doc_a
       |  JOIN documents tb ON tb.doc_id = c.doc_b
       |)
       |SELECT doc_a, doc_b, lev, edit_sim FROM (
       |  SELECT doc_a, doc_b, lev,
       |    CASE WHEN max_len = 0 THEN CAST(1 AS DOUBLE)
       |         ELSE CAST(1 AS DOUBLE) - CAST(lev AS DOUBLE) / CAST(max_len AS DOUBLE)
       |    END AS edit_sim
       |  FROM verified
       |) WHERE edit_sim >= CAST('$minSim' AS DOUBLE)""".stripMargin

  /** x78: shingle-containment pairs — the EXCERPT detector. Symmetric
    * Jaccard (and therefore MinHash LSH banded on it) goes blind exactly
    * when a small document is quoted inside a much larger one: the
    * intersection is the excerpt but the union is the big doc, so
    * J → 0 while C(A→B) = |A∩B|/|A| → 1. Candidates therefore come from
    * the shared-shingle relation itself, not from LSH: shingles held by
    * 2..maxDf docs emit their doc pairs (the max-df guard is the x55
    * winnowing pattern — boilerplate shingles that would blow the pair
    * fan-out up to df² are exactly the ones that carry no excerpt
    * signal), pairs sharing ≥ minShared guarded shingles survive, and
    * exact containment is then computed over the FULL distinct shingle
    * sets (the guard bounds candidate generation only — the reported
    * ratio is exact).
    *
    * Scale: one pinned distinct (doc, shingle) relation feeds guard,
    * sizes, and the intersection joins; every shuffle is keyed by
    * shingle or by pair. Nothing quadratic beyond the guarded fan-out.
    *
    * No silent caps: every row carries `n_viral_shingles` — the count
    * of distinct shingles in more than `maxDf` docs that the guard kept
    * out of candidate generation (a 1-row broadcast stat off the same
    * df aggregate). The reported containment stays exact either way
    * (it is computed over FULL shingle sets); the column tells the
    * reader how much boilerplate the candidate stage deliberately
    * declined to pair on. */
  def containmentPairs(df: DataFrame, minShared: Long = 3, maxDf: Long = 16,
                       text: Column = col("text"),
                       state: IterState = Local): DataFrame = {
    // round 18 (guide §2.3 narrower types): the pinned relation feeds
    // FOUR shingle-keyed exchanges (df aggregate, candidate self-join
    // probe+build, two intersection joins) — hash the ~24-char shingle
    // string to one LongType right after generation so every exchange
    // and the pin itself carry 8 bytes per shingle instead of 30+. The
    // shingle is internal-only here (output columns are counts/ratios);
    // equality classes are unchanged up to xxhash64 injectivity on the
    // corpus's shingle set (same envelope as the windows() fastHash —
    // the DuckDB twin keeps raw strings, so the gate proves equality).
    val sh = state.pin(
      df.select(col("doc_id"), explode(array_distinct(shingles(text))).as("sh0"))
        .select(col("doc_id"), xxhash64(col("sh0")).as("sh")))
    val byDf = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val guarded = byDf
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("sh")
    val viral = byDf.filter(col("df") > maxDf)
      .agg(count(lit(1)).as("n_viral_shingles"))
    val shf = sh.join(guarded, "sh")
    val cand = shf.as("a")
      .join(shf.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select("doc_a", "doc_b")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id"), col("n_sh").as("n_a")),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n_sh").as("n_b")),
        col("doc_b") === col("doc_id")).drop("doc_id")
      .crossJoin(broadcast(viral))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"),
        (col("n_inter").cast("double") / col("n_a").cast("double"))
          .as("containment_a"),
        (col("n_inter").cast("double") / col("n_b").cast("double"))
          .as("containment_b"),
        col("n_viral_shingles"))
  }

  /** DuckDB twin of [[containmentPairs]]. */
  def containmentPairsSql(minShared: Long = 3, maxDf: Long = 16): String =
    s"""WITH ${shinglesSqlCte},
       |cp_g AS (
       |  SELECT sh FROM sh GROUP BY sh HAVING count(*) BETWEEN 2 AND $maxDf
       |),
       |cp_f AS (SELECT doc_id, sh FROM sh JOIN cp_g USING (sh)),
       |cp_cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM cp_f a JOIN cp_f b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $minShared
       |),
       |cp_sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |cp_inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |  FROM cp_cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
       |  GROUP BY c.doc_a, c.doc_b
       |),
       |cp_v AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_viral_shingles
       |  FROM (SELECT sh FROM sh GROUP BY sh HAVING count(*) > $maxDf)
       |)
       |SELECT i.doc_a, i.doc_b, i.n_inter,
       |  CAST(za.n_sh AS BIGINT) AS n_a, CAST(zb.n_sh AS BIGINT) AS n_b,
       |  CAST(i.n_inter AS DOUBLE) / CAST(za.n_sh AS DOUBLE) AS containment_a,
       |  CAST(i.n_inter AS DOUBLE) / CAST(zb.n_sh AS DOUBLE) AS containment_b,
       |  v.n_viral_shingles
       |FROM cp_inter i
       |JOIN cp_sizes za ON za.doc_id = i.doc_a
       |JOIN cp_sizes zb ON zb.doc_id = i.doc_b
       |CROSS JOIN cp_v v""".stripMargin

  /** Exact Jaccard for a given candidate-pair set: |A∩B| via a shingle
    * equi-join restricted to the candidates, |A∪B| = |A|+|B|−|A∩B|. */
  def jaccardFor(df: DataFrame, candidates: DataFrame,
                 text: Column = col("text"),
                 state: IterState = Local): DataFrame = {
    // only docs that appear in a candidate pair need their shingle sets
    val candDocs = candidates.select(col("doc_a").as("doc_id"))
      .union(candidates.select(col("doc_b"))).distinct()
    val sh = memoPin(state)(df.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(array_distinct(shingles(text))).as("sh")))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = candidates
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id"), col("n_sh").as("n_a")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n_sh").as("n_b")), col("doc_b") === col("doc_id")).drop("doc_id")
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
  }

  /** Shared `WITH` prefix ending in the `bands` CTE — the signature/
    * banding half of the LSH twins. */
  private def lshBandSqlCtes: String = lshBandSqlCtesRel("documents")

  private def lshBandSqlCtesRel(rel: String): String = {
    val bandHash = (0 until numBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS band_hash FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val mins = minhashCoeffs.zipWithIndex
      .map { case ((a, b), i) =>
        s"min((${baseHashSql("sh")} * $a + $b) % $minhashPrime) AS m$i"
      }
      .mkString(", ")
    s"""WITH ${shinglesSqlCteN(shingleWords, rel)},
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandHash
       |)""".stripMargin
  }

  /** Shared `WITH` prefix ending in the `cand` CTE (`doc_a < doc_b` LSH
    * bucket pairs) — the common front half of every LSH-candidate
    * verifier twin (Jaccard x8, edit-distance x50). Mirrors
    * [[lshContraction]]'s hot-bucket guard at the distinct-content
    * level: buckets with more than `maxDf` distinct fingerprints pair
    * nobody, and identical-content pairs (the contraction's clique
    * branch) survive unconditionally via the fingerprint union. */
  private def lshCandSqlCtes: String = lshCandSqlCtesDf(bucketMaxDf)

  private def lshCandSqlCtesDf(maxDf: Long): String =
    s"""$lshBandSqlCtes,
       |g_fp AS (
       |  SELECT doc_id, md5(text) AS fp FROM documents
       |  WHERE text IS NOT NULL AND doc_id IS NOT NULL
       |),
       |g_hot AS (
       |  SELECT band, band_hash FROM (
       |    SELECT band, band_hash, count(DISTINCT f.fp) AS m
       |    FROM bands b JOIN g_fp f ON f.doc_id = b.doc_id
       |    GROUP BY band, band_hash) WHERE m > $maxDf
       |),
       |g_cold AS (
       |  SELECT b.* FROM bands b
       |  WHERE NOT EXISTS (SELECT 1 FROM g_hot h
       |    WHERE h.band = b.band AND h.band_hash = b.band_hash)
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM g_cold a JOIN g_cold b
       |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM g_fp a JOIN g_fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  WHERE a.doc_id IN (SELECT doc_id FROM sig)
       |    AND b.doc_id IN (SELECT doc_id FROM sig)
       |)""".stripMargin

  /** DuckDB twin of [[lshGuardAudit]] — one row, computed over the rep
    * relation so bucket sizes count DISTINCT contents. */
  def lshGuardAuditSql(maxDf: Long = bucketMaxDf): String =
    s"""${lshBandSqlCtesRel(repRelSql)},
       |ga_sz AS (SELECT band, band_hash, count(*) AS m
       |          FROM bands GROUP BY band, band_hash)
       |SELECT CAST(count(*) AS BIGINT) AS n_hot_buckets,
       |  CAST(coalesce(sum(m * (m - 1)) // 2, 0) AS BIGINT) AS hot_candidate_mass
       |FROM ga_sz WHERE m > $maxDf""".stripMargin

  /** DuckDB twin of [[simhashGuardAudit]] — one row over the 15-bit
    * block buckets of the rep relation. */
  def simhashGuardAuditSql(maxDf: Long = bucketMaxDf): String =
    s"""WITH ${simhashSqlCteRel(repRelSql)},
       |ga_blocks AS (
       |  SELECT bs.b AS blk, (simhash >> (bs.b * 15)) & 32767 AS v
       |  FROM sim, (SELECT unnest([0, 1, 2, 3]) AS b) bs
       |),
       |ga_sz AS (SELECT blk, v, count(*) AS m FROM ga_blocks GROUP BY blk, v)
       |SELECT CAST(count(*) AS BIGINT) AS n_hot_buckets,
       |  CAST(coalesce(sum(m * (m - 1)) // 2, 0) AS BIGINT) AS hot_candidate_mass
       |FROM ga_sz WHERE m > $maxDf""".stripMargin

  /** Wraps a gate query's SQL with its kernel's one-row guard audit —
    * the oracle-side mirror of `.crossJoin(broadcast(…GuardAudit))`. */
  def auditedSql(query: String, auditSql: String): String =
    s"""SELECT q.*, a.n_hot_buckets, a.hot_candidate_mass
       |FROM (
       |$query
       |) q CROSS JOIN (
       |$auditSql
       |) a""".stripMargin

  /** DuckDB query: Σ_bucket C(size, 2) over the LSH band buckets — the
    * EXACT candidate-pair mass driving x8/x23 cost (the pre-distinct
    * bucket join). Candidate mass is a DATA property: a closed-
    * vocabulary corpus collides superlinearly however the plan is
    * shaped, so tools/scale_smoke.py bounds the measured x23 time
    * growth against THIS (the j16 output-tracking treatment) instead of
    * pretending linearity. */
  def lshBandMassSql: String =
    s"""$lshBandSqlCtes
       |SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) AS mass FROM (
       |  SELECT band, band_hash, count(*) AS c
       |  FROM bands GROUP BY band, band_hash)""".stripMargin

  /** Contracted LSH cost model: band-bucket mass over DISTINCT contents
    * only (Σ m_b²) — what [[lshContraction]]'s self-join pays after the
    * exact-dup contraction; the x8/x158/x160 scale-smoke bound. */
  def lshRepBandMassSql: String =
    s"""${lshBandSqlCtesRel(repRelSql)}
       |SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) AS mass FROM (
       |  SELECT band, band_hash, count(*) AS c
       |  FROM bands GROUP BY band, band_hash)""".stripMargin

  /** Guarded LSH cost model: Σ C(m,2) over COLD buckets only (m ≤
    * `maxDf`) — the candidate mass [[lshContraction]] actually
    * enumerates once the hot-bucket guard is in force; the scale-smoke
    * bound for every LSH consumer. Bounded by #buckets·C(maxDf,2)/
    * maxDf ≈ |reps|·numBands·(maxDf−1)/2 whatever the corpus — i.e.
    * LINEAR in distinct contents by construction. */
  def lshGuardedBandMassSql(maxDf: Long = bucketMaxDf): String =
    s"""${lshBandSqlCtesRel(repRelSql)}
       |SELECT CAST(coalesce(sum(c * (c - 1) / 2), 0) AS BIGINT) AS mass FROM (
       |  SELECT band, band_hash, count(*) AS c
       |  FROM bands GROUP BY band, band_hash)
       |WHERE c <= $maxDf""".stripMargin

  def lshDupPairsSql(threshold: Double): String =
    s"""$lshCandSqlCtes,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
       |  GROUP BY c.doc_a, c.doc_b
       |)
       |SELECT i.doc_a, i.doc_b,
       |  CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) AS jaccard
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.doc_a
       |JOIN sizes zb ON zb.doc_id = i.doc_b
       |WHERE CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) >= $threshold""".stripMargin

  /** DuckDB twin of [[jaccardFor]] for a candidate-set SQL snippet whose
    * columns are (doc_a, doc_b). */
  def jaccardForSql(candidatesSql: String): String =
    s"""WITH ${shinglesSqlCte},
       |cand AS ($candidatesSql),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
       |  GROUP BY c.doc_a, c.doc_b
       |)
       |SELECT i.doc_a, i.doc_b,
       |  CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) AS jaccard
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.doc_a
       |JOIN sizes zb ON zb.doc_id = i.doc_b""".stripMargin

  /** x156: cross-source contamination MATRIX — x87 says how much of each
    * source is duplicated; this says WITH WHOM: for every unordered
    * source pair (diagonal included), the count of verified near-dup
    * pairs connecting them and the distinct docs implicated on each
    * side. An off-diagonal hot cell is a feed mirroring another feed
    * (syndication, scraping the scraper) — the dedup-policy read that
    * decides which source KEEPS the shared content; a hot diagonal is
    * x87's within-feed duplication localized.
    *
    * Scale shape: the pair set is [[lshDupPairs]] verbatim (banded LSH
    * candidates — shuffle key is the band bucket, never doc×doc — then
    * Jaccard verification), so this adds only two doc_id-keyed source
    * joins and a |sources|²-bounded aggregate. Pair orientation
    * canonicalizes by SOURCE order (least/greatest — binary string
    * compare on both engines) so each unordered source pair lands in
    * exactly one cell whatever the doc_id order. */
  def contaminationMatrix(df: DataFrame, threshold: Double = 0.5,
                          text: Column = col("text")): DataFrame = {
    val src = df.select(col("doc_id"), col("source"))
    val oriented = lshDupPairs(df, threshold, text)
      .join(src.select(col("doc_id").as("doc_a"),
        col("source").as("src_raw_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"),
        col("source").as("src_raw_b")), Seq("doc_b"))
      .select(
        least(col("src_raw_a"), col("src_raw_b")).as("src_a"),
        greatest(col("src_raw_a"), col("src_raw_b")).as("src_b"),
        when(col("src_raw_a") <= col("src_raw_b"), col("doc_a"))
          .otherwise(col("doc_b")).as("d_a"),
        when(col("src_raw_a") <= col("src_raw_b"), col("doc_b"))
          .otherwise(col("doc_a")).as("d_b"))
    oriented.groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("d_a")).as("n_docs_a"),
        countDistinct(col("d_b")).as("n_docs_b"))
      .withColumn("cross_source",
        (col("src_a") =!= col("src_b")).cast("int"))
  }

  /** DuckDB twin of [[contaminationMatrix]] — the x8 pair query wrapped
    * as a subquery, then the same source canonicalization. */
  def contaminationMatrixSql(threshold: Double = 0.5): String =
    s"""WITH cm_p AS (
       |  SELECT doc_a, doc_b FROM (
       |${lshDupPairsSql(threshold)}
       |  )
       |), cm_s AS (SELECT doc_id, source FROM documents),
       |cm_t AS (
       |  SELECT least(sa.source, sb.source) AS src_a,
       |    greatest(sa.source, sb.source) AS src_b,
       |    CASE WHEN sa.source <= sb.source THEN p.doc_a ELSE p.doc_b END
       |      AS d_a,
       |    CASE WHEN sa.source <= sb.source THEN p.doc_b ELSE p.doc_a END
       |      AS d_b
       |  FROM cm_p p
       |  JOIN cm_s sa ON p.doc_a = sa.doc_id
       |  JOIN cm_s sb ON p.doc_b = sb.doc_id
       |)
       |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(count(DISTINCT d_a) AS BIGINT) AS n_docs_a,
       |  CAST(count(DISTINCT d_b) AS BIGINT) AS n_docs_b,
       |  CAST(CASE WHEN src_a <> src_b THEN 1 ELSE 0 END AS INTEGER)
       |    AS cross_source
       |FROM cm_t GROUP BY src_a, src_b""".stripMargin

  /** x93: label-conflict report — duplicate content whose copies carry
    * DIFFERENT language labels: the same normalized text tagged "en"
    * here and "de" there is labeling noise that poisons both the
    * lang-id training signal (x75 trains on these labels) and any
    * per-language mixture quota (x27/x29). One row per conflicted
    * content group with the sorted label set.
    *
    * Scale: one scan, one groupBy on the dedup key — the same shuffle
    * class as x5/x6; the conflicted subset is tiny by construction. */
  def labelConflicts(df: DataFrame, text: Column = col("text")): DataFrame =
    df.filter(col("doc_id").isNotNull && col("lang").isNotNull)
      .select(normalizedKey(text).as("content_hash"), col("lang"), col("doc_id"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        concat_ws(",", array_sort(collect_set(col("lang")))).as("langs"),
        min("doc_id").as("representative"))
      .filter(col("n_langs") > 1)

  /** DuckDB twin of [[labelConflicts]]. */
  def labelConflictsSql: String = {
    val key = s"md5(array_to_string(list_sort(list_distinct(${wordsReSql("text")})), ' '))"
    s"""SELECT content_hash, n_docs, n_langs, langs, representative FROM (
       |  SELECT $key AS content_hash, count(*) AS n_docs,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |    array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs,
       |    min(doc_id) AS representative
       |  FROM documents WHERE doc_id IS NOT NULL AND lang IS NOT NULL
       |  GROUP BY 1)
       |WHERE n_langs > 1""".stripMargin
  }

  /** x89: MinHash calibration report — for every LSH candidate pair,
    * the sketch's Jaccard ESTIMATE (matching signature components /
    * numHashes, the Broder 1997 estimator) beside the EXACT Jaccard
    * over the full shingle sets. This is the report that tunes the
    * banding scheme: the (bands, rows) S-curve is only as good as the
    * estimator's spread, and a drifting |est − exact| on real data
    * means the hash family or shingle width needs revisiting BEFORE a
    * 100 TB dedup run trusts the sketch.
    *
    * Determinism: both estimates are exact integer counts divided once
    * (IEEE, bit-identical); the candidate set is the x8 banded join.
    *
    * Scale: signatures are one row per doc (pinned, hashed once);
    * the estimate join touches candidates only — the exact side is the
    * x8 verifier, also candidates-only. Nothing all-pairs. */
  def minhashCalibration(df: DataFrame, text: Column = col("text"),
                         state: IterState = Local): DataFrame = {
    val (c, sigs, cand) = lshContraction(df, text, state)
    val nEq = (0 until numHashes)
      .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
      .reduce(_ + _)
    val sigA = sigs.select(col("doc_id").as("doc_a") +:
      (0 until numHashes).map(i => col(s"m$i").as(s"a_m$i")): _*)
    val sigB = sigs.select(col("doc_id").as("doc_b") +:
      (0 until numHashes).map(i => col(s"m$i").as(s"b_m$i")): _*)
    val est = cand.join(sigA, "doc_a").join(sigB, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (nEq.cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
    val repRows = est.join(jaccardFor(df, cand, text, state), Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"), col("jaccard"),
        abs(col("est_jaccard") - col("jaccard")).as("abs_err"))
    // identical texts share the full signature and the full shingle set:
    // estimate 16/16 = 1.0, exact 1.0, error 0 — emitted without joining
    expandRepPairs(repRows, c).unionByName(intraCliquePairs(c, Seq(
      lit(1.0).as("est_jaccard"), lit(1.0).as("jaccard"), lit(0.0).as("abs_err"))))
  }

  /** DuckDB twin of [[minhashCalibration]]. */
  def minhashCalibrationSql: String = {
    val nEq = (0 until numHashes)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$lshCandSqlCtes,
       |mc_sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |mc_inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN sh ia ON ia.doc_id = c.doc_a
       |  JOIN sh ib ON ib.doc_id = c.doc_b AND ia.sh = ib.sh
       |  GROUP BY c.doc_a, c.doc_b
       |),
       |mc_est AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST($nEq AS DOUBLE) / ${numHashes}.0 AS est_jaccard
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.doc_a
       |  JOIN sig sb ON sb.doc_id = c.doc_b
       |)
       |SELECT e.doc_a, e.doc_b, e.est_jaccard,
       |  CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) AS jaccard,
       |  abs(e.est_jaccard
       |    - CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter))
       |    AS abs_err
       |FROM mc_est e
       |JOIN mc_inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
       |JOIN mc_sizes za ON za.doc_id = e.doc_a
       |JOIN mc_sizes zb ON zb.doc_id = e.doc_b""".stripMargin
  }

  /** x171: signature-length yield curve — x89 calibrates the FULL
    * 16-permutation MinHash estimator; this prices every signature
    * PREFIX length p ∈ {2, 4, 8, 16}: per p, the prefix estimator's
    * mean and worst absolute error (ppm) against exact Jaccard over the
    * same verified candidate set — the "how many permutations do we
    * actually need" knob, priced from the one signature pass the
    * pipeline already pays. Storage and shuffle width scale linearly in
    * p, so the knee of this curve is real money at 100 TB.
    *
    * Determinism: the prefix estimator is ONE IEEE division of exact
    * integers (match count / p); exact Jaccard is the shared x89 kernel;
    * each error snaps to micro BEFORE aggregation, so mean (integer div)
    * and max are exact BIGINTs on both engines.
    *
    * Scale shape: the same signature + candidate machinery as x89 (LSH
    * candidates, never all pairs), one pair-keyed projection computing
    * all four prefix errors from the already-joined signature columns,
    * then a 4-row stack aggregate. */
  def signatureYield(df: DataFrame, text: Column = col("text"),
                     state: IterState = Local): DataFrame = {
    val prefixes = Seq(2, 4, 8, 16)
    val (c, sigs, cand) = lshContraction(df, text, state)
    val sigA = sigs.select(col("doc_id").as("doc_a") +:
      (0 until numHashes).map(i => col(s"m$i").as(s"a_m$i")): _*)
    val sigB = sigs.select(col("doc_id").as("doc_b") +:
      (0 until numHashes).map(i => col(s"m$i").as(s"b_m$i")): _*)
    val eqs = (0 until numHashes)
      .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
    val est = cand.join(sigA, "doc_a").join(sigB, "doc_b")
      .select(Seq(col("doc_a"), col("doc_b")) ++ prefixes.map(p =>
        (eqs.take(p).reduce(_ + _).cast("double") / lit(p.toDouble))
          .as(s"est_$p")): _*)
    // contracted accounting: a rep pair stands for w_a·w_b expanded pairs
    // with the IDENTICAL error (signatures and shingle sets are
    // clique-constant), so errors are weighted, never expanded; cliques
    // contribute their C(w,2) zero-error pairs in closed form
    val wOf = c.cliques.select(col("rep"), col("weight"))
    val errsCross = est.join(jaccardFor(df, cand, text, state),
        Seq("doc_a", "doc_b"))
      .join(wOf.select(col("rep").as("doc_a"), col("weight").as("w_a")), Seq("doc_a"))
      .join(wOf.select(col("rep").as("doc_b"), col("weight").as("w_b")), Seq("doc_b"))
      .select(prefixes.map(p =>
        floor(abs(col(s"est_$p") - col("jaccard")) * lit(1e6) + lit(0.5))
          .cast("long").as(s"err_$p")) :+
        (col("w_a") * col("w_b")).as("n"): _*)
    val errsIntra = c.cliques.filter(col("weight") >= 2L)
      .select(prefixes.map(p => lit(0L).as(s"err_$p")) :+
        expr("(weight * (weight - 1)) div 2").as("n"): _*)
    val errs = errsCross.unionByName(errsIntra)
    val aggs = prefixes.flatMap { p =>
      Seq(sum(col(s"err_$p") * col("n")).as(s"se_$p"),
        max(col(s"err_$p")).as(s"mx_$p"))
    } :+ coalesce(sum(col("n")), lit(0L)).as("n_pairs")
    graft.functions.EdgeLadder.stackLadder(
      errs.agg(aggs.head, aggs.tail: _*), "sig_len",
      prefixes.map(p => (p.toLong, Seq(s"se_$p", s"mx_$p"))),
      Seq("sum_err", "max_err_ppm"), Seq("n_pairs"))
      .select(col("sig_len"),
        expr("CAST(sum_err div greatest(n_pairs, 1L) AS BIGINT)")
          .as("mean_err_ppm"),
        col("max_err_ppm"), col("n_pairs"))
  }

  /** DuckDB twin of [[signatureYield]]. The shared candidate prefix is
    * MATERIALIZED here (and only here): this twin re-reads `sh` three
    * times (sizes, both sides of the intersection) and `sig`/`cand`
    * twice each, and DuckDB's CTE inlining re-derives the whole
    * minhash pipeline per reference — measured 2.6 s inlined vs 0.09 s
    * materialized at sf0.01, identical rows. The other prefix
    * consumers keep the plain form: their reference counts are lower
    * and materialization measured net-neutral-to-worse there. */
  def signatureYieldSql: String = {
    val prefixes = Seq(2, 4, 8, 16)
    def nEq(p: Int) = (0 until p)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val estCols = prefixes.map(p =>
      s"CAST(${nEq(p)} AS DOUBLE) / $p.0 AS est_$p").mkString(",\n    ")
    val errCols = prefixes.map(p =>
      s"""CAST(floor(abs(est_$p - jaccard) * 1e6 + 0.5) AS BIGINT)
         |      AS err_$p""".stripMargin).mkString(",\n    ")
    val aggCols = prefixes.map(p =>
      s"""CAST(sum(err_$p) AS BIGINT) AS se_$p,
         |    CAST(max(err_$p) AS BIGINT) AS mx_$p""".stripMargin)
      .mkString(",\n    ")
    val rows = graft.functions.EdgeLadder.stackLadderSqlRows("sig_len",
      prefixes.map(p => (p.toLong, Seq(
        "mean_err_ppm" -> s"CAST(se_$p // greatest(n_pairs, 1) AS BIGINT)",
        "max_err_ppm" -> s"mx_$p"))),
      Seq("n_pairs"), "sy_one")
    val matPrefix = "\\b(sh|sig|bands|g_fp|g_cold|cand) AS \\(".r
      .replaceAllIn(lshCandSqlCtes, m => s"${m.group(1)} AS MATERIALIZED (")
    s"""$matPrefix,
       |sy_sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |sy_inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN sh ia ON ia.doc_id = c.doc_a
       |  JOIN sh ib ON ib.doc_id = c.doc_b AND ia.sh = ib.sh
       |  GROUP BY c.doc_a, c.doc_b
       |),
       |sy_est AS (
       |  SELECT c.doc_a, c.doc_b,
       |    $estCols
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.doc_a
       |  JOIN sig sb ON sb.doc_id = c.doc_b
       |),
       |sy_err AS (
       |  SELECT
       |    $errCols
       |  FROM sy_est e
       |  JOIN (
       |    SELECT i.doc_a, i.doc_b,
       |      CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter)
       |        AS jaccard
       |    FROM sy_inter i
       |    JOIN sy_sizes za ON za.doc_id = i.doc_a
       |    JOIN sy_sizes zb ON zb.doc_id = i.doc_b
       |  ) j ON j.doc_a = e.doc_a AND j.doc_b = e.doc_b
       |),
       |sy_one AS (
       |  SELECT
       |    $aggCols,
       |    CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM sy_err
       |)
       |$rows""".stripMargin
  }

  // ---- SimHash ------------------------------------------------------------

  /** 60 bits so the 4 pigeonhole blocks ([[simhashContraction]]) are
    * 15 bits each and COVER the whole signature — with a narrower
    * signature the high blocks degenerate to a constant-key bucket
    * holding every doc, which is a Θ(m²) self-join however the plan is
    * shaped (the round-14 smoke measured exactly that: 24–51× time at
    * 10× docs). 60 is also [[HashFunctions.hash60]]'s width, so every
    * token bit is real, and it keeps `1L << j` and the SQL twin's
    * literals inside a signed BIGINT. */
  val simhashBits = 60

  /** 60-bit SimHash over the distinct-word set: bit j is set when the
    * signed sum of bit j across token hashes is positive. */
  def simhash(df: DataFrame, text: Column = col("text")): DataFrame = {
    val tok = df.select(col("doc_id"), explode(array_distinct(wordsRe(text))).as("w"))
      .withColumn("h", HashFunctions.hash60(col("w")))
    val sums = (0 until simhashBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$j")
    }
    val agged = tok.groupBy("doc_id").agg(sums.head, sums.tail: _*)
    val sig = (0 until simhashBits).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agged.select(col("doc_id"), sig.as("simhash"))
  }

  def simhashSqlCte: String = simhashSqlCteRel("documents")

  /** The rep relation the contracted kernels actually sign: one row per
    * distinct content, doc_id = the clique minimum. */
  def repRelSql: String =
    "(SELECT min(doc_id) AS doc_id, text FROM documents " +
      "WHERE text IS NOT NULL AND doc_id IS NOT NULL GROUP BY text)"

  def simhashSqlCteRel(rel: String): String = {
    val sums = (0 until simhashBits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val sig = (0 until simhashBits)
      .map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""tok AS (
       |  SELECT DISTINCT doc_id, unnest(${wordsReSql("text")}) AS w
       |  FROM $rel
       |),
       |bitsums AS (
       |  SELECT doc_id, $sums
       |  FROM (SELECT doc_id, ${HashFunctions.hash60Sql("w")} AS h FROM tok)
       |  GROUP BY doc_id
       |),
       |sim AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bitsums)""".stripMargin
  }

  def simhashSql: String =
    s"WITH ${simhashSqlCte}\nSELECT doc_id, simhash FROM sim"

  /** Near-duplicate pairs by SimHash Hamming distance ≤ `maxDist`, found
    * via pigeonhole blocking on 4 DISJOINT 15-BIT blocks covering the
    * whole 60-bit signature: any pair differing in at most 3 bits must
    * agree on at least one whole block (3 differing bits cannot touch
    * all 4 blocks), so 4 equi-joins on one block each cover the space
    * exactly — no cross join, and each join's shuffle key distributes
    * by content. Block WIDTH is the scale lever: the first cut blocked
    * on single BYTES (a 256-value key), whose collision stage is
    * Θ(n²/256) however the plan is shaped — the sf1 scale smoke caught
    * it at 32× for 10× docs. 15-bit keys (32768 values) prune ~128×
    * harder at identical exactness — and the blocks MUST tile the
    * signature exactly: a 16-bit block grid over the old 32-bit
    * signature left blocks 2–3 constant zero, i.e. one bucket holding
    * every doc and a Θ(m²) join hidden in plain sight (the round-14
    * smoke's 24–51× growth at 10× docs was mostly this). For a larger
    * distance budget, raise the block count to maxDist+1 (shrinking
    * each block) instead. */
  /** Contracted SimHash machinery: (contraction, rep signatures,
    * rep-level pairs `(doc_a, doc_b, hamming)`). SimHash is computed
    * for REPRESENTATIVES only — k copies of a viral page explode and
    * bit-sum their tokens once, not k times — and the 4 block
    * self-joins pair DISTINCT contents only, dropping block-bucket
    * candidate mass from Σ n_b² to Σ m_b² (the simhash half of the
    * exact-dup contraction; see [[Contraction]]). */
  private def simhashBlockOf(cc: Column, j: Int): Column =
    shiftright(cc, j * 15).bitwiseAND(lit(32767L))

  /** Rep signatures widened with per-block values and hot flags, plus
    * the hot (blk, v) bucket set — shared by [[simhashContraction]] and
    * [[simhashGuardAudit]] so both build IDENTICAL pinned plans. The
    * flag attachment broadcasts: a block key space is 2^15, so the hot
    * set per block is ≤ 32768 rows whatever the corpus. */
  private def simhashHot(df: DataFrame, text: Column, state: IterState,
                         maxDf: Long): (Contraction, DataFrame, DataFrame, DataFrame) = {
    // one row per distinct content; pinned by contractedKernel so the 4
    // block self-joins (8 plan references) don't each recompute the
    // explode+60-sum aggregation
    val (c, sims) = contractedKernel(df, text, state)(simhash(_, text))
    val blks = sims.select(explode(array((0 until 4).map(j =>
        struct(lit(j).as("blk"), simhashBlockOf(col("simhash"), j).as("v"))): _*)).as("bv"))
      .select(col("bv.blk").as("blk"), col("bv.v").as("v"))
    // bucket sizes over DISTINCT contents; one map-side-combinable
    // aggregate for all 4 blocks, never a window
    val hot = memoPin(state)(blks.groupBy("blk", "v")
      .agg(count(lit(1)).as("m"))
      .filter(col("m") > maxDf))
    val flagged = memoPin(state)((0 until 4).foldLeft(
      sims.select(col("doc_id") +: col("simhash") +:
        (0 until 4).map(j => simhashBlockOf(col("simhash"), j).as(s"v$j")): _*)) {
      (acc, j) =>
        acc.join(broadcast(hot.filter(col("blk") === j)
            .select(col("v").as(s"v$j"), lit(true).as(s"hot$j"))),
          Seq(s"v$j"), "left")
    }.na.fill(false, (0 until 4).map(j => s"hot$j")))
    (c, flagged, hot, sims)
  }

  def simhashContraction(df: DataFrame, maxDist: Int = 3,
                         text: Column = col("text"),
                         state: IterState = Local,
                         maxDf: Long = bucketMaxDf)
      : (Contraction, DataFrame, DataFrame) = {
    require(maxDist <= 3,
      "4-block blocking is exact only for Hamming distance <= 3")
    val (c, sims, cand) = simhashRepCandidates(df, text, state, maxDf)
    (c, sims, cand.filter(col("hamming") <= maxDist))
  }

  /** The block-join candidate stage of [[simhashContraction]] WITHOUT
    * the Hamming verdict: every guarded cold-block rep collision with
    * its exact Hamming distance — the pair universe [[kernelConfusion]]
    * judges both kernels over. The Hamming ≤ maxDist filter Catalyst
    * pushes back inside each join when [[simhashContraction]] applies
    * it, so the split costs nothing. */
  private def simhashRepCandidates(df: DataFrame, text: Column,
                                   state: IterState, maxDf: Long)
      : (Contraction, DataFrame, DataFrame) = {
    val (c, flagged, _, sims) = simhashHot(df, text, state, maxDf)
    val blocked = (0 until 4).map { b =>
      // each pair is claimed by its FIRST COLD agreeing block only
      // (every earlier block must differ or sit in a hot bucket), so
      // the 4 joins are disjoint by construction — the union needs no
      // pair-level distinct, which at bench scale was a full extra
      // shuffle of millions of candidate rows. A pair ALL of whose
      // agreeing blocks are hot is refused (the maxDf guard; audited
      // by [[simhashGuardAudit]]). Hot flags are equal whenever the
      // block values are equal, so testing a's flag suffices.
      val firstMatch = (0 until b)
        .map(j => col(s"a.v$j") =!= col(s"b.v$j") || col(s"a.hot$j"))
        .foldLeft(lit(true))(_ && _)
      val side = flagged.filter(!col(s"hot$b"))
      side.as("a").join(side.as("b"),
        col(s"a.v$b") === col(s"b.v$b") &&
          col("a.doc_id") < col("b.doc_id") && firstMatch)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
    }.reduce(_ unionByName _)
    (c, sims, blocked.select("doc_a", "doc_b", "hamming"))
  }

  /** x184: hot-bucket CONTENTS report — the refused population made
    * visible. [[simhashGuardAudit]] says HOW MUCH the guard refused;
    * this says WHAT: one row per hot simhash block bucket (more than
    * `maxDf` DISTINCT contents sharing a 15-bit block value) with its
    * distinct-content count, total copy mass (Σ clique weights — how
    * many raw docs sit behind the bucket), and the minimum rep doc_id
    * as an exemplar to read. The triage view before touching the cap:
    * a handful of huge buckets whose exemplars are one boilerplate
    * family argue for a template-extraction pass (x72/x181) on that
    * family; thousands of mid-size buckets argue for wider blocks or a
    * higher cap fed by x180's ladder.
    *
    * Scale shape: the hot set is bounded by the key space (≤ 4·2¹⁵
    * rows whatever the corpus) so it broadcasts; the block relation is
    * 4 rows per rep; the aggregate is map-side-combinable. Nothing
    * here gathers a bucket's members into one task — the groupBy's
    * partial aggregation absorbs the very skew being reported. */
  def hotBucketReport(df: DataFrame, text: Column = col("text"),
                      state: IterState = Local,
                      maxDf: Long = bucketMaxDf): DataFrame = {
    val (c, _, hot, sims) = simhashHot(df, text, state, maxDf)
    val blks = sims.select(col("doc_id"),
        explode(array((0 until 4).map(j =>
          struct(lit(j).as("blk"),
            simhashBlockOf(col("simhash"), j).as("v"))): _*)).as("bv"))
      .select(col("doc_id"), col("bv.blk").as("blk"), col("bv.v").as("v"))
    val w = c.cliques.select(col("rep").as("doc_id"), col("weight"))
    blks.join(broadcast(hot.select("blk", "v")), Seq("blk", "v"))
      .join(w, Seq("doc_id"))
      .groupBy("blk", "v")
      .agg(count(lit(1)).as("n_contents"),
        sum(col("weight")).as("n_copies"),
        min(col("doc_id")).as("exemplar_doc"))
  }

  /** DuckDB twin of [[hotBucketReport]]. */
  def hotBucketReportSql(maxDf: Long = bucketMaxDf): String =
    s"""WITH ${simhashSqlCteRel(repRelSql)},
       |hb_w AS (
       |  SELECT min(doc_id) AS doc_id, count(*) AS weight FROM documents
       |  WHERE text IS NOT NULL AND doc_id IS NOT NULL GROUP BY text
       |),
       |hb_blocks AS (
       |  SELECT doc_id, bs.b AS blk, (simhash >> (bs.b * 15)) & 32767 AS v
       |  FROM sim, (SELECT unnest([0, 1, 2, 3]) AS b) bs
       |),
       |hb_hot AS (
       |  SELECT blk, v FROM (
       |    SELECT blk, v, count(*) AS m FROM hb_blocks GROUP BY blk, v)
       |  WHERE m > $maxDf
       |)
       |SELECT b.blk, b.v,
       |  CAST(count(*) AS BIGINT) AS n_contents,
       |  CAST(sum(w.weight) AS BIGINT) AS n_copies,
       |  min(b.doc_id) AS exemplar_doc
       |FROM hb_blocks b
       |JOIN hb_hot USING (blk, v)
       |JOIN hb_w w ON w.doc_id = b.doc_id
       |GROUP BY b.blk, b.v""".stripMargin

  /** One-row audit of [[simhashContraction]]'s hot-bucket guard:
    * `(n_hot_buckets, hot_candidate_mass)` over the 4×15-bit block
    * buckets — see [[lshGuardAudit]] for the column semantics. */
  def simhashGuardAudit(df: DataFrame, text: Column = col("text"),
                        state: IterState = Local,
                        maxDf: Long = bucketMaxDf): DataFrame = {
    val (_, _, hot, _) = simhashHot(df, text, state, maxDf)
    hot.agg(count(lit(1)).cast("long").as("n_hot_buckets"),
      coalesce(expr("sum(m * (m - 1)) div 2"), lit(0L))
        .as("hot_candidate_mass"))
  }

  def simhashDupPairs(df: DataFrame, maxDist: Int = 3,
                      text: Column = col("text"),
                      state: IterState = Local,
                      maxDf: Long = bucketMaxDf): DataFrame = {
    val (c, _, repPairs) = simhashContraction(df, maxDist, text, state, maxDf)
    // the pair RELATION is this operator's contract: cross-clique rep
    // pairs expand by membership (output-sized, fingerprint-keyed) and
    // within-clique pairs are Hamming 0 by identity — mass consumers
    // (x23/x159/x161 clustering, x83 splits) take [[simhashClusters]]'s
    // contracted attachment instead and never expand
    expandRepPairs(repPairs, c)
      .unionByName(intraCliquePairs(c, Seq(lit(0).as("hamming"))))
  }

  /** x23's kernel, fused with the contraction: duplicate clusters over
    * the simhash near-dup graph WITHOUT materializing member-level
    * pairs. Identical copies are near-dups of each other (Hamming 0),
    * so an exact-dup clique is always fully connected and a component
    * of the expanded graph is exactly a union of cliques over the
    * rep-pair graph — Borůvka runs on rep pairs only, members attach to
    * their rep's label by fingerprint key, and the component minimum is
    * preserved because every rep is its clique's minimum doc_id.
    * Result is row-for-row [[dupClusters]](df, [[simhashDupPairs]]). */
  def simhashClusters(df: DataFrame, maxDist: Int = 3,
                      text: Column = col("text"),
                      state: IterState = Local,
                      maxDf: Long = bucketMaxDf): DataFrame = {
    val (c, _, repPairs) = simhashContraction(df, maxDist, text, state, maxDf)
    attachCliqueClusters(df, c, componentLabels(repPairs, state = state))
  }

  /** x47/x83's LSH-side twin of [[simhashClusters]]: clusters over the
    * verified-Jaccard near-dup graph at `threshold`, Borůvka on rep
    * pairs + fingerprint-keyed member attachment (cliques are fully
    * connected at Jaccard 1.0 whenever `threshold` ≤ 1). */
  def lshClusters(df: DataFrame, threshold: Double,
                  text: Column = col("text"),
                  state: IterState = Local,
                  maxDf: Long = bucketMaxDf): DataFrame = {
    val (c, verified) = lshVerifiedReps(df, threshold, text, state, maxDf)
    val labels =
      if (threshold <= 1.0) componentLabels(verified, state = state)
      else // no intra edges either: every doc is its own cluster
        componentLabels(verified.limit(0), state = Unpinned)
    attachCliqueClusters(df, c, labels)
  }

  /** Members inherit their representative's component label through the
    * fingerprint; docs outside any signed clique (or whose rep paired
    * with nobody) are their own cluster. */
  private def attachCliqueClusters(df: DataFrame, c: Contraction,
                                   repLabels: DataFrame): DataFrame = {
    val memberLabels = c.members
      .join(c.cliques.select(col("fp"), col("rep")), Seq("fp"))
      .join(repLabels.select(col("doc_id").as("rep"), col("label")),
        Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("rep")).as("label"))
    df.select(col("doc_id")).join(memberLabels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
  }

  /** x183: cross-KERNEL verdict confusion — the x179 confusion-matrix
    * pattern applied between the two near-dup kernels. Over the union
    * of both kernels' guarded candidate rep pairs (cold LSH band
    * collisions ∪ cold simhash block collisions — the pairs either
    * kernel would even look at), each pair is judged by BOTH ground
    * metrics — exact shingle Jaccard ≥ `threshold` (the minhash
    * kernel's verdict) and exact 60-bit Hamming ≤ `maxDist` (the
    * simhash kernel's) — and the ≤4 cells report rep-pair count plus
    * member-pair mass Σ w_a·w_b (how many doc-level pairs the cell
    * stands for). The "which kernel is lying on this corpus" readout:
    * a heavy (1,0) cell is shingle-level overlap the token-set simhash
    * bits can't see (long shared spans, differently ordered); a heavy
    * (0,1) cell is token-multiset similarity with little contiguous
    * shingle overlap (short templates with in-place edits) — run it
    * before trusting EITHER kernel's dedup bill on a new corpus.
    *
    * Scale shape: both candidate relations are the contracted,
    * hot-bucket-guarded kernels (never doc×doc; the kernel tables pin
    * once per session via [[memoPin]]), the verdicts are one
    * pair-keyed Jaccard verification plus two signature equi-joins,
    * the weights two clique-keyed joins, and the output a ≤4-row
    * aggregate. A pair outside the minhash kernel's eligibility
    * (either side under [[shingleWords]] words — empty shingle set)
    * scores Jaccard 0 on both engines. */
  def kernelConfusion(df: DataFrame, threshold: Double = 0.5,
                      maxDist: Int = 3, text: Column = col("text"),
                      state: IterState = Local,
                      maxDf: Long = bucketMaxDf): DataFrame = {
    val (_, _, lshCand) = lshContraction(df, text, state, maxDf)
    val (c, sims, simCand) = simhashRepCandidates(df, text, state, maxDf)
    val universe = lshCand
      .unionByName(simCand.select("doc_a", "doc_b")).distinct()
    val jac = jaccardFor(df, universe, text, state)
    val w = c.cliques.select(col("rep"), col("weight"))
    universe
      .join(jac, Seq("doc_a", "doc_b"), "left")
      .join(sims.select(col("doc_id").as("doc_a"),
        col("simhash").as("sig_a")), Seq("doc_a"))
      .join(sims.select(col("doc_id").as("doc_b"),
        col("simhash").as("sig_b")), Seq("doc_b"))
      .join(w.select(col("rep").as("doc_a"), col("weight").as("w_a")),
        Seq("doc_a"))
      .join(w.select(col("rep").as("doc_b"), col("weight").as("w_b")),
        Seq("doc_b"))
      .select(
        when(coalesce(col("jaccard"), lit(0.0)) >= threshold, 1)
          .otherwise(0).as("lsh_dup"),
        when(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= maxDist, 1)
          .otherwise(0).as("simhash_dup"),
        (col("w_a") * col("w_b")).as("mass"))
      .groupBy("lsh_dup", "simhash_dup")
      .agg(count(lit(1)).as("n_rep_pairs"),
        sum(col("mass")).as("member_pair_mass"))
  }

  /** DuckDB twin of [[kernelConfusion]]: both kernels' guarded
    * candidate sets rebuilt declaratively over the rep relation (cold
    * buckets counted over distinct contents, exactly the contraction's
    * rep-level count), exact Jaccard/Hamming verdicts, same ≤4-row
    * aggregate. */
  def kernelConfusionSql(threshold: Double = 0.5, maxDist: Int = 3,
                         maxDf: Long = bucketMaxDf): String = {
    val blkV = (side: String, j: Int) => s"(($side.simhash >> ${j * 15}) & 32767)"
    val coldAgree = (0 until 4).map { j =>
      s"""(${blkV("a", j)} = ${blkV("b", j)}
         |      AND NOT EXISTS (SELECT 1 FROM kc_hot h
         |        WHERE h.blk = $j AND h.v = ${blkV("a", j)}))""".stripMargin
    }.mkString("\n    OR ")
    s"""${lshBandSqlCtesRel(repRelSql)},
       |${simhashSqlCteRel(repRelSql)},
       |kc_cold AS (
       |  SELECT band, band_hash FROM (
       |    SELECT band, band_hash, count(*) AS c
       |    FROM bands GROUP BY band, band_hash)
       |  WHERE c <= $maxDf
       |),
       |kc_lcand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a
       |  JOIN kc_cold c ON c.band = a.band AND c.band_hash = a.band_hash
       |  JOIN bands b ON b.band = a.band AND b.band_hash = a.band_hash
       |    AND a.doc_id < b.doc_id
       |),
       |kc_hot AS (
       |  SELECT blk, v FROM (
       |    SELECT bs.b AS blk, (simhash >> (bs.b * 15)) & 32767 AS v,
       |      count(*) AS m
       |    FROM sim, (SELECT unnest([0, 1, 2, 3]) AS b) bs
       |    GROUP BY blk, v) WHERE m > $maxDf
       |),
       |kc_scand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |  WHERE $coldAgree
       |),
       |kc_univ AS (
       |  SELECT doc_a, doc_b FROM kc_lcand
       |  UNION
       |  SELECT doc_a, doc_b FROM kc_scand
       |),
       |kc_sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |kc_jac AS (
       |  SELECT u.doc_a, u.doc_b,
       |    CAST(count(*) AS DOUBLE)
       |      / CAST(za.n_sh + zb.n_sh - count(*) AS DOUBLE) AS jaccard
       |  FROM kc_univ u
       |  JOIN sh sa ON sa.doc_id = u.doc_a
       |  JOIN sh sb ON sb.doc_id = u.doc_b AND sa.sh = sb.sh
       |  JOIN kc_sizes za ON za.doc_id = u.doc_a
       |  JOIN kc_sizes zb ON zb.doc_id = u.doc_b
       |  GROUP BY u.doc_a, u.doc_b, za.n_sh, zb.n_sh
       |),
       |kc_w AS (
       |  SELECT min(doc_id) AS rep, count(*) AS weight FROM documents
       |  WHERE text IS NOT NULL AND doc_id IS NOT NULL GROUP BY text
       |)
       |SELECT
       |  CASE WHEN coalesce(j.jaccard, 0) >= $threshold
       |    THEN 1 ELSE 0 END AS lsh_dup,
       |  CASE WHEN bit_count(xor(ia.simhash, ib.simhash)) <= $maxDist
       |    THEN 1 ELSE 0 END AS simhash_dup,
       |  CAST(count(*) AS BIGINT) AS n_rep_pairs,
       |  CAST(sum(wa.weight * wb.weight) AS BIGINT) AS member_pair_mass
       |FROM kc_univ u
       |LEFT JOIN kc_jac j ON j.doc_a = u.doc_a AND j.doc_b = u.doc_b
       |JOIN sim ia ON ia.doc_id = u.doc_a
       |JOIN sim ib ON ib.doc_id = u.doc_b
       |JOIN kc_w wa ON wa.rep = u.doc_a
       |JOIN kc_w wb ON wb.rep = u.doc_b
       |GROUP BY 1, 2""".stripMargin
  }

  /** x158: dedup threshold-sweep YIELD CURVE — before committing to a
    * Jaccard cutoff, what each threshold would actually remove: verified
    * LSH candidate pairs bucketed into `bands` equal Jaccard bands, each
    * band reporting its pair count, distinct dedup VICTIMS (the higher
    * doc_id of a pair — the copy a keep-lowest policy drops), and the
    * victims' token mass. A victim in pairs across several bands is
    * attributed to its MAXIMUM band only (the weakest threshold that
    * already removes it), so reading the curve from the top, the
    * running victim/token totals are exactly the docs/tokens a
    * threshold at that band's floor would remove — no double count —
    * and where the curve knees is the threshold to ship (x89
    * calibrates the LSH's RECALL per band; this prices the DECISION).
    * Bands whose every victim also pairs at some higher band report
    * their pair count with zero victims.
    *
    * Scale shape: the pair set is the x8 pipeline at threshold 0 (every
    * verified candidate keeps its band), so the sweep costs ONE LSH
    * pass for all thresholds instead of one x8 run per candidate
    * cutoff; banding is floor(j·bands) on the identical IEEE division
    * both engines already compute for x8. The accounting consumes
    * [[lshVerifiedReps]] directly — rep pairs weighted w_a·w_b,
    * exact-dup cliques as closed-form terms in the top band (see the
    * in-body proof) — so a 10⁵-copy viral template contributes ONE
    * clique row, never Θ(k²) pairs, to the groupBys. */
  def dedupYieldCurve(df: DataFrame, bands: Int = 20,
                      text: Column = col("text")): DataFrame = {
    require(bands >= 2 && bands <= 1000, s"bands=$bands")
    val topBand = (bands - 1).toLong
    // CONTRACTED accounting — the expanded pair relation is never
    // materialized. Every statistic below is provably equal to the
    // groupBy over [[lshDupPairs]](0.0)'s Θ(Σk²) expansion:
    //   pairs: a verified rep pair stands for w_a·w_b member pairs in
    //     its band (jaccard is clique-constant); a clique adds its
    //     C(w,2) identical pairs to the top band (jaccard 1.0).
    //   victims (= expanded groupBy(doc_b).max(band)): a clique's
    //     non-rep members are top-band victims via their intra pairs —
    //     jaccard 1.0 is the maximum band, so no cross pair can
    //     re-attribute them — each carrying the clique-constant token
    //     count; a REP r is the higher side of some expanded pair iff a
    //     paired clique's minimum member (= that clique's rep, reps are
    //     clique minima) is smaller than r, i.e. iff r is the doc_b of
    //     a REP pair — so rep victims take max(band) over rep pairs
    //     alone. The two victim sets are disjoint by construction.
    val (c, verified) = lshVerifiedReps(df, 0.0, text)
    val repPairs = verified.select(col("doc_a"), col("doc_b"),
      least(floor(col("jaccard") * bands), lit(topBand))
        .cast("long").as("band"))
    val toks = df.select(col("doc_id"),
      coalesce(graft.functions.TextExpressions.wsTokenCountFast(col("text"))
        .cast("long"), lit(0L)).as("tok"))
    val wOf = c.cliques.select(col("rep"), col("weight"))
    val crossPairs = repPairs
      .join(wOf.select(col("rep").as("doc_a"), col("weight").as("w_a")), Seq("doc_a"))
      .join(wOf.select(col("rep").as("doc_b"), col("weight").as("w_b")), Seq("doc_b"))
      .select(col("band"), (col("w_a") * col("w_b")).as("np"))
    val intraPairs = c.cliques.filter(col("weight") >= 2L)
      .select(lit(topBand).as("band"),
        expr("(weight * (weight - 1)) div 2").as("np"))
    val nPairs = crossPairs.unionByName(intraPairs)
      .groupBy("band").agg(sum(col("np")).as("n_pairs"))
    val repVictims = repPairs.groupBy(col("doc_b").as("doc_id"))
      .agg(max(col("band")).as("band"))
      .join(toks, Seq("doc_id"))
      .select(col("band"), lit(1L).as("nv"), col("tok").as("vtok"))
    val cliqueVictims = c.cliques.filter(col("weight") >= 2L)
      .join(toks.select(col("doc_id").as("rep"), col("tok")), Seq("rep"))
      .select(lit(topBand).as("band"), (col("weight") - 1L).as("nv"),
        ((col("weight") - 1L) * col("tok")).as("vtok"))
    val victims = repVictims.unionByName(cliqueVictims)
      .groupBy("band")
      .agg(sum(col("nv")).as("n_victims"), sum(col("vtok")).as("victim_tokens"))
    nPairs.join(victims, Seq("band"), "left")
      .select(col("band"),
        expr(graft.functions.EdgeLadder.bandLoPpmExpr(bands))
          .as("band_lo_ppm"),
        col("n_pairs"),
        coalesce(col("n_victims"), lit(0L)).as("n_victims"),
        coalesce(col("victim_tokens"), lit(0L)).as("victim_tokens"))
  }

  /** DuckDB twin of [[dedupYieldCurve]]. */
  def dedupYieldCurveSql(bands: Int = 20): String =
    s"""WITH yc_p0 AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |${lshDupPairsSql(0.0)}
       |  )
       |), yc_p AS (
       |  SELECT doc_a, doc_b,
       |    CAST(least(floor(jaccard * $bands), ${bands - 1}) AS BIGINT)
       |      AS band
       |  FROM yc_p0
       |), yc_t AS (
       |  SELECT doc_id AS doc_b,
       |    coalesce(CAST(len(${graft.operators.TextOps.wordsReSql("text")})
       |      AS BIGINT), 0) AS tok
       |  FROM documents
       |), yc_v AS (
       |  SELECT band, count(*) AS n_victims, sum(tok) AS victim_tokens
       |  FROM (SELECT doc_b, max(band) AS band FROM yc_p GROUP BY doc_b) d
       |  JOIN yc_t USING (doc_b)
       |  GROUP BY band
       |)
       |SELECT p.band, CAST((p.band * 1000000) // $bands AS BIGINT)
       |    AS band_lo_ppm,
       |  CAST(p.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(coalesce(v.n_victims, 0) AS BIGINT) AS n_victims,
       |  CAST(coalesce(v.victim_tokens, 0) AS BIGINT) AS victim_tokens
       |FROM (SELECT band, count(*) AS n_pairs FROM yc_p GROUP BY band) p
       |LEFT JOIN yc_v v USING (band)""".stripMargin

  /** x160: quality-weighted dedup POLICY delta — x158 prices WHAT a
    * Jaccard threshold removes; this prices WHICH copy survives, the
    * other half of the dedup decision. Per band, each verified pair is
    * settled under two policies: keep-lowest-id (victim = the higher
    * doc_id, x158's convention) vs keep-highest-quality (victim = the
    * lower x3 quality score; ties keep the lower doc_id, so both
    * policies agree on ties). Reported per band: pair count, the two
    * policies' victim token masses, their victim quality masses, and
    * `q_saved_micro` = keep-low quality loss − keep-quality quality
    * loss — by construction ≥ 0, the quality mass the better policy
    * rescues at that band. Accounting is per PAIR (the exact pairwise
    * delta; cluster-transitive survivorship is x47's job).
    *
    * Determinism: quality is the x3 score micro-snapped BEFORE the
    * policy comparison, so both engines pick the same victim; sums
    * ride DECIMAL(38,0)/HUGEINT and output as BIGINT.
    *
    * Scale: the same single LSH pass as x158 (pair set = x8 at
    * threshold 0), consumed in CONTRACTED form — per-clique payloads
    * are clique-constant, so cross-clique rep pairs carry weighted
    * closed-form terms and cliques settle their C(w,2) identical pairs
    * analytically in the top band (identical copies: both policies
    * drop the higher id, delta 0). The one subtlety is the keep-LOWEST
    * policy on cross pairs: which clique holds the higher doc_id
    * differs per member pair (cliques interleave in id order), so rep
    * pairs whose cliques differ in payload compute their orientation
    * split — n_hi_b = #{(x,y) ∈ A×B : y > x} — via ONE running-count
    * window over the union of the two cliques' members, Θ(w_a + w_b)
    * rows per rep pair: the LINEAR residual of the Θ(w_a·w_b)
    * expansion it replaces. Payload-identical rep pairs (the common
    * case, and every self-similar template family) skip the member
    * walk entirely. */
  def dedupPolicyDelta(df: DataFrame, bands: Int = 20,
                       text: Column = col("text")): DataFrame = {
    require(bands >= 2 && bands <= 1000, s"bands=$bands")
    val topBand = (bands - 1).toLong
    val (c, verified) = lshVerifiedReps(df, 0.0, text)
    val repPairs = verified.select(col("doc_a"), col("doc_b"),
      least(floor(col("jaccard") * bands), lit(topBand))
        .cast("long").as("band"))
    val scored = df.select(col("doc_id"),
      coalesce(graft.functions.TextExpressions.wsTokenCountFast(text)
        .cast("long"), lit(0L)).as("tok"),
      floor(TextOps.qualityScoreCol(text) * lit(1e6) + lit(0.5))
        .cast("long").as("q"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cl = c.cliques.join(
      scored.select(col("doc_id").as("rep"), col("tok"), col("q")), Seq("rep"))
    val cross = repPairs
      .join(cl.select(col("rep").as("doc_a"), col("fp").as("fp_a"),
        col("weight").as("w_a"), col("tok").as("tok_a"), col("q").as("q_a")),
        Seq("doc_a"))
      .join(cl.select(col("rep").as("doc_b"), col("fp").as("fp_b"),
        col("weight").as("w_b"), col("tok").as("tok_b"), col("q").as("q_b")),
        Seq("doc_b"))
    // orientation split, only where the cliques' payloads differ: over
    // the union of the two member sets ordered by doc_id, a running
    // count of A-side rows gives each B member its rank among A — their
    // sum is n_hi_b. Window groups are one rep pair's two cliques
    // (w_a + w_b rows — linear in copy counts, audited in PlanLintSpec).
    val needSplit = cross
      .filter(col("tok_a") =!= col("tok_b") || col("q_a") =!= col("q_b"))
      .select(col("doc_a"), col("doc_b"), col("fp_a"), col("fp_b"))
    val mA = needSplit
      .join(c.members.select(col("fp").as("fp_a"), col("doc_id").as("id")),
        Seq("fp_a"))
      .select(col("doc_a"), col("doc_b"), col("id"), lit(0L).as("is_b"))
    val mB = needSplit
      .join(c.members.select(col("fp").as("fp_b"), col("doc_id").as("id")),
        Seq("fp_b"))
      .select(col("doc_a"), col("doc_b"), col("id"), lit(1L).as("is_b"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b")).orderBy(col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val splits = mA.unionByName(mB)
      .withColumn("run_a", sum(lit(1L) - col("is_b")).over(win))
      .filter(col("is_b") === 1L)
      .groupBy("doc_a", "doc_b").agg(sum(col("run_a")).as("n_hi_b"))
    // per-rep-pair closed forms. nT = w_a·w_b member pairs; nb of them
    // have their higher id (the keep-low victim) on the B side. For
    // keep-quality, q_A ≠ q_B settles ALL member pairs for the lower-q
    // clique regardless of orientation; ties fall back to keep-low's
    // higher-id victim (where only tok can differ).
    val crossTerms = cross.join(splits, Seq("doc_a", "doc_b"), "left")
      .select(col("band"),
        (col("w_a") * col("w_b")).as("np"),
        // payload-identical pairs never joined a split row — any split
        // is correct there because both cliques carry the same payload
        coalesce(col("n_hi_b"), col("w_a") * col("w_b")).as("nb"),
        col("tok_a"), col("tok_b"), col("q_a"), col("q_b"))
      .select(col("band"), col("np"),
        (col("tok_b").cast(dec) * col("nb").cast(dec) +
          col("tok_a").cast(dec) * (col("np") - col("nb")).cast(dec))
          .as("klt"),
        (col("q_b").cast(dec) * col("nb").cast(dec) +
          col("q_a").cast(dec) * (col("np") - col("nb")).cast(dec))
          .as("klq"),
        when(col("q_a") > col("q_b"), col("tok_b").cast(dec) * col("np").cast(dec))
          .when(col("q_a") < col("q_b"), col("tok_a").cast(dec) * col("np").cast(dec))
          .otherwise(col("tok_b").cast(dec) * col("nb").cast(dec) +
            col("tok_a").cast(dec) * (col("np") - col("nb")).cast(dec))
          .as("kqt"),
        (least(col("q_a"), col("q_b")).cast(dec) * col("np").cast(dec))
          .as("kqq"))
    val intraTerms = cl.filter(col("weight") >= 2L)
      .select(expr("(weight * (weight - 1)) div 2").as("np"),
        col("tok"), col("q"))
      .select(lit(topBand).as("band"), col("np"),
        (col("tok").cast(dec) * col("np").cast(dec)).as("klt"),
        (col("q").cast(dec) * col("np").cast(dec)).as("klq"),
        (col("tok").cast(dec) * col("np").cast(dec)).as("kqt"),
        (col("q").cast(dec) * col("np").cast(dec)).as("kqq"))
    crossTerms.unionByName(intraTerms)
      .groupBy("band")
      .agg(sum(col("np")).as("n_pairs"),
        sum(col("klt")).as("__klt"),
        sum(col("kqt")).as("__kqt"),
        sum(col("klq")).as("__klq"),
        sum(col("kqq")).as("__kqq"))
      .select(col("band"),
        expr(graft.functions.EdgeLadder.bandLoPpmExpr(bands))
          .as("band_lo_ppm"),
        col("n_pairs"),
        expr("CAST(__klt AS BIGINT)").as("kl_victim_tokens"),
        expr("CAST(__kqt AS BIGINT)").as("kq_victim_tokens"),
        expr("CAST(__klq AS BIGINT)").as("kl_victim_q_mass"),
        expr("CAST(__kqq AS BIGINT)").as("kq_victim_q_mass"),
        expr("CAST(__klq - __kqq AS BIGINT)").as("q_saved_micro"))
  }

  /** DuckDB twin of [[dedupPolicyDelta]] — same pair set, same
    * micro-snap-then-compare victim choice. */
  def dedupPolicyDeltaSql(bands: Int = 20): String =
    s"""WITH pd_p0 AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |${lshDupPairsSql(0.0)}
       |  )
       |), pd_p AS (
       |  SELECT doc_a, doc_b,
       |    CAST(least(floor(jaccard * $bands), ${bands - 1}) AS BIGINT)
       |      AS band
       |  FROM pd_p0
       |), pd_s AS (
       |  SELECT doc_id,
       |    coalesce(CAST(len(${graft.operators.TextOps.wordsReSql("text")})
       |      AS BIGINT), 0) AS tok,
       |    CAST(floor((${graft.operators.TextOps.qualityScoreColSql("text")})
       |      * 1e6 + 0.5) AS BIGINT) AS q
       |  FROM documents
       |), pd_j AS (
       |  SELECT p.band,
       |    b.tok AS kl_tok, b.q AS kl_q,
       |    CASE WHEN a.q >= b.q THEN b.tok ELSE a.tok END AS kq_tok,
       |    least(a.q, b.q) AS kq_q
       |  FROM pd_p p
       |  JOIN pd_s a ON a.doc_id = p.doc_a
       |  JOIN pd_s b ON b.doc_id = p.doc_b
       |)
       |SELECT band, ${graft.functions.EdgeLadder.bandLoPpmDuck(bands)}
       |    AS band_lo_ppm,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CAST(kl_tok AS HUGEINT)) AS BIGINT) AS kl_victim_tokens,
       |  CAST(sum(CAST(kq_tok AS HUGEINT)) AS BIGINT) AS kq_victim_tokens,
       |  CAST(sum(CAST(kl_q AS HUGEINT)) AS BIGINT) AS kl_victim_q_mass,
       |  CAST(sum(CAST(kq_q AS HUGEINT)) AS BIGINT) AS kq_victim_q_mass,
       |  CAST(sum(CAST(kl_q AS HUGEINT)) - sum(CAST(kq_q AS HUGEINT))
       |    AS BIGINT) AS q_saved_micro
       |FROM pd_j GROUP BY band""".stripMargin

  /** x161: CLUSTER-TRANSITIVE survivor policy delta — x160 prices the
    * policy per PAIR; after transitive closure a cluster of k near-dups
    * keeps ONE survivor, and the policies can disagree more (the
    * lowest-id member is rarely the best-quality one in a large
    * cluster). Per cluster-size band (2..7, 8 = "8+"): cluster count
    * and, under keep-lowest-id vs keep-highest-quality (x47's argmax
    * rule, ties to lowest id), the victims' token mass and quality
    * mass, plus `q_saved_micro` = keep-low loss − keep-quality loss
    * (≥ 0 by argmax). Victim mass per cluster = total − survivor, so
    * the report is exactly "what the corpus loses under each rule".
    *
    * Shape: [[dupClusters]]'s label table joins the narrow
    * (tok, q_micro) projection, then ONE map-side-combinable
    * per-cluster aggregate carries BOTH winners — `min(struct(id,…))`
    * is keep-lowest, `max(struct(q, -id,…))` is x47's winner, each
    * with its measures riding the unique-key lexicographic order —
    * and a viral mega-cluster collapses in the partials (no
    * cluster_id window, the round-11 `weak` shape). Band rollup is
    * a ≤7-row aggregate. Quality is micro-snapped BEFORE the argmax
    * so both engines pick the same survivor. */
  def clusterPolicyDelta(docs: DataFrame, pairs: DataFrame,
                         text: Column = col("text"),
                         state: IterState = Local): DataFrame =
    clusterPolicyDeltaOf(docs, dupClusters(docs, pairs, state = state), text)

  /** [[clusterPolicyDelta]] over a precomputed label table — the gate
    * path feeds [[simhashClusters]] so the simhash pair graph is never
    * expanded to member level. */
  def clusterPolicyDeltaOf(docs: DataFrame, clusters: DataFrame,
                           text: Column = col("text")): DataFrame = {
    val scored = docs.select(col("doc_id"),
      coalesce(graft.functions.TextExpressions.wsTokenCountFast(text)
        .cast("long"), lit(0L)).as("tok"),
      floor(TextOps.qualityScoreCol(text) * lit(1e6) + lit(0.5))
        .cast("long").as("q"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    clusters.join(scored, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        sum(col("tok").cast(dec)).as("__tt"),
        sum(col("q").cast(dec)).as("__tq"),
        min(struct(col("doc_id").as("id"), col("tok").as("t"),
          col("q").as("qq"))).as("__kl"),
        max(struct(col("q").as("qq"), (-col("doc_id")).as("nd"),
          col("tok").as("t"))).as("__kq"))
      .filter(col("n_members") >= 2)
      .select(least(col("n_members"), lit(8L)).as("size_band"),
        (col("__tt") - col("__kl.t").cast(dec)).as("klv"),
        (col("__tt") - col("__kq.t").cast(dec)).as("kqv"),
        (col("__tq") - col("__kl.qq").cast(dec)).as("klq"),
        (col("__tq") - col("__kq.qq").cast(dec)).as("kqq"))
      .groupBy("size_band")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("klv")).as("__klv"), sum(col("kqv")).as("__kqv"),
        sum(col("klq")).as("__klq"), sum(col("kqq")).as("__kqq"))
      .select(col("size_band"), col("n_clusters"),
        expr("CAST(__klv AS BIGINT)").as("kl_victim_tokens"),
        expr("CAST(__kqv AS BIGINT)").as("kq_victim_tokens"),
        expr("CAST(__klq AS BIGINT)").as("kl_victim_q_mass"),
        expr("CAST(__kqq AS BIGINT)").as("kq_victim_q_mass"),
        expr("CAST(__klq - __kqq AS BIGINT)").as("q_saved_micro"))
  }

  /** DuckDB twin of [[clusterPolicyDelta]] — the [[dupClustersSql]]
    * unroll nested as a subquery; winners via row_number windows (the
    * oracle runs at oracle scale; the Spark side stays window-free). */
  def clusterPolicyDeltaSql(pairsSql: String): String =
    s"""WITH cp_s AS (
       |  SELECT doc_id,
       |    coalesce(CAST(len(${TextOps.wordsReSql("text")})
       |      AS BIGINT), 0) AS tok,
       |    CAST(floor((${TextOps.qualityScoreColSql("text")})
       |      * 1e6 + 0.5) AS BIGINT) AS q
       |  FROM documents
       |), cp_c AS (
       |  SELECT * FROM (
       |${dupClustersSql(pairsSql)}
       |  ) t
       |), cp_j AS (
       |  SELECT c.cluster_id, s.doc_id, s.tok, s.q
       |  FROM cp_c c JOIN cp_s s USING (doc_id)
       |), cp_r AS (
       |  SELECT cluster_id, tok, q,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY doc_id) AS rl,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY q DESC, doc_id) AS rq
       |  FROM cp_j
       |), cp_g AS (
       |  SELECT cluster_id, count(*) AS n_members,
       |    sum(CAST(tok AS HUGEINT)) AS tt, sum(CAST(q AS HUGEINT)) AS tq
       |  FROM cp_j GROUP BY cluster_id
       |), cp_per AS (
       |  SELECT least(g.n_members, 8) AS size_band,
       |    g.tt - kl.tok AS klv, g.tt - kq.tok AS kqv,
       |    g.tq - kl.q AS klq, g.tq - kq.q AS kqq
       |  FROM cp_g g
       |  JOIN (SELECT cluster_id, tok, q FROM cp_r WHERE rl = 1) kl
       |    USING (cluster_id)
       |  JOIN (SELECT cluster_id, tok, q FROM cp_r WHERE rq = 1) kq
       |    USING (cluster_id)
       |  WHERE g.n_members >= 2
       |)
       |SELECT CAST(size_band AS BIGINT) AS size_band,
       |  CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sum(klv) AS BIGINT) AS kl_victim_tokens,
       |  CAST(sum(kqv) AS BIGINT) AS kq_victim_tokens,
       |  CAST(sum(klq) AS BIGINT) AS kl_victim_q_mass,
       |  CAST(sum(kqq) AS BIGINT) AS kq_victim_q_mass,
       |  CAST(sum(klq) - sum(kqq) AS BIGINT) AS q_saved_micro
       |FROM cp_per GROUP BY size_band""".stripMargin

  /** DuckDB cost-model query: Σ C(df, 2) over shingles with
    * 2 ≤ df ≤ maxDf — the EXACT candidate-pair emissions x78's guarded
    * shingle self-join produces (the max-df guard's whole claim is that
    * this mass grows linearly; tools/scale_smoke.py asserts it). */
  def guardedCandidateMassSql(maxDf: Long = 16): String =
    s"""WITH ${shinglesSqlCte},
       |gcm_df AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
       |SELECT CAST(coalesce(sum(df * (df - 1) / 2), 0) AS BIGINT) AS mass
       |FROM gcm_df WHERE df BETWEEN 2 AND $maxDf""".stripMargin

  /** DuckDB query: Σ C(size, 2) over the 15-bit simhash block buckets —
    * the exact candidate mass driving x10/x23 cost.
    * tools/scale_smoke.py bounds x23's measured time growth against
    * this (candidate mass is a data property — a closed-vocabulary
    * corpus concentrates signatures however the plan is shaped). */
  def simhashBlockMassSql: String = simhashBlockMassSqlRel("documents")

  /** Contracted-kernel cost model: Σ C(m, 2) over the 15-bit block
    * buckets of DISTINCT contents only — Σ m_b², the candidate mass
    * the post-contraction [[simhashContraction]] block joins actually
    * pay. tools/scale_smoke.py bounds x23/x159/x161 time growth by
    * THIS and prints it beside the uncontracted Σ n_b² so a planted
    * viral clique shows the gap. */
  def simhashRepBlockMassSql: String = simhashBlockMassSqlRel(repRelSql)

  /** Guarded simhash cost model: Σ C(m,2) over COLD block buckets only
    * (m ≤ `maxDf`) — what [[simhashContraction]]'s block joins actually
    * enumerate under the hot-bucket guard; linear in distinct contents
    * by construction (see [[lshGuardedBandMassSql]]). */
  def simhashGuardedBlockMassSql(maxDf: Long = bucketMaxDf): String =
    s"""WITH ${simhashSqlCteRel(repRelSql)},
       |blocks AS (
       |  SELECT bs.b AS blk, (simhash >> (bs.b * 15)) & 32767 AS v
       |  FROM sim, (SELECT unnest([0, 1, 2, 3]) AS b) bs
       |)
       |SELECT CAST(coalesce(sum(c * (c - 1) / 2), 0) AS BIGINT) AS mass FROM (
       |  SELECT blk, v, count(*) AS c FROM blocks GROUP BY blk, v)
       |WHERE c <= $maxDf""".stripMargin

  def simhashBlockMassSqlRel(rel: String): String =
    s"""WITH ${simhashSqlCteRel(rel)},
       |blocks AS (
       |  SELECT bs.b AS blk, (simhash >> (bs.b * 15)) & 32767 AS v
       |  FROM sim, (SELECT unnest([0, 1, 2, 3]) AS b) bs
       |)
       |SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) AS mass FROM (
       |  SELECT blk, v, count(*) AS c FROM blocks GROUP BY blk, v)""".stripMargin

  /** Oracle twin uses the naive all-pairs form — same result set, and
    * the oracle only ever runs at small SF. The hot-bucket guard is
    * mirrored declaratively: a pair survives iff the contents are
    * identical (clique branch) or SOME agreeing 15-bit block sits in a
    * cold bucket (bucket sizes counted over DISTINCT contents, exactly
    * [[simhashContraction]]'s rep-level count). Hot flags are equal
    * whenever the block values are equal, so testing a's flag
    * suffices. */
  def simhashDupPairsSql(maxDist: Int = 3, maxDf: Long = bucketMaxDf): String = {
    val blkV = (side: String, j: Int) => s"($side.simhash >> ${j * 15}) & 32767"
    val hotFlags = (0 until 4).map { j =>
      s"EXISTS (SELECT 1 FROM g_hot h WHERE h.blk = $j AND h.v = ${blkV("s", j)}) AS hot$j"
    }.mkString(",\n    ")
    val coldAgree = (0 until 4).map { j =>
      s"(${blkV("a", j)} = ${blkV("b", j)} AND NOT a.hot$j)"
    }.mkString("\n    OR ")
    s"""WITH ${simhashSqlCte},
       |g_fp AS (
       |  SELECT doc_id, md5(text) AS fp FROM documents
       |  WHERE text IS NOT NULL AND doc_id IS NOT NULL
       |),
       |g_hot AS (
       |  SELECT blk, v FROM (
       |    SELECT bs.b AS blk, (s.simhash >> (bs.b * 15)) & 32767 AS v,
       |      count(DISTINCT f.fp) AS m
       |    FROM sim s JOIN g_fp f ON f.doc_id = s.doc_id,
       |      (SELECT unnest([0, 1, 2, 3]) AS b) bs
       |    GROUP BY blk, v) WHERE m > $maxDf
       |),
       |g_s AS (
       |  SELECT s.doc_id, s.simhash, f.fp,
       |    $hotFlags
       |  FROM sim s JOIN g_fp f ON f.doc_id = s.doc_id
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM g_s a JOIN g_s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxDist
       |  AND (a.fp = b.fp
       |    OR $coldAgree)""".stripMargin
  }

  // ---- duplicate clustering (connected components) ------------------------

  /** Near-dup PAIRS → duplicate CLUSTERS: every doc labeled with the
    * smallest doc_id in its connected component (the canonical
    * representative a dedup pass keeps).
    *
    * Borůvka-style hook-and-contract: each round every current label-node
    * hooks to min(self, min neighbor); the hooking forest is collapsed to
    * its roots by pointer jumping (h ← h∘h on the node-sized hook map —
    * WITHOUT this an ascending chain contracts by one edge per round);
    * docs relabel through the collapsed map; and the edge set is
    * REWRITTEN onto the root labels (self-loops dropped, duplicates
    * collapsed). Contraction is the whole point: near-clique dup
    * components — the common shape for duplicate text — collapse after
    * one round, so the full edge set is scanned once, not once per round
    * (min-label propagation without contraction re-joined all edges every
    * round and was ~10× slower on the simhash pair set). Every hooking
    * tree has ≥ 2 nodes, so component count at least halves per outer
    * round (classic Borůvka bound — `maxIters` = 20 covers 2^20
    * components); the inner jump loop runs log(tree depth) self-joins of
    * the hook map, which is ≤ one row per distinct doc — far smaller than
    * the edge set — so AQE broadcasts it at bench scale and shuffle-joins
    * at cluster scale. Hooks strictly decrease and the component-min node
    * always roots its tree, so the fixpoint label is exactly the
    * component minimum.
    *
    * Iteration state is pinned via `state` ([[Local]] by default;
    * [[Reliable]] for cluster runs where executor loss must not restart
    * a 20-round job — see [[IterState]]). */
  def dupClusters(docs: DataFrame, pairs: DataFrame, maxIters: Int = 20,
                  state: IterState = Local): DataFrame =
    docs.select(col("doc_id"))
      .join(componentLabels(pairs, maxIters, state), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))

  /** The Borůvka loop alone: `(doc_id, label)` for every PAIR ENDPOINT,
    * label = its component's minimum doc_id. [[dupClusters]] left-joins
    * docs on this; the contracted cluster paths ([[simhashClusters]],
    * [[lshClusters]]) run it on rep pairs and attach members by
    * fingerprint instead. */
  def componentLabels(pairs: DataFrame, maxIters: Int = 20,
                      state: IterState = Local): DataFrame = {
    // no distinct here: duplicate input edges are harmless (min is
    // idempotent) and deduping 2M+ pairs up front is a full extra shuffle;
    // the per-round contraction distinct does the real shrinking
    var edges = memoPin(state)(pairs
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")))
    // only pair endpoints iterate — a doc in no pair is its own cluster.
    // labels stay null until round 1: identity labels relabeled through
    // the hook map ARE the hook map, so materializing the identity set
    // first (a distinct over all endpoints + a join) would be two wasted
    // passes over the full edge set
    var labels: DataFrame = null
    var iter = 0
    while (iter < maxIters && !edges.isEmpty) {
      val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      // hook: current label-node u → min(u, min neighbor) ...
      var hook = memoPin(state)(
        sym.groupBy("u").agg(least(col("u"), min(col("v"))).as("nl")))
      // ... then pointer-jump the hooking forest to its roots: h ← h∘h
      // doubles the collapsed depth each pass, so deep chains flatten in
      // log rounds over the node-sized map
      var jumping = true
      while (jumping) {
        val jumped = memoPin(state)(hook
          .join(hook.select(col("u").as("ju"), col("nl").as("jl")),
            col("nl") === col("ju"), "left")
          .select(col("u"), col("nl"), coalesce(col("jl"), col("nl")).as("nl2")))
        jumping = !jumped.filter(col("nl") =!= col("nl2")).isEmpty
        hook = jumped.select(col("u"), col("nl2").as("nl"))
      }
      labels = memoPin(state)(if (labels == null)
          hook.select(col("u").as("doc_id"), col("nl").as("label"))
        else labels
          .join(hook.select(col("u").as("label"), col("nl")), Seq("label"), "left")
          .select(col("doc_id"), coalesce(col("nl"), col("label")).as("label")))
      // contract: rewrite edges onto hooked labels, drop self-loops
      edges = memoPin(state)(edges
        .join(hook.select(col("u"), col("nl").as("lu")), Seq("u"))
        .join(hook.select(col("u").as("v"), col("nl").as("lv")), Seq("v"))
        .select(least(col("lu"), col("lv")).as("u"),
          greatest(col("lu"), col("lv")).as("v"))
        .filter(col("u") =!= col("v")).distinct())
      iter += 1
    }
    if (labels == null) edges.select(col("u").as("doc_id"), col("u").as("label"))
    else labels.select(col("doc_id"), col("label"))
  }

  /** x47: near-dup cluster collapse — the DEDUP OUTPUT of the pipeline:
    * every duplicate cluster (from [[dupClusters]] over any pair
    * generator) is represented by its best-quality member (ties to the
    * lowest doc_id), with the member count kept for accounting.
    * Singleton docs are their own representative, so the result IS the
    * deduplicated corpus manifest.
    *
    * Shape: the clustering's label table joins a narrow per-row quality
    * projection, then ONE map-side-combinable per-cluster aggregate
    * picks the argmax — `max(struct(quality, -doc_id))` is the
    * (quality desc, doc_id asc) winner, and a viral dup cluster
    * collapses in the partials before the shuffle (an argmax WINDOW
    * over cluster_id buffered the whole mega-cluster in one task —
    * the round-11 viral-key `weak` shape). */
  def clusterRepresentatives(docs: DataFrame, pairs: DataFrame,
                             text: Column = col("text"),
                             state: IterState = Local): DataFrame =
    clusterRepresentativesOf(docs,
      dupClusters(docs, pairs, state = state), text)

  /** [[clusterRepresentatives]] over a precomputed label table (the
    * gate path feeds [[lshClusters]] — contracted, never expanded). */
  def clusterRepresentativesOf(docs: DataFrame, clusters: DataFrame,
                               text: Column = col("text")): DataFrame = {
    val scored = docs.select(col("doc_id"),
      TextOps.qualityScoreCol(text).as("quality_score"))
    clusters.join(scored, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality_score"), (-col("doc_id")).as("__nd")))
          .as("__m"))
      .select(col("cluster_id"), (-col("__m.__nd")).as("rep_doc"),
        col("__m.quality_score").as("quality_score"), col("n_members"))
  }

  /** Oracle twin: the [[dupClustersSql]] unroll nested as a subquery,
    * joined to the shared quality expression, same argmax window. The
    * join on doc_id drops the (negative) convergence sentinels — x23's
    * own gate row guards those; here they would have no quality row. */
  def clusterRepresentativesSql(pairsSql: String): String =
    s"""WITH q AS (
       |  SELECT doc_id, ${TextOps.qualityScoreColSql("text")} AS quality_score
       |  FROM documents
       |), c AS (
       |  SELECT * FROM (
       |${dupClustersSql(pairsSql)}
       |  ) t
       |), r AS (
       |  SELECT c.cluster_id, c.doc_id, q.quality_score,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY q.quality_score DESC, c.doc_id) AS rn,
       |    count(*) OVER (PARTITION BY c.cluster_id) AS n_members
       |  FROM c JOIN q USING (doc_id)
       |)
       |SELECT cluster_id, doc_id AS rep_doc, quality_score,
       |  CAST(n_members AS BIGINT) AS n_members
       |FROM r WHERE rn = 1""".stripMargin

  // ---- benchmark decontamination ------------------------------------------

  /** Train/eval contamination report: `(train_doc, eval_doc, n_shared)`
    * pairs sharing at least `minShared` distinct word n-grams — the
    * n-gram-overlap decontamination check run before training on any
    * corpus that might contain benchmark text.
    *
    * Scale shape: the eval set is small by nature, so its exploded
    * shingle relation BROADCASTS and the corpus-side scan stays narrow —
    * one pass over training shingles, a map-side hash join, and a
    * partial-aggregating pair count. No self-join, no shuffle of the
    * corpus. (At 100 TB the broadcast side would be the hashed
    * fingerprint set — same plan with 8-byte keys.) */
  def contaminationReport(docs: DataFrame, evalPred: Column, n: Int = 5,
                          minShared: Long = 3,
                          text: Column = col("text")): DataFrame = {
    def sh(df: DataFrame, as: String) = df
      .select(col("doc_id").as(as), explode(array_distinct(shingles(text, n))).as("sh"))
    sh(docs.filter(!evalPred), "train_doc")
      .join(broadcast(sh(docs.filter(evalPred), "eval_doc")), Seq("sh"))
      .groupBy("train_doc", "eval_doc").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[contaminationReport]] with a Bloom-filter pre-filter — the shape
    * the same check takes at 100 TB. The exact form broadcasts the eval
    * side's exploded SHINGLE STRINGS and hash-joins the corpus against
    * them; this form broadcasts only a Bloom filter of the eval shingles'
    * 60-bit hashes (a few MB for millions of shingles at 1% fpp), so the
    * corpus-side scan drops every non-candidate shingle MAP-SIDE before
    * any join or shuffle. False positives survive the probe but die in
    * the exact string-match join that follows — the result is
    * bit-identical to [[contaminationReport]] (BloomDecontamSpec pins the
    * equality; the driver gate runs it against the same exact-SQL twin).
    *
    * The membership probe is Spark's own [[org.apache.spark.sql
    * .catalyst.expressions.BloomFilterMightContain]] — the codegen'd
    * expression runtime join filters inject, constructed directly via
    * [[graft.functions.BloomFunctions.mightContain]] because 4.1 leaves
    * it out of the public SQL registry. No UDF anywhere on this path. */
  def bloomContaminationReport(docs: DataFrame, evalPred: Column, n: Int = 5,
                               minShared: Long = 3, fpp: Double = 0.01,
                               text: Column = col("text")): DataFrame = {
    def sh(df: DataFrame, as: String) = df
      .select(col("doc_id").as(as), explode(array_distinct(shingles(text, n))).as("sh"))
    // the eval relation feeds three consumers (size count, bloom build,
    // broadcast join) — pin it once rather than re-scanning and
    // re-shingling the eval docs per consumer; it is the small side by
    // contract, so the pin is cheap. The pin is SESSION-SCOPED
    // (Memo.pinned) and the sketch is memoized per pin, so repeated
    // invocations over the same eval corpus (bench rounds, explain
    // tooling) pay the checkpoint + bloom build once, not per call.
    val evalHashed = graft.core.Memo.pinned(
      sh(docs.filter(evalPred), "eval_doc")
        .select(col("eval_doc"), col("sh"), HashFunctions.hash60(col("sh")).as("h")))
    val (nEval, bloom) = evalBloom(evalHashed, fpp)
    if (nEval == 0) // bloomFilter() NPEs on empty input; result is empty anyway
      return contaminationReport(docs, evalPred, n, minShared, text)
    sh(docs.filter(!evalPred), "train_doc")
      .withColumn("h", HashFunctions.hash60(col("sh")))
      // map-side native probe: non-candidates never shuffle
      .filter(graft.functions.BloomFunctions.mightContain(bloom, col("h")))
      .join(broadcast(evalHashed), Seq("sh", "h")) // exact match kills fp's
      .groupBy("train_doc", "eval_doc").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // Bloom sketch memo, keyed by the PIN's plan (fpp joins the key so
  // different precisions don't collide). A checkpoint materializes as a
  // unique LogicalRDD, so a stale sketch could never be SERVED after a
  // re-pin; byPlan's invalidation also drops it, so an MB-sized sketch
  // is not held past the next state mutation on a long-lived session.
  private def evalBloom(pinnedEval: DataFrame,
                        fpp: Double): (Long, org.apache.spark.util.sketch.BloomFilter) =
    graft.core.Memo.byPlan(pinnedEval, ("bloom", java.lang.Double.doubleToLongBits(fpp))) {
      val nEval = pinnedEval.count()
      (nEval, if (nEval == 0) null else pinnedEval.stat.bloomFilter("h", nEval, fpp))
    }

  def contaminationReportSql(evalPredSql: String, n: Int = 5,
                             minShared: Long = 3,
                             rel: String = "documents"): String =
    s"""WITH ${shinglesSqlCteN(n, s"(SELECT * FROM $rel WHERE NOT ($evalPredSql))", "tr")},
       |${shinglesSqlCteN(n, s"(SELECT * FROM $rel WHERE $evalPredSql)", "ev")}
       |SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
       |  count(*) AS n_shared
       |FROM tr JOIN ev USING (sh)
       |GROUP BY tr.doc_id, ev.doc_id
       |HAVING count(*) >= $minShared""".stripMargin

  /** DuckDB twin of [[dupClusters]]: the SAME Borůvka hook / pointer-jump
    * / contract recursion, statically unrolled as MATERIALIZED CTEs
    * (DuckDB inlines plain CTEs, and the jump chain references each level
    * twice — inlining would blow up exponentially). `pairsSql` is a full
    * SELECT producing (doc_a, doc_b) — nested as a subquery so pair
    * generators with their own WITH clauses compose.
    *
    * Bounds: `rounds` outer contractions converge components of up to
    * 2^rounds nodes (Borůvka halving); `jumps` pointer doublings per
    * round collapse hook forests up to 2^jumps deep (≥ any component
    * size, since hooks strictly decrease). The defaults cover 8192-node
    * components — above every test SF (sf0.1 has 5000 docs total); extra
    * rounds/jumps are no-ops (min is idempotent), so over-provisioning
    * is safe, never wrong. This replaced a recursive transitive closure
    * (O(Σ|component|²) rows) that was infeasible at the sf0.1 sweep; the
    * unrolled form runs it in ~2 s. */
  def dupClustersSql(pairsSql: String, rounds: Int = 13, jumps: Int = 13): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"pairs AS (\n  SELECT doc_a, doc_b FROM (\n$pairsSql\n  ) t\n)",
      "e0 AS MATERIALIZED (\n  SELECT least(doc_a, doc_b) AS u, greatest(doc_a, doc_b) AS v\n" +
        "  FROM pairs WHERE doc_a <> doc_b\n)")
    for (k <- 0 until rounds) {
      ctes += s"h${k}_0 AS MATERIALIZED (\n  SELECT u, least(u, min(v)) AS nl\n" +
        s"  FROM (SELECT u, v FROM e$k UNION ALL SELECT v, u FROM e$k)\n  GROUP BY u\n)"
      for (j <- 0 until jumps)
        ctes += s"h${k}_${j + 1} AS MATERIALIZED (\n  SELECT h.u, coalesce(h2.nl, h.nl) AS nl\n" +
          s"  FROM h${k}_$j h LEFT JOIN h${k}_$j h2 ON h.nl = h2.u\n)"
      val hk = s"h${k}_$jumps"
      ctes += (if (k == 0)
        s"l0 AS MATERIALIZED (SELECT u AS doc_id, nl AS label FROM $hk)"
      else
        s"l$k AS MATERIALIZED (\n  SELECT l.doc_id, coalesce(h.nl, l.label) AS label\n" +
          s"  FROM l${k - 1} l LEFT JOIN $hk h ON l.label = h.u\n)")
      ctes += s"e${k + 1} AS MATERIALIZED (\n" +
        s"  SELECT DISTINCT least(hu.nl, hv.nl) AS u, greatest(hu.nl, hv.nl) AS v\n" +
        s"  FROM e$k e JOIN $hk hu ON e.u = hu.u JOIN $hk hv ON e.v = hv.u\n" +
        s"  WHERE hu.nl <> hv.nl\n)"
    }
    // convergence guards, each turning a silent wrong answer into a loud
    // row-count mismatch at the gate:
    //  (a) a component larger than 2^rounds nodes would leave edges
    //      uncontracted and the labels non-minimal → sentinel (-1,-1)
    //      when e{rounds} is non-empty;
    //  (b) a hook forest deeper than 2^jumps within ANY round would stop
    //      pointer jumping at a non-root label — edges then contract onto
    //      a shared non-root WITHOUT surviving into e{rounds}, which guard
    //      (a) alone cannot see → sentinel (-2,-2) when any final jump
    //      table still holds a label that is itself hooked elsewhere
    //      (h.nl not a fixpoint). Both are over-provisioned no-ops at
    //      every test SF; the probes scan already-MATERIALIZED CTEs.
    val jumpGuards = (0 until rounds).map { k =>
      s"""SELECT * FROM (
         |  SELECT CAST(-2 AS BIGINT) AS doc_id, CAST(-2 AS BIGINT) AS cluster_id
         |  FROM h${k}_$jumps h JOIN h${k}_$jumps h2 ON h.nl = h2.u
         |  WHERE h2.nl <> h.nl LIMIT 1
         |)""".stripMargin
    }
    "WITH " + ctes.mkString(",\n") +
      s"""
         |SELECT * FROM (
         |  SELECT d.doc_id, CAST(coalesce(l.label, d.doc_id) AS BIGINT) AS cluster_id
         |  FROM documents d LEFT JOIN l${rounds - 1} l ON l.doc_id = d.doc_id
         |)
         |UNION ALL
         |SELECT * FROM (
         |  SELECT CAST(-1 AS BIGINT) AS doc_id, CAST(-1 AS BIGINT) AS cluster_id
         |  FROM e$rounds LIMIT 1
         |)
         |UNION ALL
         |""".stripMargin + jumpGuards.mkString("\nUNION ALL\n")
  }
}
