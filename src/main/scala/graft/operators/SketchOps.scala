package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** Distributed sketch operators — the fixed-size-state summaries that
  * replace exact global aggregation at warehouse scale, each shipped with
  * an exact twin so the sketch's error is MEASURED, not assumed (the
  * x89 minhash-calibration pattern).
  *
  * HyperLogLog (Flajolet et al. 2007, the Google HLL++ paper's baseline):
  * per-group distinct counts from m = 2^p single-byte registers.
  * The register relation here is the real production contract —
  * `max(rho) GROUP BY (group, bucket)` is associative/commutative, so
  * registers merge across partitions (partial aggregation), across days
  * (incremental refresh), and across tables (union-then-max) without
  * ever rescanning raw data. The estimate is a pure |groups|×m-sized
  * finishing step.
  *
  * Everything is engine-portable and hash-stable against the DuckDB twin:
  *   - the item hash is [[HashFunctions.hash60]] (md5-based, 60 bits);
  *   - rho comes from `length(bin(w))` — bit length, no float log2;
  *   - the harmonic sum is EXACT BIGINT arithmetic: each register
  *     contributes 2^(53−reg), so `sum` ≤ m·2^53 < 2^63 never rounds
  *     (a raw `sum(1/2^reg)` double would round by partition order);
  *   - the two estimator branches (linear counting below 2.5m, raw
  *     harmonic above) hit ln only on the trusted integer-ratio class.
  */
object SketchOps {

  /** Registers per group: (group, bucket ∈ [0, m), reg = max rho).
    * rho = leading zeros of the 52-bit suffix + 1 = 53 − bitlen(w).
    * Package-visible so the spec can pin the merge law directly.
    *
    * The same call on a stream maintains the registers live: one
    * stateful max-aggregation, |groups|·m single-byte registers of
    * state, no watermark — and `max` is idempotent, so a replayed
    * micro-batch cannot move a register (exactly-once for free under
    * at-least-once delivery). The estimate is then computed on read by
    * [[estimateFromRegisters]] (the streaming spec pins both). */
  private[graft] def registers(df: DataFrame, group: Column, item: Column,
                               m: Int): DataFrame = {
    requireRegisterCount(m)
    val h = HashFunctions.hash60(item)
    df.select(group.as("g"), h.as("h"))
      .select(col("g"), pmod(col("h"), lit(m.toLong)).cast("int").as("bucket"),
        expr(s"h div ${m}L").as("w"))
      .select(col("g"), col("bucket"),
        when(col("w") === 0L, lit(53))
          .otherwise(lit(53) - length(bin(col("w")))).cast("int").as("rho"))
      .groupBy("g", "bucket").agg(max(col("rho")).as("reg"))
  }

  /** m = 2^p registers per group, p ∈ [4, 16]. */
  private def requireRegisterCount(m: Int): Unit =
    require(m >= 16 && m <= 65536 && Integer.bitCount(m) == 1,
      s"m=$m is not 2^p for p in [4,16]")

  /** The |groups|×m-sized finishing step: registers → (g, n_est).
    * Shared verbatim by the batch gate and the streaming deployment
    * (live registers, estimate computed on read), so online and offline
    * estimates cannot drift. */
  private[graft] def estimateFromRegisters(regs: DataFrame, m: Int): DataFrame = {
    // full m-bucket grid per group: absent buckets are reg=0 and must
    // contribute 2^53 to the harmonic sum / count as zero registers.
    // The grid branch renames its columns — it re-reads `regs`, and a
    // same-name self-join over an external view (e.g. a streaming
    // memory sink) hits conflicting-attribute resolution
    val grid = regs.select(col("g").as("gg")).distinct()
      .select(col("gg"), explode(expr(s"sequence(0, ${m - 1})")).as("bb"))
    val full = grid.join(regs,
        col("gg") === col("g") && col("bb") === col("bucket"), "left_outer")
      .select(col("gg").as("g"), coalesce(col("reg"), lit(0)).as("reg"))
    val stats = full.groupBy("g").agg(
      // EXACT: sum of 2^(53-reg) over m registers ≤ m·2^53 < 2^63
      sum(expr("shiftleft(cast(1 as bigint), 53 - reg)")).as("hs"),
      sum(when(col("reg") === 0, 1L).otherwise(0L)).as("zeros"))
    // alpha_m·m²·2^53 / hs, constants folded once, left-assoc order
    val alphaNum = s"(0.7213 / (1.0 + 1.079 / $m.0)) * $m.0 * $m.0 * 9007199254740992.0"
    stats.select(col("g"), col("zeros"),
      expr(s"$alphaNum / cast(hs as double)").as("est_raw"))
      .select(col("g"),
        when(col("est_raw") <= lit(2.5 * m) && col("zeros") > 0L,
          // linear counting: m·ln(m/V) — ln over an integer ratio
          expr(s"$m.0 * ln($m.0 / cast(zeros as double))"))
          .otherwise(col("est_raw")).as("est"))
      .select(col("g"), floor(col("est") + lit(0.5)).cast("long").as("n_est"))
  }

  /** Per-group HLL estimate beside the exact distinct count and the
    * relative error — the calibration read before trusting the sketch
    * as the production `count(distinct)` replacement.
    *
    * Output: (group, n_exact, n_est, rel_err); deterministic across
    * engines — both estimator branches are exact-integer or
    * fixed-op-order IEEE arithmetic.
    */
  def hllCalibration(events: DataFrame, group: Column, item: Column,
                     p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, s"p=$p outside [4,16]")
    val m = 1 << p
    val est = estimateFromRegisters(registers(events, group, item, m), m)
    val exact = events.groupBy(group.as("g"))
      .agg(countDistinct(item).as("n_exact"))
    exact.join(broadcast(est), Seq("g"))
      .select(col("g").as("group_key"), col("n_exact"), col("n_est"),
        (abs(col("n_est") - col("n_exact")).cast("double") /
          col("n_exact").cast("double")).as("rel_err"))
  }

  // ---- Count-Min sketch ---------------------------------------------------

  /** Count-Min counter table (Cormode & Muthukrishnan 2005): d hash rows
    * × w counters; counter(i, b) = Σ counts of every key with
    * h_i(key) ≡ b. Like the HLL registers, THIS is the production
    * contract — counters are sums, so sketches merge across partitions/
    * days/tables by adding, and the table is d·w integers regardless of
    * corpus size. Package-visible for the spec's merge-law pin.
    *
    * The same call on a stream of `(k, cnt = 1)` rows maintains the
    * counters live: one sum-shaped stateful aggregation, d·w longs of
    * state at any stream volume, probed by the batch finishing
    * expressions unchanged (the streaming spec pins stream == batch).
    * Unlike HLL's idempotent max, sums COUNT replays — deliver
    * exactly-once (checkpointed source offsets) or dedup upstream. */
  private[graft] def cmsCounters(keyCounts: DataFrame, d: Int,
                                 w: Int): DataFrame = {
    requireCmsShape(d, w)
    keyCounts
      .select(col("k"), col("cnt"),
        explode(expr(s"sequence(0, ${d - 1})")).as("row_i"))
      .select(col("row_i"),
        pmod(HashFunctions.hash60(concat(col("row_i").cast("string"), lit("|"), col("k"))),
          lit(w.toLong)).cast("int").as("bucket"),
        col("cnt"))
      .groupBy("row_i", "bucket").agg(sum(col("cnt")).as("counter"))
  }

  private def requireCmsShape(d: Int, w: Int): Unit =
    require(d >= 1 && d <= 8 && w >= 16 && w <= 65536, s"d=$d w=$w")

  /** Count-Min heavy-hitter calibration: the true top-`k` keys by exact
    * count beside their CMS point estimates (min over the d rows) and
    * the overestimate — CMS never underestimates, so `over_cnt ≥ 0` is a
    * structural guarantee and its size is the collision cost actually
    * paid at this (d, w).
    *
    * Scale shape: one shuffle onto the key (the exact count — already
    * |keys|-sized), one onto (row, bucket) for the d·w counter table;
    * the counter table then BROADCASTS (it is d·w rows by construction)
    * onto the top-k probe. Everything is exact BIGINT.
    *
    * Output: (key, n_exact, n_est, over_cnt). */
  def cmsCalibration(df: DataFrame, key: Column, d: Int = 4, w: Int = 512,
                     topK: Int = 20): DataFrame = {
    requireCmsShape(d, w)
    val keyCounts = df.select(key.cast("string").as("k"))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
    val counters = cmsCounters(keyCounts, d, w)
    val top = keyCounts
      .orderBy(col("cnt").desc, col("k")).limit(topK)
    top
      .select(col("k"), col("cnt"),
        explode(expr(s"sequence(0, ${d - 1})")).as("row_i"))
      .select(col("k"), col("cnt"), col("row_i"),
        pmod(HashFunctions.hash60(concat(col("row_i").cast("string"), lit("|"), col("k"))),
          lit(w.toLong)).cast("int").as("bucket"))
      .join(broadcast(counters), Seq("row_i", "bucket"))
      .groupBy(col("k"), col("cnt"))
      .agg(min(col("counter")).as("n_est"))
      .select(col("k").as("key"), col("cnt").as("n_exact"), col("n_est"),
        (col("n_est") - col("cnt")).as("over_cnt"))
  }

  /** DuckDB twin of [[cmsCalibration]] over `keyExpr` of `rel`. */
  def cmsCalibrationSql(rel: String, keyExpr: String, d: Int = 4,
                        w: Int = 512, topK: Int = 20): String = {
    val h = HashFunctions.hash60Sql("CAST(row_i AS VARCHAR) || '|' || k")
    s"""WITH cms_counts AS (
       |  SELECT CAST($keyExpr AS VARCHAR) AS k, count(*) AS cnt
       |  FROM $rel GROUP BY 1
       |), cms_cells AS (
       |  SELECT row_i, CAST($h % $w AS INTEGER) AS bucket, cnt
       |  FROM cms_counts, (SELECT unnest(range($d)) AS row_i)
       |), cms_tab AS (
       |  SELECT row_i, bucket, CAST(sum(cnt) AS BIGINT) AS counter
       |  FROM cms_cells GROUP BY row_i, bucket
       |), cms_top AS (
       |  SELECT k, cnt FROM cms_counts ORDER BY cnt DESC, k LIMIT $topK
       |), cms_probe AS (
       |  SELECT k, cnt, row_i, CAST($h % $w AS INTEGER) AS bucket
       |  FROM cms_top, (SELECT unnest(range($d)) AS row_i)
       |)
       |SELECT p.k AS key, CAST(p.cnt AS BIGINT) AS n_exact,
       |  CAST(min(t.counter) AS BIGINT) AS n_est,
       |  CAST(min(t.counter) - p.cnt AS BIGINT) AS over_cnt
       |FROM cms_probe p
       |JOIN cms_tab t ON t.row_i = p.row_i AND t.bucket = p.bucket
       |GROUP BY p.k, p.cnt""".stripMargin
  }

  /** Count-Min join-size estimation (Cormode & Muthukrishnan 2005 §4.2):
    * |A ⋈ B| on an equi-key from the INNER PRODUCT of the two sides'
    * counter tables — est = min over the d rows of Σ_b cA[i,b]·cB[i,b].
    * This is the planner read that decides broadcast vs shuffle vs salt
    * BEFORE paying the shuffle: both sketches are d·w integers however
    * big the fact tables are, they merge by addition (incremental
    * refresh), and the estimate NEVER undercounts (collisions only add),
    * so a "fits in broadcast" verdict from the sketch is safe.
    *
    * Shipped as a calibration: the exact join cardinality
    * Σ_k fA(k)·fB(k) beside the sketch estimate, so the (d, w) error is
    * measured on this corpus, not assumed.
    *
    * Scale shape: one shuffle per side onto its key (each relation
    * shrinks to |keys| there), the d·w counter tables meet in a
    * BROADCAST join, and the inner product is a d-row aggregate. The
    * exact twin joins the two |keys|-sized frequency relations — the
    * only part a production deployment would drop. Products sum in
    * exact DECIMAL(38,0) (counter products reach nA·nB, past 2^63 for
    * ~3·10⁹-row sides); outputs cast to BIGINT once, after the sum.
    *
    * Output: 1 row (n_rows_a, n_rows_b, n_keys_a, n_keys_b, join_exact,
    * join_est, over_ppm ≥ 0). */
  def joinSizeCalibration(a: DataFrame, aKey: Column, b: DataFrame,
                          bKey: Column, d: Int = 4,
                          w: Int = 1024): DataFrame = {
    requireCmsShape(d, w)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // per-key count tables each feed THREE consumers (CMS counters, the
    // 1-row totals, the exact inner product) — pinned (round 18, guide
    // §2.4) so the big-side scans+aggregations run once per invocation,
    // not once per branch; both tables are key-cardinality-sized
    val ca = DedupOps.Local.pin(a.select(aKey.cast("string").as("k"))
      .groupBy("k").agg(count(lit(1)).as("cnt")))
    val cb = DedupOps.Local.pin(b.select(bKey.cast("string").as("k"))
      .groupBy("k").agg(count(lit(1)).as("cnt")))
    val ta = cmsCounters(ca, d, w)
    val tb = cmsCounters(cb, d, w).withColumnRenamed("counter", "counter_b")
    val est = ta.join(broadcast(tb), Seq("row_i", "bucket"))
      .groupBy("row_i")
      .agg(sum(col("counter").cast(dec) * col("counter_b").cast(dec)).as("ip"))
      .agg(min(col("ip")).cast("long").as("join_est"))
    val statsA = ca.agg(sum(col("cnt")).as("n_rows_a"),
      count(lit(1)).as("n_keys_a"))
    val statsB = cb.agg(sum(col("cnt")).as("n_rows_b"),
      count(lit(1)).as("n_keys_b"))
    val exact = ca.join(cb.withColumnRenamed("cnt", "cnt_b"), Seq("k"))
      .agg(coalesce(sum(col("cnt").cast(dec) * col("cnt_b").cast(dec)),
        lit(0).cast(dec)).cast("long").as("join_exact"))
    // 1-row stat relations compose by crossJoin (the x49 BM25 convention)
    statsA.crossJoin(statsB).crossJoin(exact).crossJoin(est)
      .select(col("n_rows_a"), col("n_rows_b"), col("n_keys_a"),
        col("n_keys_b"), col("join_exact"), col("join_est"),
        when(col("join_exact") > 0L,
          expr("((join_est - join_exact) * 1000000L) div join_exact"))
          .otherwise(lit(null).cast("long")).as("over_ppm"))
  }

  /** DuckDB twin of [[joinSizeCalibration]]: `relA`/`relB` with key
    * expressions `keyA`/`keyB`. */
  def joinSizeCalibrationSql(relA: String, keyA: String, relB: String,
                             keyB: String, d: Int = 4,
                             w: Int = 1024): String = {
    val h = HashFunctions.hash60Sql("CAST(row_i AS VARCHAR) || '|' || k")
    s"""WITH js_ca AS (
       |  SELECT CAST($keyA AS VARCHAR) AS k, count(*) AS cnt
       |  FROM $relA GROUP BY 1
       |), js_cb AS (
       |  SELECT CAST($keyB AS VARCHAR) AS k, count(*) AS cnt
       |  FROM $relB GROUP BY 1
       |), js_ta AS (
       |  SELECT row_i, bucket, CAST(sum(cnt) AS BIGINT) AS counter FROM (
       |    SELECT row_i, CAST($h % $w AS INTEGER) AS bucket, cnt
       |    FROM js_ca, (SELECT unnest(range($d)) AS row_i))
       |  GROUP BY row_i, bucket
       |), js_tb AS (
       |  SELECT row_i, bucket, CAST(sum(cnt) AS BIGINT) AS counter FROM (
       |    SELECT row_i, CAST($h % $w AS INTEGER) AS bucket, cnt
       |    FROM js_cb, (SELECT unnest(range($d)) AS row_i))
       |  GROUP BY row_i, bucket
       |), js_est AS (
       |  SELECT CAST(min(ip) AS BIGINT) AS join_est FROM (
       |    SELECT a.row_i, sum(CAST(a.counter AS HUGEINT) * b.counter) AS ip
       |    FROM js_ta a JOIN js_tb b
       |      ON a.row_i = b.row_i AND a.bucket = b.bucket
       |    GROUP BY a.row_i)
       |), js_exact AS (
       |  SELECT CAST(COALESCE(sum(CAST(a.cnt AS HUGEINT) * b.cnt), 0)
       |    AS BIGINT) AS join_exact
       |  FROM js_ca a JOIN js_cb b ON a.k = b.k
       |), js_stats AS (
       |  SELECT (SELECT CAST(sum(cnt) AS BIGINT) FROM js_ca) AS n_rows_a,
       |    (SELECT CAST(sum(cnt) AS BIGINT) FROM js_cb) AS n_rows_b,
       |    (SELECT CAST(count(*) AS BIGINT) FROM js_ca) AS n_keys_a,
       |    (SELECT CAST(count(*) AS BIGINT) FROM js_cb) AS n_keys_b
       |)
       |SELECT n_rows_a, n_rows_b, n_keys_a, n_keys_b, join_exact, join_est,
       |  CASE WHEN join_exact > 0
       |    THEN ((join_est - join_exact) * 1000000) // join_exact
       |    ELSE NULL END AS over_ppm
       |FROM js_stats, js_exact, js_est""".stripMargin
  }

  /** Join-key skew report: the read before any big shuffle — project the
    * key's rows onto `p` hash partitions (portable md5 partitioner, a
    * model of ANY hash partitioner's load) and report per-partition
    * load, key count, load ratio vs the mean, and the heaviest key.
    * A max load ratio ≫ 1e6 ppm says salt-or-AQE before joining.
    *
    * Scale shape: one shuffle on the key (the frequency aggregate — the
    * relation shrinks to |keys| there), then ONE map-side-combinable
    * per-part aggregate (sums + an argmax struct) down to p rows;
    * everything after the first aggregate is |keys|-sized and collapses
    * in the partials. All ratios are exact integer ppm.
    *
    * Output: (part, n_rows, n_keys, load_ppm, top_key, top_key_cnt). */
  def keySkewReport(df: DataFrame, key: Column, p: Int = 32): DataFrame = {
    require(p >= 2 && p <= 4096, s"p=$p")
    val counts = df.select(key.cast("string").as("k"))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .select(col("k"), col("cnt"),
        pmod(HashFunctions.hash60(col("k")), lit(p.toLong))
          .cast("int").as("part"))
    // top key per part as a map-side-combinable argmax aggregate:
    // min(struct(-cnt, k)) is the (cnt desc, k asc) winner — a
    // rank window over `part` grouped |keys|/p distinct keys into one
    // task each (the round-11 viral-key `weak` shape; distinct keys
    // track corpus scale even though the relation is count-compressed)
    val perPart = counts
      .groupBy("part").agg(
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        min(struct((-col("cnt")).as("__nc"), col("k"))).as("__top"))
      .select(col("part"), col("n_rows"), col("n_keys"),
        col("__top.k").as("top_key"), (-col("__top.__nc")).as("top_key_cnt"))
    // global total as an UNPARTITIONED window over the p-row aggregate:
    // a separate `perPart.agg(sum)` branch re-executes the whole
    // pipeline (column pruning breaks canonical exchange reuse — the
    // aggregate-join-back trap); the window is one singleton exchange
    // of p rows
    perPart.withColumn("total",
        sum(col("n_rows")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("part").cast("long").as("part"), col("n_rows"),
        col("n_keys"),
        expr(s"(n_rows * ${p}L * 1000000L) div total").as("load_ppm"),
        col("top_key"), col("top_key_cnt"))
  }

  /** DuckDB twin of [[keySkewReport]] over `keyExpr` of `rel`. */
  def keySkewReportSql(rel: String, keyExpr: String, p: Int = 32): String = {
    val h = HashFunctions.hash60Sql("k")
    s"""WITH sk_counts AS (
       |  SELECT k, cnt, CAST($h % $p AS INTEGER) AS part FROM (
       |    SELECT CAST($keyExpr AS VARCHAR) AS k, count(*) AS cnt
       |    FROM $rel GROUP BY 1)
       |), sk_rn AS (
       |  SELECT *, row_number() OVER (PARTITION BY part
       |    ORDER BY cnt DESC, k ASC) AS rn
       |  FROM sk_counts
       |), sk_part AS (
       |  SELECT part, CAST(sum(cnt) AS BIGINT) AS n_rows,
       |    CAST(count(*) AS BIGINT) AS n_keys,
       |    max(CASE WHEN rn = 1 THEN k END) AS top_key,
       |    CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS top_key_cnt
       |  FROM sk_rn GROUP BY part
       |)
       |SELECT CAST(part AS BIGINT) AS part, n_rows, n_keys,
       |  CAST((n_rows * $p * 1000000) //
       |    sum(n_rows) OVER () AS BIGINT) AS load_ppm,
       |  top_key, top_key_cnt
       |FROM sk_part""".stripMargin
  }

  /** DuckDB twin of [[hllCalibration]]; `groupExpr`/`itemExpr` are SQL
    * expressions over `events`. Keep the arithmetic in lockstep with the
    * Spark side. */
  def hllCalibrationSql(groupExpr: String, itemExpr: String,
                        p: Int = 8): String = {
    val m = 1 << p
    val h = HashFunctions.hash60Sql(itemExpr)
    s"""WITH hll_regs AS (
       |  SELECT g, bucket, max(rho) AS reg FROM (
       |    SELECT g, h % $m AS bucket,
       |      CASE WHEN h // $m = 0 THEN 53
       |           ELSE 53 - length(bin(h // $m)) END AS rho
       |    FROM (SELECT $groupExpr AS g, $h AS h FROM events))
       |  GROUP BY g, bucket
       |), hll_full AS (
       |  SELECT gr.g, COALESCE(r.reg, 0) AS reg
       |  FROM (SELECT g, unnest(range($m)) AS bucket
       |        FROM (SELECT DISTINCT g FROM hll_regs)) gr
       |  LEFT JOIN hll_regs r ON gr.g = r.g AND gr.bucket = r.bucket
       |), hll_stats AS (
       |  SELECT g,
       |    CAST(sum(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT) AS hs,
       |    CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
       |  FROM hll_full GROUP BY g
       |), hll_est AS (
       |  SELECT g, CAST(floor(
       |    CASE WHEN est_raw <= ${2.5 * m} AND zeros > 0
       |         THEN $m.0 * ln($m.0 / CAST(zeros AS DOUBLE))
       |         ELSE est_raw END + 0.5) AS BIGINT) AS n_est
       |  FROM (SELECT g, zeros,
       |          (0.7213 / (1.0 + 1.079 / $m.0)) * $m.0 * $m.0
       |            * 9007199254740992.0 / CAST(hs AS DOUBLE) AS est_raw
       |        FROM hll_stats)
       |)
       |SELECT e.g AS group_key, n_exact, n_est,
       |  CAST(abs(n_est - n_exact) AS DOUBLE) / CAST(n_exact AS DOUBLE) AS rel_err
       |FROM (SELECT $groupExpr AS g, CAST(count(DISTINCT $itemExpr) AS BIGINT) AS n_exact
       |      FROM events GROUP BY 1) e
       |JOIN hll_est USING (g)""".stripMargin
  }
}
