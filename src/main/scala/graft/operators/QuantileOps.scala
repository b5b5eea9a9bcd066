package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact rank-based quantiles of a HIGH-CARDINALITY numeric column —
  * the missing piece of the quantile story:
  *
  *   - [[TextOps.lengthQuantiles]] / [[TextOps.sampleQuantileCalibration]]
  *     compress to per-(group, value) counts first — exact and one-pass,
  *     but only because token counts repeat heavily;
  *   - `approx_percentile` is mergeable and one-pass but NOT exact;
  *   - `row_number` over a group window is exact but sorts each group in
  *     one task — the x126-class scale killer;
  *   - a global sort is exact but shuffles the entire corpus to rank a
  *     handful of positions.
  *
  * This is the classic distributed EXACT selection: iterative equi-width
  * histogram refinement. Each round scans the (group, value) projection
  * once, buckets every in-range value by a power-of-two width
  * (`(v - lo) >>> s` — shift bucketing, overflow-free on the full int64
  * domain), aggregates (group, target, bucket) counts with map-side
  * combine, and the driver walks each histogram to find the bucket
  * containing the target rank, narrowing `[lo, hi]` by a factor of
  * 2^⌈log₂ B⌉ per round. A 64-bit domain resolves in ≤ ⌈64/log₂(B)⌉
  * TOTAL scans (≤ 6 at B = 4096) — the per-group extent/count round
  * rides the first histogram scan: the full-domain grid needs no
  * bounds, and carrying per-bucket min/max both folds the extents on
  * the driver and starts each target at the actual value extent of its
  * rank's bucket. Real value ranges resolve in 2–3 scans. The
  * driver holds only histograms (groups × targets × B rows per round —
  * loop control, the Borůvka/BPE discipline), every scan is a narrow
  * 2-column projection with the range predicate pushed down, and no
  * task ever receives more than one bucket's aggregate.
  *
  * Quantile definition: the value at ascending rank `ceil(p·n)` within
  * the group — the x32/x129 convention. Ranks over VALUES need no
  * tiebreak: equal values occupy a rank run, and any rank inside the
  * run yields the same value, so the result is a pure function of the
  * data. The DuckDB twin ranks with a window (its gate-sized problem);
  * hash equality at both SFs pins the refinement against the
  * rank-ordered definition.
  */
object QuantileOps {

  /** Exact per-`group` quantiles of long-valued `value` at the given
    * `ps` points. Output: one row per group —
    * (group, n_rows, <name per p>...), groups ordered by the caller's
    * consumer (relation is small: |groups| rows). */
  def exactQuantiles(df: DataFrame, group: String, value: Column,
                     ps: Seq[(String, Double)],
                     buckets: Int = 4096, maxRounds: Int = 12): DataFrame = {
    require(ps.nonEmpty && buckets >= 16 && (buckets & (buckets - 1)) == 0,
      s"buckets=$buckets must be a power of two >= 16")
    // target ids key driver histograms: the separator must be a char
    // that can never appear in a caller-supplied quantile NAME, or two
    // distinct (group, name) pairs could compose to one id when a group
    // value contains the separator ("a b"+"p50" vs "a"+"b p50")
    require(ps.forall(!_._1.contains('\u0000')),
      "quantile names must not contain NUL")
    val spark = df.sparkSession
    import spark.implicits._
    val logB = java.lang.Integer.numberOfTrailingZeros(buckets)
    val base = df.select(col(group).cast("string").as("g"),
      value.cast("long").as("v")).filter(col("v").isNotNull)

    // All refinement runs in U-SPACE: u = v XOR 2^63 is the
    // order-preserving map from signed to unsigned longs, so bounds
    // compare, subtract, and bucket as UNSIGNED values: full-domain
    // extents (hi - lo >= 2^63) never hit a signed overflow, and the
    // executor-side bucket is pure bitwise (xor + unsigned shift on an
    // ABSOLUTE power-of-two grid) with nothing for ANSI mode to throw on.
    val U = Long.MinValue

    // round 1: the extent aggregate RIDES the first histogram scan.
    // The first grid needs no bounds — the full-domain shift 64−log₂B
    // is a constant — so one (g, bucket) aggregate carries count AND
    // min/max per bucket; per-group n folds from the ≤B bucket rows on
    // the driver, and each target's starting range is the ACTUAL value
    // extent of the bucket holding its rank (tighter than the grid
    // cell). Signed min/max order == u-order inside one bucket: a
    // bucket is a contiguous u-range and u→v is monotone.
    val s0 = 64 - logB
    val h0 = base.groupBy(col("g"),
        expr(s"shiftrightunsigned(v ^ shiftleft(1L, 63), $s0)").as("b"))
      .agg(count(lit(1)).as("c"), min("v").as("mn"), max("v").as("mx"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (g, rows) =>
        g -> rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4)))
          .sortWith((a, b) => java.lang.Long.compareUnsigned(a._1, b._1) < 0)
      }
    val ext = h0.toSeq.map { case (g, rows) => (g, rows.map(_._2).sum) }

    final case class Tgt(g: String, name: String, n: Long,
                         var kRem: Long, var ulo: Long, var uhi: Long)
    val targets = for { (g, n) <- ext; (name, p) <- ps } yield {
      var k = math.ceil(p * n).toLong.max(1L).min(n)
      val (_, _, mn, mx) = h0(g).find { case (_, c, _, _) =>
        if (k <= c) true else { k -= c; false } }.get
      Tgt(g, name, n, k, mn ^ U, mx ^ U)
    }

    var round = 1
    while (targets.exists(t => t.ulo != t.uhi) && round < maxRounds) {
      round += 1
      val open = targets.filter(t => t.ulo != t.uhi)
      // grid cell 2^s: the open range spans at most B+1 absolute cells
      def shiftOf(t: Tgt): Int = {
        val range = t.uhi - t.ulo // exact unsigned difference (mod 2^64)
        val bits = 64 - java.lang.Long.numberOfLeadingZeros(range)
        math.max(bits - logB, 0)
      }
      val bounds = open.map(t => (t.g, t.g + "\u0000" + t.name,
          t.ulo ^ U, t.uhi ^ U, shiftOf(t)))
        .toDF("g", "tid", "t_lo", "t_hi", "t_s")
      val hist = base
        .join(broadcast(bounds), Seq("g"))
        .filter(col("v") >= col("t_lo") && col("v") <= col("t_hi"))
        .groupBy(col("tid"),
          expr("shiftrightunsigned(v ^ shiftleft(1L, 63), t_s)").as("b"))
        .agg(count(lit(1)).as("c"), min("v").as("mn"), max("v").as("mx"))
        .collect()
        .groupBy(_.getString(0))
        .map { case (tid, rows) =>
          tid -> rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
              r.getLong(4)))
            .sortWith((a, b) => java.lang.Long.compareUnsigned(a._1, b._1) < 0)
        }
      open.foreach { t =>
        val h = hist(t.g + "\u0000" + t.name)
        var k = t.kRem
        // per-bucket min/max rode the same aggregate: the new bounds
        // are the ACTUAL value extent inside the rank's bucket, not the
        // grid cell — data-adaptive narrowing, never worse than the
        // cell clamp, and a bucket holding one distinct value (heavy-
        // duplicate runs) converges its target instantly
        val (_, _, mn, mx) = h.find { case (_, c, _, _) =>
          if (k <= c) true else { k -= c; false } }.get
        t.kRem = k
        t.ulo = mn ^ U
        t.uhi = mx ^ U
      }
    }
    require(targets.forall(t => t.ulo == t.uhi),
      s"quantile refinement did not converge in $maxRounds rounds")

    // assemble: one row per group, a column per p name (back to signed)
    val out = ext.map { case (g, n) =>
      (g, n, ps.map { case (name, _) =>
        targets.find(t => t.g == g && t.name == name).get.ulo ^ U })
    }
    val cols = Seq(col("_1").as(group), col("_2").as("n_rows")) ++
      ps.zipWithIndex.map { case ((name, _), i) =>
        element_at(col("_3"), i + 1).as(name) }
    out.toDF("_1", "_2", "_3").select(cols: _*)
  }

  /** DuckDB twin: the rank-ordered definition over
    * `events.value` micro-units per event_type. */
  def eventValueQuantilesSql(ps: Seq[(String, Double)]): String = {
    val qcols = ps.map { case (name, p) =>
      s"""  CAST(max(CASE WHEN rn = CAST(ceil(CAST($p AS DOUBLE) * cnt) AS BIGINT)
         |    THEN v END) AS BIGINT) AS $name""".stripMargin
    }.mkString(",\n")
    s"""WITH eq_t AS (
       |  SELECT event_type,
       |    CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS v
       |  FROM events
       |), eq_r AS (
       |  SELECT event_type, v,
       |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY v)
       |      AS BIGINT) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS cnt
       |  FROM eq_t
       |)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       |$qcols
       |FROM eq_r GROUP BY event_type""".stripMargin
  }

  /** x140 composition: exact micro-unit value quantiles per event type —
    * high-cardinality doubles, where count-compression has nothing to
    * compress and only refinement stays exact without a sort. */
  def eventValueQuantiles(events: DataFrame,
      ps: Seq[(String, Double)] = Seq("p50" -> 0.50, "p90" -> 0.90,
        "p99" -> 0.99)): DataFrame =
    exactQuantiles(events, "event_type",
      floor(col("value").cast("double") * lit(1e6) + lit(0.5)).cast("long"),
      ps)

  /** x150: numeric moments profile per event type — the ANALYZE-style
    * location/scale read beside x140's quantiles (x58 profiles
    * nulls/NDV, x140 the order statistics, this the moments a CBO or
    * alert threshold consumes): n, nulls, min/max, integer-micro mean,
    * and population variance in micro² units.
    *
    * Determinism contract: values snap to the 1e-6 grid once
    * (`floor(v·1e6+0.5)`, the house convention), every sum rides
    * DECIMAL(38,0)/HUGEINT, and variance is the integer-division form
    * `Σv² div n − mean²` (bias ≤ 1 in micro² per division, documented,
    * never a float accumulation whose sum order could differ). The mean
    * division uses the SIGN-MAGNITUDE convention (SpectralOps.sdiv):
    * Spark `div` truncates toward zero but DuckDB `//` FLOORS, so a
    * negative Σv would silently diverge by 1 between the engines —
    * both sides compute sign·(|Σv| div n), identical everywhere (Σv² is
    * non-negative, so its div needs no guard). Projected as DOUBLE via
    * the exact decimal (both engines round-to-nearest from the same
    * integer; values this size are ≤2^53 on this data). One scan, one
    * |types|-keyed aggregate with map-side partials — nothing else.
    * Every statistic is mergeable (sums, min/max), so the same call on
    * a stream is one stateful aggregation with |types| rows of state
    * (the streaming spec pins stream == batch); the sums count replays. */
  def valueMoments(events: DataFrame): DataFrame = {
    val v = floor(col("value").cast("double") * lit(1e6) + lit(0.5))
      .cast("long")
    events
      .select(col("event_type"), v.as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        min(col("v")).as("min_micro"), max(col("v")).as("max_micro"),
        sum(col("v").cast("decimal(38,0)")).as("sv"),
        sum((col("v").cast("decimal(38,0)") * col("v")).cast("decimal(38,0)"))
          .as("s2"),
        count(col("v")).as("nv"))
      .withColumn("mq", expr(
        "CASE WHEN sv < 0 THEN -((-sv) div greatest(nv, 1L)) " +
          "ELSE sv div greatest(nv, 1L) END"))
      .select(col("event_type"), col("n_rows"), col("n_nulls"),
        col("min_micro"), col("max_micro"),
        expr("CAST(mq AS BIGINT)").as("mean_micro"),
        expr("CAST(CAST(s2 div greatest(nv, 1L) - mq * mq " +
          "AS DECIMAL(38,0)) AS DOUBLE)").as("var_micro2"))
  }

  /** DuckDB twin of [[valueMoments]]. */
  def valueMomentsSql: String =
    s"""WITH vm_t AS (
       |  SELECT event_type,
       |    CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS v
       |  FROM events
       |), vm_a AS (
       |  SELECT event_type, count(*) AS n_rows,
       |    sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_nulls,
       |    min(v) AS min_micro, max(v) AS max_micro,
       |    sum(CAST(v AS HUGEINT)) AS sv,
       |    sum(CAST(v AS HUGEINT) * v) AS s2,
       |    count(v) AS nv
       |  FROM vm_t GROUP BY event_type
       |)
       |, vm_m AS (
       |  SELECT *,
       |    CASE WHEN sv < 0 THEN -((-sv) // greatest(nv, 1))
       |      ELSE sv // greatest(nv, 1) END AS mq
       |  FROM vm_a
       |)
       |SELECT event_type, CAST(n_rows AS BIGINT) AS n_rows,
       |  CAST(n_nulls AS BIGINT) AS n_nulls,
       |  min_micro, max_micro,
       |  CAST(mq AS BIGINT) AS mean_micro,
       |  CAST(s2 // greatest(nv, 1) - mq * mq AS DOUBLE) AS var_micro2
       |FROM vm_m""".stripMargin
}
