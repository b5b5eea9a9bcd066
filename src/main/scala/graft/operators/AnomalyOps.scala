package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream anomaly reads — the monitoring queries a pipeline runs
  * over its own telemetry before trusting a day's ingest (the x103
  * mixture-monitor convention: aggregate-sized state, exact integer
  * verdicts).
  *
  * Burst detection compares each hour's event count against its own
  * trailing window. The hour grid is DENSIFIED per type (explode of the
  * type's [min, max] hour range) so the ROWS frame really is "the
  * previous `trailing` wall-clock hours" — on the raw aggregate a ROWS
  * frame silently skips quiet hours and a sparse type's baseline
  * telescopes arbitrarily far back, understating bursts exactly where
  * they matter most.
  *
  * Scale shape: one shuffle to the (type, hour) aggregate — the relation
  * is |types|×|hours| from then on, however many raw events fed it — and
  * one window partitioned by type over that grid. The burst test is an
  * exact integer cross-multiply (cnt·n ≥ x·sum), no float thresholds.
  */
object AnomalyOps {

  private val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)

  /** Top-`topK` hourly bursts per event type: hours whose count is at
    * least `thresholdX`× their trailing-`trailing`-hour mean, with at
    * least `minBaseline` hours of history in the frame (the cold-start
    * guard — a 2nd-hour "burst" over a 1-hour baseline is noise).
    *
    * Output: (event_type, hour_epoch, n_events, base_n, base_sum,
    * ratio_ppm), ratio_ppm = cnt·base_n·10⁶ div base_sum — exact
    * integers end to end, ties broken by (event_type, hour_epoch). */
  def burstReport(events: DataFrame, trailing: Int = 24,
                  thresholdX: Int = 3, minBaseline: Int = 12,
                  topK: Int = 20): DataFrame =
    burstsFromHourly(hourlyCounts(events), trailing, thresholdX,
      minBaseline, topK)

  /** The live half: (event_type, hour_epoch, cnt). A plain sum-shaped
    * aggregation, so the same call on a stream maintains it online
    * (state |types|×|hours|); the verdict below is computed ON READ
    * (trailing-window functions are not stream-legal, and should not
    * be — the baseline re-reads 24 rows of bounded state, not the
    * event stream). */
  def hourlyCounts(events: DataFrame): DataFrame = events
    .select(col("event_type"),
      expr("unix_timestamp(ts) div 3600L").as("hour_epoch"))
    .groupBy("event_type", "hour_epoch")
    .agg(count(lit(1)).as("cnt"))

  /** The verdict half over a (live or batch) hourly-count table. */
  def burstsFromHourly(hourly: DataFrame, trailing: Int = 24,
                       thresholdX: Int = 3, minBaseline: Int = 12,
                       topK: Int = 20): DataFrame = {
    require(trailing >= 2 && minBaseline >= 1 && minBaseline <= trailing &&
      thresholdX >= 1, s"trailing=$trailing min=$minBaseline x=$thresholdX")
    // dense per-type hour grid: quiet hours are real zero observations.
    // The grid branch RENAMES its columns — it re-reads `hourly`, and a
    // same-name self-join over an external view (e.g. the streaming
    // memory sink twin) hits conflicting-attribute resolution (the
    // SketchOps.estimateFromRegisters lesson)
    val grid = hourly.groupBy("event_type")
      .agg(min(col("hour_epoch")).as("h_min"), max(col("hour_epoch")).as("h_max"))
      .select(col("event_type").as("g_type"),
        explode(sequence(col("h_min"), col("h_max"))).as("g_hour"))
    val dense = grid.join(hourly,
        col("g_type") === col("event_type") && col("g_hour") === col("hour_epoch"),
        "left_outer")
      .select(col("g_type").as("event_type"), col("g_hour").as("hour_epoch"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("hour_epoch")
      .rowsBetween(-trailing, -1)
    dense
      .withColumn("base_sum", sum(col("cnt")).over(w))
      .withColumn("base_n", count(col("cnt")).over(w))
      .filter(col("base_n") >= minBaseline && col("base_sum") > 0L &&
        col("cnt") * col("base_n") >= lit(thresholdX.toLong) * col("base_sum"))
      .select(col("event_type"), col("hour_epoch"),
        col("cnt").as("n_events"), col("base_n"), col("base_sum"),
        expr("(cnt * base_n * 1000000L) div base_sum").as("ratio_ppm"))
      .orderBy(col("ratio_ppm").desc, col("event_type"), col("hour_epoch"))
      .limit(topK)
  }

  /** DuckDB twin of [[burstReport]]. */
  def burstReportSql(trailing: Int = 24, thresholdX: Int = 3,
                     minBaseline: Int = 12, topK: Int = 20): String =
    s"""WITH br_hourly AS (
       |  SELECT event_type,
       |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_epoch,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2
       |), br_grid AS (
       |  SELECT event_type, unnest(range(h_min, h_max + 1)) AS hour_epoch
       |  FROM (SELECT event_type, min(hour_epoch) AS h_min,
       |          max(hour_epoch) AS h_max
       |        FROM br_hourly GROUP BY 1)
       |), br_dense AS (
       |  SELECT g.event_type, g.hour_epoch, COALESCE(h.cnt, 0) AS cnt
       |  FROM br_grid g LEFT JOIN br_hourly h
       |    ON h.event_type = g.event_type AND h.hour_epoch = g.hour_epoch
       |), br_win AS (
       |  SELECT event_type, hour_epoch, cnt,
       |    sum(cnt) OVER tw AS base_sum,
       |    count(cnt) OVER tw AS base_n
       |  FROM br_dense
       |  WINDOW tw AS (PARTITION BY event_type ORDER BY hour_epoch
       |    ROWS BETWEEN $trailing PRECEDING AND 1 PRECEDING)
       |)
       |SELECT event_type, hour_epoch, cnt AS n_events,
       |  CAST(base_n AS BIGINT) AS base_n, CAST(base_sum AS BIGINT) AS base_sum,
       |  CAST((cnt * base_n * 1000000) // base_sum AS BIGINT) AS ratio_ppm
       |FROM br_win
       |WHERE base_n >= $minBaseline AND base_sum > 0
       |  AND cnt * base_n >= $thresholdX * base_sum
       |ORDER BY ratio_ppm DESC, event_type, hour_epoch
       |LIMIT $topK""".stripMargin

  /** x166: CUSUM changepoint per event type — x124 asks "which HOUR
    * spiked against its trailing day"; this asks "where did the LEVEL
    * shift": the classic cumulative-sum statistic G_t = T·Σ_{i≤t}c_i −
    * t·S (the prefix sum against the uniform-rate line, scaled by T so
    * it stays integer-exact), whose argmax |G_t| is the most likely
    * single changepoint — the ingestion-rate-doubled-on-day-N regime
    * change a 24-hour trailing spike test is blind to by construction.
    *
    * Per type: hour count T, event total S, the changepoint hour (argmax
    * |G_t|, earliest on ties; t=T has G_T=0 so the argmax lands strictly
    * inside the span when any shift exists), cusum_ppm = max|G_t|·10⁶
    * div (T·S) (the normalized shift magnitude, 0 for a perfectly
    * uniform stream), and the before/after rates in milli-events/hour —
    * the effect size that tells a real regime change from jitter.
    *
    * Scale shape: the same DENSIFIED (type, hour) grid as x124 (quiet
    * hours are real zeros); ONE prefix-sum window per type over that
    * grid — group = a type's hour span, calendar-bounded, never event
    * mass — then a map-side-combinable argmax (max over the
    * lexicographic (mag, −t, payload) struct) and a |types|-row report.
    * Products ride DECIMAL(38,0)/HUGEINT; every division is non-negative
    * integer div so truncate-vs-floor cannot diverge. */
  def changepointReport(events: DataFrame): DataFrame =
    changepointFromHourly(hourlyCounts(events))

  /** The verdict half of x166 over a (live or batch) hourly-count table —
    * the same split as x124: the sufficient statistic is the streamed
    * (type, hour) count panel ([[hourlyCounts]] on the stream), CUSUM
    * is computed ON READ (a prefix-sum argmax
    * is not stream-legal, and should not be — it re-reads the bounded
    * hour grid, not the event stream), so live-then-finish == batch on
    * every arrival prefix (the streaming spec pins it). */
  def changepointFromHourly(hourly: DataFrame): DataFrame = {
    val grid = hourly.groupBy("event_type")
      .agg(min(col("hour_epoch")).as("h_min"), max(col("hour_epoch")).as("h_max"))
      .select(col("event_type").as("g_type"),
        explode(sequence(col("h_min"), col("h_max"))).as("g_hour"))
    val dense = grid.join(hourly,
        col("g_type") === col("event_type") && col("g_hour") === col("hour_epoch"),
        "left_outer")
      .select(col("g_type").as("event_type"), col("g_hour").as("hour_epoch"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("hour_epoch")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dense
      .withColumn("c_sum", sum(col("cnt")).over(w))
      .withColumn("t_idx", count(lit(1)).over(w))
    val tot = dense.groupBy("event_type")
      .agg(sum(col("cnt")).as("s_tot"), count(lit(1)).as("t_tot"))
    val g = cum.join(tot, Seq("event_type"))
      .withColumn("g_raw", expr(
        "CAST(t_tot AS DECIMAL(38,0)) * c_sum - CAST(t_idx AS DECIMAL(38,0)) * s_tot"))
      .withColumn("mag", expr("CASE WHEN g_raw < 0 THEN -g_raw ELSE g_raw END"))
    g.groupBy("event_type")
      .agg(max(struct(col("mag"), (-col("t_idx")).as("nt"), col("hour_epoch"),
          col("c_sum"), col("t_idx"), col("s_tot"), col("t_tot"))).as("best"))
      .select(col("event_type"),
        col("best.t_tot").as("n_hours"), col("best.s_tot").as("n_events"),
        col("best.hour_epoch").as("cp_hour"),
        col("best.t_idx").as("cp_idx"),
        expr("CAST(CASE WHEN best.s_tot > 0 THEN (best.mag * 1000000) div " +
          "(CAST(best.t_tot AS DECIMAL(38,0)) * best.s_tot) ELSE 0 END " +
          "AS BIGINT)").as("cusum_ppm"),
        expr("CAST((CAST(best.c_sum AS DECIMAL(38,0)) * 1000) div best.t_idx " +
          "AS BIGINT)").as("pre_rate_milli"),
        expr("CAST(CASE WHEN best.t_tot > best.t_idx THEN " +
          "(CAST(best.s_tot - best.c_sum AS DECIMAL(38,0)) * 1000) div " +
          "(best.t_tot - best.t_idx) ELSE NULL END AS BIGINT)")
          .as("post_rate_milli"))
  }

  /** DuckDB twin of [[changepointReport]]. */
  def changepointReportSql: String =
    s"""WITH cp_hourly AS (
       |  SELECT event_type,
       |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_epoch,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2
       |), cp_grid AS (
       |  SELECT event_type, unnest(range(h_min, h_max + 1)) AS hour_epoch
       |  FROM (SELECT event_type, min(hour_epoch) AS h_min,
       |          max(hour_epoch) AS h_max
       |        FROM cp_hourly GROUP BY 1)
       |), cp_dense AS (
       |  SELECT g.event_type, g.hour_epoch, COALESCE(h.cnt, 0) AS cnt
       |  FROM cp_grid g LEFT JOIN cp_hourly h
       |    ON h.event_type = g.event_type AND h.hour_epoch = g.hour_epoch
       |), cp_cum AS (
       |  SELECT event_type, hour_epoch, cnt,
       |    sum(cnt) OVER pw AS c_sum,
       |    count(*) OVER pw AS t_idx,
       |    sum(cnt) OVER (PARTITION BY event_type) AS s_tot,
       |    count(*) OVER (PARTITION BY event_type) AS t_tot
       |  FROM cp_dense
       |  WINDOW pw AS (PARTITION BY event_type ORDER BY hour_epoch
       |    ROWS UNBOUNDED PRECEDING)
       |), cp_g AS (
       |  SELECT *, abs(CAST(t_tot AS HUGEINT) * c_sum
       |    - CAST(t_idx AS HUGEINT) * s_tot) AS mag,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY abs(CAST(t_tot AS HUGEINT) * c_sum
       |        - CAST(t_idx AS HUGEINT) * s_tot) DESC, t_idx ASC) AS rn
       |  FROM cp_cum
       |)
       |SELECT event_type,
       |  CAST(t_tot AS BIGINT) AS n_hours, CAST(s_tot AS BIGINT) AS n_events,
       |  hour_epoch AS cp_hour, CAST(t_idx AS BIGINT) AS cp_idx,
       |  CAST(CASE WHEN s_tot > 0 THEN (mag * 1000000)
       |    // (CAST(t_tot AS HUGEINT) * s_tot) ELSE 0 END AS BIGINT)
       |    AS cusum_ppm,
       |  CAST((CAST(c_sum AS HUGEINT) * 1000) // t_idx AS BIGINT)
       |    AS pre_rate_milli,
       |  CAST(CASE WHEN t_tot > t_idx THEN
       |    (CAST(s_tot - c_sum AS HUGEINT) * 1000) // (t_tot - t_idx)
       |    ELSE NULL END AS BIGINT) AS post_rate_milli
       |FROM cp_g WHERE rn = 1""".stripMargin

  /** x157: per-user behavioral profile + burst outliers — the
    * bot/automation read beside the x131 hourly burst report (that one
    * asks WHEN the stream misbehaved; this asks WHO): per user, event
    * volume, type diversity, dominant type and its share, active span,
    * and mean inter-event gap, plus a flag for users whose volume
    * exceeds `burstFactor`× the population mean. A user with thousands
    * of events, one dominant type, and a near-constant machine-gun gap
    * is a scraper; the profile columns are exactly the features that
    * separation needs, all in exact integers (share in ppm, span/gap
    * in epoch micros).
    *
    * Determinism: the dominant type resolves by (max count, then
    * alphabetical) — the x155 vote shape, two aggregates + an
    * equi-join, identical on both engines; the mean gap is
    * span div (n−1) — NO per-user event ordering, no window over the
    * raw stream; the burst test is the integer cross-multiply
    * n_events·n_users > factor·total.
    *
    * Scale shape: one user-keyed aggregate + one (user, type)-keyed
    * aggregate meeting at |users| granularity, a 1-row broadcast for
    * the population stats — every shuffle keys on user_id (content-
    * distributed at any fleet size); nothing partitions on a
    * low-cardinality key. */
  def userProfiles(events: DataFrame, burstFactor: Long = 5L): DataFrame =
    profilesFromPanel(profilePanel(events), burstFactor)

  /** The SUFFICIENT STATISTIC behind [[userProfiles]]: the
    * (user_id, event_type) panel of mergeable measures — count, min and
    * max event epoch. ONE aggregation, |users|·|types| rows, every
    * measure a sum or an idempotent extremum — which is exactly what
    * lets the same call maintain the panel as streaming state (replays
    * count: the sums govern — exactly-once or dedup upstream): the
    * profile itself is a multi-aggregation vote that Structured
    * Streaming cannot run as one query, the panel is not. */
  def profilePanel(events: DataFrame): DataFrame =
    events.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"), min(col("us")).as("mn"),
        max(col("us")).as("mx"))

  /** Finish a [[profilePanel]] into the x157 profile — batch and the
    * streaming live table share this read verbatim, so
    * stream-then-finish equals the batch profile on every arrival
    * prefix (the streaming spec pins it). */
  def profilesFromPanel(panel: DataFrame, burstFactor: Long = 5L): DataFrame = {
    val base = panel.groupBy("user_id").agg(
      sum(col("c")).as("n_events"),
      count(lit(1)).as("n_types"),
      (max(col("mx")) - min(col("mn"))).as("span_us"))
    // the panel already carries an epoch column named mx — the vote's
    // max COUNT needs its own name or the filter reference is ambiguous
    val mxc = panel.groupBy("user_id").agg(max(col("c")).as("mxc"))
    val top = panel.join(mxc, Seq("user_id"))
      .filter(col("c") === col("mxc"))
      .groupBy("user_id").agg(min(col("event_type")).as("top_type"),
        min(col("c")).as("top_c"))
    val stats = panel.agg(sum(col("c")).as("tot"),
      countDistinct(col("user_id")).as("nu"))
    base.join(top, Seq("user_id"))
      .crossJoin(broadcast(stats))
      .select(col("user_id"), col("n_events"), col("n_types"),
        col("top_type"),
        expr("CAST((CAST(top_c AS DECIMAL(38,0)) * 1000000) " +
          "div n_events AS BIGINT)").as("top_share_ppm"),
        col("span_us"),
        expr("span_us div greatest(n_events - 1L, 1L)").as("mean_gap_us"),
        // both cross-multiplies through DECIMAL(38,0): raw BIGINT would
        // silently wrap on Spark while DuckDB's HUGEINT raises — the
        // same engine-divergence rule as the ppm division above
        (col("n_events").cast(dec38) * col("nu").cast(dec38) >
          lit(burstFactor).cast(dec38) * col("tot").cast(dec38))
          .cast("int").as("burst_flag"))
  }

  /** DuckDB twin of [[userProfiles]]. */
  def userProfilesSql(burstFactor: Long = 5L): String =
    s"""WITH up_e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
       |  WHERE user_id IS NOT NULL
       |), up_b AS (
       |  SELECT user_id, count(*) AS n_events,
       |    count(DISTINCT event_type) AS n_types,
       |    max(us) - min(us) AS span_us
       |  FROM up_e GROUP BY user_id
       |), up_t AS (
       |  SELECT user_id, event_type, count(*) AS c
       |  FROM up_e GROUP BY user_id, event_type
       |), up_m AS (
       |  SELECT user_id, max(c) AS mx FROM up_t GROUP BY user_id
       |), up_top AS (
       |  SELECT t.user_id, min(t.event_type) AS top_type, min(t.c) AS top_c
       |  FROM up_t t JOIN up_m m ON t.user_id = m.user_id AND t.c = m.mx
       |  GROUP BY t.user_id
       |), up_s AS (
       |  SELECT count(*) AS tot, count(DISTINCT user_id) AS nu FROM up_e
       |)
       |SELECT b.user_id, CAST(b.n_events AS BIGINT) AS n_events,
       |  CAST(b.n_types AS BIGINT) AS n_types,
       |  t.top_type,
       |  CAST((CAST(t.top_c AS HUGEINT) * 1000000) // b.n_events
       |    AS BIGINT) AS top_share_ppm,
       |  CAST(b.span_us AS BIGINT) AS span_us,
       |  CAST(b.span_us // greatest(b.n_events - 1, 1) AS BIGINT)
       |    AS mean_gap_us,
       |  CAST(CASE WHEN CAST(b.n_events AS HUGEINT) * s.nu
       |      > $burstFactor * CAST(s.tot AS HUGEINT)
       |    THEN 1 ELSE 0 END AS INTEGER) AS burst_flag
       |FROM up_b b JOIN up_top t ON b.user_id = t.user_id, up_s s""".stripMargin
}
