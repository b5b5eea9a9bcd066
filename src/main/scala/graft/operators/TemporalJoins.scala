package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of and range/band joins over event streams.
  *
  * The reference has no temporal-join surface (SURVEY §2.3 J15 — n/a by
  * its own accounting); these are first-class extensions for event
  * analytics, built for the 100 TB shape rather than the textbook one:
  *
  *   - [[asOfJoin]] is a union + ONE running-window pass partitioned by
  *     key: a single shuffle that carries each row exactly once. The
  *     textbook form — equi-join on key, filter `r.ts <= l.ts`, pick the
  *     per-left max — materializes |L_k|·|R_k| rows per key before
  *     collapsing, which is quadratic on dense keys; a time-theta join
  *     without an equi key degenerates to a BroadcastNestedLoopJoin.
  *     Neither survives scale.
  *   - [[bandJoin]] buckets the value axis at the band width so the only
  *     join is an equi-join on (keys, bucket): each right row lands in
  *     one bucket and each left interval `(v, v+width]` spans at most two,
  *     so every true pair meets exactly once — no dedup shuffle, no
  *     quadratic candidate set, and the shuffle key distributes by value
  *     (bounded skew per bucket).
  */
object TemporalJoins {

  /** As-of join: for every left row, match the single closest right row
    * at-or-before (`backward = true`, the default — greatest
    * `rightTs <= leftTs`) or at-or-after (`backward = false` — smallest
    * `rightTs >= leftTs`) in the same `keys` group (the pandas
    * `merge_asof` / DuckDB `ASOF JOIN` contract); right columns are NULL
    * when no such right row exists (left-join form).
    *
    * `rightCols` are carried from the matched right row, renamed via the
    * map's values. Right rows must be unique per (keys, rightTs) for the
    * match to be well-defined — true for `events`, where (user_id, ts)
    * is unique. `tolerance` (an interval expression, e.g.
    * `expr("INTERVAL 15 MINUTES")`) nulls out matches further than that
    * from the left timestamp — merge_asof's third knob.
    *
    * Mechanics: tag both sides, union, and take `last(right-struct,
    * ignoreNulls)` over a running window ordered by (ts, side) — ts
    * descending for the forward direction — with right sorting before
    * left on ties, which makes the boundary inclusive either way.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               rightCols: Map[String, String],
               backward: Boolean = true,
               tolerance: Option[Column] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    val payload = struct(
      (rightCols.keys.toSeq.map(col) :+ col(rightTs).as("__rts")): _*)
    // build the union explicitly so both sides carry identical schemas:
    // left rows hold their own columns + a NULL right-struct, right rows
    // hold NULL left columns + the payload struct
    val lSel = left.select(
      (keys.map(col) :+ col(leftTs).as("__ts") :+ lit(1).as("__side")) ++
        leftCols.filterNot(keys.contains).map(c => col(c).as(s"__l_$c")): _*)
    // NULL-key or NULL-ts right rows can never match (equi-key contract:
    // NULL = NULL is no match, and `r.ts <= l.ts` is unknowable for a NULL
    // ts — both as in ASOF JOIN / merge_asof) — drop them here, or the
    // window would order/group them with matchable rows
    val rSel = right
      .filter((keys.map(col(_).isNotNull) :+ col(rightTs).isNotNull).reduce(_ && _))
      .select(
        (keys.map(col) :+ col(rightTs).as("__ts") :+ lit(0).as("__side")) :+
          payload.as("__r"): _*)
    val unioned = lSel.withColumn("__r",
        lit(null).cast(rSel.schema("__r").dataType))
      .unionByName(rSel, allowMissingColumns = true)
    // NULL-ts LEFT rows must sort before every right row in BOTH
    // directions (asc = nulls first already; desc needs it explicit), so
    // their running window sees no right row and they match NULL — the
    // no-match-on-NULL contract, direction-independent
    val tsOrder = if (backward) col("__ts").asc else col("__ts").desc_nulls_first
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(tsOrder, col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    // tolerance: the match must sit within the interval of the left ts
    val inRange = tolerance match {
      case None => lit(true)
      case Some(tol) =>
        if (backward) col("__m.__rts") >= col("__ts") - tol
        else col("__m.__rts") <= col("__ts") + tol
    }
    val gated = matched.withColumn("__m",
      when(col("__m").isNotNull && inRange, col("__m")))
    gated.select(
      (keys.map(col) ++
        leftCols.filterNot(keys.contains).map(c => col(s"__l_$c").as(c)) ++
        rightCols.map { case (src, out) => col(s"__m.$src").as(out) }.toSeq): _*)
  }

  /** Band (range) join: pairs `(l, r)` in the same `keys` group with
    * `l.val < r.val <= l.val + width` — the one-sided fixed-width band.
    * Inputs must have disjoint non-key column names.
    *
    * Each right row is bucketed once at `floor(val / width)`; each left
    * row probes its own bucket and the next (its band spans at most two
    * buckets), so every qualifying pair meets exactly once and the exact
    * band predicate is evaluated only on same-bucket candidates.
    *
    * Scale: the PAIR RELATION is this operator's contract, and on a
    * dense value axis it grows quadratically BY CONTRACT (~n²·width/
    * range per key at fixed range — the sf1 smoke measures j16's pair
    * output at ~100× for 10× rows). The plan never does worse than its
    * output, but a consumer that only needs per-key statistics over
    * the band (counts, sums, means) must NOT materialize pairs for
    * them — [[valueBandStats]] (j18) computes the same aggregate with
    * two range-frame windows, O(n log n) whatever the density. */
  def bandJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftVal: String, rightVal: String, width: Double): DataFrame = {
    // The upper probe bucket is computed the same way the right side is
    // bucketed — floor((v+width)/width), NOT lb+1 — so the candidate set
    // provably covers the exact predicate: rv <= v+width ⟹ floor(rv/w) <=
    // floor((v+w)/w) (division and floor are monotone in IEEE doubles),
    // while lb+1 can undershoot by an ulp and silently drop a pair.
    // sequence(lb, ub) is 2 buckets normally, 3 in the ulp edge case.
    val lb = floor(col(leftVal) / width).cast("long")
    val ub = floor((col(leftVal) + width) / width).cast("long")
    val l2 = left.withColumn("__bucket", explode(sequence(lb, greatest(lb, ub))))
    val r2 = right.withColumn("__bucket", floor(col(rightVal) / width).cast("long"))
    l2.join(r2, keys :+ "__bucket")
      .filter(col(rightVal) > col(leftVal) &&
        col(rightVal) <= col(leftVal) + width)
      .drop("__bucket")
  }

  /** Interval-overlap join: pairs `(l, r)` with
    * `l.start <= r.end AND r.start <= l.end` (closed-interval overlap),
    * optionally narrowed by `extraCond`. Start/end columns are epoch
    * seconds (LongType); inputs must have disjoint column names.
    *
    * Mechanics: the time axis is bucketed at `granularity`; each interval
    * explodes to the buckets it covers, candidates meet on a bucket
    * equi-join, and a pair is CLAIMED only in the bucket containing
    * `max(l.start, r.start)` — the overlap's first bucket — so every true
    * pair appears exactly once with no dedup shuffle (same first-match
    * idea as the simhash byte blocks). The shuffle key is the time
    * bucket: work distributes by when intervals happen, and per-bucket
    * fan-in is bounded by how many intervals genuinely overlap a
    * granularity window — the quadratic blowup an unbucketed theta join
    * hits on a busy corpus never materializes as a single task.
    * `granularity` trades replication (long intervals explode into
    * `span/granularity` rows) against bucket selectivity; pick it near
    * the typical interval length.
    *
    * Inverted rows (`end < start`) denote an EMPTY interval and are
    * excluded up front on both sides — without the guard, Spark's
    * `sequence(b(start), b(end))` silently generates a DESCENDING bucket
    * run (default step -1) for them, exploding malformed rows into
    * candidate buckets instead of matching nothing. NULL bounds are
    * likewise inert (`<=` is null-rejecting, and sequence() of a NULL
    * endpoint would error at runtime rather than skip the row). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   lStart: String, lEnd: String, rStart: String, rEnd: String,
                   granularity: Long, extraCond: Column = lit(true)): DataFrame = {
    def b(c: Column): Column = floor(c / granularity).cast("long")
    val l2 = left.filter(col(lStart) <= col(lEnd)).withColumn("__bucket",
      explode(sequence(b(col(lStart)), b(col(lEnd)))))
    val r2 = right.filter(col(rStart) <= col(rEnd)).withColumn("__bucket",
      explode(sequence(b(col(rStart)), b(col(rEnd)))))
    l2.join(r2, Seq("__bucket"))
      .filter(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
        col("__bucket") === b(greatest(col(lStart), col(rStart))) &&
        extraCond)
      .drop("__bucket")
  }

  // ---- query twins ---------------------------------------------------------

  /** j15: every purchase matched to the user's most recent prior-or-same
    * click; gap in epoch microseconds (ns→µs floor agrees across engines). */
  def purchaseClickAsOf(events: DataFrame): DataFrame = {
    val l = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id"), col("ts"))
    val r = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("c_us"))
    asOfJoin(l, r, Seq("user_id"), "ts", "ts",
        Map("c_event" -> "c_event", "c_us" -> "c_us"))
      .select(col("p_event"), col("user_id"), col("c_event"),
        (unix_micros(col("ts")) - col("c_us")).as("gap_us"))
  }

  def purchaseClickAsOfSql: String =
    """SELECT l.event_id AS p_event, l.user_id, r.event_id AS c_event,
      |  epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin

  /** j16: same-type event pairs within a half-unit value band, aggregated
    * per type. The per-row DECIMAL cast keeps the sum order-independent
    * (exact integer arithmetic), cast back to DOUBLE only at the end. */
  def valueBandPairs(events: DataFrame, width: Double = 0.5): DataFrame = {
    val l = events.select(col("event_type"), col("value").as("l_value"))
    val r = events.select(col("event_type"), col("value").as("r_value"))
    // Gap quantization runs in exact INT64 micro-units, not DECIMAL(18,6):
    // per-pair decimal casts+adds over the 10M-pair result were ~3/4 of
    // the query's cost (the old count()-driven bench pruned the aggregate
    // and hid it). floor(gap·1e6 + 0.5) equals the decimal cast on gaps
    // that are 6-dp values up to double rounding (|gap·1e6 − n| ≪ 0.5 for
    // any |gap| < 2^40), both engines compute the identical double, and
    // Σmicro ≤ pairs·width·1e6 ≪ 2^53 keeps the long→double cast exact —
    // so sum_gap is bit-identical to the decimal formulation's.
    bandJoin(l, r, Seq("event_type"), "l_value", "r_value", width)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        (sum(floor((col("r_value") - col("l_value")) * lit(1e6) + lit(0.5)))
          .cast("double") / lit(1e6)).as("sum_gap"))
  }

  /** j17: per-session concurrency — for every user session, how many
    * OTHER users' sessions overlap it in time (closed intervals).
    * Sessions come from [[graft.streaming.EventStreams.userSessions]];
    * overlap rides [[intervalJoin]] with 1 h buckets (sessions are
    * minutes-to-hours long). Ordered pairs (a ≠ b) are counted from the
    * a-side so each session's count covers all its concurrent partners;
    * zero-concurrency sessions survive via the left join. */
  def concurrentSessions(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    // the session table feeds BOTH interval-join sides and the final
    // left join — pin it so sessionization (a full scan + window over
    // the event corpus) runs once, not three times (at cluster scale use
    // a reliable checkpoint / temp table, as with DedupOps.IterState).
    // NOTE: the FIRST build is eager (runs the sessionization job — see
    // SearchOps.oneCopy for why lazy alternatives don't deliver
    // the reuse); repeat builds over the same corpus reuse the
    // session-scoped pin (Memo.pinned), so N invocations sessionize once.
    val sess = graft.core.Memo.pinned(
      graft.streaming.EventStreams.userSessions(events, gapMinutes)
        .select(col("user_id"), col("session_no"),
          col("session_start_epoch"), col("session_end_epoch")))
    val a = sess.select(col("user_id").as("u_a"), col("session_no").as("sn_a"),
      col("session_start_epoch").as("s_a"), col("session_end_epoch").as("e_a"))
    val b = sess.select(col("user_id").as("u_b"),
      col("session_start_epoch").as("s_b"), col("session_end_epoch").as("e_b"))
    val counts = intervalJoin(a, b, "s_a", "e_a", "s_b", "e_b", 3600L,
        col("u_a") =!= col("u_b"))
      .groupBy(col("u_a"), col("sn_a"))
      .agg(count(lit(1)).as("n_concurrent"))
    sess.join(counts,
        col("user_id") === col("u_a") && col("session_no") === col("sn_a"), "left")
      .select(col("user_id"), col("session_no"),
        coalesce(col("n_concurrent"), lit(0L)).as("n_concurrent"))
  }

  /** Oracle twin uses the naive inequality join (DuckDB plans an IEJoin)
    * — same result set, small-SF only. */
  def concurrentSessionsSql(gapMinutes: Int = 30): String =
    s"""WITH s AS (
       |  SELECT user_id, session_no, session_start_epoch, session_end_epoch FROM (
       |${graft.streaming.EventStreams.userSessionsSql(gapMinutes)}
       |  ) t
       |), c AS (
       |  SELECT a.user_id, a.session_no, count(*) AS n_concurrent
       |  FROM s a JOIN s b ON a.user_id <> b.user_id
       |    AND a.session_start_epoch <= b.session_end_epoch
       |    AND b.session_start_epoch <= a.session_end_epoch
       |  GROUP BY a.user_id, a.session_no
       |)
       |SELECT s.user_id, s.session_no, coalesce(c.n_concurrent, 0) AS n_concurrent
       |FROM s LEFT JOIN c ON c.user_id = s.user_id AND c.session_no = s.session_no""".stripMargin

  /** j18: [[valueBandPairs]]' aggregate computed WITHOUT materializing
    * the pairs — the band-join becomes one sort + one range-frame window
    * pass, O(n log n) instead of O(pairs). For each left row `l`, its
    * band partners are the rows in the RANGE frame `[v, v+width]` of the
    * per-type value order; self and exact ties contribute zero gap and
    * cancel out of the sum (`Σ dec(r) − cnt·dec(v)`), and are counted
    * out of `n_pairs` via the tie-partition count. At sf0.1 this turns
    * the 10M-pair join (the bench's most expensive query) into a window
    * over 100k rows; at 100 TB it is the difference between a feasible
    * statistic and a quadratic blowup. Use [[valueBandPairs]] when the
    * PAIRS themselves are the product; use this when only aggregates
    * are needed.
    *
    * Exactness: the frame bound `value <= v + width` is the same IEEE
    * add as the join predicate, so the PAIR SET is identical to
    * [[valueBandPairs]]'. The gap sums quantize differently, though:
    * this form sums `dec(b) − dec(a)` per partner while the join form
    * sums `dec(b − a)` — equal whenever values are exactly representable
    * at 6 decimal places (true of the generated corpus, which
    * TemporalJoinsSpec pins), but up to 1e-6 apart per pair on arbitrary
    * doubles. The j18 gate's oracle is this window form itself, so
    * cross-engine parity does not depend on that equality.
    *
    * One DELIBERATE shape difference: a type whose rows have no in-band
    * pair still gets a `(type, 0, 0.0)` row here (its anchors aggregate
    * to zero), while the join form omits the type entirely — the stats
    * row is the more useful contract for a per-type report, and the
    * oracle twin shares it. */
  def valueBandStats(events: DataFrame, width: Double = 0.5,
                     bucketWidth: Double = 32.0): DataFrame = {
    // Partitioning by type alone caps the sort parallelism at the TYPE
    // CARDINALITY (5 types = 5 tasks forever, a scale wall at 100 TB).
    // Instead the value axis is cut into `bucketWidth` ranges and each
    // row near the bottom of its bucket (within `width` of the edge) is
    // ALSO emitted as a non-anchor HALO copy into the previous bucket:
    // every anchor's frame [v, v+width] is then complete inside its own
    // (type, bucket) partition — originals cover same-bucket partners,
    // halos cover the next-bucket spill, and nothing is double-counted
    // (a row's halo lands in exactly one other bucket; B >= width keeps
    // bucket b+2 out of reach). Parallelism scales with the value
    // range; `bucketWidth` trades partition count against the ~w/B halo
    // replication, like intervalJoin's granularity.
    require(bucketWidth >= width, "bucketWidth must be >= width")
    val dec = "CAST(value AS DECIMAL(18,6))"
    val bkt = floor(col("value") / bucketWidth).cast("long")
    // Halo eligibility must be a provable SUPERSET of cross-bucket
    // reachability under the frame's own IEEE arithmetic: an anchor v in
    // bucket b-1 reaches p iff p <= fl(v + width), and fl is monotone,
    // so p is reachable only if p <= fl(boundary + width) where
    // boundary = b·B is p's own bucket floor. Comparing against that
    // exact expression (NOT `p - boundary < width`, whose subtraction
    // can disagree with the frame's addition by an ulp and silently
    // drop a boundary pair — same ulp class bandJoin's probe-bucket
    // guard defends) keeps every candidate; over-copied halos are
    // harmless because the range frame itself decides membership.
    // One scan: each row explodes to its anchor copy plus, when
    // eligible, a non-anchor halo copy in the previous bucket.
    val haloEligible = col("value") <= bkt * bucketWidth + lit(width)
    val copies = when(haloEligible,
        array(struct(bkt.as("b"), lit(true).as("anchor")),
          struct((bkt - 1).as("b"), lit(false).as("anchor"))))
      .otherwise(array(struct(bkt.as("b"), lit(true).as("anchor"))))
    val over = s"OVER (PARTITION BY event_type, __b ORDER BY value " +
      s"RANGE BETWEEN CURRENT ROW AND $width FOLLOWING)"
    events.select(col("event_type"), col("value"), explode(copies).as("c"))
      .select(col("event_type"), col("value"),
        col("c.b").as("__b"), col("c.anchor").as("__anchor"))
      .selectExpr("event_type", "value", "__anchor",
        s"count(1) $over AS cnt_win",
        s"sum($dec) $over AS sum_win",
        // ties of an anchor all share its bucket, so the tie count is
        // complete inside the partition (a halo copy of value v would
        // come from bucket(v)+1, which cannot contain value v)
        "count(1) OVER (PARTITION BY event_type, __b, value) AS cnt_eq")
      .filter(col("__anchor")) // halo copies feed frames, never anchor one
      .selectExpr("event_type",
        "cnt_win - cnt_eq AS n_pairs_l",
        s"sum_win - $dec * cnt_win AS gap_l")
      .groupBy(col("event_type"))
      .agg(sum(col("n_pairs_l")).as("n_pairs"),
        sum(col("gap_l")).cast("double").as("sum_gap"))
  }

  /** j16's PLAN form (round 18): [[valueBandPairs]]' aggregate without
    * materializing the pair relation — the guide-§1.2 "don't compute
    * things you throw away" rewrite the [[bandJoin]] scaladoc itself
    * prescribes for statistics consumers. The j16 gate's OUTPUT is the
    * per-type (n_pairs, sum_gap) aggregate only, so the ~10M-pair join
    * at sf0.1 (the bench's top query for two rounds) collapses to
    * [[valueBandStats]]' halo-bucketed range-frame window: one sort per
    * (type, value-bucket) partition, O(n log n) whatever the band
    * density — at 100 TB the difference between a feasible statistic
    * and a quadratic pair blowup.
    *
    * BIT-EXACT equality with the join form (the DuckDB oracle stays the
    * pair join verbatim, so the gate proves it on every driver SF):
    *   - pair set: the frame bound `value <= v + width` is the same
    *     IEEE add as the join predicate (j18's argument); ties and self
    *     (`r > l` in the join) are counted out via the tie-partition
    *     count, and null type/value rows are dropped up front exactly
    *     as the join's null-rejecting predicates drop them.
    *   - gap sum: the join form sums `floor((r−l)·1e6 + 0.5)` per pair;
    *     here each row carries `m = floor(value·1e6 + 0.5)` once and an
    *     anchor contributes `Σ m(r) − cnt·m(l)`. On 6-dp-representable
    *     values (the corpus contract TemporalJoinsSpec pins, and the
    *     same assumption the join form's own micro-quantization already
    *     rides) `floor((r−l)·1e6+0.5) = m(r) − m(l)` exactly, so the
    *     BIGINT totals — and therefore the one final double division —
    *     are identical bit for bit. Σ|gap_micro| ≤ pairs·width·1e6, the
    *     join form's own overflow envelope, unchanged.
    *   - a type with zero in-band pairs is absent from the join form's
    *     output (no pair rows to group); `n_pairs > 0` reproduces that.
    *
    * Parallelism: partitioned by (type, value-bucket) with width-halo
    * copies — [[valueBandStats]]' machinery, not by type alone (5 types
    * = 5 tasks forever is the 100 TB wall the round-11 doctrine bans). */
  def valueBandPairsAgg(events: DataFrame, width: Double = 0.5,
                        bucketWidth: Double = 32.0): DataFrame = {
    require(bucketWidth >= width, "bucketWidth must be >= width")
    val mic = floor(col("value") * lit(1e6) + lit(0.5))
    val bkt = floor(col("value") / bucketWidth).cast("long")
    // halo eligibility: provable superset of cross-bucket reachability
    // under the frame's own IEEE add — see valueBandStats' derivation
    val haloEligible = col("value") <= bkt * bucketWidth + lit(width)
    val copies = when(haloEligible,
        array(struct(bkt.as("b"), lit(true).as("anchor")),
          struct((bkt - 1).as("b"), lit(false).as("anchor"))))
      .otherwise(array(struct(bkt.as("b"), lit(true).as("anchor"))))
    val over = s"OVER (PARTITION BY event_type, __b ORDER BY value " +
      s"RANGE BETWEEN CURRENT ROW AND $width FOLLOWING)"
    events
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type"), col("value"), mic.as("__m"),
        explode(copies).as("c"))
      .select(col("event_type"), col("value"), col("__m"),
        col("c.b").as("__b"), col("c.anchor").as("__anchor"))
      .selectExpr("event_type", "value", "__m", "__anchor",
        s"count(1) $over AS cnt_win",
        s"sum(__m) $over AS sum_win",
        "count(1) OVER (PARTITION BY event_type, __b, value) AS cnt_eq")
      .filter(col("__anchor")) // halo copies feed frames, never anchor one
      .selectExpr("event_type",
        "cnt_win - cnt_eq AS n_pairs_l",
        "sum_win - __m * cnt_win AS gap_l")
      .groupBy(col("event_type"))
      .agg(sum(col("n_pairs_l")).as("n_pairs"),
        (sum(col("gap_l")).cast("double") / lit(1e6)).as("sum_gap"))
      .filter(col("n_pairs") > 0)
  }

  def valueBandStatsSql(width: Double = 0.5): String =
    s"""WITH w AS (
       |  SELECT event_type, value,
       |    count(*) OVER win AS cnt_win,
       |    sum(CAST(value AS DECIMAL(18,6))) OVER win AS sum_win,
       |    count(*) OVER (PARTITION BY event_type, value) AS cnt_eq
       |  FROM events
       |  WINDOW win AS (PARTITION BY event_type ORDER BY value
       |    RANGE BETWEEN CURRENT ROW AND $width FOLLOWING)
       |)
       |SELECT event_type,
       |  CAST(sum(cnt_win - cnt_eq) AS BIGINT) AS n_pairs,
       |  CAST(sum(sum_win - CAST(value AS DECIMAL(18,6)) * cnt_win) AS DOUBLE) AS sum_gap
       |FROM w GROUP BY event_type""".stripMargin

  def valueBandPairsSql(width: Double = 0.5): String =
    s"""SELECT a.event_type, count(*) AS n_pairs,
       |  CAST(sum(CAST(floor((b.value - a.value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / CAST(1000000 AS DOUBLE) AS sum_gap
       |FROM events a JOIN events b
       |  ON a.event_type = b.event_type
       |  AND b.value > a.value AND b.value <= a.value + $width
       |GROUP BY a.event_type""".stripMargin

  /** x56: ordered funnel — users completing `stages` IN ORDER, each step
    * STRICTLY after the previous step's completion and within `horizon`
    * of it. Stage k's completion time is the user's EARLIEST qualifying
    * stage-k event (the standard earliest-completion funnel semantics),
    * computed as a per-user conditional min: filter events to the stage
    * type, join the survivors of stage k-1, bound by `(t_{k-1}, t_{k-1}
    * + horizon]`, take the min. Every shuffle keys on `user_id` and
    * carries one row per (user, stage-qualifying event) — no sequence
    * window over the raw stream, no per-user event sorting, so the plan
    * is |stages| hash joins + aggs at any event volume.
    * Returns `(stage, n_users)`, one row per stage, stages labeled
    * `1_<type>`, `2_<type>`, … */
  def orderedFunnel(events: DataFrame, stages: Seq[String],
                    horizon: String): DataFrame = {
    require(stages.nonEmpty)
    val hor = expr(s"INTERVAL $horizon")
    val ev = events.select(col("user_id"), col("event_type"), col("ts"))
    val completions: Seq[DataFrame] = stages.zipWithIndex
      .scanLeft(Option.empty[DataFrame]) { case (prev, (tpe, i)) =>
        val base = ev.filter(col("event_type") === tpe)
        val gated = prev match {
          case None => base
          case Some(p) => base
            .join(p.select(col("user_id"), col("t").as("t_prev")), Seq("user_id"))
            .filter(col("ts") > col("t_prev") && col("ts") <= col("t_prev") + hor)
        }
        Some(gated.groupBy(col("user_id")).agg(min(col("ts")).as("t")))
      }.flatten
    completions.zip(stages).zipWithIndex.map { case ((df, tpe), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(s"${i + 1}_$tpe").as("stage"), col("n_users"))
    }.reduceLeft(_ unionByName _)
  }

  /** DuckDB twin of [[orderedFunnel]]. */
  def orderedFunnelSql(stages: Seq[String], horizon: String): String = {
    val ctes = stages.zipWithIndex.map { case (tpe, i) =>
      if (i == 0)
        s"s0 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = '$tpe' GROUP BY user_id)"
      else
        s"""s$i AS (
           |  SELECT e.user_id, min(e.ts) AS t FROM events e
           |  JOIN s${i - 1} p USING (user_id)
           |  WHERE e.event_type = '$tpe' AND e.ts > p.t
           |    AND e.ts <= p.t + INTERVAL $horizon
           |  GROUP BY e.user_id)""".stripMargin
    }.mkString(",\n")
    val selects = stages.zipWithIndex.map { case (tpe, i) =>
      s"SELECT '${i + 1}_$tpe' AS stage, count(*) AS n_users FROM s$i"
    }.mkString("\nUNION ALL ")
    s"WITH $ctes\n$selects"
  }
}
