package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AnomalyOps

/** Hourly burst detection (x124): a planted spike must surface with
  * exact integer accounting, quiet hours must count as ZERO baseline
  * observations (the densification contract), and the cold-start guard
  * must suppress early-history false positives. */
class AnomalyOpsSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  // an exact hour boundary so hour_epoch arithmetic is transparent
  private val h0 = 472224L // hours since epoch

  /** (type, hour offset, count) triples → an events frame. */
  private def eventsOf(rows: Seq[(String, Int, Int)]) = {
    val s = spark
    import s.implicits._
    rows.flatMap { case (t, h, n) =>
      (0 until n).map(i =>
        (t, new Timestamp(((h0 + h) * 3600L + i) * 1000L)))
    }.toDF("event_type", "ts")
  }

  test("a planted spike surfaces with exact ratio accounting") {
    // steady 5/hour for 30 hours, then a 50-event hour
    val df = eventsOf((0 until 30).map(("click", _, 5)) :+ (("click", 30, 50)))
    val rows = AnomalyOps.burstReport(df, trailing = 24, thresholdX = 3,
      minBaseline = 12, topK = 5).collect()
    assert(rows.length === 1, rows.mkString(";"))
    val r = rows.head
    assert(r.getAs[String]("event_type") === "click")
    assert(r.getAs[Long]("hour_epoch") === h0 + 30)
    assert(r.getAs[Long]("n_events") === 50L)
    assert(r.getAs[Long]("base_n") === 24L)
    assert(r.getAs[Long]("base_sum") === 120L) // 24 trailing hours × 5
    assert(r.getAs[Long]("ratio_ppm") === 50L * 24L * 1000000L / 120L)
  }

  test("quiet hours are zero observations: densification changes the verdict") {
    // 12 active hours (4/h), 12 silent hours, then a 4-event hour. With
    // the dense grid the trailing-24 baseline is 48 over 24 hours, so
    // 4 ≥ 2×mean exactly; skipping quiet hours would see 4 < 2×4.
    val df = eventsOf((0 until 12).map(("ping", _, 4)) :+ (("ping", 24, 4)))
    val rows = AnomalyOps.burstReport(df, trailing = 24, thresholdX = 2,
      minBaseline = 12, topK = 5).collect()
    val burst = rows.filter(_.getAs[Long]("hour_epoch") == h0 + 24)
    assert(burst.length === 1,
      s"hour 24 must burst against the zero-padded baseline: ${rows.mkString(";")}")
    assert(burst.head.getAs[Long]("base_sum") === 48L)
    assert(burst.head.getAs[Long]("base_n") === 24L)
  }

  test("the cold-start guard suppresses early-history spikes") {
    // spike at hour 5: only 5 hours of history < minBaseline=12
    val df = eventsOf((0 until 5).map(("boot", _, 5)) :+ (("boot", 5, 500)))
    val rows = AnomalyOps.burstReport(df, trailing = 24, thresholdX = 3,
      minBaseline = 12, topK = 5).collect()
    assert(rows.isEmpty, rows.mkString(";"))
  }

  test("types are independent: one type's burst never reads another's baseline") {
    val df = eventsOf(
      (0 until 30).map(("a", _, 100)) ++ // heavy steady type
      (0 until 30).map(("b", _, 2)) :+ (("b", 30, 10)))
    val rows = AnomalyOps.burstReport(df, trailing = 24, thresholdX = 3,
      minBaseline = 12, topK = 5).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("event_type") === "b")
    assert(rows.head.getAs[Long]("base_sum") === 48L)
  }

  test("x157 userProfiles: scraper profile separates; dominant-type ties alphabetical") {
    val s = spark
    import s.implicits._
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    // u1: human - 4 events, 2 types (tie 2-2 -> alphabetical "click"),
    //     spread over an hour; u2: scraper - 12 events, one type,
    //     machine-gun 1s gaps
    val rows =
      Seq((1L, "view", 0L), (1L, "click", 600L), (1L, "view", 1200L),
        (1L, "click", 3600L)) ++
        (0 until 20).map(i => (2L, "view", 7200L + i)) ++
        Seq((3L, "view", 0L), (3L, "click", 900L), (3L, "view", 1800L),
          (3L, "purchase", 2700L))
    val df = rows.map { case (u, t, sec) => (u, t, ts(sec)) }
      .toDF("user_id", "event_type", "ts")
    val got = AnomalyOps.userProfiles(df, burstFactor = 2L)
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    val u1 = got(1L)
    assert(u1.getAs[Long]("n_events") === 4L)
    assert(u1.getAs[Long]("n_types") === 2L)
    assert(u1.getAs[String]("top_type") === "click", "2-2 tie -> alphabetical")
    assert(u1.getAs[Long]("top_share_ppm") === 500000L)
    assert(u1.getAs[Long]("span_us") === 3600L * 1000000L)
    assert(u1.getAs[Long]("mean_gap_us") === 1200L * 1000000L)
    assert(u1.getAs[Int]("burst_flag") === 0)
    val u2 = got(2L)
    assert(u2.getAs[Long]("n_events") === 20L)
    assert(u2.getAs[Long]("n_types") === 1L)
    assert(u2.getAs[Long]("top_share_ppm") === 1000000L)
    assert(u2.getAs[Long]("mean_gap_us") === 1000000L,
      "19 one-second gaps -> exactly 1s mean")
    // 20 * 3 users = 60 > 2 * 28 total = 56 -> flagged; humans stay 0
    assert(u2.getAs[Int]("burst_flag") === 1)
    assert(got(3L).getAs[Int]("burst_flag") === 0)
  }

  test("x166 changepoint: a planted level shift lands at the shift hour with exact CUSUM accounting") {
    // type a: 4 hours at 1/h then 4 hours at 5/h — the shift is after
    // hour index 4 (t_idx=4); type b: perfectly uniform -> zero CUSUM
    val df = eventsOf(
      (0 until 4).map(("a", _, 1)) ++ (4 until 8).map(("a", _, 5)) ++
        (0 until 4).map(("b", _, 2)))
    val got = AnomalyOps.changepointReport(df).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = got("a")
    // G_t = 8*prefix - t*24; |G| peaks at t=4: |8*4 - 96| = 64
    assert(a.getAs[Long]("n_hours") === 8L && a.getAs[Long]("n_events") === 24L)
    assert(a.getAs[Long]("cp_idx") === 4L)
    assert(a.getAs[Long]("cp_hour") === h0 + 3)
    assert(a.getAs[Long]("cusum_ppm") === (64L * 1000000L) / (8L * 24L))
    assert(a.getAs[Long]("pre_rate_milli") === 1000L)
    assert(a.getAs[Long]("post_rate_milli") === 5000L)
    // uniform stream: zero magnitude everywhere, earliest-t tie, equal rates
    val b = got("b")
    assert(b.getAs[Long]("cusum_ppm") === 0L)
    assert(b.getAs[Long]("cp_idx") === 1L)
    assert(b.getAs[Long]("pre_rate_milli") === 2000L &&
      b.getAs[Long]("post_rate_milli") === 2000L)
  }
}
