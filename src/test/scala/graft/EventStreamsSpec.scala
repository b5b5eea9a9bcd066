package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

final case class Ev(ts: Timestamp, event_type: String, user_id: Long, value: Double)

/** The windowed aggregation must run UNCHANGED as a watermarked
  * Structured Streaming query (SURVEY §2.9: same transform, batch and
  * stream) and produce the batch answer for every window the watermark
  * has closed. */
class EventStreamsSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    Ev(ts("2024-01-01 10:05:00"), "click", 1L, 1.5),
    Ev(ts("2024-01-01 10:20:00"), "click", 2L, 2.5),
    Ev(ts("2024-01-01 10:40:00"), "view", 1L, 0.5),
    Ev(ts("2024-01-01 11:10:00"), "click", 1L, 3.0),
    Ev(ts("2024-01-01 11:30:00"), "view", 3L, 1.0),
    // late-but-within-watermark straggler for the 11:00 window
    Ev(ts("2024-01-01 11:15:00"), "click", 2L, 2.0),
    // watermark pusher: closes every earlier hour
    Ev(ts("2024-01-01 14:00:00"), "tick", 9L, 0.0))

  test("NULL user_id counts toward n_events but never as a user (count DISTINCT semantics)") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (ts("2024-01-01 10:05:00"), "click", Some(1L), 1.0),
      (ts("2024-01-01 10:06:00"), "click", Option.empty[Long], 2.0),
      (ts("2024-01-01 10:07:00"), "click", Option.empty[Long], 3.0),
      (ts("2024-01-01 10:08:00"), "view", Option.empty[Long], 4.0))
      .toDF("ts", "event_type", "user_id", "value")
    val out = EventStreams.hourlyByType(rows).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"), r.getAs[Long]("n_users"))).toSet
    // the two-phase form must match count(DISTINCT user_id): NULLs ignored
    assert(out === Set(("click", 3L, 1L), ("view", 1L, 0L)))
  }

  test("hourlyByType streams with a watermark and matches the batch answer on closed windows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Ev]
    val streamed = EventStreams.hourlyByType(
      input.toDF().withWatermark("ts", "1 hour"))
    val query = streamed.writeStream.format("memory")
      .queryName("hourly_out").outputMode("append").start()
    try {
      input.addData(events.take(5): _*)
      query.processAllAvailable()
      input.addData(events.drop(5): _*)
      query.processAllAvailable()
      input.addData(Ev(ts("2024-01-01 17:00:00"), "tick", 9L, 0.0))
      query.processAllAvailable()

      val batch = EventStreams.hourlyByType(events.toDF())
        .filter(col("ts_hour") < ts("2024-01-01 14:00:00")) // closed windows only
        .collect().map(_.toSeq).toSet
      val stream = spark.table("hourly_out")
        .filter(col("ts_hour") < ts("2024-01-01 14:00:00"))
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty)
      assert(stream === batch)
    } finally query.stop()
  }

  test("incrementalRefresh: partial-merge equals the direct aggregate exactly") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map { i =>
      (i, ts(f"2024-01-01 ${10 + (i % 3)}%02d:00:${i % 60}%02d"),
        if (i % 2 == 0) "click" else "view", i * 0.25)
    }.toDF("event_id", "ts", "event_type", "value")
    val merged = EventStreams.incrementalRefresh(df, topK = 100).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("sum_value_micro"))).toMap
    val direct = df
      .select(col("event_type"),
        expr("unix_timestamp(ts) div 3600L").as("h"),
        floor(col("value") * 1e6 + 0.5).cast("long").as("v"))
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("n"), sum("v").as("sv")).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("sv"))).toMap
    assert(merged === direct,
      "merging base+late partials must equal the one-shot aggregate")
  }

  test("disorderProfile: planted out-of-order arrivals counted with exact lateness") {
    val s = spark
    import s.implicits._
    // arrival order (event_id) vs event time: id 3 arrives 100s late,
    // id 5 arrives 30s late; 'view' is perfectly ordered
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), "click", 0.0),
      (2L, ts("2024-01-01 10:02:00"), "click", 0.0),
      (3L, ts("2024-01-01 10:00:20"), "click", 0.0), // 100s below max
      (4L, ts("2024-01-01 10:03:00"), "click", 0.0),
      (5L, ts("2024-01-01 10:02:30"), "click", 0.0), // 30s below max
      (6L, ts("2024-01-01 10:00:00"), "view", 0.0),
      (7L, ts("2024-01-01 10:01:00"), "view", 0.0)
    ).toDF("event_id", "ts", "event_type", "value")
    val rows = EventStreams.disorderProfile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    val c = rows("click")
    assert(c.getAs[Long]("n_events") === 5L)
    assert(c.getAs[Long]("n_late") === 2L)
    assert(c.getAs[Long]("late_ppm") === 2L * 1000000L / 5L)
    assert(c.getAs[Long]("max_late_sec") === 100L)
    val v = rows("view")
    assert(v.getAs[Long]("n_late") === 0L && v.getAs[Long]("max_late_sec") === 0L)
  }

  test("x168 watermarkYieldCurve: lateness bands exactly; cumulative above a band is the drop bill") {
    val s = spark
    import s.implicits._
    // same shape as the x137 fixture: 100s late -> band 7 (60,120],
    // 30s late -> band 5 (10,30]; view in order -> absent from the curve
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), "click", 0.0),
      (2L, ts("2024-01-01 10:02:00"), "click", 0.0),
      (3L, ts("2024-01-01 10:00:20"), "click", 0.0),
      (4L, ts("2024-01-01 10:03:00"), "click", 0.0),
      (5L, ts("2024-01-01 10:02:30"), "click", 0.0),
      (6L, ts("2024-01-01 10:00:00"), "view", 0.0),
      (7L, ts("2024-01-01 10:01:00"), "view", 0.0)
    ).toDF("event_id", "ts", "event_type", "value")
    val rows = EventStreams.watermarkYieldCurve(df).collect()
      .map(r => (r.getString(0), r.getAs[Long]("band")) ->
        ((r.getAs[Long]("late_hi_sec"), r.getAs[Long]("n_in_band"),
          r.getAs[Long]("n_late_total"), r.getAs[Long]("n_events_total"))))
      .toMap
    assert(rows.keySet === Set(("click", 0L), ("click", 5L), ("click", 7L),
      ("view", 0L)), s"$rows")
    assert(rows(("click", 0L)) === ((0L, 3L, 2L, 5L)))
    assert(rows(("click", 7L)) === ((120L, 1L, 2L, 5L)))
    assert(rows(("click", 5L)) === ((30L, 1L, 2L, 5L)))
    assert(rows(("view", 0L)) === ((0L, 2L, 0L, 2L)))
    // drop bill at delay 30 s (band 5's hi): events later than 30 s ->
    // strictly above band 5 -> just the 100 s event
    assert(rows.collect { case ((t, b), v) if t == "click" && b > 5 => v._2 }
      .sum === 1L)
    // drop bill at delay 120 s: nothing above band 7
    assert(rows.collect { case ((t, b), v) if t == "click" && b > 7 => v._2 }
      .sum === 0L)
  }

  test("sessionTransitions: gap cuts, exact conditional/lift arithmetic on a closed-form fixture") {
    val s = spark
    import s.implicits._
    // user 1: a->b->a within one session, then a NEW session (2h gap)
    // opening with c->b; user 2: a->b once
    val df = Seq(
      (1L, 1L, "a", ts("2024-01-01 10:00:00")),
      (2L, 1L, "b", ts("2024-01-01 10:05:00")),
      (3L, 1L, "a", ts("2024-01-01 10:10:00")),
      (4L, 1L, "c", ts("2024-01-01 12:30:00")), // gap > 30min: no a->c
      (5L, 1L, "b", ts("2024-01-01 12:35:00")),
      (6L, 2L, "a", ts("2024-01-01 10:00:00")),
      (7L, 2L, "b", ts("2024-01-01 10:04:00"))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val rows = EventStreams.sessionTransitions(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // transitions: a->b (x2), b->a (x1), c->b (x1); the 2h gap never pairs
    assert(rows.keySet === Set(("a", "b"), ("b", "a"), ("c", "b")))
    val ab = rows(("a", "b"))
    assert(ab.getAs[Long]("n_trans") === 2L)
    assert(ab.getAs[Long]("p_cond_ppm") === 1000000L) // a always -> b
    // lift(a->b): P(b|a)=1 vs P(b)=3/4 -> 1e6*1e6 div 750000 = 1333333
    assert(ab.getAs[Long]("lift_ppm") === 1000000L * 1000000L / 750000L)
    val ba = rows(("b", "a"))
    assert(ba.getAs[Long]("n_trans") === 1L)
    // lift(b->a): P(a|b)=1 vs P(a)=1/4 -> 4x
    assert(ba.getAs[Long]("lift_ppm") === 1000000L * 1000000L / 250000L)
  }

  test("x167 sessionYieldCurve: gaps band exactly and the cumulative reading equals x16's session count") {
    val s = spark; import s.implicits._
    val df = Seq(
      Ev(ts("2024-01-01 10:00:00"), "c", 1L, 0.0),
      Ev(ts("2024-01-01 10:00:05"), "c", 1L, 0.0),   // gap 5  -> band 3
      Ev(ts("2024-01-01 10:00:05"), "c", 1L, 0.0),   // gap 0  -> band 0
      Ev(ts("2024-01-01 10:01:05"), "c", 1L, 0.0),   // gap 60 -> band 6
      Ev(ts("2024-01-01 12:00:00"), "c", 2L, 0.0))   // singleton user
      .toDF
    val rows = EventStreams.sessionYieldCurve(df).collect()
      .map(r => r.getAs[Long]("band") ->
        ((r.getAs[Long]("gap_hi_sec"), r.getAs[Long]("n_gaps"),
          r.getAs[Long]("n_users_with_gap"), r.getAs[Long]("n_users_total"),
          r.getAs[Long]("n_events_total")))).toMap
    assert(rows.keySet === Set(0L, 3L, 6L), s"$rows")
    assert(rows(0L) === ((0L, 1L, 1L, 2L, 5L)))
    assert(rows(3L) === ((5L, 1L, 1L, 2L, 5L)))
    assert(rows(6L) === ((60L, 1L, 1L, 2L, 5L)))
    // sessions at cutoff 30 s = users + gaps strictly above band(30)=5:
    // 2 + 1 = 3 — must equal x16 sessionized at a 30-second gap... x16
    // takes minutes, so check at 1 minute: gaps > 60 s -> none above
    // band 6, sessions = 2 + 0... the 60 s gap is NOT > 60 -> one
    // session per user: 2. And at 30 s (band 5): 2 + 1 = 3.
    val x16at1min = EventStreams.userSessions(df, 1)
      .select("user_id", "session_no").distinct().count()
    assert(x16at1min === 2L)
    val above30 = rows.filterKeys(_ > 5L).values.map(_._2).sum
    assert(rows(0L)._4 + above30 === 3L)
  }
}
