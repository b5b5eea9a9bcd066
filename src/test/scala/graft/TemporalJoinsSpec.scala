package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TemporalJoins

/** As-of join (backward-inclusive, per-key, left-join form) and band join
  * (one-sided fixed-width, bucket-exact) semantics. */
class TemporalJoinsSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asOfJoin: latest prior-or-same right row per key, NULL when none") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // after r2 → matches r2
      (2L, 10L, ts("2024-01-01 08:59:59")), // before all right rows → NULL
      (3L, 10L, ts("2024-01-01 09:30:00")), // tie with r1 → inclusive match
      (4L, 20L, ts("2024-01-01 12:00:00"))) // other key, no right rows → NULL
      .toDF("l_id", "user_id", "ts")
    val right = Seq(
      (101L, 10L, ts("2024-01-01 09:30:00")),
      (102L, 10L, ts("2024-01-01 09:45:00")),
      (103L, 30L, ts("2024-01-01 00:00:00"))) // different key, never matches
      .toDF("r_id", "user_id", "ts")
    val out = TemporalJoins.asOfJoin(left, right, Seq("user_id"), "ts", "ts",
        Map("r_id" -> "matched"))
      .select("l_id", "matched").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out === Map(1L -> 102L, 2L -> -1L, 3L -> 101L, 4L -> -1L))
  }

  test("intervalJoin: equals the naive theta join, each pair exactly once") {
    val s = spark
    import s.implicits._
    // granularity 10: intervals spanning 1..4 buckets, endpoint touches
    // (closed intervals), disjoint pairs, and an extraCond filter
    val left = Seq((1L, 0L, 5L), (2L, 8L, 32L), (3L, 40L, 40L), (4L, 55L, 90L))
      .toDF("l_id", "ls", "le")
    val right = Seq((11L, 5L, 9L), (12L, 33L, 39L), (13L, 40L, 41L),
      (14L, 0L, 100L), (15L, 91L, 95L))
      .toDF("r_id", "rs", "re")
    val out = TemporalJoins.intervalJoin(left, right, "ls", "le", "rs", "re", 10L)
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val naive = left.crossJoin(right)
      .filter(col("ls") <= col("re") && col("rs") <= col("le"))
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.sorted.toSeq === naive.sorted.toSeq) // same set
    assert(out.length === out.toSet.size) // no pair met twice
    val filtered = TemporalJoins.intervalJoin(left, right, "ls", "le", "rs", "re", 10L,
        col("l_id") =!= lit(1L))
      .select("l_id").collect().map(_.getLong(0))
    assert(!filtered.contains(1L))
  }

  test("intervalJoin: inverted (end < start) and NULL-bound intervals match nothing") {
    val s = spark
    import s.implicits._
    // 2L is inverted (empty interval), 3L has a NULL bound — both must be
    // inert; without the up-front guard sequence() would explode 2L into
    // a DESCENDING bucket run and throw on 3L's NULL endpoint
    val left = Seq(
      (1L, Some(0L), Some(25L)),
      (2L, Some(40L), Some(5L)),
      (3L, Some(10L), Option.empty[Long]))
      .toDF("l_id", "ls", "le")
    val right = Seq(
      (11L, Some(20L), Some(45L)),
      (12L, Some(30L), Some(8L)), // inverted on the right side too
      (13L, Option.empty[Long], Some(50L)))
      .toDF("r_id", "rs", "re")
    val out = TemporalJoins.intervalJoin(left, right, "ls", "le", "rs", "re", 10L)
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 11L)))
  }

  test("intervalJoin differential: 200×200 hash-generated intervals equal the naive join") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random intervals from md5-derived hashes:
    // starts spread over [0, 5000), lengths over [0, 400) — many bucket
    // crossings at granularity 250, plus zero-length intervals
    def h60(x: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    def gen(tag: String, n: Int) = (1 to n).map { i =>
      val h = h60(s"$tag$i")
      val start = h % 5000L
      val len = (h / 7919L) % 400L
      (i.toLong, start, start + len)
    }
    val left = gen("L", 200).toDF("l_id", "ls", "le")
    val right = gen("R", 200).toDF("r_id", "rs", "re")
    val bucketed = TemporalJoins.intervalJoin(left, right, "ls", "le", "rs", "re", 250L)
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val naive = left.crossJoin(right)
      .filter(col("ls") <= col("re") && col("rs") <= col("le"))
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(bucketed.length === bucketed.toSet.size, "a pair met twice")
    assert(bucketed.sorted.toSeq === naive.sorted.toSeq)
    assert(naive.nonEmpty)
  }

  test("asOfJoin: NULL timestamps never match, in either direction") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, 10L, Option(ts("2024-01-01 10:00:00"))),
      (2L, 10L, Option.empty[Timestamp])) // NULL left ts → NULL match
      .toDF("l_id", "user_id", "ts")
    val right = Seq(
      (101L, 10L, Option(ts("2024-01-01 09:00:00"))),
      (102L, 10L, Option(ts("2024-01-01 11:00:00"))),
      (103L, 10L, Option.empty[Timestamp])) // NULL right ts → never matched
      .toDF("r_id", "user_id", "ts")
    def run(backward: Boolean) =
      TemporalJoins.asOfJoin(left, right, Seq("user_id"), "ts", "ts",
          Map("r_id" -> "matched"), backward = backward)
        .select("l_id", "matched").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(run(backward = true) === Map(1L -> 101L, 2L -> -1L))
    assert(run(backward = false) === Map(1L -> 102L, 2L -> -1L))
  }

  test("bandJoin: exact pairs across bucket boundaries, each pair once") {
    val s = spark
    import s.implicits._
    // width 1.0: values chosen so bands cross bucket edges (0.8→1.3 spans
    // buckets 0 and 1) and a boundary hit lands exactly on l+width
    val left = Seq(("a", 1L, 0.8), ("a", 2L, 2.0), ("b", 3L, 0.8))
      .toDF("k", "l_id", "l_v")
    val right = Seq(("a", 11L, 0.8), ("a", 12L, 1.3), ("a", 13L, 1.8),
      ("a", 14L, 3.0), ("b", 15L, 1.9))
      .toDF("k", "r_id", "r_v")
    val out = TemporalJoins.bandJoin(left, right, Seq("k"), "l_v", "r_v", 1.0)
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1: 0.8] → (0.8, 1.8]: 12 (1.3), 13 (1.8 boundary inclusive); 11 at
    // 0.8 excluded (strict lower); (2: 2.0] → (2.0, 3.0]: 14; (b 3: 0.8] →
    // 15? 1.9 > 1.8 → no
    assert(out === Set((1L, 12L), (1L, 13L), (2L, 14L)))
  }

  test("bandJoin matches the naive theta join on random data") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1L to 300L).map(i =>
      (if (i % 2 == 0) "x" else "y", i, math.floor(rnd.nextDouble() * 1000) / 100))
    val df = rows.toDF("k", "id", "v")
    val l = df.select(col("k"), col("id").as("l_id"), col("v").as("l_v"))
    val r = df.select(col("k"), col("id").as("r_id"), col("v").as("r_v"))
    val banded = TemporalJoins.bandJoin(l, r, Seq("k"), "l_v", "r_v", 0.5)
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val naive = (for {
      (ka, ia, va) <- rows; (kb, ib, vb) <- rows
      if ka == kb && vb > va && vb <= va + 0.5
    } yield (ia, ib)).toSet
    assert(banded === naive && naive.nonEmpty)
  }

  test("valueBandStats (window form) equals valueBandPairs (join form) exactly") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    // 2-decimal doubles like the events corpus, WITH planted exact ties
    val rows = (1L to 400L).map { i =>
      val v = math.floor(rnd.nextDouble() * 1000) / 100
      (if (i % 3 == 0) "a" else "b", i, if (i % 7 == 0) 1.25 else v)
    }
    val df = rows.map { case (t, _, v) => (t, v) }.toDF("event_type", "value")
    def toMap(out: Array[org.apache.spark.sql.Row]) =
      out.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val joinForm = toMap(TemporalJoins.valueBandPairs(df).collect())
    val winForm = toMap(TemporalJoins.valueBandStats(df).collect())
    assert(winForm === joinForm)
    assert(joinForm.values.map(_._1).sum > 0)
    // halo-bucket stress: bucketWidth barely above width → nearly every
    // band spans a bucket edge and rides the halo copies; values are
    // dense in [0, 10) so edge ties and exact-boundary hits occur
    val tight = toMap(TemporalJoins.valueBandStats(df, 0.5, 0.5).collect())
    assert(tight === joinForm)
    val mid = toMap(TemporalJoins.valueBandStats(df, 0.5, 1.25).collect())
    assert(mid === joinForm)
  }

  test("valueBandPairsAgg (j16's plan form) equals valueBandPairs exactly, incl. shape") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (1L to 400L).map { i =>
      val v = math.floor(rnd.nextDouble() * 1000) / 100
      (if (i % 3 == 0) "a" else "b", i, if (i % 7 == 0) 1.25 else v)
    }
    val df = rows.map { case (t, _, v) => (t, v) }.toDF("event_type", "value")
    def toMap(out: Array[org.apache.spark.sql.Row]) =
      out.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val joinForm = toMap(TemporalJoins.valueBandPairs(df).collect())
    // default, tight (every band spans a bucket edge), and misaligned
    // bucket widths must all reproduce the join form bit for bit
    assert(toMap(TemporalJoins.valueBandPairsAgg(df).collect()) === joinForm)
    assert(toMap(TemporalJoins.valueBandPairsAgg(df, 0.5, 0.5).collect()) === joinForm)
    assert(toMap(TemporalJoins.valueBandPairsAgg(df, 0.5, 1.25).collect()) === joinForm)
    assert(joinForm.values.map(_._1).sum > 0)
    // shape parity: a pairless type is OMITTED (join form has no row for
    // it), unlike valueBandStats' zero row; nulls drop like the join's
    // null-rejecting predicates
    val edge = Seq(("a", math.nextDown(32.0)), ("a", 32.5), ("lonely", 5.0),
        (null.asInstanceOf[String], 1.0))
      .toDF("event_type", "value")
      .unionAll(Seq(("a", null.asInstanceOf[java.lang.Double]))
        .toDF("event_type", "value"))
    val aggOut = toMap(TemporalJoins.valueBandPairsAgg(edge, 0.5, 32.0).collect())
    val joinOut = toMap(TemporalJoins.valueBandPairs(edge, 0.5).collect())
    assert(aggOut === joinOut)
    assert(aggOut.contains("a") && !aggOut.contains("lonely"))
  }

  test("valueBandStats: ulp-edge boundary pair survives the halo cut; pairless types report zero") {
    val s = spark
    import s.implicits._
    // anchor one ulp below the bucket boundary (32.0), partner exactly at
    // boundary + width: the partner is inside the anchor's IEEE frame
    // (nextDown(32) + 0.5 rounds to exactly 32.5) but a naive
    // `p - boundary < width` halo test would refuse it a copy into the
    // anchor's bucket and silently drop the pair
    val df = Seq(
      ("a", math.nextDown(32.0)), ("a", 32.5),
      ("lonely", 5.0)) // rows but no pairs → (0, 0.0), join form omits it
      .toDF("event_type", "value")
    val out = TemporalJoins.valueBandStats(df, 0.5, 32.0)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("a")._1 === 1L, s"boundary pair must survive the halo cut: $out")
    assert(out("lonely") === ((0L, 0.0)))
    // and the pair is what the join form finds for type a
    val join = TemporalJoins.valueBandPairs(df, 0.5)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(join("a") === out("a"))
    assert(!join.contains("lonely"))
  }

  test("tolerance nulls matches further than the interval, keeps closer ones") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // 15 min after r1 → within 20 min
      (2L, 10L, ts("2024-01-01 11:00:00"))) // 75 min after r1 → outside
      .toDF("l_id", "user_id", "ts")
    val right = Seq((101L, 10L, ts("2024-01-01 09:45:00")))
      .toDF("r_id", "user_id", "ts")
    val out = TemporalJoins.asOfJoin(left, right, Seq("user_id"), "ts", "ts",
        Map("r_id" -> "matched"),
        tolerance = Some(expr("INTERVAL 20 MINUTES")))
      .select("l_id", "matched").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out === Map(1L -> 101L, 2L -> -1L))
  }

  test("NULL keys never match: NULL-key lefts get NULL, NULL-key rights are inert") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, Some(10L), ts("2024-01-01 10:00:00")), // normal match
      (2L, Option.empty[Long], ts("2024-01-01 10:00:00"))) // NULL key → no match
      .toDF("l_id", "user_id", "ts")
    val right = Seq(
      (101L, Some(10L), ts("2024-01-01 09:00:00")),
      (102L, Option.empty[Long], ts("2024-01-01 09:30:00"))) // must never match anything
      .toDF("r_id", "user_id", "ts")
    val out = TemporalJoins.asOfJoin(left, right, Seq("user_id"), "ts", "ts",
        Map("r_id" -> "matched"))
      .select("l_id", "matched").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out === Map(1L -> 101L, 2L -> -1L))
  }

  test("forward asOfJoin: earliest at-or-after right row per key") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 09:00:00")), // before both → matches r1
      (2L, 10L, ts("2024-01-01 09:30:00")), // tie with r1 → inclusive
      (3L, 10L, ts("2024-01-01 10:00:00"))) // after all → NULL
      .toDF("l_id", "user_id", "ts")
    val right = Seq(
      (101L, 10L, ts("2024-01-01 09:30:00")),
      (102L, 10L, ts("2024-01-01 09:45:00")))
      .toDF("r_id", "user_id", "ts")
    val out = TemporalJoins.asOfJoin(left, right, Seq("user_id"), "ts", "ts",
        Map("r_id" -> "matched"), backward = false)
      .select("l_id", "matched").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out === Map(1L -> 101L, 2L -> 101L, 3L -> -1L))
  }

  test("asOfJoin matches a per-key scan on random data") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    def t(off: Int) = new Timestamp(1700000000000L + off * 1000L)
    val lRows = (1L to 200L).map(i => (i, i % 7, t(rnd.nextInt(5000))))
    val rRows = (1000L to 1100L).map(i => (i, i % 5, t(rnd.nextInt(5000))))
    val left = lRows.toDF("l_id", "user_id", "ts")
    val right = rRows.toDF("r_id", "user_id", "ts")
    val out = TemporalJoins.asOfJoin(left, right, Seq("user_id"), "ts", "ts",
        Map("r_id" -> "matched"))
      .select("l_id", "matched").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val expected = lRows.map { case (lid, k, lt) =>
      val cands = rRows.filter(r => r._2 == k && !r._3.after(lt))
      lid -> (if (cands.isEmpty) -1L else cands.maxBy(_._3.getTime)._1)
    }.toMap
    assert(out === expected)
  }

  test("orderedFunnel: order, strictness, horizon, and earliest-completion semantics") {
    val s = spark
    import s.implicits._
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val events = Seq(
      // u1: clean A(10:00) -> B(10:05) -> C(10:10): completes all
      (1L, "A", t(0)), (1L, "B", t(5)), (1L, "C", t(10)),
      // u2: B BEFORE its A; no later B: stops at stage 1
      (2L, "B", t(0)), (2L, "A", t(5)), (2L, "C", t(10)),
      // u3: B at exactly A's ts: strict '>' excludes it; later B ok,
      // then C past the 15-min horizon from that B: stops at stage 2
      (3L, "A", t(1)), (3L, "B", t(1)), (3L, "B", t(6)), (3L, "C", t(30)),
      // u4: two Bs — the EARLIEST in-window B (10:04) anchors the C
      // horizon, so a C at 10:21 (within 15 min of the later B but not
      // the earlier) must NOT count
      (4L, "A", t(2)), (4L, "B", t(4)), (4L, "B", t(12)), (4L, "C", t(21)),
      // u5: no A at all: appears nowhere
      (5L, "B", t(0)), (5L, "C", t(1)))
      .toDF("user_id", "event_type", "ts")
    val got = TemporalJoins.orderedFunnel(events, Seq("A", "B", "C"), "15 MINUTE")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("1_A" -> 4L, "2_B" -> 3L, "3_C" -> 1L))
  }
}
