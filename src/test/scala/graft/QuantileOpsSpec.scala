package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QuantileOps

/** Exact quantiles by histogram refinement (x140): must equal the
  * rank-ordered definition — driver-side sort reference on adversarial
  * domains (full-int64 extents, heavy duplicates, singletons) and the
  * window form on the real events fixture. */
class QuantileOpsSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  private val ps = Seq("p10" -> 0.10, "p50" -> 0.50, "p99" -> 0.99)

  private def reference(vals: Seq[Long], p: Double): Long = {
    val sorted = vals.sorted
    sorted(math.max(math.ceil(p * vals.size).toLong, 1L).toInt - 1)
  }

  test("refinement == sort reference on adversarial groups") {
    val s = spark
    import s.implicits._
    var seed = 42L
    def nxt(): Long = { seed = seed * 6364136223846793005L + 1442695040888963407L; seed }
    val groups: Map[String, Seq[Long]] = Map(
      // full-domain extremes, wrap-prone range
      "extremes" -> (Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L,
        Long.MaxValue - 1, Long.MaxValue) ++ (1 to 50).map(_ => nxt())),
      // heavy duplicates: rank runs must resolve to the run's value
      "dups" -> Seq.fill(97)(5L),
      "twovals" -> (Seq.fill(30)(-7L) ++ Seq.fill(70)(1234567890123L)),
      // singletons and tiny groups
      "one" -> Seq(Long.MinValue),
      "three" -> Seq(3L, 1L, 2L),
      // dense small range (converges in one round)
      "dense" -> (1 to 500).map(i => (i % 17).toLong),
      // wide uniform
      "wide" -> (1 to 400).map(_ => nxt() >> 8))
    val df = groups.toSeq.flatMap { case (g, vs) => vs.map(v => (g, v)) }
      .toDF("g", "v").repartition(7)
    val got = QuantileOps.exactQuantiles(df, "g", col("v"), ps, buckets = 64)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), ps.indices.map(i => r.getLong(2 + i)))).toMap
    groups.foreach { case (g, vs) =>
      val (n, qv) = got(g)
      assert(n === vs.size.toLong, s"group $g count")
      ps.zipWithIndex.foreach { case ((name, p), i) =>
        assert(qv(i) === reference(vs, p), s"group $g $name")
      }
    }
  }

  test("x140 == the rank-window form on real events; plans stay narrow") {
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    val got = QuantileOps.eventValueQuantiles(ev)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val t = ev.select(col("event_type"),
      floor(col("value").cast("double") * lit(1e6) + lit(0.5)).cast("long")
        .as("v"))
    val w = Window.partitionBy("event_type").orderBy("v")
    val want = t
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        max(when(col("rn") === ceil(lit(0.50) * col("cnt")), col("v"))).as("p50"),
        max(when(col("rn") === ceil(lit(0.90) * col("cnt")), col("v"))).as("p90"),
        max(when(col("rn") === ceil(lit(0.99) * col("cnt")), col("v"))).as("p99"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === want)
  }

  test("x150 moments: closed-form fixture and BigInt reference on real events") {
    val s = spark
    import s.implicits._
    val fix = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 5.0))
      .toDF("event_type", "value")
    val got = QuantileOps.valueMoments(fix).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("min_micro"),
          r.getAs[Long]("max_micro"), r.getAs[Long]("mean_micro"),
          r.getAs[Double]("var_micro2")))).toMap
    // var(a) = floor(14e12/3) - 2e6^2 = 4666666666666 - 4e12
    assert(got("a") === ((3L, 1000000L, 3000000L, 2000000L, 6.66666666666e11)))
    assert(got("b") === ((1L, 5000000L, 5000000L, 5000000L, 0.0)))
    // real events vs an exact BigInt driver reference
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"),
        floor(col("value").cast("double") * lit(1e6) + lit(0.5))
          .cast("long").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val ref = ev.groupBy(_._1).map { case (t, rows) =>
      val vs = rows.map(v => BigInt(v._2))
      val n = BigInt(vs.size)
      val mean = vs.sum / n
      val varr = (vs.map(x => x * x).sum / n - mean * mean).toDouble
      t -> ((vs.size.toLong, (vs.sum / n).toLong, varr))
    }
    val real = QuantileOps.valueMoments(
      graft.core.Tables.events(spark, "/root/testdata/sf0.001")).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("mean_micro"),
          r.getAs[Double]("var_micro2")))).toMap
    ref.foreach { case (t, w) => assert(real(t) === w, s"type $t") }
  }

  test("x140 scan budget: extent rides scan 1; extent-adaptive bounds kill the grid walk") {
    val s = spark
    import s.implicits._
    // two clusters 2^40 apart: grid-cell narrowing alone needs
    // ~⌈41/log₂B⌉ = 7 refinement scans plus the old extent round to pin
    // p50=0; per-bucket min/max collapse each target the moment its
    // bucket holds one distinct value — 2 scans total
    val df = (Seq.fill(50)(0L) ++ Seq.fill(50)(1L << 40))
      .map(("c", _)).toDF("g", "v")
    val sc = spark.sparkContext
    sc.setJobGroup("x140pin", "scan count", interruptOnCancel = false)
    val got = QuantileOps.exactQuantiles(df, "g", col("v"),
      Seq("p50" -> 0.50, "p99" -> 0.99), buckets = 64).collect()
    sc.clearJobGroup()
    assert(got.head.getLong(2) === 0L && got.head.getLong(3) === (1L << 40))
    val jobs = sc.statusTracker.getJobIdsForGroup("x140pin").length
    // 2 histogram scans; AQE splits each round into shuffle-stage +
    // result jobs and round 2 adds a broadcast job (observed: 5). The
    // old grid walk was ~8 rounds ≈ 20+ jobs on this fixture.
    assert(jobs <= 6, s"expected ≤6 jobs (2 scans under AQE), got $jobs")
  }

  test("x150 moments: negative sums use sign-magnitude truncation (engine-portable)") {
    val s = spark
    import s.implicits._
    // sv = -7e6 over n=3: truncation gives -2333333, DuckDB-style FLOOR
    // would give -2333334 — this pin fails if either engine's form
    // regresses to a raw div/floor on the negative path
    val fix = Seq(("n", -1.0), ("n", -2.0), ("n", -4.0))
      .toDF("event_type", "value")
    val got = QuantileOps.valueMoments(fix).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("mean_micro"), r.getAs[Double]("var_micro2")))).toMap
    assert(got("n")._1 === -2333333L)
    // s2 div n − mean² = 7e12 − 2333333² = 1555557111111
    assert(got("n")._2 === 1.555557111111e12)
    // BigInt reference agrees (BigInt / truncates toward zero)
    assert((BigInt(-7000000) / 3).toLong === -2333333L)
  }
}
