package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.operators.TwoPhase]] — the scale-safe two-phase replacement
  * for windows partitioned on low-cardinality keys. The contract under
  * test: for ANY deterministic order-aligned bucket expression, the
  * two-phase prefix columns are BIT-IDENTICAL to the single-window
  * forms they replace (running sum / row_number / partition total /
  * exclusive running max), so the x126/x129/x137 rewrites could not
  * change a single output row. */
class TwoPhaseSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  private val sfDir = "/root/testdata/sf0.001"

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Synthetic fixture: 2 partitions, duplicate order-key values across
    * bucket boundaries, a null measure value, and a bucket expression
    * that deliberately leaves some buckets empty. */
  private def fixture: DataFrame = {
    val s = spark
    import s.implicits._
    // (part, id, key, v) — key has heavy ties (all rows of p1 share
    // key=5 → ties split across buckets only by id)
    val rows = (1 to 97).map(i => ("p0", i.toLong, (i % 7).toLong, i.toLong)) ++
      (1 to 53).map(i => ("p1", i.toLong, 5L, if (i % 9 == 0) -i.toLong else i.toLong))
    rows.toDF("part", "id", "key", "v").repartition(5)
  }

  test("prefixed == single-window forms (sums, totals, exclusive max)") {
    val df = fixture
    val got = graft.operators.TwoPhase.prefixed(df,
      partCols = Seq("part"),
      // order-aligned: bucket on key alone (ties stay in one bucket for
      // p0; for p1 every row lands in ONE bucket — the degenerate case)
      bucketCol = expr("key div 2"),
      orderCols = Seq(col("key"), col("id")),
      sums = Seq("c" -> lit(1L), "s" -> col("v")),
      maxes = Seq("m" -> col("v")))
      .select(col("part"), col("id"), col("c_pre"), col("c_tot"),
        col("s_pre"), col("s_tot"), col("m_prior"))
    val w = Window.partitionBy("part").orderBy(col("key"), col("id"))
    val wAll = Window.partitionBy("part")
    val want = df
      .withColumn("c_pre", row_number().over(w).cast("long"))
      .withColumn("c_tot", count(lit(1)).over(wAll))
      .withColumn("s_pre", sum(col("v"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("s_tot", sum(col("v")).over(wAll))
      .withColumn("m_prior", max(col("v"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("part"), col("id"), col("c_pre"), col("c_tot"),
        col("s_pre"), col("s_tot"), col("m_prior"))
    assert(sortedRows(got) === sortedRows(want))
  }

  test("prefixed with id-spread buckets == window forms under total tie") {
    val df = fixture.filter(col("part") === "p1") // every key identical
    val got = graft.operators.TwoPhase.prefixed(df,
      partCols = Seq("part"),
      // ties spread by the id tiebreak itself — 8 near-equal buckets
      bucketCol = expr("id div 8"),
      orderCols = Seq(col("key"), col("id")),
      sums = Seq("c" -> lit(1L)),
      maxes = Seq("m" -> col("v")))
      .select(col("part"), col("id"), col("c_pre"), col("c_tot"), col("m_prior"))
    val w = Window.partitionBy("part").orderBy(col("key"), col("id"))
    val want = df
      .withColumn("c_pre", row_number().over(w).cast("long"))
      .withColumn("c_tot", count(lit(1)).over(Window.partitionBy("part")))
      .withColumn("m_prior", max(col("v"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("part"), col("id"), col("c_pre"), col("c_tot"), col("m_prior"))
    assert(sortedRows(got) === sortedRows(want))
  }

  test("x129 two-phase ranks == the single-window form on real documents") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val got = graft.operators.TextOps.sampleQuantileCalibration(docs)
    // the pre-rewrite shape: everything from one lang-partitioned window
    val toks = docs.select(col("lang"), col("doc_id"),
      graft.functions.TextExpressions.wsTokenCountFast(col("text"))
        .cast("long").as("n"),
      (pmod(graft.functions.HashFunctions.hash60(col("doc_id").cast("string")),
        lit(16L)) === 0L).as("in_samp"))
    val byLang = Window.partitionBy("lang").orderBy(col("n"), col("doc_id"))
    val ranked = toks
      .withColumn("rn", row_number().over(byLang).cast("long"))
      .withColumn("rs", sum(when(col("in_samp"), 1L).otherwise(0L))
        .over(byLang.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("lang")))
      .withColumn("cs", sum(when(col("in_samp"), 1L).otherwise(0L))
        .over(Window.partitionBy("lang")))
    val ps = Seq("p50" -> 0.50, "p90" -> 0.90)
    val aggs = Seq(count(lit(1)).as("n_docs"),
      sum(when(col("in_samp"), 1L).otherwise(0L)).as("n_sample")) ++
      ps.flatMap { case (name, p) => Seq(
        max(when(col("rn") === ceil(lit(p) * col("cnt")), col("n"))).as(name),
        max(when(col("in_samp") && col("rs") === ceil(lit(p) * col("cs")),
          col("n"))).as(s"${name}_est"))
      }
    val errs = ps.map { case (name, _) =>
      when(col(name) > 0L && col(s"${name}_est").isNotNull,
        expr(s"(abs(${name}_est - $name) * 1000000L) div $name"))
        .otherwise(lit(null).cast("long")).as(s"${name}_err_ppm")
    }
    val outCols = Seq(col("lang"), col("n_docs"), col("n_sample")) ++
      ps.flatMap { case (name, _) => Seq(col(name), col(s"${name}_est")) } ++ errs
    val want = ranked.groupBy("lang").agg(aggs.head, aggs.tail: _*).select(outCols: _*)
    assert(sortedRows(got) === sortedRows(want))
  }

  test("x137 two-phase prior max == the single-window form on real events") {
    val ev = graft.core.Tables.events(spark, sfDir)
    val got = graft.streaming.EventStreams.disorderProfile(ev)
    val byArrival = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = ev
      .select(col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("epoch"))
      .withColumn("prior_max", max(col("epoch")).over(byArrival))
      .select(col("event_type"),
        when(col("prior_max").isNotNull && col("epoch") < col("prior_max"),
          col("prior_max") - col("epoch")).as("late_sec"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(col("late_sec")).as("n_late"),
        coalesce(max(col("late_sec")), lit(0L)).as("max_late_sec"))
      .select(col("event_type"), col("n_events"), col("n_late"),
        expr("(n_late * 1000000L) div n_events").as("late_ppm"),
        col("max_late_sec"))
    assert(sortedRows(got) === sortedRows(want))
  }

  test("x126 two-phase ntile == the single-window ntile on real lineitem") {
    val li = graft.core.Tables.lineitem(spark, sfDir)
    val got = graft.operators.LayoutOps.zoneMapAudit(li,
      col("l_partkey"), col("l_suppkey"),
      Seq(col("l_orderkey"), col("l_linenumber")))
    // reference file assignment: plain ntile over the layout window on
    // the same scaled keys (the pre-rewrite shape)
    val base = li.select(col("l_partkey").cast("long").as("a"),
      col("l_suppkey").cast("long").as("b"),
      col("l_orderkey").as("t0"), col("l_linenumber").as("t1"))
    val stats = base.agg(min(col("a")).as("ga0"), max(col("a")).as("ga1"),
      min(col("b")).as("gb0"), max(col("b")).as("gb1"))
    val scaled = base.crossJoin(broadcast(stats))
      .select(col("a"), col("b"), col("ga0"), col("ga1"), col("gb0"), col("gb1"),
        expr("((a - ga0) * 65535L) div greatest(ga1 - ga0, 1L)").as("ua"),
        struct(col("t0"), col("t1")).as("tie"))
    // ntile equality checked on the 1-D linear layout, where key = ua is
    // reproducible here without re-deriving the Morton interleave; the
    // zorder branch is held to the structural ntile invariant below
    val w = Window.partitionBy(lit(1)).orderBy(col("ua"), col("tie"))
    val linWant = scaled
      .withColumn("file_id", ntile(16).over(w).cast("long"))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"),
        min(col("a")).as("min_a"), max(col("a")).as("max_a"),
        min(col("b")).as("min_b"), max(col("b")).as("max_b"),
        first(col("ga0")).as("ga0"), first(col("ga1")).as("ga1"),
        first(col("gb0")).as("gb0"), first(col("gb1")).as("gb1"))
      .select(col("file_id"), col("n_rows"),
        col("min_a"), col("max_a"), col("min_b"), col("max_b"),
        expr("((max_a - min_a + 1L) * 1000000L) div (ga1 - ga0 + 1L)").as("cov_a_ppm"),
        expr("((max_b - min_b + 1L) * 1000000L) div (gb1 - gb0 + 1L)").as("cov_b_ppm"))
    val linGot = got.filter(col("layout") === "linear_a").drop("layout")
    assert(sortedRows(linGot) === sortedRows(linWant))
    // zorder branch: same row/file accounting as linear (ntile sizes
    // depend only on n), all 16 files present
    val zGot = got.filter(col("layout") === "zorder")
    val zSizes = zGot.select("file_id", "n_rows").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lSizes = linGot.select("file_id", "n_rows").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(zSizes === lSizes)
  }
}
