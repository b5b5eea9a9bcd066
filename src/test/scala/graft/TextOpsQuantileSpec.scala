package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.TextOps

/** x32 length quantiles: the exact rank-based form (the oracle) and the
  * sketch the 100 TB path swaps in (`approx_percentile`, t-digest) must
  * agree on the fixture corpus — the evidence that the swap preserves
  * the profile a curation run acts on. */
class TextOpsQuantileSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.01"

  test("rank quantiles are ordered and bounded by the per-lang extremes") {
    val docs = Tables.documents(spark, sfDir)
    val rows = TextOps.lengthQuantiles(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val Seq(p10, p50, p90, p99) = Seq(2, 3, 4, 5).map(r.getLong)
      assert(p10 <= p50 && p50 <= p90 && p90 <= p99)
    }
  }

  test("approx_percentile (the 100 TB swap) tracks the exact ranks") {
    val docs = Tables.documents(spark, sfDir)
    val exact = TextOps.lengthQuantiles(docs).collect()
      .map(r => r.getString(0) -> Seq(2, 3, 4, 5).map(r.getLong)).toMap
    val ps = TextOps.quantilePoints.map(_._2)
    val approx = docs
      .select(col("lang"), size(TextOps.wordsRe(col("text"))).as("n"))
      .groupBy("lang")
      .agg(percentile_approx(col("n"),
        array(ps.map(lit(_)): _*), lit(10000)).as("q"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).map(_.toLong)).toMap
    assert(approx.keySet === exact.keySet)
    for (lang <- exact.keys; i <- ps.indices) {
      val (e, a) = (exact(lang)(i), approx(lang)(i))
      // t-digest at accuracy 10k is near-exact at this corpus size; allow
      // one rank of slack for its different tie convention
      assert(math.abs(e - a) <= math.max(1L, e / 20),
        s"$lang p=${ps(i)}: exact=$e approx=$a")
    }
  }

  test("sample-quantile calibration (x129): exact side matches x32; accounting and error are exact") {
    val docs = Tables.documents(spark, sfDir)
    val cal = TextOps.sampleQuantileCalibration(docs, k = 16).collect()
      .map(r => r.getString(0) -> r).toMap
    val exact = TextOps.lengthQuantiles(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap // p50, p90
    assert(cal.keySet === exact.keySet)
    cal.foreach { case (lang, r) =>
      assert(r.getAs[Long]("p50") === exact(lang)._1,
        s"$lang: the calibration's exact p50 must equal x32's")
      assert(r.getAs[Long]("p90") === exact(lang)._2)
      val (n, ns) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_sample"))
      assert(ns <= n)
      // the hash sample is ~1/16: allow a generous binomial band
      assert(ns >= n / 64 && ns <= n / 4, s"$lang: $ns of $n sampled")
      // err_ppm recomputes exactly from the reported quantiles
      val err = r.getAs[Long]("p50_err_ppm")
      assert(err ===
        math.abs(r.getAs[Long]("p50_est") - r.getAs[Long]("p50")) * 1000000L /
          r.getAs[Long]("p50"))
      // a 1/16 sample of thousands of docs cannot be 50% off at p50
      assert(err < 500000L, s"$lang: p50 rel err $err ppm")
    }
  }

  test("sample-quantile calibration: sample estimates are exact on a small closed-form fixture") {
    val s = spark
    import s.implicits._
    // 32 docs, lengths 1..32 ("w " repeated): exact p50 = len ceil(0.5*32)=16
    val df = (1 to 32).map(i => (i.toLong, "aa", ("w " * i).trim))
      .toDF("doc_id", "lang", "text")
    val r = TextOps.sampleQuantileCalibration(df, k = 4).collect().head
    assert(r.getAs[Long]("p50") === 16L)
    assert(r.getAs[Long]("p90") === 29L) // ceil(0.9*32) = 29th smallest
    val ns = r.getAs[Long]("n_sample")
    assert(ns > 0L, "1/4 hash sample of 32 docs must hit at least once")
    // the estimate must be a length that belongs to a sampled doc —
    // i.e. an integer in [1, 32]
    val est = r.getAs[Long]("p50_est")
    assert(est >= 1L && est <= 32L)
  }

  test("x148 quality percentile == driver-side percent_rank per source, ties shared") {
    val docs = Tables.documents(spark, sfDir)
    val got = TextOps.qualityPercentile(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("source"), r.getAs[Long]("q_micro"),
          r.getAs[Long]("pctl_ppm")))).toMap
    // driver reference off the already-pinned scores (x3 gate)
    val base = got.toSeq.map { case (id, (src, q, _)) => (id, src, q) }
    val ref = base.groupBy(_._2).flatMap { case (_, rows) =>
      val n = rows.size.toLong
      rows.map { case (id, _, q) =>
        val below = rows.count(_._3 < q).toLong
        id -> below * 1000000L / math.max(n - 1L, 1L)
      }
    }
    assert(got.size === docs.count())
    ref.foreach { case (id, pct) =>
      assert(got(id)._3 === pct, s"doc $id")
    }
    // percent_rank endpoints: every source's lowest tie-group sits at 0
    // and everything stays under 1e6 inclusive
    val bySrc = got.values.groupBy(_._1)
    bySrc.foreach { case (src, vs) =>
      assert(vs.map(_._3).min === 0L, s"$src min")
      assert(vs.map(_._3).max <= 1000000L, s"$src bound")
    }
  }

  test("x153 quantile normalization == driver reference; shifted feeds harmonize") {
    val docs = Tables.documents(spark, sfDir)
    val got = TextOps.quantileNormalize(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("source"), r.getAs[Long]("q_micro"),
          r.getAs[Long]("norm_q_micro")))).toMap
    assert(got.size === docs.count())
    // driver reference: source percentile → largest global q whose
    // global percentile (strictly-below over ALL docs) does not exceed it
    val base = got.toSeq.map { case (id, (src, q, _)) => (id, src, q) }
    val all = base.map(_._3).sorted
    val gn = all.size.toLong
    val gGrid = all.distinct.map { q =>
      q -> all.count(_ < q).toLong * 1000000L / math.max(gn - 1L, 1L)
    }
    val bySrc = base.groupBy(_._2)
    base.foreach { case (id, src, q) =>
      val rows = bySrc(src)
      val n = rows.size.toLong
      val sPctl = rows.count(_._3 < q).toLong * 1000000L / math.max(n - 1L, 1L)
      val want = gGrid.filter(_._2 <= sPctl).map(_._1).max
      assert(got(id)._3 === want, s"doc $id src $src q $q pctl $sPctl")
    }
    // the point: an UNTIED source-top doc has source percentile exactly
    // 1e6 and maps to the global top value, whatever its raw score
    bySrc.foreach { case (src, rows) =>
      val topQ = rows.map(_._3).max
      if (rows.size > 1 && rows.count(_._3 == topQ) == 1) {
        val topDoc = rows.find(_._3 == topQ).get
        assert(got(topDoc._1)._3 === all.max,
          s"$src untied top doc must map to the global top")
      }
    }
  }
}
