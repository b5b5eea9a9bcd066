package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.CurationOps

/** Semantics of the curation battery: DSIR separates the target
  * language, Gopher gates match hand-computed rules, the KS statistic
  * is a true max-CDF-gap, fertility ratios are consistent sums, and
  * mixture planning flags oversubscription exactly. */
class CurationOpsSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("dsirWeights: en documents average a higher importance weight than non-en") {
    val docs = Tables.documents(spark, sfDir)
    val w = CurationOps.dsirWeights(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val byTgt = w.groupBy(col("lang") === "en")
      .agg(avg(col("dsir_avg")).as("a")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // the weight is ln(p_en/p_raw) summed over the doc's features: the
    // en slice must score higher on average than the rest, else the
    // model learned nothing
    assert(byTgt(true) > byTgt(false),
      s"en avg ${byTgt(true)} !> raw avg ${byTgt(false)}")
  }

  test("dsirWeights: n_feats counts unigrams plus bigrams (2w-1 for a w-word doc)") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "alpha beta gamma", "en"), (2L, "delta", "xx"))
      .toDF("doc_id", "text", "lang")
    val out = CurationOps.dsirWeights(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 5L) // 3 unigrams + 2 bigrams
    assert(out(2L) === 1L) // 1 unigram, 0 bigrams
  }

  test("gopherGates: each rule matches a hand-computed example") {
    val s = spark; import s.implicits._
    // 60 words, mean length 28/5 = 5.6, stopwords "the"/"and" ×12 each
    val longOk = ("the wonderful weather and people " * 12).trim
    val df = Seq(
      (1L, longOk),                    // passes all gates
      (2L, "short text only"),         // fails word count (3 < 50)
      (3L, ("#### " * 60).trim)        // symbols, no alpha, no stopwords
    ).toDF("doc_id", "text")
    val rows = CurationOps.gopherGates(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Int]("g_word_count") === 1)
    assert(rows(1L).getAs[Int]("g_stopword") === 1)
    assert(rows(1L).getAs[Int]("g_pass") === 1)
    assert(rows(2L).getAs[Int]("g_word_count") === 0)
    assert(rows(2L).getAs[Int]("g_pass") === 0)
    assert(rows(3L).getAs[Int]("g_alpha") === 0)
    assert(rows(3L).getAs[Int]("g_symbol") === 0)
    val r1 = rows(1L)
    assert(r1.getAs[Long]("n_words") === 60L)
    val mwl = r1.getAs[Double]("mean_word_len")
    assert(mwl >= 3d && mwl <= 10d)
  }

  test("lengthKs: identical per-source distributions give KS 0; a disjoint one does not") {
    val s = spark; import s.implicits._
    // two sources with the SAME length multiset, one wildly different
    val rows =
      (1 to 20).map(i => (i.toLong, "a" * (i % 5 + 1), "s1")) ++
      (1 to 20).map(i => (100L + i, "a" * (i % 5 + 1), "s2")) ++
      (1 to 20).map(i => (200L + i, "a" * 1000, "s3"))
    val df = rows.toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val ks = CurationOps.lengthKs(df).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("ks")).toMap
    // s1 and s2 each hold 1/3 of a corpus whose remaining third (s3) is
    // disjoint: their CDF leads the global CDF by exactly 1/3 until the
    // s3 lengths arrive
    assert(math.abs(ks("s1") - ks("s2")) < 1e-9)
    assert(math.abs(ks("s1") - 1.0 / 3.0) < 1e-6, s"s1 ks = ${ks("s1")}")
    // s3's CDF stays 0 through every s1/s2 length: gap = 2/3
    assert(math.abs(ks("s3") - 2.0 / 3.0) < 1e-6, s"s3 ks = ${ks("s3")}")
  }

  test("tokenFertility: sums are consistent and ratios multiply back") {
    val docs = Tables.documents(spark, sfDir)
    val out = CurationOps.tokenFertility(docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val ws = r.getAs[Long]("ws_tokens"); val re = r.getAs[Long]("re_tokens")
      val rpw = r.getAs[Double]("re_per_word")
      assert(math.abs(rpw - re.toDouble / ws.toDouble) < 1e-12)
      assert(re >= ws, s"regex tokens ($re) must refine whitespace words ($ws)")
    }
    // totals tie back to the corpus
    val nd = out.map(_.getAs[Long]("n_docs")).sum
    val expected = docs.filter(col("source").isNotNull && col("lang").isNotNull)
      .count()
    assert(nd === expected)
  }

  test("mixturePlan: epochs = target/available and oversubscription flags exactly") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "one two three", "en"),          // 3 tokens avail, target 400k
      (2L, "uno dos", "es")                 // 2 tokens avail, target 150k
    ).toDF("doc_id", "text", "lang")
    val out = CurationOps.mixturePlan(df, budget = 1000000L).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("en").getAs[Long]("avail_tokens") === 3L)
    assert(out("en").getAs[Long]("target_tokens") === 400000L)
    assert(out("en").getAs[Int]("oversubscribed") === 1)
    assert(math.abs(out("en").getAs[Double]("epochs") - 400000.0 / 3.0) < 1e-9)
    assert(out("es").getAs[Long]("target_tokens") === 150000L)
  }

  test("dsirWeights plan: ONE corpus tokenization feeds both model and scoring") {
    val docs = Tables.documents(spark, sfDir)
    // Unpinned: the reuse contract under test is the construction plan
    // — the Local memo (round 19) would expose only its pinned leaf
    val df = CurationOps.dsirWeights(docs,
      state = graft.operators.DedupOps.Unpinned)
    df.collect() // AQE: reuse only visible post-execution
    // slice off the "== Initial Plan ==" echo — only the final plan counts
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val generates = "\\bGenerate\\b".r.findAllIn(plan).length
    assert(generates === 1,
      s"expected 1 Generate (shared occurrence matrix), got $generates:\n$plan")
    assert(plan.contains("ReusedExchange"),
      "model branch must be served from the matrix exchange")
  }

  test("lengthKs == a naive driver-side reference over 10 random corpora") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 10) {
      val nSrc = 2 + rnd.nextInt(3)
      val rows = (1 to 60).map { i =>
        (i.toLong, "s" + rnd.nextInt(nSrc), (1 + rnd.nextInt(12)).toLong)
      }
      val df = rows.toDF("doc_id", "source", "n_chars")
        .withColumn("text", lit("x")) // unused by the operator
      val got = CurationOps.lengthKs(df).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("ks_micro")).toMap

      // naive reference: evaluate both CDFs at every distinct corpus
      // length, snap the difference exactly like the operator
      val n = rows.length.toDouble
      val bySrc = rows.groupBy(_._2)
      val lens = rows.map(_._3).distinct.sorted
      val ref = bySrc.map { case (src, docs) =>
        val ns = docs.length.toDouble
        val d = lens.map { x =>
          val cumS = docs.count(_._3 <= x).toDouble
          val cumG = rows.count(_._3 <= x).toDouble
          math.abs(math.floor((cumS / ns - cumG / n) * 1e6 + 0.5).toLong)
        }.max
        src -> d
      }
      assert(got === ref, s"trial $trial")
    }
  }

  test("releaseAudit: reasons agree with the member operators, in fixed precedence order") {
    import org.apache.spark.sql.functions.{col, md5, coalesce, lit}
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id").isNotNull)
    val audit = CurationOps.releaseAudit(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(audit.nonEmpty)

    // recompute each stage's verdict with the member operators
    val gateFail = CurationOps.gopherGates(docs)
      .filter(col("g_pass") === 0).collect().map(_.getLong(0)).toSet
    val evalSet = audit.keySet.filter(_ % 10 == 0)
    val dupSet = {
      val rows = docs.filter(!(col("doc_id") % 10 === 0))
        .select(col("doc_id"), md5(col("text").cast("binary")).as("ch"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      rows.groupBy(_._2).values.filter(_.length > 1)
        .flatMap(_.map(_._1).sorted.drop(1)).toSet
    }
    val contaminated = graft.operators.SubstringOps
      .ngramDecontamination(docs, col("doc_id") % 10 === 0, 8)
      .filter(col("hit_windows") > 0).collect().map(_.getLong(0)).toSet
    val pplOut = {
      val scored = graft.operators.TextOps.lmScore(docs).collect()
        .map(r => r.getLong(0) -> r.getAs[Double]("avg_nll")).toMap
      audit.keySet.filter(id => !scored.get(id).exists(a => a >= 3.39 && a <= 3.45))
    }
    audit.foreach { case (id, reason) =>
      val expected =
        if (evalSet(id)) "eval"
        else if (gateFail(id)) "gate"
        else if (dupSet(id)) "dup"
        else if (contaminated(id)) "contaminated"
        else if (pplOut(id)) "ppl"
        else "kept"
      assert(reason === expected, s"doc $id")
    }
  }

  test("waterFill: saturation, exact budget conservation, and remainder order") {
    val s = spark
    import s.implicits._
    def docsOf(langTokens: Seq[(String, Int)]) =
      langTokens.zipWithIndex.map { case ((l, t), i) =>
        (i.toLong, l, ("w " * t).trim)
      }.toDF("doc_id", "lang", "text")
    // availabilities: aa=10, bb=50, cc=100; budget 100:
    // aa saturates (10); remaining 90 over {bb, cc} -> level 45 each;
    // bb (45 < 50) and cc unsaturated
    val r1 = graft.operators.CurationOps.waterFill(
      docsOf(Seq("aa" -> 10, "bb" -> 50, "cc" -> 100)), budget = 100L)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("alloc"), r.getAs[Int]("saturated"))).toMap
    assert(r1("aa") === ((10L, 1)))
    assert(r1("bb") === ((45L, 0)))
    assert(r1("cc") === ((45L, 0)))
    // non-divisible remainder: budget 101 -> 91 over 2 -> level 45 rem 1,
    // the lexicographically-first unsaturated lang (bb) takes the token
    val r2 = graft.operators.CurationOps.waterFill(
      docsOf(Seq("aa" -> 10, "bb" -> 50, "cc" -> 100)), budget = 101L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("alloc")).toMap
    assert(r2 === Map("aa" -> 10L, "bb" -> 46L, "cc" -> 45L))
    assert(r2.values.sum === 101L, "allocations must sum to the budget exactly")
    // budget above total availability: everyone saturates at avail
    val r3 = graft.operators.CurationOps.waterFill(
      docsOf(Seq("aa" -> 10, "bb" -> 50)), budget = 1000L)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("alloc"), r.getAs[Int]("saturated"))).toMap
    assert(r3 === Map("aa" -> ((10L, 1)), "bb" -> ((50L, 1))))
    // budget below n×min: nobody saturates, even split + remainder
    val r4 = graft.operators.CurationOps.waterFill(
      docsOf(Seq("aa" -> 10, "bb" -> 50, "cc" -> 100)), budget = 8L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("alloc")).toMap
    assert(r4 === Map("aa" -> 3L, "bb" -> 3L, "cc" -> 2L))
  }

  test("mixtureTemperature: flattening is monotone in α and accounting is exact") {
    val s = spark
    import s.implicits._
    // en has 100× zh's tokens: 10 en docs of 100 tokens, 1 zh doc of 10
    val df = ((1 to 10).map(i => (i.toLong, "en", ("w " * 100).trim)) :+
      (99L, "zh", ("w " * 10).trim)).toDF("doc_id", "lang", "text")
    val rows = graft.operators.CurationOps.mixtureTemperature(df)
      .collect().map(r => r.getString(0) -> r).toMap
    val (en, zh) = (rows("en"), rows("zh"))
    assert(en.getAs[Long]("n_tokens") === 1000L)
    assert(zh.getAs[Long]("n_tokens") === 10L)
    // exact natural shares: 1000/1010 and 10/1010 in floor ppm
    assert(en.getAs[Long]("share_ppm") === 1000L * 1000000L / 1010L)
    assert(zh.getAs[Long]("share_ppm") === 10L * 1000000L / 1010L)
    // flattening: the minority slice GROWS as α drops (1 → 1/2 → 1/4)
    assert(zh.getAs[Long]("w_half_ppm") > zh.getAs[Long]("share_ppm"))
    assert(zh.getAs[Long]("w_quarter_ppm") > zh.getAs[Long]("w_half_ppm"))
    assert(en.getAs[Long]("w_quarter_ppm") < en.getAs[Long]("w_half_ppm"))
    // closed form at α=1/2: weights ∝ sqrt(1000):sqrt(10) = 10:1 — the
    // micro-snap keeps the ratio exact at this magnitude
    val ratio = en.getAs[Long]("w_half_ppm").toDouble /
      zh.getAs[Long]("w_half_ppm").toDouble
    assert(math.abs(ratio - 10.0) < 0.01, s"sqrt ratio $ratio")
    // allocations never exceed the budget in total
    val alloc = rows.values.map(_.getAs[Long]("alloc_half")).sum
    assert(alloc <= 1000000L && alloc >= 999998L)
  }

  test("releaseDiff: add/remove/change/token-delta verdicts on a closed-form fixture") {
    val s = spark
    import s.implicits._
    // prev: docs 1-5 in src a, 10-11 in b; curr: doc 2 removed, doc 6
    // added (a), doc 3 edited (+2 tokens), src b untouched, src c new
    val prev = Seq(
      (1L, "a", "one two"), (2L, "a", "gone now"), (3L, "a", "old text"),
      (4L, "a", "same x"), (5L, "a", "same y"),
      (10L, "b", "stable"), (11L, "b", "stable too"))
      .toDF("doc_id", "source", "text")
    val curr = Seq(
      (1L, "a", "one two"), (3L, "a", "old text but longer"),
      (4L, "a", "same x"), (5L, "a", "same y"), (6L, "a", "brand new"),
      (10L, "b", "stable"), (11L, "b", "stable too"),
      (20L, "c", "whole new source"))
      .toDF("doc_id", "source", "text")
    val got = CurationOps.releaseDiff(prev, curr).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))).toMap
    // a: 5 prev, 5 curr, +1 added (6), −1 removed (2), 1 changed (3),
    // tokens: prev 2+2+2+2+2=10 → curr 2+4+2+2+2=12 → +2, digest moved
    assert(got("a") === ((5L, 5L, 1L, 1L, 1L, 2L, true)))
    // b: untouched — zero deltas, digest HOLDS
    assert(got("b") === ((2L, 2L, 0L, 0L, 0L, 0L, false)))
    // c: new source — all added, digest moved from the empty fold
    assert(got("c") === ((0L, 1L, 1L, 0L, 0L, 3L, true)))
  }

  test("releaseDiffDemo: every verdict class fires on the fixture corpus") {
    val docs = Tables.documents(spark, sfDir)
    val d = CurationOps.releaseDiffDemo(docs)
    val tot = d.agg(sum("n_added").as("a"), sum("n_removed").as("r"),
      sum("n_changed").as("c")).collect()(0)
    assert(tot.getLong(0) > 0 && tot.getLong(1) > 0 && tot.getLong(2) > 0,
      s"fixture must exercise add/remove/change: $tot")
    // consistency: n_curr - n_prev == n_added - n_removed per source
    d.collect().foreach { r =>
      assert(r.getAs[Long]("n_curr") - r.getAs[Long]("n_prev") ===
        r.getAs[Long]("n_added") - r.getAs[Long]("n_removed"),
        s"count identity broken for ${r.getString(0)}")
    }
  }

  test("x154 sourceDrift: repeating feed flags novelty, gibberish feed flags fertility") {
    val s = spark
    import s.implicits._
    def mk(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "source", "text")
        .withColumn("n_chars", length(col("text")).cast("long"))
    // A: stable prose; B: starts repeating itself in curr; C: turns to
    // unseen-script gibberish in curr (fertility spike under a model
    // trained on prose)
    val prose = Seq(
      "the quick brown fox jumps over the lazy dog today",
      "a stitch in time saves nine they always say here",
      "rain in spain falls mainly on the plain each year",
      "many hands make light work when the team is ready")
    val prevRows =
      prose.zipWithIndex.map { case (t, i) => (10L + i, "A", t) } ++
        prose.zipWithIndex.map { case (t, i) =>
          (20L + i, "B", t + " extra b" + i) } ++
        prose.zipWithIndex.map { case (t, i) =>
          (30L + i, "C", t + " extra c" + i) }
    val currRows =
      prose.zipWithIndex.map { case (t, i) => (10L + i, "A", t) } ++
        (0 until 4).map(i => (20L + i, "B", prose.head)) ++
        prose.zipWithIndex.map { case (_, i) =>
          (30L + i, "C", "zzqxv qqzzx xvqzz zqxqv vzzqx wqzzv") }
    val model = graft.operators.BpeOps.train(mk(prevRows), rounds = 8)
    val got = CurationOps.sourceDrift(mk(prevRows), mk(currRows), model)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Int]("fert_flag"), r.getAs[Int]("nov_flag"),
          r.getAs[Long]("nov_drift_ppm"), r.getAs[Long]("fert_drift_ppm"))))
      .toMap
    assert(got("A")._1 === 0 && got("A")._2 === 0,
      s"stable feed must not flag: ${got("A")}")
    assert(got("B")._2 === 1 && got("B")._3 < 0L,
      s"repeating feed must flag a novelty collapse: ${got("B")}")
    assert(got("C")._1 === 1 && got("C")._4 > 0L,
      s"gibberish feed must flag a fertility spike: ${got("C")}")
  }

  test("x159 clusterCorrectedDsir: cluster shares and corrected mass on a fixture") {
    val s = spark
    import s.implicits._
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, t, "en", "A"), (2L, t, "en", "A"), (3L, t, "en", "A"), // cluster of 3
      (4L, "one two three four five six seven eight nine ten", "de", "B")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = CurationOps.clusterCorrectedDsir(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup_docs"),
          r.getAs[Long]("eff_docs_micro"), r.getAs[Long]("raw_dsir_mass"),
          r.getAs[Long]("corr_dsir_mass")))).toMap
    val (nA, dupA, effA, rawA, corrA) = got("A")
    assert(nA === 3L && dupA === 3L,
      s"the 3 identical docs form one cluster: ${got("A")}")
    assert(effA === 3L * 333333L,
      "each cluster member's share is 1e6 div 3")
    // identical docs share one dsir weight w; corrected mass is
    // 3 * signmag(w * 333333 div 1e6) -- strictly inside the raw mass
    assert(math.abs(corrA) <= math.abs(rawA) / 2,
      s"correction must collapse the cluster's triple-counted mass: ${got("A")}")
    val (nB, dupB, effB, rawB, corrB) = got("B")
    assert(nB === 1L && dupB === 0L && effB === 1000000L,
      s"singleton keeps full share: ${got("B")}")
    assert(corrB === rawB, "share 1e6 must leave a singleton's mass exact")
  }

  test("x169 truncationYield: per-cap doc/token losses on a closed-form fixture") {
    val s = spark; import s.implicits._
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(
      (1L, "a", words(10)), (2L, "a", words(100)),
      (3L, "b", words(40)), (4L, null.asInstanceOf[String], words(9)))
      .toDF("doc_id", "source", "text")
    val got = CurationOps.truncationYield(docs, caps = Seq(16L, 32L, 64L))
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("cap")) ->
        ((r.getAs[Long]("n_docs_truncated"), r.getAs[Long]("tokens_lost"),
          r.getAs[Long]("n_docs"), r.getAs[Long]("tokens_total")))).toMap
    assert(got.size === 6, s"$got")  // 2 sources × 3 caps; null source out
    assert(got(("a", 16L)) === ((1L, 84L, 2L, 110L)))
    assert(got(("a", 32L)) === ((1L, 68L, 2L, 110L)))
    assert(got(("a", 64L)) === ((1L, 36L, 2L, 110L)))
    assert(got(("b", 16L)) === ((1L, 24L, 1L, 40L)))
    assert(got(("b", 64L)) === ((0L, 0L, 1L, 40L)))
  }

  test("x164 gateAttribution: total vs sole kills match a hand-built 4-doc matrix") {
    val s = spark; import s.implicits._
    val sent = "the cat and dog run far"                 // 6 ws tokens, 2 stops
    val passAll = (Seq.fill(8)(sent).mkString(" ") + " big cat")  // 50 tokens
    val shortOk = sent + " " + "the cat and dog"         // 10 tokens, stops>=2
    // 50 tokens with 7 '#'-suffixed words: syms/words = 0.14 > 0.1, all
    // other gates still pass (alpha intact, stops 16, mwl 3.14)
    val symbolly = (Seq.fill(7)(sent.replace("cat", "cat#")) ++ Seq(sent))
      .mkString(" ") + " big cat"
    val shortNoStop = Seq.fill(2)("cat dog run far bat").mkString(" ")  // 10, 0 stops
    val docs = Seq((1L, passAll), (2L, shortOk), (3L, symbolly),
      (4L, shortNoStop)).toDF("doc_id", "text")
    val out = CurationOps.gateAttribution(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.size === 5)
    out.values.foreach { r =>
      assert(r.getAs[Long]("n_docs") === 4L && r.getAs[Long]("n_pass") === 1L)
    }
    def row(g: String) = {
      val r = out(g)
      (r.getAs[Long]("n_fail"), r.getAs[Long]("tokens_fail"),
        r.getAs[Long]("n_sole_kill"), r.getAs[Long]("tokens_sole_kill"))
    }
    assert(row("word_count") === ((2L, 20L, 1L, 10L)), s"${row("word_count")}")
    assert(row("symbol") === ((1L, 50L, 1L, 50L)), s"${row("symbol")}")
    assert(row("stopword") === ((1L, 10L, 0L, 0L)), s"${row("stopword")}")
    assert(row("alpha") === ((0L, 0L, 0L, 0L)))
    assert(row("mean_word_len") === ((0L, 0L, 0L, 0L)))
  }
}
