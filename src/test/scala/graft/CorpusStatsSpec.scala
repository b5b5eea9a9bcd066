package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** Corpus-statistics operators: PMI collocations (x74) and friends —
  * closed-form fixtures pin the exact micro-nat scores; the real-corpus
  * tests pin ordering, count floors, and determinism. */
class CorpusStatsSpec extends AnyFunSuite with SparkSuite {

  test("PMI: closed-form single-doc fixture matches hand arithmetic") {
    val s = spark
    import s.implicits._
    // tokens: new york new york -> T1=4, c1(new)=c1(york)=2
    // bigrams: (new york) x2, (york new) x1 -> T2=3
    // PMI(new york) = ln(c2*T1^2 / (T2*c1a*c1b)) = ln(2*16/(3*2*2)) = ln(8/3)
    val df = Seq(1L -> "new york new york").toDF("doc_id", "text")
    val rows = TextOps.pmiCollocations(df, minCount = 2, k = 10).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "new york")
    assert(r.getLong(1) == 2L) // cnt
    assert(r.getLong(4) ==
      math.floor(math.log(8.0 / 3.0) * 1e6 + 0.5).toLong)
  }

  test("PMI: associated pair outranks frequent-but-independent pair") {
    val s = spark
    import s.implicits._
    // "strong assoc": (aa bb) always adjacent; cc/dd frequent but paired
    // with everything -> low PMI
    val df = Seq(
      1L -> "aa bb cc dd aa bb dd cc",
      2L -> "cc aa bb dd cc dd",
      3L -> "dd cc aa bb cc dd"
    ).toDF("doc_id", "text")
    val rows = TextOps.pmiCollocations(df, minCount = 2, k = 20).collect()
    val byBigram = rows.map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(byBigram.contains("aa bb"))
    assert(byBigram("aa bb") > byBigram.getOrElse("cc dd", Long.MinValue))
    // sorted desc by pmi_micro, ties by bigram
    val pmis = rows.map(r => (r.getLong(4), r.getString(0)))
    assert(pmis.sortBy { case (p, b) => (-p, b) }.toSeq == pmis.toSeq)
  }

  test("NB classifier: separable vocabularies classify perfectly") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "xx", "foo bar foo baz"),
      (2L, "xx", "bar baz foo foo"),
      (3L, "yy", "qux quux qux corge"),
      (4L, "yy", "corge qux quux quux")
    ).toDF("doc_id", "lang", "text")
    val rows = graft.operators.ClassifyOps.nbLangScore(df).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getString(2) == r.getString(1), s"doc ${r.getLong(0)}")
      assert(r.getInt(4) == 1)
    }
  }

  test("NB classifier: exact nll ties break to the alphabetically-first class") {
    val s = spark
    import s.implicits._
    // identical text and symmetric class sizes -> identical class
    // likelihoods AND priors; the rank-1 window must pick 'aa' for both
    val df = Seq(
      (1L, "aa", "tok1 tok2"),
      (2L, "bb", "tok1 tok2")
    ).toDF("doc_id", "lang", "text")
    val rows = graft.operators.ClassifyOps.nbLangScore(df).collect()
    assert(rows.forall(_.getString(2) == "aa"))
  }

  test("NB classifier: real-corpus accuracy beats the majority-class baseline") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count().toDouble
    val majority = docs.groupBy("lang").count()
      .agg(max("count")).head.getLong(0).toDouble / n
    val correct = graft.operators.ClassifyOps.nbLangScore(docs)
      .agg(sum("is_correct")).head.getLong(0).toDouble / n
    assert(correct > majority,
      s"accuracy $correct should beat majority baseline $majority")
  }

  test("margin calibration: accounting ties back to the classifier output") {
    val s = spark
    import s.implicits._
    // two well-separated classes plus one ambiguous doc (shared vocab)
    val df = Seq(
      (1L, "xx", "foo bar baz foo bar"),
      (2L, "xx", "bar foo foo baz baz"),
      (3L, "yy", "qux quux qux corge"),
      (4L, "yy", "corge qux quux quux"),
      (5L, "xx", "foo qux")
    ).toDF("doc_id", "lang", "text")
    val cal = graft.operators.ClassifyOps.nbMarginCalibration(df).collect()
    val scored = graft.operators.ClassifyOps.nbLangScore(df).collect()
    // every doc has a runner-up (two classes), so totals must tie out
    assert(cal.map(_.getAs[Long]("n_docs")).sum === 5L)
    assert(cal.map(_.getAs[Long]("n_correct")).sum ===
      scored.map(_.getAs[Int]("is_correct").toLong).sum)
    cal.foreach { r =>
      val bin = r.getAs[Long]("margin_bin")
      assert(bin >= 0L && bin <= 9L)
      assert(r.getAs[Long]("n_correct") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("mean_margin_micro") >= 0L)
      assert(r.getAs[Double]("acc") ===
        r.getAs[Long]("n_correct").toDouble / r.getAs[Long]("n_docs"))
    }
    // disjoint-vocab docs carry multi-nat margins; the ambiguous doc
    // cannot outrank them — the top-margin bin must be pure and correct
    val top = cal.maxBy(_.getAs[Long]("margin_bin"))
    assert(top.getAs[Double]("acc") === 1.0)
  }

  test("source report: exact counts on a fixture; keep gate follows the mean") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "srcA", "the cat and the dog is in a hat"),
      (2L, "srcA", "the cat the cat"),
      (3L, "srcB", "zz zz zz zz")
    ).toDF("doc_id", "source", "text")
    val rows = TextOps.sourceReport(df, 0.30).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = rows("srcA")
    assert(a.getLong(1) == 2L)      // n_docs
    assert(a.getLong(2) == 13L)     // n_tokens (9 + 4)
    assert(a.getLong(3) == 8L)      // distinct: the cat and dog is in a hat
    assert(a.getDouble(4) == 8.0 / 13.0)
    // srcB: one doc of a single repeated non-stopword token
    val b = rows("srcB")
    assert(b.getLong(2) == 4L && b.getLong(3) == 1L)
    // keep is exactly the threshold compare on the reported mean
    rows.values.foreach { r =>
      assert(r.getInt(6) == (if (r.getDouble(5) >= 0.30) 1 else 0))
    }
  }

  test("source report: micro-snapped mean tracks the per-doc x3 score") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val reported = TextOps.sourceReport(docs, 0.60).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap
    val direct = docs
      .select(col("source"), TextOps.qualityScoreCol(col("text")).as("q"))
      .groupBy("source").agg(avg("q").as("mq")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(reported.keySet == direct.keySet)
    reported.foreach { case (src, mq) =>
      assert(math.abs(mq - direct(src)) < 1e-6, src) // snapping error only
    }
  }

  test("containment: a fully-quoted excerpt scores 1.0 where Jaccard stays low") {
    val s = spark
    import s.implicits._
    val big = (1 to 30).map(i => s"w$i")
    val excerpt = big.slice(10, 18) // 8 tokens -> 6 distinct 3-shingles
    val df = Seq(
      1L -> excerpt.mkString(" "),
      2L -> big.mkString(" "),
      3L -> (1 to 20).map(i => s"z$i").mkString(" ") // unrelated
    ).toDF("doc_id", "text")
    val rows = graft.operators.DedupOps.containmentPairs(df, 3, 16).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    assert(r.getLong(2) == 6L && r.getLong(3) == 6L && r.getLong(4) == 28L)
    assert(r.getDouble(5) == 1.0, "excerpt fully contained in the big doc")
    // the symmetric Jaccard on the same pair is far below LSH thresholds
    val jac = 6.0 / (6 + 28 - 6)
    assert(r.getDouble(6) == 6.0 / 28.0 && jac < 0.25)
  }

  test("containment: max-df guard keeps boilerplate shingles out of candidate generation") {
    val s = spark
    import s.implicits._
    // the same 3 shingles appear in every doc (df=5 > maxDf=4): no pair
    // reaches minShared from boilerplate alone; docs 1-2 additionally
    // share a genuine 5-token run so ONE pair survives the guard — and
    // reports the 3 guarded-out viral shingles on its row
    val boiler = Seq("b1", "b2", "b3", "b4", "b5")
    val sharedRun = Seq("s1", "s2", "s3", "s4", "s5")
    val df = (1 to 5).map { i =>
      val tail = if (i <= 2) sharedRun else Seq(s"u${i}a", s"u${i}b")
      i.toLong -> (boiler ++ tail).mkString(" ")
    }.toDF("doc_id", "text")
    val guarded = graft.operators.DedupOps.containmentPairs(df, 3, 4).collect()
    assert(guarded.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)),
      "boilerplate alone must not generate candidates; the real run must")
    assert(guarded.forall(_.getAs[Long]("n_viral_shingles") == 3L),
      "the guard's exclusions must be reported, not silent")
    // raising maxDf re-admits them (sanity that the guard is the reason)
    val open = graft.operators.DedupOps.containmentPairs(df, 3, 16).collect()
    assert(open.length > 1)
    assert(open.forall(_.getAs[Long]("n_viral_shingles") == 0L))
  }

  test("PMI: count floor removes singletons; real corpus is non-degenerate") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = TextOps.pmiCollocations(docs, minCount = 5, k = 50).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    assert(rows.forall(_.getLong(1) >= 5L))
    // pmi_nats is exactly the snapped micro value / 1e6
    rows.foreach(r => assert(r.getDouble(5) == r.getLong(4).toDouble / 1e6))
  }

  test("TF-IDF: closed-form fixture matches hand arithmetic; ubiquitous token scores 0") {
    val s = spark
    import s.implicits._
    // 4 docs; "the" in all 4 -> idf = ln(1) = 0 exactly, so it can never
    // outrank a token with any positive idf regardless of tf
    val df = Seq(
      1L -> "the cat cat sat",
      2L -> "the dog sat",
      3L -> "the cat fish",
      4L -> "the bird"
    ).toDF("doc_id", "text")
    val rows = TextOps.tfidfKeywords(df, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    def idfMicro(dfDocs: Long): Long =
      math.floor(math.log(4.0 / dfDocs) * 1e6 + 0.5).toLong
    // doc 1: cat tf=2 df=2 -> 2*idf(2); sat tf=1 df=2 -> idf(2); the -> 0
    val d1 = rows.filter(_._1 == 1L).sortBy(_._6)
    assert(d1.map(t => (t._2, t._5)).toSeq ==
      Seq("cat" -> 2 * idfMicro(2), "sat" -> idfMicro(2)))
    // doc 4: bird (df=1) ranks first; "the" (score 0) fills rank 2 only
    // because doc 4 has no other token
    val d4 = rows.filter(_._1 == 4L).sortBy(_._6)
    assert(d4.map(t => (t._2, t._5)).toSeq ==
      Seq("bird" -> idfMicro(1), "the" -> 0L))
    // every doc emits at most k rows, ranks are 1..n with the (score
    // desc, token) total order
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._6)
      assert(sorted.map(_._6).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.map(t => (-t._5, t._2)).toSeq ==
        sorted.map(t => (-t._5, t._2)).sortBy(identity).toSeq)
    }
  }

  test("keyness: closed-form G² matches hand arithmetic; balanced token excluded") {
    val s = spark
    import s.implicits._
    // matrix: (s1,aa,2) (s1,bb,1) (s2,cc,2) (s2,bb,1)
    // margins: tok aa=2 bb=2 cc=2; src s1=3 s2=3; T=6
    val df = Seq(
      (1L, "aa aa bb", "s1"),
      (2L, "cc cc bb", "s2")
    ).toDF("doc_id", "text", "source")
    val rows = TextOps.sourceKeyness(df, minCount = 1, k = 10).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(5))).toMap
    // (s1,aa): cells a=2 b=0 c=1 d=3 ->
    // G² = 2·(2ln2 + 0 + 1ln1 + 3ln3 − 2ln2 − 4ln4 − 3ln3 − 3ln3 + 6ln6)
    //    = 2·(6ln6 − 4ln4 − 3ln3)
    val expected = 2.0 * (6 * math.log(6) - 4 * math.log(4) - 3 * math.log(3))
    val snapped = math.floor(expected * 1e6 + 0.5).toLong
    assert(rows(("s1", "aa")) == snapped)
    assert(rows(("s2", "cc")) == snapped) // symmetric corpus
    // bb occurs evenly (a·T = tok_total·src_total) -> not over-represented
    assert(!rows.contains(("s1", "bb")) && !rows.contains(("s2", "bb")))
  }

  test("keyness: real corpus — over-represented only, floors respected, ranks dense") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = TextOps.sourceKeyness(docs, minCount = 5, k = 10).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(2) >= 5L))
    // every surviving row is over-represented: cnt/src_total > tok_total/t_all
    // implies g2 > 0 in the Dunning statistic
    assert(rows.forall(_.getLong(5) > 0L))
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.length <= 10)
      assert(rs.map(_.getLong(6)).sorted.toSeq == (1L to rs.length).toSeq)
    }
  }

  test("vocabGrowth: closed-form fixture — cumulative counts, monotone, last row is totals") {
    val s = spark
    import s.implicits._
    // ids 0..3 with max_id 3 -> bucket = id * 4 div 4 = id (4 buckets)
    val df = Seq(
      (0L, "aa bb"), (1L, "aa cc"), (2L, "aa"), (3L, "dd dd")
    ).toDF("doc_id", "text")
    val rows = TextOps.vocabGrowth(df, buckets = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // per-bucket new vocab: b0 {aa,bb}=2, b1 {cc}=1, b2 {}=0, b3 {dd}=1
    assert(rows.toSeq == Seq(
      (0L, 1L, 2L, 2L), (1L, 2L, 4L, 3L), (2L, 3L, 5L, 3L), (3L, 4L, 7L, 4L)))
  }

  test("vocabGrowth: real corpus — monotone cumulative, final row equals corpus totals") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = TextOps.vocabGrowth(docs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.nonEmpty && rows.length <= 10)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._2 < b._2 && a._3 <= b._3 && a._4 <= b._4)
      case _ =>
    }
    val toks = docs.filter(col("doc_id").isNotNull)
      .select(explode(TextOps.wordsRe(col("text"))).as("t"))
    assert(rows.last._3 == toks.count())
    assert(rows.last._4 == toks.distinct().count())
    assert(rows.last._2 == docs.filter(col("doc_id").isNotNull).count())
  }

  test("hapaxReport: closed-form fixture and whole-corpus mass conservation") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "aa aa rare1"),     // aa corpus cnt 3; rare1 hapax
      (2L, "aa rare2 rare3"),  // two hapax of three tokens
      (3L, "zz zz")            // zz cnt 2 -> no hapax
    ).toDF("doc_id", "text")
    val rows = TextOps.hapaxReport(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, 3L, 1L, 1.0 / 3.0), (2L, 3L, 2L, 2.0 / 3.0), (3L, 2L, 0L, 0.0)))
  }

  test("zipfFit: exact power law recovers its slope; real corpus is Zipf-like") {
    val s = spark
    import s.implicits._
    // counts follow cnt = 840 / rank EXACTLY (840 divisible by 1..8):
    // ln cnt = ln 840 − 1·ln rank, so the fit must recover slope −1
    // and intercept ln 840 up to snapping (<1e-4)
    val docs = (1 to 8).flatMap { r =>
      Seq.fill(840 / r)(f"t$r%02d")
    }.mkString(" ")
    val df = Seq(1L -> docs).toDF("doc_id", "text")
    val r = TextOps.zipfFit(df, topN = 100).collect().head
    assert(r.getLong(0) == 8L)
    assert(math.abs(r.getDouble(1) - (-1.0)) < 1e-4, s"slope ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - math.log(840.0)) < 1e-4,
      s"intercept ${r.getDouble(2)}")
    // real corpus: negative slope, sane magnitude
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val rr = TextOps.zipfFit(corpus, 1000).collect().head
    assert(rr.getDouble(1) < 0.0 && rr.getDouble(1) > -4.0)
  }

  test("sourceDupRate: cross-source duplication counted; word-order shuffles normalize") {
    val s = spark
    import s.implicits._
    // s1: two docs, one duplicated ACROSS sources (word-shuffled), one
    // unique; s2: the mirror doc plus one unique; s3: fully unique
    val df = Seq(
      (1L, "aa bb cc", "s1"),
      (2L, "uniq one", "s1"),
      (3L, "cc aa bb", "s2"),  // bag-of-words twin of doc 1
      (4L, "uniq two", "s2"),
      (5L, "uniq three", "s3")
    ).toDF("doc_id", "text", "source")
    val rows = graft.operators.DedupOps.sourceDupRate(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("s1", 2L, 1L, 0.5), ("s2", 2L, 1L, 0.5), ("s3", 1L, 0L, 0.0)))
  }

  test("sourceJsMatrix: identical sources at 0, disjoint absent, drift ordered between") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "aa aa bb bb", "s1"),
      (2L, "aa aa bb bb", "s2"),  // identical distribution to s1
      (3L, "aa aa cc cc", "s3"),  // half-overlapping with s1
      (4L, "xx yy zz ww", "s4")   // disjoint from s1/s2/s3
    ).toDF("doc_id", "text", "source")
    val rows = TextOps.sourceJsMatrix(df).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    // identical: every shared term ln(1)=0, full shared mass -> JSD 0
    assert(rows(("s1", "s2"))._1 == 2L)
    assert(math.abs(rows(("s1", "s2"))._2) < 1e-8)
    // disjoint pairs never materialize (their JSD is exactly ln 2)
    assert(!rows.keySet.exists { case (a, b) => a == "s4" || b == "s4" })
    // drifted pair sits strictly between 0 and ln 2
    val drift = rows(("s1", "s3"))._2
    assert(drift > 0.01 && drift < math.log(2.0))
    // hand-check: shared token aa with pa=pb=1/2 contributes 0; the
    // unshared halves contribute ln2 * 1/2 -> JSD = ln2/2
    assert(math.abs(drift - math.log(2.0) / 2.0) < 1e-6, s"drift $drift")
  }

  test("minhashCalibration: identical docs estimate 1.0 exactly; estimator tracks exact Jaccard") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val df = Seq(
      1L -> base,
      2L -> base,                                  // identical -> est = exact = 1
      3L -> (base + " extra words appended here"), // near-dup of 1/2
      4L -> "completely different text about spark query engines and shuffles galore"
    ).toDF("doc_id", "text")
    val rows = graft.operators.DedupOps.minhashCalibration(df).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val ident = rows((1L, 2L))
    assert(ident._1 == 1.0 && ident._2 == 1.0 && ident._3 == 0.0)
    // near-dup pairs surface as candidates and the estimate is within
    // the sketch's resolution band of exact (16 hashes -> 1/16 steps;
    // allow a few steps of slack)
    for (p <- Seq((1L, 3L), (2L, 3L)); v <- rows.get(p))
      assert(v._3 <= 0.35, s"pair $p est ${v._1} vs exact ${v._2}")
  }

  test("x171 signatureYield: identical docs cost zero error at every prefix; full prefix matches x89") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val df = Seq(
      1L -> base, 2L -> base,
      3L -> (base + " extra words appended here"),
      4L -> "completely different text about spark query engines and shuffles galore"
    ).toDF("doc_id", "text")
    val rows = graft.operators.DedupOps.signatureYield(df).collect()
      .map(r => r.getAs[Long]("sig_len") ->
        ((r.getAs[Long]("mean_err_ppm"), r.getAs[Long]("max_err_ppm"),
          r.getAs[Long]("n_pairs")))).toMap
    assert(rows.keySet === Set(2L, 4L, 8L, 16L), s"$rows")
    val n = rows(16L)._3
    assert(n >= 1L && rows.values.forall(_._3 == n),
      "one shared candidate set across all prefixes")
    // at sig_len 16 the curve must equal x89's snapped aggregate
    val x89 = graft.operators.DedupOps.minhashCalibration(df).collect()
      .map(r => math.floor(r.getAs[Double]("abs_err") * 1e6 + 0.5).toLong)
    assert(rows(16L)._1 === x89.sum / x89.length,
      s"mean at 16 must equal x89: ${rows(16L)} vs ${x89.toSeq}")
    assert(rows(16L)._2 === x89.max)
    // an identical-only corpus: every prefix estimates exactly 1.0
    val ident = Seq(1L -> base, 2L -> base).toDF("doc_id", "text")
    val iRows = graft.operators.DedupOps.signatureYield(ident).collect()
      .map(r => r.getAs[Long]("sig_len") ->
        ((r.getAs[Long]("mean_err_ppm"), r.getAs[Long]("max_err_ppm"))))
    assert(iRows.forall { case (_, (m, x)) => m == 0L && x == 0L },
      s"${iRows.toSeq}")
  }

  test("lengthQualityCorr: perfect monotone fixture near +1, constant quality null, real corpus in range") {
    val s = spark
    import s.implicits._
    // quality rises strictly with length -> r close to +1 (the snapped
    // quality is monotone in token count over this range)
    val mono = (1 to 20).map(i =>
      (i.toLong, (1 to i * 5).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val r1 = TextOps.lengthQualityCorr(mono).collect().head
    assert(r1.getLong(0) == 20L)
    assert(r1.getDouble(3) > 0.9, s"monotone fixture r = ${r1.getDouble(3)}")
    // identical docs -> zero variance on both sides -> NULL, not a crash
    val const = Seq(1L -> "aa bb cc", 2L -> "aa bb cc").toDF("doc_id", "text")
    val r2 = TextOps.lengthQualityCorr(const).collect().head
    assert(r2.isNullAt(3))
    // real corpus: defined and in [-1, 1]
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val r3 = TextOps.lengthQualityCorr(docs).collect().head
    assert(!r3.isNullAt(3) && math.abs(r3.getDouble(3)) <= 1.0)
  }

  test("labelConflicts: cross-label duplicates surface with sorted label sets; consistent dups don't") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "aa bb cc", "en"),
      (2L, "cc bb aa", "de"),   // normalized twin of 1, conflicting label
      (3L, "cc aa bb", "en"),   // same content, consistent with doc 1
      (4L, "dd ee ff", "fr"),
      (5L, "ff ee dd", "fr")    // duplicate but same label -> no conflict
    ).toDF("doc_id", "text", "lang")
    val rows = graft.operators.DedupOps.labelConflicts(df).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
    assert(rows.toSeq == Seq((3L, 2L, "de,en", 1L)))
  }

  test("sourceFunnel: gates attribute losses to the right source; pass_all composes") {
    val s = spark
    import s.implicits._
    val longText = (1 to 600).map(i => s"w$i").mkString(" ")  // fails length
    val shortText = "a b c"                                    // fails length
    val okText = (1 to 50).map(i => s"tok$i").mkString(" ")    // passes length
    val df = Seq(
      (1L, okText, "s1"),           // rep of its group
      (2L, okText, "s1"),           // exact dup -> fails dedup only
      (3L, longText, "s1"),         // fails length
      (4L, shortText, "s2"),        // fails length
      (5L, okText + " xx", "s2")    // unique, passes length
    ).toDF("doc_id", "text", "source")
    val rows = TextOps.sourceFunnel(df, minQuality = 0.0, 10, 500).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    // minQuality 0 -> quality gate passes everything; isolate the
    // length/dedup attribution
    assert(rows.toSeq == Seq(
      ("s1", 3L, 3L, 2L, 2L, 1L),
      ("s2", 2L, 2L, 1L, 2L, 1L)))
  }

  test("TF-IDF: real corpus — ranks dense, scores are tf * snapped idf, k respected") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.filter(col("doc_id").isNotNull).count()
    val rows = TextOps.tfidfKeywords(docs, k = 3).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (_, rs) =>
      assert(rs.length <= 3)
      assert(rs.map(_.getLong(5)).sorted.toSeq == (1L to rs.length).toSeq)
    }
    // score_micro == tf * floor(ln(N/df)*1e6+0.5) recomputed from scratch
    rows.foreach { r =>
      val idf = math.floor(math.log(n.toDouble / r.getLong(3)) * 1e6 + 0.5).toLong
      assert(r.getLong(4) == r.getLong(2) * idf)
    }
  }

  test("nbConfusion: rows conserve per-lang mass and the diagonal dominates on resubstitution") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = graft.operators.ClassifyOps.nbConfusion(docs).collect()
    // per-lang shares sum to 1 and n sums to n_true within each row block
    out.groupBy(_.getString(0)).values.foreach { rows =>
      val nTrue = rows.head.getAs[Long]("n_true")
      assert(rows.map(_.getAs[Long]("n")).sum === nTrue)
      assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
    }
    // resubstitution accuracy beats the majority-class baseline (x75's
    // pinned property, restated over the matrix diagonal)
    val total = out.map(_.getAs[Long]("n")).sum
    val diag = out.filter(r => r.getString(0) == r.getString(1))
      .map(_.getAs[Long]("n")).sum
    val majority = out.groupBy(_.getString(0)).values
      .map(_.map(_.getAs[Long]("n")).sum).max
    assert(diag.toDouble / total > majority.toDouble / total)
  }
}
