package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** Edge semantics of the round-4 text operators: redaction boundaries,
  * repetition-ratio extremes, and top-term scoring/tie-breaks. */
class TextOpsEdgeSpec extends AnyFunSuite with SparkSuite {

  test("dedup family is whitespace-robust: runs of mixed whitespace tokenize like single spaces") {
    val s = spark
    import s.implicits._
    import graft.operators.DedupOps
    // same content, hostile whitespace — the dedup family must identify them
    val docs = Seq(
      (1L, "the quick brown fox jumps over"),
      (2L, "the  quick\tbrown fox\njumps  over"), // runs, tab, newline
      (3L, "entirely different content here now ok")).toDF("doc_id", "text")
    val keys = docs.select(col("doc_id"), DedupOps.normalizedKey().as("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(keys(1L) === keys(2L), "normalized key must ignore whitespace runs")
    assert(keys(1L) !== keys(3L))
    val sh = docs.select(col("doc_id"), DedupOps.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) === sh(2L), "shingles must ignore whitespace runs")
    val sims = DedupOps.simhash(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) === sims(2L), "simhash must ignore whitespace runs")
    val sigs = DedupOps.minhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(sigs(1L) === sigs(2L), "minhash signature must ignore whitespace runs")
  }

  test("redact: emails and 7+-digit runs scrubbed; 6-digit runs and bare at-signs kept") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "mail a.b-c@ex.co and x@y.io now"),
      (2L, "short 123456 stays, 1234567 goes, 123456789012 goes"),
      (3L, "not-an-email @ by itself and a@b stays (no tld)"))
      .toDF("doc_id", "text")
    val out = rows.select(col("doc_id"), TextOps.redact(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "mail <EMAIL> and <EMAIL> now")
    assert(out(2L) === "short 123456 stays, <NUM> goes, <NUM> goes")
    assert(out(3L) === "not-an-email @ by itself and a@b stays (no tld)")
    val counts = TextOps.redactionReport(rows).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(counts(1L) === ((2, 0)) && counts(2L) === ((0, 2)) && counts(3L) === ((0, 0)))
  }

  test("repetition ratios: all-same, all-distinct, and single-word extremes") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "a a a a"),   // words: 1 - 1/4; 2-grams "a a"×3: 1 - 1/3
      (2L, "w x y z"),   // all distinct → 0, 0
      (3L, "solo"))      // one word → 0 words dup; no 2-grams → 0
      .toDF("doc_id", "text")
    val out = TextOps.repetitionReport(rows).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L)._1 === 0.75 && math.abs(out(1L)._2 - (1.0 - 1.0 / 3)) < 1e-12)
    assert(out(2L) === ((0.0, 0.0)))
    assert(out(3L) === ((0.0, 0.0)))
  }

  test("lmScore: hand-computed add-one unigram NLL on a tiny corpus") {
    val s = spark
    import s.implicits._
    // corpus: "a a b" + "b c" → T=5 tokens, V=3 vocab, counts a=2 b=2 c=1
    // cost(a)=cost(b)=floor(ln(8/3)*1e6+0.5)=980829, cost(c)=ln(8/2)→1386294
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextOps.lmScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) === ((3L, 3 * 980829L, 3 * 980829L / 3.0 / 1e6)))
    assert(out(2L) === ((2L, 980829L + 1386294L, 2367123L / 2.0 / 1e6)))
    // the rare-token doc scores strictly higher than the common-token doc
    assert(out(2L)._3 > out(1L)._3)
  }

  test("lmScore: identical docs score identically; costs are order-independent") {
    val s = spark
    import s.implicits._
    val text = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = (1L to 40L).map(id => (id, text)).toDF("doc_id", "text")
      .repartition(7) // exercise partial-aggregate merge order
    val scores = TextOps.lmScore(docs).collect().map(_.getDouble(3)).distinct
    assert(scores.length === 1, "same text must score identically")
  }

  test("bigramLmScore: hand-computed second-order NLL; sub-bigram docs drop") {
    val s = spark
    import s.implicits._
    // bigrams: doc1 → "a b","b a"; doc2 → "b a"; doc3 has none
    // c2("a b")=1, c2("b a")=2; contexts c1(a)=1, c1(b)=2; V=2
    // cost("a b")=floor(ln(3/2)*1e6+0.5)=405465, cost("b a")=ln(4/3)→287682
    val docs = Seq((1L, "a b a"), (2L, "b a"), (3L, "z"))
      .toDF("doc_id", "text")
    val out = TextOps.bigramLmScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) === ((2L, 405465L + 287682L)))
    assert(out(2L) === ((1L, 287682L)))
    assert(!out.contains(3L), "single-token docs have no bigrams")
  }

  test("backoffLmScore: model bigram, backoff+known, backoff+OOV all hand-checked") {
    val s = spark
    import s.implicits._
    // train = docs 1,2: unigrams a=2 b=2 c=1 (T+V=8) → uni(c)=ln(8/2),
    // OOV=ln(8); bigrams c2("a b")=2, c2("b c")=1, contexts a:2 b:1, V=2
    // → bi("a b")=ln(4/3); penalty = -ln(0.4)
    val docs = Seq((1L, "a b"), (2L, "a b c"), (10L, "a b z c"))
      .toDF("doc_id", "text")
    val out = TextOps.backoffLmScore(docs, col("doc_id") <= 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val biAB = math.floor(math.log(4.0 / 3.0) * 1e6 + 0.5).toLong // 287682
    val uniC = math.floor(math.log(8.0 / 2.0) * 1e6 + 0.5).toLong // 1386294
    val oov = math.floor(math.log(8.0) * 1e6 + 0.5).toLong // 2079442
    val pen = math.floor(-math.log(0.4) * 1e6 + 0.5).toLong // 916291
    assert(out(1L) === ((1L, biAB)))
    // held-out doc: "a b" in-model; "b z" backs off to OOV z;
    // "z c" backs off to the KNOWN continuation c
    assert(out(10L) === ((3L, biAB + (pen + oov) + (pen + uniC))))
  }

  test("sourceKl: twin sources score identically; a drifted source scores higher") {
    val s = spark
    import s.implicits._
    // s1 and s2 emit the same text → identical KL; s3 is pure "c"
    // (a 1/3 corpus token concentrated to 100%) → the largest drift
    val docs = Seq(
      (1L, "a a b", "s1"), (2L, "a a b", "s2"), (3L, "c c c", "s3"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.sourceKl(docs).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // corpus: a=4, b=2, c=3, T=9; s1: a: 2·ln((2·9)/(3·4)), b: ln((1·9)/(3·2))
    val termA = math.floor(math.log(18.0 / 12.0) * 1e6 + 0.5).toLong
    val termB = math.floor(math.log(9.0 / 6.0) * 1e6 + 0.5).toLong
    assert(out("s1") === ((3L, 2 * termA + termB,
      (2 * termA + termB).toDouble / 3.0 / 1e6)))
    assert(out("s1") === out("s2"))
    // s3: c is 3/9 of the corpus but 3/3 of the source → ln 3 per token
    val termC = math.floor(math.log(27.0 / 9.0) * 1e6 + 0.5).toLong
    assert(out("s3") === ((3L, 3 * termC, (3 * termC).toDouble / 3.0 / 1e6)))
    assert(out("s3")._3 > out("s1")._3)
  }

  test("perplexityBand: band filter + exact dedup keep one middle-band representative") {
    val s = spark
    import s.implicits._
    // corpus: "a a b"×1 and "b c"×2 → T=7, V=3; scores diverge and the
    // duplicate pair shares one (same text → same score)
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, "b c"))
      .toDF("doc_id", "text")
    val all = TextOps.lmScore(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // pick a band that excludes doc 1 and includes the duplicate pair
    val lo = all(2L) - 1e-9
    val hi = all(2L) + 1e-9
    assert(all(1L) < lo || all(1L) > hi, "fixture must separate the scores")
    val out = TextOps.perplexityBand(docs, lo, hi).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq((2L, 2L, all(2L))),
      "one representative (lowest doc_id), duplicate collapsed, doc 1 out of band")
  }

  test("topTerms: exclusive terms outrank shared ones; ties break alphabetically") {
    val s = spark
    import s.implicits._
    // 'shared' appears in both langs (df=4, per-lang tf=2 → 0.5);
    // 'aaa'/'bbb' are exclusive to xx (df=2, tf=2 → 1.0) and tie
    val rows = Seq(
      (1L, "xx", "aaa bbb shared"), (2L, "xx", "aaa bbb shared"),
      (3L, "yy", "ccc shared"), (4L, "yy", "ccc shared"))
      .toDF("doc_id", "lang", "text")
    val out = TextOps.topTerms(rows, k = 3).collect()
      .map(r => (r.getString(0), r.getInt(5)) -> r.getString(1)).toMap
    assert(out(("xx", 1)) === "aaa") // tie with bbb → alphabetical
    assert(out(("xx", 2)) === "bbb")
    assert(out(("xx", 3)) === "shared")
    assert(out(("yy", 1)) === "ccc")
  }

  test("x149 langMixProfile: windows vote, alphabetical majority ties, switches count") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // [the a of in]=en, [der die und ist]=de → tie, alphabetical → de
      (1L, "the a of in der die und ist"),
      // [the the xx yy]=en, [zz qq]=und → tie en/und → en
      (2L, "the the xx yy zz qq"),
      // single und window
      (3L, "xx"),
      // en, de, en → 2 switches, majority en 2/3
      (4L, "the a of in der die und ist the a of in")
    ).toDF("doc_id", "text")
    val got = TextOps.langMixProfile(docs, windowTokens = 4).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_langs"),
          r.getAs[String]("majority_lang"), r.getAs[Long]("majority_ppm"),
          r.getAs[Long]("n_switches")))).toMap
    assert(got(1L) === ((2L, 2L, "de", 500000L, 1L)))
    assert(got(2L) === ((2L, 2L, "en", 500000L, 1L)))
    assert(got(3L) === ((1L, 1L, "und", 1000000L, 0L)))
    assert(got(4L) === ((3L, 2L, "en", 666666L, 2L)))
    // pure doc agrees with the doc-level ID and never switches
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val mix = TextOps.langMixProfile(corpus).collect()
    assert(mix.forall(r => r.getAs[Long]("n_switches") <=
      r.getAs[Long]("n_windows") - 1))
    assert(mix.forall(r => r.getAs[Long]("majority_ppm") >= 1000000L /
      math.max(r.getAs[Long]("n_langs"), 1L) - 1))
  }
}
