package graft

import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BpeOps

/** BPE trainer/applier vs a direct driver-side reference implementation
  * (greedy left-to-right merge over (word, freq) maps), plus the
  * deterministic tie-break and early-exhaustion contracts. */
class BpeOpsSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  /** Driver-side reference: classic Sennrich BPE over a word-frequency
    * map — pair counts, (count desc, l, r) selection, greedy
    * left-to-right merge within each word. */
  private def referenceBpe(words: Map[String, Long],
                           rounds: Int): Seq[(String, String, Long)] = {
    var vocab: Map[Vector[String], Long] =
      words.groupMapReduce { case (w, _) => w.map(_.toString).toVector }(_._2)(_ + _)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (merges.length < rounds && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq
          .sortBy { case ((a, b), n) => (-n, a, b) }.head
        merges += ((l, r, c))
        vocab = vocab.groupMapReduce { case (syms, _) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += l + r; i += 2
            } else { out += syms(i); i += 1 }
          }
          out.toVector
        }(_._2)(_ + _)
      }
    }
    merges.toSeq
  }

  private def referenceSegment(word: String,
                               merges: Seq[(String, String, Long)]): Int = {
    var syms = word.map(_.toString).toVector
    for ((l, r, _) <- merges) {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += l + r; i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.toVector
    }
    syms.length
  }

  test("train matches the reference implementation on the classic corpus") {
    val s = spark
    import s.implicits._
    // Sennrich-style fixture with skewed frequencies (repetition in-text)
    val docs = Seq(
      (1L, ("low " * 5).trim), (2L, ("lower " * 2).trim),
      (3L, ("newest " * 6).trim), (4L, ("widest " * 3).trim),
      (5L, "low lower newest widest new")
    ).toDF("doc_id", "text")
    val words = Map("low" -> 6L, "lower" -> 3L, "newest" -> 7L,
      "widest" -> 4L, "new" -> 1L)
    val expected = referenceBpe(words, rounds = 10)
    val got = BpeOps.train(docs, rounds = 10).merges
    assert(got === expected)
    // apply parity: per-doc subword counts under the learned merges
    val lexRef = words.keySet.map(w => w -> referenceSegment(w, expected)).toMap
    val gotCounts = BpeOps.applyCounts(docs, BpeOps.BpeModel(expected))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    val texts = Map(1L -> Seq.fill(5)("low"), 2L -> Seq.fill(2)("lower"),
      3L -> Seq.fill(6)("newest"), 4L -> Seq.fill(3)("widest"),
      5L -> Seq("low", "lower", "newest", "widest", "new"))
    for ((id, ws) <- texts)
      assert(gotCounts(id) ===
        ((ws.length.toLong, ws.map(w => lexRef(w).toLong).sum)), s"doc $id")
  }

  test("tie-break is (count desc, left, right) — deterministic across re-trains") {
    val s = spark
    import s.implicits._
    // every adjacent pair appears exactly once: ties everywhere, so the
    // FIRST merge must be the lexicographically smallest pair
    val docs = Seq((1L, "ba dc fe")).toDF("doc_id", "text")
    val m1 = BpeOps.train(docs, rounds = 3).merges
    assert(m1.head._1 == "b" && m1.head._2 == "a",
      s"ties must resolve to the smallest (l, r): $m1")
    assert(m1 === BpeOps.train(docs, rounds = 3).merges)
    assert(m1 === referenceBpe(Map("ba" -> 1L, "dc" -> 1L, "fe" -> 1L), 3))
  }

  test("training stops early when the vocabulary runs out of pairs") {
    val s = spark
    import s.implicits._
    // single-char words only: zero adjacent pairs, zero merges
    val none = BpeOps.train(Seq((1L, "a b c")).toDF("doc_id", "text"), 5)
    assert(none.merges.isEmpty)
    // one two-char word: exactly one merge possible, then exhaustion
    val one = BpeOps.train(Seq((1L, "ab")).toDF("doc_id", "text"), 5)
    assert(one.merges.map(m => (m._1, m._2)) === Seq(("a", "b")))
  }

  test("x142 per-source compression audit matches the driver reference closed-form") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "src_a", "low low lower", 13L),
      (2L, "src_a", "lowest low", 10L),
      (3L, "src_b", "newest widest", 13L)
    ).toDF("doc_id", "source", "text", "n_chars")
    val model = BpeOps.train(docs, rounds = 6)
    val ref = referenceBpe(Map("low" -> 3L, "lower" -> 1L, "lowest" -> 1L,
      "newest" -> 1L, "widest" -> 1L), rounds = 6)
    assert(model.merges === ref)
    def sub(w: String): Long = referenceSegment(w, model.merges).toLong
    val out = BpeOps.compressionBySource(docs, model).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val aSub = sub("low") * 3 + sub("lower") + sub("lowest")
    val a = out("src_a")
    assert(a.getAs[Long]("n_docs") === 2L)
    assert(a.getAs[Long]("n_words") === 5L)
    assert(a.getAs[Long]("n_subwords") === aSub)
    assert(a.getAs[Long]("n_chars") === 23L)
    assert(a.getAs[Long]("cps_micro") === 23L * 1000000L / aSub)
    assert(a.getAs[Long]("fertility_micro") === aSub * 1000000L / 5L)
    val bSub = sub("newest") + sub("widest")
    val b = out("src_b")
    assert(b.getAs[Long]("n_docs") === 1L)
    assert(b.getAs[Long]("n_words") === 2L)
    assert(b.getAs[Long]("n_subwords") === bSub)
    assert(b.getAs[Long]("cps_micro") === 13L * 1000000L / bSub)
  }

  test("x145 merge utilization: closed-form fires vs pair counts; curve ends at applyCounts") {
    val s = spark
    import s.implicits._
    // "aaa" holds TWO (a,a) pairs at selection but absorbs ONE merge on
    // application — the overlap distinction x145 exists to surface
    val docs = Seq((1L, "aaa aaa"), (2L, "aa")).toDF("doc_id", "text")
    val model = BpeOps.train(docs, rounds = 1)
    assert(model.merges === Seq(("a", "a", 5L))) // 2*2 from "aaa" + 1 from "aa"
    val u = BpeOps.mergeUtilization(docs, model).collect()
    assert(u.length === 1)
    val r = u.head
    assert(r.getAs[Long]("pair_count") === 5L)
    assert(r.getAs[Long]("n_fires") === 3L)   // 1 per "aaa" (freq 2) + 1 in "aa"
    assert(r.getAs[Long]("n_subwords_after") === 5L) // aa|a ×2 + aa ×1
    // invariant on the real fixture: the final curve point equals the
    // freq-weighted applyCounts total (same model, same corpus)
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val m8 = BpeOps.train(corpus, rounds = 8)
    val curve = BpeOps.mergeUtilization(corpus, m8).collect()
      .map(r2 => r2.getAs[Long]("rank") ->
        ((r2.getAs[Long]("n_fires"), r2.getAs[Long]("n_subwords_after")))).toMap
    assert(curve.size === 8)
    assert(curve.values.forall(_._1 >= 1L), "a selected merge always fires")
    (1L until 8L).foreach { k =>
      assert(curve(k)._2 === curve(k - 1)._2 - curve(k)._1,
        s"each fire removes exactly one subword (rank $k)")
    }
    val total = BpeOps.applyCounts(corpus, m8)
      .agg(sum(col("n_subwords"))).collect().head.getLong(0)
    assert(curve(7L)._2 === total,
      "curve endpoint == corpus subword total under the full model")
  }

  test("x152 pruning: constructibility cascade, signed inflation exact, identity at 0") {
    // cascade: dropping (a,b) must drop (ab,c), which consumes its output
    val m = BpeOps.BpeModel(Seq(("a", "b", 10L), ("ab", "c", 5L), ("d", "e", 8L)))
    val cascaded = BpeOps.pruneModel(m,
      Map(0 -> 1L, 1 -> 100L, 2 -> 100L), minFires = 2L)
    assert(cascaded.merges === Seq(("d", "e", 8L)),
      "(ab,c) survives the fire gate but not constructibility")
    // identity at threshold 0 (all constructible in training order)
    assert(BpeOps.pruneModel(m, Map(0 -> 1L, 1 -> 1L, 2 -> 1L), 0L)
      .merges === m.merges)
    // dropping a merge can UNBLOCK two later ones — the signed-inflation
    // case: full [(x,y),(w,x),(y,z)] on "wxyz" applies (x,y) first →
    // w|xy|z = 3 symbols and blocks both later merges; pruned to
    // [(w,x),(y,z)] → wx|yz = 2 symbols. Negative inflation, by design.
    val s2 = spark
    import s2.implicits._
    val wdoc = Seq((1L, "wxyz")).toDF("doc_id", "text")
    val fullM = BpeOps.BpeModel(Seq(("x", "y", 1L), ("w", "x", 1L), ("y", "z", 1L)))
    val cutM = BpeOps.BpeModel(Seq(("w", "x", 1L), ("y", "z", 1L)))
    val neg = BpeOps.pruneRepriceCounts(wdoc, fullM, cutM).collect().head
    assert(neg.getAs[Long]("n_sub_full") === 3L)
    assert(neg.getAs[Long]("n_sub_pruned") === 2L)
    assert(neg.getAs[Long]("inflation_ppm") < 0L)
    // round-trip on the real corpus: deterministic, mostly non-negative
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val full = BpeOps.train(corpus, rounds = 12)
    val fires = BpeOps.mergeUtilization(corpus, full).collect()
      .map(r => r.getAs[Long]("rank").toInt -> r.getAs[Long]("n_fires")).toMap
    val cut = BpeOps.pruneModel(full, fires, fires.values.toSeq.sorted.apply(3) + 1L)
    assert(cut.merges.length < full.merges.length, "something must prune")
    assert(cut.merges.toSet.subsetOf(full.merges.toSet))
    val out = BpeOps.pruneRepriceCounts(corpus, full, cut).collect()
    assert(out.nonEmpty)
    // conservation: inflation equals the per-doc recomputation (the
    // positive-division-then-shift form both engines floor identically)
    out.foreach { r =>
      val f = r.getAs[Long]("n_sub_full"); val p = r.getAs[Long]("n_sub_pruned")
      assert(r.getAs[Long]("inflation_ppm") ===
        (BigInt(p) * 1000000 / f - 1000000).toLong,
        s"doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("fixture-corpus training is deterministic and the gated rounds stay bounded") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = BpeOps.train(docs, rounds = 8)
    val b = BpeOps.train(docs, rounds = 8)
    assert(a.merges === b.merges, "training must be a pure function of the corpus")
    assert(a.merges.length === 8)
    // counts non-increasing is NOT required by BPE (a merge can create a
    // more frequent pair), but every selected count must be positive
    assert(a.merges.forall(_._3 > 0))
  }
}
