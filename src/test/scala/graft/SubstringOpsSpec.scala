package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SubstringOps

/** Exact duplicated-substring spans (x72) and the span-cut corpus (x73):
  * closed-form fixtures pin window positions, island merging at the
  * adjacency boundary, splitting past it, and the fully-duplicated
  * degenerate case; the real-corpus test pins x72/x73 consistency
  * (removed tokens == total span width, spans disjoint and in range). */
class SubstringOpsSpec extends AnyFunSuite with SparkSuite {

  private def toks(ts: Seq[String]) = ts.mkString(" ")
  private val sRun = (1 to 10).map(i => s"s$i") // shared 10-token run (A, B)
  private val r8 = (1 to 8).map(i => s"r$i")    // shared 8-token runs (G, H)
  private val q8 = (1 to 8).map(i => s"q$i")
  private val d9 = (1 to 9).map(i => s"d$i")    // fully-duplicated doc (D, E)

  private def fixture = {
    val s = spark
    import s.implicits._
    Seq(
      1L -> toks((1 to 4).map(i => s"a$i") ++ sRun ++ (15 to 20).map(i => s"a$i")),
      2L -> toks(sRun ++ Seq("bx", "by", "bz")),
      3L -> toks((1 to 12).map(i => s"c$i")),
      4L -> toks(d9),
      5L -> toks(d9),
      6L -> toks(r8 ++ q8),                      // runs token-adjacent: one span
      7L -> toks(r8 ++ Seq("z1", "z2", "z3", "z4") ++ q8) // gap 4: two spans
    ).toDF("doc_id", "text")
  }

  test("span boundaries: a shared 10-token run yields one merged span per doc") {
    val spans = SubstringOps.dupSpans(fixture, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // doc 1: run at tokens 5..14 -> windows start 5,6,7 merge to [5,14]
    assert(spans.contains((1L, 5L, 14L, 10L, 3L)))
    // doc 2: run at tokens 1..10 -> [1,10]
    assert(spans.contains((2L, 1L, 10L, 10L, 3L)))
    // doc 3 (all-unique) has no spans
    assert(!spans.exists(_._1 == 3L))
  }

  test("token-adjacent duplicated windows merge; a 4-token gap splits") {
    val spans = SubstringOps.dupSpans(fixture, 8)
      .filter(col("doc_id").isin(6L, 7L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 6: windows at 1 (r-run) and 9 (q-run), gap w=8 -> one span [1,16]
    assert(spans.filter(_._1 == 6L) == Set((6L, 1L, 16L)))
    // doc 7: windows at 1 and 13, gap 12 > 8 -> spans [1,8] and [13,20]
    assert(spans.filter(_._1 == 7L) == Set((7L, 1L, 8L), (7L, 13L, 20L)))
  }

  test("substringClean cuts exactly the spanned tokens, ordered reassembly") {
    val clean = SubstringOps.substringClean(fixture, 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // doc 1: 20 tokens, run cut -> a1..a4 a15..a20 survive in order
    val kept1 = (1 to 4).map(i => s"a$i") ++ (15 to 20).map(i => s"a$i")
    assert(clean(1L) == ((20L, 10L, 10L, md5hex(kept1.mkString(" ")))))
    // doc 2: the 3-token tail survives
    assert(clean(2L) == ((13L, 3L, 10L, md5hex("bx by bz"))))
    // doc 3: untouched
    assert(clean(3L)._3 == 0L)
    assert(clean(3L)._4 == md5hex((1 to 12).map(i => s"c$i").mkString(" ")))
    // docs 4/5: fully duplicated -> nothing survives, md5 of empty string
    assert(clean(4L) == ((9L, 0L, 9L, md5hex(""))))
    assert(clean(5L) == ((9L, 0L, 9L, md5hex(""))))
  }

  test("docs shorter than the window yield no windows and stay whole") {
    val s = spark
    import s.implicits._
    val tiny = Seq(1L -> "one two three", 2L -> "one two three").toDF("doc_id", "text")
    assert(SubstringOps.dupSpans(tiny, 8).count() == 0)
    val clean = SubstringOps.substringClean(tiny, 8).collect()
    assert(clean.forall(r => r.getLong(3) == 0L && r.getLong(2) == 3L))
  }

  test("property: spans equal a naive reference on random corpora (20 trials)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val w = 4
    for (trial <- 1 to 20) {
      // narrow alphabet so accidental cross-doc windows occur, plus one
      // planted run so every trial has at least one guaranteed span
      val planted = Seq.fill(6)("p" + trial)
      val docsRaw: Seq[(Long, Array[String])] = (1 to 8).map { id =>
        val body = Array.fill(5 + rnd.nextInt(36))("t" + rnd.nextInt(6))
        val withRun = if (id <= 2) {
          val at = rnd.nextInt(body.length + 1)
          (body.take(at) ++ planted ++ body.drop(at))
        } else body
        (id.toLong, withRun)
      }
      // naive reference: duplicated window starts -> covered positions ->
      // maximal contiguous runs (1-based, inclusive)
      val wins = docsRaw.flatMap { case (id, ts) =>
        (0 to ts.length - w).map(i => (id, i, ts.slice(i, i + w).mkString(" ")))
      }
      val nDocs = wins.groupBy(_._3).view.mapValues(_.map(_._1).distinct.size).toMap
      val expected: Map[Long, Seq[(Long, Long)]] = wins
        .filter(t => nDocs(t._3) >= 2)
        .groupBy(_._1).view.mapValues { ps =>
          val covered = ps.flatMap(p => p._2 until p._2 + w).distinct.sorted
          val runs = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
          var start = covered.head
          var prev = covered.head
          for (c <- covered.tail) {
            if (c != prev + 1) { runs += ((start + 1L, prev + 1L)); start = c }
            prev = c
          }
          runs += ((start + 1L, prev + 1L))
          runs.toSeq
        }.toMap
      val df = docsRaw.map { case (id, ts) => (id, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = SubstringOps.dupSpans(df, w).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(r =>
          (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq).toMap
      assert(got == expected, s"trial $trial")
      // x73 removed_tokens == total covered positions
      val removed = SubstringOps.substringClean(df, w).collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
      docsRaw.foreach { case (id, _) =>
        val expRemoved = expected.getOrElse(id, Nil)
          .map { case (a, b) => b - a + 1 }.sum
        assert(removed(id) == expRemoved, s"trial $trial doc $id")
      }
    }
  }

  test("source overlap: shared windows counted once per pair, max-df guard drops viral windows") {
    val s = spark
    import s.implicits._
    // srcA and srcB share the 10-token s-run (3 distinct windows);
    // srcC shares nothing; the v-run appears in ALL sources (viral)
    val v8 = (1 to 8).map(i => s"v$i")
    val df = Seq(
      (1L, "srcA", toks(sRun ++ Seq("a1") ++ v8)),
      (2L, "srcB", toks(Seq("b1", "b2") ++ sRun ++ v8)),
      (3L, "srcC", toks((1 to 9).map(i => s"c$i") ++ v8))
    ).toDF("doc_id", "source", "text")
    // maxSources=2: the v-run windows (held by 3 sources) are guarded out
    val guarded = SubstringOps.sourceOverlap(df, 8, maxSources = 2).collect()
    val rows = guarded.map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(5))).toMap
    assert(rows.keySet == Set(("srcA", "srcB")))
    assert(rows(("srcA", "srcB"))._1 == 3L) // s-run windows only
    // no silent caps: the guarded run REPORTS its one excluded viral
    // window (the all-sources v-run) on every row
    assert(guarded.forall(_.getAs[Long]("n_viral_windows") == 1L))
    // without the guard the viral windows pair every source
    val openRows = SubstringOps.sourceOverlap(df, 8, maxSources = 64).collect()
    val open = openRows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(open == Set(("srcA", "srcB"), ("srcA", "srcC"), ("srcB", "srcC")))
    assert(openRows.forall(_.getAs[Long]("n_viral_windows") == 0L))
    // containment in (0, 1]
    SubstringOps.sourceOverlap(df, 8, 64).collect().foreach { r =>
      assert(r.getDouble(5) > 0 && r.getDouble(5) <= 1.0)
      assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)))
    }
  }

  test("ngram decontamination: planted eval run flags exactly its carrier") {
    val s = spark
    import s.implicits._
    val evalRun = (1 to 10).map(i => s"e$i")
    val df = Seq(
      // eval split: doc_id % 10 == 0
      10L -> toks(evalRun ++ Seq("ex")),
      // train carrying the full eval run -> 3 hit windows (10-token run, w=8)
      1L -> toks(Seq("t1", "t2") ++ evalRun ++ Seq("t3")),
      // train sharing only 7 tokens of the run -> below w, no hit
      2L -> toks(evalRun.take(7) ++ (1 to 5).map(i => s"u$i")),
      // unrelated train
      3L -> toks((1 to 12).map(i => s"v$i")),
      // short train doc: no windows, absent from the report
      4L -> "a b c"
    ).toDF("doc_id", "text")
    val rows = SubstringOps.ngramDecontamination(df, col("doc_id") % 10 === 0, 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L))
    assert(rows(1L) == ((6L, 3L, 1)))   // 13 tokens -> 6 windows, 3 eval hits
    assert(rows(2L)._2 == 0L && rows(2L)._3 == 0)
    assert(rows(3L) == ((5L, 0L, 0)))
  }

  test("x165 decontamination yield: share bands, token mass, and the strict-policy total") {
    val s = spark
    import s.implicits._
    val run = (1 to 8).map(i => s"e$i")
    val df = Seq(
      10L -> toks(run),                       // eval: exactly 1 window
      1L -> toks(run),                        // train, share 1.0 -> band 19
      2L -> toks(run ++ Seq("x")),            // 2 windows, 1 hit -> band 10
      3L -> toks((1 to 12).map(i => s"v$i"))  // clean, absent
    ).toDF("doc_id", "text")
    val rows = SubstringOps.decontaminationYield(df, col("doc_id") % 10 === 0, 8)
      .collect().map(r => r.getAs[Long]("band") ->
        ((r.getAs[Long]("share_lo_ppm"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("doc_tokens"), r.getAs[Long]("hit_windows")))).toMap
    assert(rows.keySet === Set(10L, 19L), s"$rows")
    assert(rows(19L) === ((950000L, 1L, 8L, 1L)), s"${rows(19L)}")
    assert(rows(10L) === ((500000L, 1L, 9L, 1L)), s"${rows(10L)}")
    // table total == x79's strict any-overlap policy
    val strict = SubstringOps.ngramDecontamination(df, col("doc_id") % 10 === 0, 8)
      .filter(col("contaminated") === 1).count()
    assert(rows.values.map(_._2).sum === strict)
  }

  test("contamination runs: longest covered run measured, isolated hits stay short, gaps split") {
    val s = spark
    import s.implicits._
    val evalRun = (1 to 12).map(i => s"e$i")   // 12-token eval passage
    val eGram = (1 to 8).map(i => s"g$i")      // a single shared 8-gram
    val filler = (1 to 10).map(i => s"f$i")
    val df = Seq(
      // eval split: doc_id % 10 == 0
      10L -> toks(evalRun ++ Seq("ex")),
      20L -> toks(eGram ++ Seq("ey")),
      // wholesale copy: full 12-token eval run embedded -> one run of
      // 5 hit windows (positions 3..7), max_run_tokens = 7-3+8 = 12
      1L -> toks(Seq("t1", "t2") ++ evalRun ++ Seq("t3", "t4")),
      // isolated 8-gram collision -> one run, exactly w tokens
      2L -> toks(Seq("u1") ++ eGram ++ Seq("u2", "u3")),
      // TWO separated copies of the 8-gram -> gap > w splits into 2 runs
      3L -> toks(eGram ++ filler ++ eGram),
      // clean doc
      4L -> toks((1 to 12).map(i => s"v$i"))
    ).toDF("doc_id", "text")
    val rows = SubstringOps.contaminationRuns(df, col("doc_id") % 10 === 0, 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L))
    assert(rows(1L) == ((9L, 5L, 1L, 12L)),
      s"wholesale copy: ${rows(1L)}")
    assert(rows(2L) == ((4L, 1L, 1L, 8L)),
      s"isolated gram: ${rows(2L)}")
    assert(rows(3L)._3 == 2L && rows(3L)._4 == 8L,
      s"separated copies: ${rows(3L)}")
    assert(rows(4L) == ((5L, 0L, 0L, 0L)))
    // consistency with x79: same docs, same totals, same hit counts
    val x79 = SubstringOps.ngramDecontamination(df, col("doc_id") % 10 === 0, 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.keySet == x79.keySet)
    rows.foreach { case (id, (nw, hw, _, _)) => assert(x79(id) == ((nw, hw))) }
  }

  test("top boilerplate: planted footer dominates by df, gram text recovered verbatim") {
    val s = spark
    import s.implicits._
    val footer = (1 to 8).map(i => s"foot$i")
    val df = (1L to 6L).map { i =>
      // footer on 5 of 6 docs; unique body text elsewhere
      val body = (1 to 10).map(j => s"b${i}x$j")
      i -> toks(if (i < 6) body ++ footer else body)
    }.toDF("doc_id", "text")
    val rows = SubstringOps.topBoilerplate(df, w = 8, k = 3).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    // the pure footer window appears in 5 docs, once each; every other
    // window is unique to its doc (df = 1)
    assert(rows.map(_._2).max == 5L)
    val topRow = rows.maxBy(_._2)
    assert(topRow._1 == footer.mkString(" "))
    assert(topRow._3 == 5L)
    assert(rows.length == 3)
  }

  test("real corpus: spans disjoint, in range, and consistent with x73 accounting") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val spans = SubstringOps.dupSpans(docs, 8).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r =>
        (r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)).toMap
    // disjoint with at least one uncovered token between consecutive spans
    spans.values.foreach { ss =>
      ss.sliding(2).foreach {
        case Array((_, e1, _), (s2, _, _)) => assert(s2 > e1 + 1)
        case _ =>
      }
      ss.foreach { case (st, en, width) =>
        assert(st >= 1 && en >= st && width == en - st + 1)
      }
    }
    val removed = SubstringOps.substringClean(docs, 8).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val spanSum = spans.view.mapValues(_.map(_._3).sum).toMap
    removed.foreach { case (id, rem) =>
      assert(rem == spanSum.getOrElse(id, 0L), s"doc $id")
    }
    // the corpus genuinely exercises the operator
    assert(spans.nonEmpty)
  }
}
