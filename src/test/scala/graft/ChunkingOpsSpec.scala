package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, TextOps}

/** The round-5 corpus-pipeline operators: sliding-window chunking (x41),
  * passage-level duplication (x42), bigram statistics (x43), the
  * quantile length gate (x44), and the Bloom-prefiltered
  * decontamination's equality with the exact form (x40). */
class ChunkingOpsSpec extends AnyFunSuite with SparkSuite {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("slidingChunks: exact chunk boundaries, coverage, short-doc case") {
    val s = spark
    import s.implicits._
    // doc 1: 7 tokens, window 3 / stride 2 → starts 1,3,5,7 — wait:
    // lastK = ceil(max(7-3,0)/2) = 2 → starts 1,3,5 (chunk 2 = t5..t7)
    // doc 2: 2 tokens (< window) → exactly one chunk, the whole doc
    val docs = Seq((1L, "a b c d e f g"), (2L, "x y")).toDF("doc_id", "text")
    val out = TextOps.slidingChunks(docs, window = 3, stride = 2)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
    val expected = Seq(
      (1L, 0L, 3, md5hex("a b c")),
      (1L, 1L, 3, md5hex("c d e")),
      (1L, 2L, 3, md5hex("e f g")),
      (2L, 0L, 2, md5hex("x y")))
    assert(out.toSeq === expected)
  }

  test("slidingChunks: every chunk but the last is full width; strides cover all tokens") {
    val s = spark
    import s.implicits._
    val texts = (1L to 40L).map(i => i -> (1 to (i % 37 + 1).toInt).map(j => s"t$j").mkString(" "))
    val docs = texts.toDF("doc_id", "text")
    val w = 8; val st = 5
    val chunks = TextOps.slidingChunks(docs, w, st)
      .groupBy("doc_id").agg(
        count(lit(1)).as("k"),
        min("chunk_tokens").as("mn"), max("chunk_tokens").as("mx"),
        max(col("chunk_id") * st + col("chunk_tokens")).as("last_tok"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))).toMap
    texts.foreach { case (id, t) =>
      val n = t.split(" ").length
      val (k, mn, mx, lastTok) = chunks(id)
      val expK = 1 + math.ceil(math.max(n - w, 0) / st.toDouble).toLong
      assert(k === expK, s"doc $id: $k chunks, expected $expK")
      assert(mx <= w && (k == 1 || mx == w), s"doc $id widths")
      assert(mn >= 1)
      assert(lastTok === n, s"doc $id: last chunk ends at $lastTok, n=$n")
    }
  }

  test("passageDupReport: shared block counted for every doc carrying it") {
    val s = spark
    import s.implicits._
    val x = (1 to 8).map(i => s"x$i").mkString(" ") // the shared 8-token block
    val y = (1 to 8).map(i => s"y$i").mkString(" ")
    val z = (1 to 4).map(i => s"z$i").mkString(" ")
    val docs = Seq(
      (1L, s"$x $y"), // blocks [x, y]
      (2L, s"$x $z"), // blocks [x, z] — shares x with doc 1
      (3L, "q1 q2 q3")) // one short block, unshared
      .toDF("doc_id", "text")
    val out = TextOps.passageDupReport(docs, block = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) === ((2L, 1L, 0.5)))
    assert(out(2L) === ((2L, 1L, 0.5)))
    assert(out(3L) === ((1L, 0L, 0.0)))
  }

  test("passageDupReport: a block repeated INSIDE one doc only is not shared") {
    val s = spark
    import s.implicits._
    val x = (1 to 8).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, s"$x $x"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextOps.passageDupReport(docs, block = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 1 has two blocks with the SAME hash but no other doc carries it
    assert(out(1L) === ((2L, 0L)))
  }

  test("bigramTop: raw occurrence counts, deterministic tie order") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "a b z z")).toDF("doc_id", "text")
    // bigrams: doc1: "a b","b a","a b","b c"; doc2: "a b","b z","z z"
    val out = TextOps.bigramTop(docs, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("lengthGate: keeps exactly the (p10, p90] band per language") {
    val s = spark
    import s.implicits._
    val docs = (1L to 10L).map(i =>
      (i, "aa", (1L to i).map(j => s"w$j").mkString(" "))) ++
      Seq((11L, "bb", "only one doc"))
      .map { case (i, l, t) => (i, l, t) }
    val df = docs.toDF("doc_id", "lang", "text")
    val out = TextOps.lengthGate(df)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // lang aa: lengths 1..10, p10 = rank ceil(0.1·10)=1 → 1, p90 = rank 9
    // → 9; keep 1 < n <= 9 → docs 2..9. lang bb: single doc, p10 = p90 =
    // its own length → empty band → dropped.
    assert(out === (2L to 9L).map(i => (i, "aa", i)).toSet)
  }

  test("chunkIndex: one representative per distinct chunk, copies counted") {
    val s = spark
    import s.implicits._
    // docs 1 and 2 are identical → every chunk collapses; doc 3 is unique
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "p q r"))
      .toDF("doc_id", "text")
    val out = TextOps.chunkIndex(docs, window = 3, stride = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4)))
    // doc1/doc2 chunks: "a b c" (k0), "c d e" (k1); doc3: "p q r" (k0)
    val byHash = out.map(t => t._1 -> t).toMap
    assert(out.length === 3)
    assert(byHash(md5hex("a b c")) === ((md5hex("a b c"), 1L, 0L, 3, 2L)))
    assert(byHash(md5hex("c d e")) === ((md5hex("c d e"), 1L, 1L, 3, 2L)))
    assert(byHash(md5hex("p q r")) === ((md5hex("p q r"), 3L, 0L, 3, 1L)))
  }

  test("slidingChunks is stream-safe: chunking a MemoryStream equals the batch result") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = Seq((1L, "a b c d e f g"), (2L, "x y"), (3L, (1 to 40).map("w" + _).mkString(" ")))
    val in = MemoryStream[(Long, String)]
    val streamed = TextOps.slidingChunks(
      in.toDF().toDF("doc_id", "text"), window = 8, stride = 5)
    val q = streamed.writeStream.format("memory").queryName("chunk_out")
      .outputMode("append").start()
    try {
      in.addData(rows.take(2))
      q.processAllAvailable()
      in.addData(rows.drop(2))
      q.processAllAvailable()
      val got = s.table("chunk_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3))).toSet
      val batch = TextOps.slidingChunks(
        rows.toDF("doc_id", "text"), window = 8, stride = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3))).toSet
      assert(got === batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("winnowingMatches construction runs zero jobs (no eager df.rdd probe)") {
    // parquet-backed source: the under-partitioned-source probe must read
    // the file index, never force the plan through RDD conversion; with a
    // no-op pin the whole construction is lazy
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val q = TextOps.winnowingMatches(docs, state = DedupOps.Unpinned)
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after === before, "construction must trigger no Spark jobs")
    // and the pinned default still computes the same pairs as unpinned
    val a = TextOps.winnowingMatches(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b)
  }

  test("clusterRepresentatives: best quality wins, ties to lowest doc_id, singletons kept") {
    val s = spark
    import s.implicits._
    // 1 and 2 share all shingles (near-dup cluster); 2 repeats the tail so
    // its length-driven quality score is HIGHER -> 2 must represent the
    // cluster despite the higher id. 3 is a singleton.
    val base = "the a and of to is in alpha beta gamma delta epsilon zeta eta"
    val docs = Seq(
      (1L, base),
      (2L, base + " " + base),
      (3L, "totally different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out = graft.operators.DedupOps.clusterRepresentatives(docs, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(out === Set((1L, 2L, 2L), (3L, 3L, 1L)))
  }

  test("bloomContaminationReport equals the exact contamination report") {
    val s = spark
    import s.implicits._
    // 80 docs over a tiny vocabulary → dense shingle collisions, so the
    // Bloom filter sees real load and real shared n-grams exist
    def txt(i: Long) = (0 until 12).map(j => s"w${(i * 7 + j * j) % 9}").mkString(" ")
    val docs = (1L to 80L).map(i => (i, txt(i))).toDF("doc_id", "text")
    val pred = col("doc_id") % 10 === 0
    val exact = DedupOps.contaminationReport(docs, pred, n = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bloom = DedupOps.bloomContaminationReport(docs, pred, n = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact.nonEmpty)
    assert(bloom === exact)
  }

  test("winnowing: shared substring >= w+k-1 chars shares a fingerprint; density ~2/(w+1)") {
    val s = spark
    import s.implicits._
    val k = 5; val w = 4
    val shared = "zqxjv wkypf mglrh" // 17 chars > w+k-1 = 8
    val docs = Seq(
      (1L, s"aaa bbb $shared ccc ddd"),
      (2L, s"totally other prefix here $shared and another tail"),
      (3L, "no overlap with anything else at all"))
      .toDF("doc_id", "text")
    // recompute the selection in plain Scala to cross-check the guarantee
    def fps(t: String): Set[Long] = {
      def ph(x: String): Long = {
        val cps = x.codePoints().toArray
        graft.functions.HashFunctions.polyHash52Local(cps, 0, cps.length)
      }
      val tt = t.trim
      val grams = (1 to math.max(tt.length - (k - 1), 1))
        .map(i => ph(tt.substring(i - 1, math.min(i - 1 + k, tt.length))))
      (1 to math.max(grams.length - (w - 1), 1))
        .map(i => grams.slice(i - 1, i - 1 + w).min).toSet
    }
    val out = TextOps.winnowingFingerprints(docs, k, w)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    val (f1, f2, f3) = (fps(docs.collect()(0).getString(1)),
      fps(s"totally other prefix here $shared and another tail"),
      fps("no overlap with anything else at all"))
    assert((f1 intersect f2).nonEmpty, "shared substring must share a fingerprint")
    assert((f1 intersect f3).isEmpty)
    // the Spark selection matches the reference implementation exactly
    docs.collect().foreach { r =>
      val expect = fps(r.getString(1))
      val (n, _) = out(r.getLong(0))
      assert(n === expect.size, s"doc ${r.getLong(0)}: $n vs ${expect.size}")
    }
    // density sanity: far fewer fingerprints than k-grams
    val (n1, _) = out(1L)
    assert(n1 < docs.collect()(0).getString(1).trim.length - k + 1)
  }

  test("winnowingMatches: unaligned shared passage found; boilerplate killed by max-df") {
    val s = spark
    import s.implicits._
    val passage = "zq xj vw ky pf mg lr hz qt bn" // 29 chars >> w+k-1
    val boiler = "common footer text here"
    val docs = Seq(
      (1L, s"aaa bbb $passage ccc $boiler"),
      (2L, s"completely different lead-in then $passage tail $boiler"),
      (3L, s"nothing in common whatsoever $boiler"),
      (4L, s"fourth doc also unrelated entirely $boiler"))
      .toDF("doc_id", "text")
    // with the guard wide open, the shared passage links 1-2 at offsets
    // that no fixed-stride block alignment would match
    val open = TextOps.winnowingMatches(docs, minShared = 2, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(open.contains((1L, 2L)), s"unaligned passage must match: $open")
    // the boilerplate footer is on ALL docs: maxDf=2 removes its
    // fingerprints, so pairs linked only by boilerplate disappear
    val guarded = TextOps.winnowingMatches(docs, minShared = 2, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded === Set((1L, 2L)),
      s"only the true passage pair survives the df guard: $guarded")
  }

  test("termSketch: CMS estimates bracket the exact term counts") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val sketch = TextOps.termSketch(docs, eps = 0.001)
    val exact = docs
      .select(explode(TextOps.words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val total = exact.map(_._2).sum
    // never-undercount is a HARD guarantee; the eps*N overcount bound is
    // per-query probabilistic (confidence 0.99), so assert it for >= 99%
    // of terms instead of universally — a seed/layout change must not
    // turn an in-contract sketch into a test failure
    val overBound = exact.map { case (w, cnt) =>
      val est = sketch.estimateCount(w)
      assert(est >= cnt, s"CMS must never undercount: $w est=$est true=$cnt")
      if (est > cnt + (0.001 * total).toLong + 1) 1 else 0
    }.sum
    assert(overBound <= math.max(1, exact.length / 100),
      s"$overBound of ${exact.length} terms exceed the eps*N bound")
  }

  test("vocabCoverage: df threshold defines the vocab; OOV counts occurrences") {
    val s = spark
    import s.implicits._
    // "a" in 3 docs, "b" in 2, "c" in 1 → with minDf=2 the vocab is {a, b}
    val docs = Seq(
      (1L, "a b c c"), // 4 tokens, c×2 OOV
      (2L, "a b"),     // 0 OOV
      (3L, "a"))       // 0 OOV
      .toDF("doc_id", "text")
    val out = TextOps.vocabCoverage(docs, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out === Map(
      1L -> ((4L, 2L, 0.5)),
      2L -> ((2L, 0L, 0.0)),
      3L -> ((1L, 0L, 0.0))))
  }

  test("bloomContaminationReport: empty eval side yields empty result") {
    val s = spark
    import s.implicits._
    val docs = (1L to 10L).map(i => (i, s"a b c d$i")).toDF("doc_id", "text")
    val out = DedupOps.bloomContaminationReport(docs, col("doc_id") < 0)
    assert(out.count() === 0L)
  }
}
