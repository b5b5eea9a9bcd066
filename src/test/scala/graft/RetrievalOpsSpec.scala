package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.{DedupOps, RetrievalOps}

/** BM25 scoring cross-checked against a plain-Scala reference, plus the
  * edit-distance LSH verifier's contract on planted near-dups. */
class RetrievalOpsSpec extends AnyFunSuite with SparkSuite {

  test("bm25TopK matches a plain-Scala BM25 implementation exactly (micros)") {
    val s = spark
    import s.implicits._
    val terms = Seq("hash", "join")
    val (k1, b) = (1.2, 0.75)
    val docs = Seq(
      (1L, "hash join hash scan filter"),
      (2L, "join join join table table table table table"),
      (3L, "scan filter sort group"),
      (4L, "hash"),
      (5L, "hash hash hash hash hash join join scan scan scan scan scan"))
      .toDF("doc_id", "text")

    // reference implementation, straight from the formula
    val toks = docs.collect().map(r => r.getLong(0) -> r.getString(1).trim.split(" ").toSeq).toMap
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    def df(t: String) = toks.values.count(_.contains(t)).toDouble
    def idf(t: String) = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
    def score(id: Long) = terms.map { t =>
      val tf = toks(id).count(_ == t).toDouble
      val dl = toks(id).size.toDouble
      idf(t) * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * (dl / avgdl)))
    }.reduceLeft(_ + _)
    val expect = toks.keys.map(id => id -> math.floor(score(id) * 1e6 + 0.5).toLong).toMap

    val got = RetrievalOps.bm25TopK(docs, terms, k = 10, k1, b)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
    // sanity on the ranking itself: the tf-rich doc 5 beats the
    // no-query-term doc 3, which scores exactly zero
    assert(got(5L) > got(1L) && got(1L) > got(3L) && got(3L) === 0L)
  }

  test("bm25TopK: top-k ordering is score desc then doc_id, limit honored") {
    val s = spark
    import s.implicits._
    // two identical docs -> identical scores -> doc_id tiebreak
    val docs = Seq((10L, "hash join"), (2L, "hash join"), (7L, "table scan"))
      .toDF("doc_id", "text")
    val rows = RetrievalOps.bm25TopK(docs, Seq("hash"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === 2)
    assert(rows.map(_._1).toSeq === Seq(2L, 10L)) // equal scores, id order
    assert(rows(0)._2 === rows(1)._2)
  }

  test("editDistancePairs: planted small-edit dup found with exact distance; unrelated pair absent") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val edited = base.replaceFirst("quick", "quack") // 1 substitution
    val docs = Seq((1L, base), (2L, edited),
      (3L, "completely different content with no shared shingles at all " * 4))
      .toDF("doc_id", "text")
    val rows = DedupOps.editDistancePairs(docs, minSim = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.keySet === Set((1L, 2L)))
    val (lev, sim) = rows((1L, 2L))
    assert(lev === 1L)
    val maxLen = math.max(base.length, edited.length).toDouble
    assert(sim === 1.0 - 1.0 / maxLen)
  }

  test("editDistancePairs: the threshold gates candidates — same pair kept loose, dropped strict") {
    val s = spark
    import s.implicits._
    // 60 distinct words -> 58 distinct shingles; one mid-text word swap
    // kills only 3 of them, so the pair deterministically shares LSH
    // buckets, while its edit similarity sits strictly below 1
    val wordsA = (0 until 60).map(i => s"w$i").mkString(" ")
    val wordsB = wordsA.replaceFirst("w30", "q30")
    val docs = Seq((1L, wordsA), (2L, wordsB)).toDF("doc_id", "text")
    val loose = DedupOps.editDistancePairs(docs, minSim = 0.9).collect()
    val strict = DedupOps.editDistancePairs(docs, minSim = 0.999).collect()
    assert(loose.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(loose.head.getLong(2) === 1L) // exactly one substitution
    assert(strict.isEmpty, "sub-0.999 similarity must fail the strict gate")
  }

  test("incrementalDedup admits only novel content, collapses in-batch dups") {
    val s = spark
    import s.implicits._
    val existing = Seq((1L, "en", "alpha beta gamma")).toDF("doc_id", "lang", "text")
    val incoming = Seq(
      (10L, "en", "beta alpha gamma"),   // normalized dup of existing (bag equal)
      (11L, "de", "delta epsilon zeta"), // novel
      (12L, "fr", "epsilon delta zeta"), // in-batch normalized dup of 11
      (13L, "en", "eta theta iota"))     // novel
      .toDF("doc_id", "lang", "text")
    val kept = DedupOps.incrementalDedup(incoming, existing)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept === Map(11L -> "de", 13L -> "en"))
  }

  test("hybridRrf: fusion arithmetic matches a driver-side reference over both lists") {
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val out = RetrievalOps.hybridRrf(docs, emb, n = 50, k = 20).collect()
    assert(out.length === 20)
    // reference: recompute rrf from the reported ranks
    out.foreach { r =>
      val rl = r.getAs[Long]("rank_lex"); val rv = r.getAs[Long]("rank_vec")
      val ref = (if (rl > 0) 1.0 / (60.0 + rl) else 0.0) +
        (if (rv > 0) 1.0 / (60.0 + rv) else 0.0)
      assert(r.getAs[Long]("rrf_micro") === math.floor(ref * 1e6 + 0.5).toLong)
      assert(rl > 0 || rv > 0, "a fused row must appear in at least one list")
    }
    // ordering: rrf desc with doc_id tiebreak
    val key = out.map(r => (-r.getAs[Long]("rrf_micro"), r.getAs[Long]("doc_id")))
    assert(key.toSeq === key.sortBy(identity).toSeq)
    // a doc present in BOTH lists must outrank one with only a deep single-list rank
    val both = out.filter(r => r.getAs[Long]("rank_lex") > 0 && r.getAs[Long]("rank_vec") > 0)
    if (both.nonEmpty) {
      val single = out.filter(r => r.getAs[Long]("rank_lex") == 0 || r.getAs[Long]("rank_vec") == 0)
      if (single.nonEmpty)
        assert(both.map(_.getAs[Long]("rrf_micro")).max >=
          single.map(_.getAs[Long]("rrf_micro")).max)
    }
  }

  test("hybridRrf: the query vector's own doc ranks first on the vector side") {
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val out = RetrievalOps.hybridRrf(docs, emb, queryVecId = 42L, n = 50, k = 50)
      .collect()
    val self = out.find(_.getAs[Long]("doc_id") == 42L)
    assert(self.isDefined, "query doc must fuse into the top list")
    assert(self.get.getAs[Long]("rank_vec") === 1L, "cos(q,q)=1 ranks first")
  }

  test("selfRetrievalEval: distinct-vocab queries retrieve themselves at rank 1") {
    val s = spark
    import s.implicits._
    // every doc has a private vocabulary -> its own terms retrieve it
    // first; shared filler ensures the corpus isn't degenerate
    val df = (1L to 10L).map(i =>
      (i, s"uniq${i}a uniq${i}b uniq${i}c filler filler"))
      .toDF("doc_id", "text")
    val r = RetrievalOps.selfRetrievalEval(df, col("doc_id") % 2 === 0)
      .collect().head
    assert(r.getAs[Long]("n_queries") === 5L)
    assert(r.getAs[Long]("hits_at_1") === 5L)
    assert(r.getAs[Long]("hits_at_k") === 5L)
    assert(r.getAs[Long]("mrr_micro") === 1000000L)
  }

  test("selfRetrievalEval: a doc with only corpus-shared vocabulary degrades MRR exactly") {
    val s = spark
    import s.implicits._
    // doc 2 has NO private token: its rarest terms are shared by docs
    // 1-3 verbatim, scores tie, tiebreak is doc_id asc -> rank 2
    val df = Seq(
      (1L, "the of and"),
      (2L, "the of and"),
      (3L, "the of and"),
      (4L, "the of and x4")
    ).toDF("doc_id", "text")
    val r = RetrievalOps.selfRetrievalEval(df, col("doc_id") === 2)
      .collect().head
    assert(r.getAs[Long]("n_queries") === 1L)
    assert(r.getAs[Long]("hits_at_1") === 0L)
    assert(r.getAs[Long]("mrr_micro") === 500000L) // 1/rank-2
  }

  test("selfRetrievalEval on the real corpus: self-retrieval beats random by an order of magnitude") {
    // this corpus has NO rare tokens (docs are draws from one small
    // vocabulary, df≈0.75N for every token — probed), so lexical
    // self-identity is weak by construction; the eval must still beat
    // random ranking (expected hits ≈ nq·k/N = 0.5 here) decisively
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    val r = RetrievalOps.selfRetrievalEval(docs, col("doc_id") % 20 === 0,
      nTerms = 16).collect().head
    val nq = r.getAs[Long]("n_queries")
    assert(nq > 0L)
    val randomExpect = nq.toDouble * 10.0 / n.toDouble
    assert(r.getAs[Long]("hits_at_k") >= math.ceil(10 * randomExpect).toLong,
      s"${r.getAs[Long]("hits_at_k")} of $nq (random expects $randomExpect)")
    assert(r.getAs[Long]("mrr_micro") > 100000L)
  }
}
