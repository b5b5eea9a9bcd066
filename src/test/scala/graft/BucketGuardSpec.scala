package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps

/** Deterministic pins for the hot-bucket guard on both near-dup
  * kernels ([[DedupOps.bucketMaxDf]]).
  *
  * The corpus plants bucket collisions BY CONSTRUCTION, not by luck:
  * "w1 w2 w3" repeated k times has, for every k ≥ 2, the SAME distinct
  * shingle set and the SAME distinct word set — so every member of a
  * repetition family carries identical minhash signatures (identical
  * band buckets) and an identical simhash (identical 15-bit blocks)
  * while being a DISTINCT content (distinct fingerprint). That is
  * exactly the population the guard exists for: near-identical
  * boilerplate the exact-dup contraction cannot collapse.
  *
  *   - family A: 8 distinct repetition variants — hot at maxDf = 4
  *   - family B: 2 distinct repetition variants — cold at maxDf = 4
  *   - clique C: 5 IDENTICAL copies — one content; pairs must survive
  *     any cap (the clique branch never consults buckets)
  *   - filler: unrelated docs
  */
class BucketGuardSpec extends AnyFunSuite with SparkSuite {

  private val nA = 8
  private val nB = 2

  /** doc_ids: A = 0..7, B = 10..11, C = 20..24, filler = 30..35. */
  private def corpus(): DataFrame = {
    val s = spark
    import s.implicits._
    val a = (0 until nA).map(k => (k.toLong, Seq.fill(k + 2)("aa bb cc").mkString(" ")))
    val b = (0 until nB).map(k => (10L + k, Seq.fill(k + 2)("dd ee ff").mkString(" ")))
    val c = (0 until 5).map(k => (20L + k, "cc dd ee ff gg hh ii jj"))
    val f = (0 until 6).map(i =>
      (30L + i, s"f${i}a f${i}b f${i}c f${i}d f${i}e f${i}f f${i}g f${i}h"))
    (a ++ b ++ c ++ f).toDF("doc_id", "text")
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def famPairs(ids: Seq[Long]): Set[(Long, Long)] =
    (for (i <- ids; j <- ids if i < j) yield (i, j)).toSet

  private val aPairs = famPairs(0L until nA.toLong)
  private val bPairs = famPairs(10L until (10L + nB))
  private val cPairs = famPairs(20L to 24L)

  test("LSH kernel: hot family refused, cold family and exact clique survive, audit exact") {
    val docs = corpus().localCheckpoint(true)
    val guarded = pairSet(DedupOps.lshDupPairs(docs, 0.0, maxDf = 4L))
    val open = pairSet(DedupOps.lshDupPairs(docs, 0.0))

    assert((aPairs & guarded).isEmpty,
      "family A shares only hot buckets; its pairs must be refused")
    assert(bPairs.subsetOf(guarded), "2-member family is below the cap")
    assert(cPairs.subsetOf(guarded),
      "identical copies pair via the clique branch, never the buckets")
    assert(guarded.subsetOf(open), "the guard only ever drops pairs")
    assert(aPairs.subsetOf(open), "default cap must not fire on 8 variants")

    val audit = DedupOps.lshGuardAudit(docs, maxDf = 4L).collect()(0)
    assert(audit.getLong(0) === 4L, "A's 4 band buckets are the hot set")
    assert(audit.getLong(1) === 4L * (nA * (nA - 1) / 2),
      "refused candidate mass = 4 buckets x C(8,2)")
    val openAudit = DedupOps.lshGuardAudit(docs).collect()(0)
    assert(openAudit.getLong(0) === 0L && openAudit.getLong(1) === 0L)
  }

  test("simhash kernel: hot family refused, cold family and exact clique survive, audit exact") {
    val docs = corpus().localCheckpoint(true)
    val guarded = pairSet(DedupOps.simhashDupPairs(docs, 3, maxDf = 4L))
    val open = pairSet(DedupOps.simhashDupPairs(docs, 3))

    assert((aPairs & guarded).isEmpty,
      "family A agrees on all 4 blocks and every one is hot")
    assert(bPairs.subsetOf(guarded), "2-member family is below the cap")
    assert(cPairs.subsetOf(guarded),
      "identical copies pair via the clique branch, never the blocks")
    assert(guarded.subsetOf(open), "the guard only ever drops pairs")
    assert(aPairs.subsetOf(open), "default cap must not fire on 8 variants")

    val audit = DedupOps.simhashGuardAudit(docs, maxDf = 4L).collect()(0)
    assert(audit.getLong(0) === 4L, "A's 4 block buckets are the hot set")
    assert(audit.getLong(1) === 4L * (nA * (nA - 1) / 2))
    val openAudit = DedupOps.simhashGuardAudit(docs).collect()(0)
    assert(openAudit.getLong(0) === 0L && openAudit.getLong(1) === 0L)
  }

  test("simhash guard claims a pair at its first COLD agreeing block (partial hotness)") {
    // family A hot on all 4 blocks at maxDf = 4 BUT cold at maxDf = 7?
    // No — sharper: at maxDf = 7, A (8 members) is still hot; at
    // maxDf = 8 it is cold. The boundary pins the strict > semantics.
    val docs = corpus().localCheckpoint(true)
    val atCap = pairSet(DedupOps.simhashDupPairs(docs, 3, maxDf = nA.toLong))
    assert(aPairs.subsetOf(atCap), "m == maxDf is cold (cap is strict >)")
    val below = pairSet(DedupOps.simhashDupPairs(docs, 3, maxDf = nA - 1L))
    assert((aPairs & below).isEmpty, "m == maxDf + 1 is hot")
  }

  test("kernelConfusion: agreement cell, clique-weighted mass, guarded universe") {
    val s = spark
    import s.implicits._
    // weight 2 on doc 10: one exact copy, so B's rep pair carries
    // member mass w_a * w_b = 2 while staying ONE rep pair
    val docs = corpus().union(Seq((40L, corpus().filter(col("doc_id") === 10L)
      .collect()(0).getString(1))).toDF("doc_id", "text")).localCheckpoint(true)
    def cells(maxDf: Long) = DedupOps.kernelConfusion(docs, 0.5, 3, maxDf = maxDf)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val open = cells(DedupOps.bucketMaxDf)
    // repetition families have identical shingle AND word sets: their
    // rep pairs are Jaccard 1.0 and Hamming 0 — the agreement cell.
    // A (8 variants, cold at default) contributes C(8,2), B one pair.
    val (agreeN, agreeMass) = open((1, 1))
    assert(agreeN >= nA * (nA - 1) / 2 + 1)
    assert(agreeMass >= agreeN + 1, "B's duplicated side must count twice")
    open.values.foreach { case (n, m) => assert(m >= n) }
    // at maxDf = 4 BOTH kernels refuse family A's buckets, so its 28
    // pairs leave the judged universe entirely; B (2 members) survives
    val (guardN, guardMass) = cells(4L)((1, 1))
    assert(guardN >= 1 && guardN < agreeN - 20)
    assert(guardMass >= guardN + 1)
  }

  test("clusters attach hot-family members as singletons once their pairs are refused") {
    val docs = corpus().localCheckpoint(true)
    val clusters = DedupOps.simhashClusters(docs, 3, maxDf = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // A-members: no surviving pairs -> each its own cluster
    (0L until nA.toLong).foreach(id => assert(clusters(id) === id))
    // C-clique still collapses to its min id
    (20L to 24L).foreach(id => assert(clusters(id) === 20L))
  }
}
