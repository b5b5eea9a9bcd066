package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps

/** Connected-component duplicate clustering: min-label propagation must
  * cover chain components (the worst case for per-round propagation) and
  * leave singletons self-labeled. */
class DedupClusterSpec extends AnyFunSuite with SparkSuite {

  test("chain + pair + singleton resolve to min-id clusters") {
    val s = spark
    import s.implicits._
    val docs = (1L to 7L).toDF("doc_id")
    // chain 1-2-3-4 (diameter 3), pair 5-6, singleton 7; pair order mixed
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (6L, 5L)).toDF("doc_a", "doc_b")
    val out = DedupOps.dupClusters(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("long chain + clique: contraction converges past one round") {
    val s = spark
    import s.implicits._
    // 60-node chain (forces several hook-and-contract rounds) + a 5-clique
    // overlapping nothing + reversed/duplicated edges
    val chain = (1L until 60L).map(i => (i + 1, i))
    val clique = (for { a <- 100L to 104L; b <- 100L to 104L if a < b } yield (a, b))
    val docs = ((1L to 60L) ++ (100L to 104L) ++ Seq(999L)).toDF("doc_id")
    val pairs = (chain ++ clique ++ chain.map(_.swap)).toDF("doc_a", "doc_b")
    val out = DedupOps.dupClusters(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = ((1L to 60L).map(_ -> 1L) ++
      (100L to 104L).map(_ -> 100L) ++ Seq(999L -> 999L)).toMap
    assert(out === expected)
  }

  test("contamination report finds planted benchmark overlap, nothing else") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "a completely different training document about spark joins"),
      (10L, "benchmark question the quick brown fox jumps over what"), // eval
      (20L, "another eval item with no overlap whatsoever here")) // eval
      .toDF("doc_id", "text")
    val out = DedupOps.contaminationReport(docs, col("doc_id") >= 10L, n = 3,
        minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1 shares the 5-word run "the quick brown fox jumps" +
    // "jumps over" continuation → >= 3 shared trigrams with eval doc 10
    assert(out.map(t => (t._1, t._2)) === Set((1L, 10L)))
    assert(out.head._3 >= 3)
  }

  test("Reliable checkpoint mode matches Local on chain + clique") {
    val s = spark
    import s.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    val chain = (1L until 40L).map(i => (i + 1, i))
    val clique = (for { a <- 100L to 103L; b <- 100L to 103L if a < b } yield (a, b))
    val docs = ((1L to 40L) ++ (100L to 103L)).toDF("doc_id")
    val pairs = (chain ++ clique).toDF("doc_a", "doc_b")
    val local = DedupOps.dupClusters(docs, pairs, state = DedupOps.Local)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reliable = DedupOps.dupClusters(docs, pairs, state = DedupOps.Reliable)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable === local)
    assert(reliable(40L) === 1L && reliable(103L) === 100L)
    // the reliable mode actually wrote to the checkpoint dir
    assert(new java.io.File(ckpt).listFiles().nonEmpty)
  }

  test("noveltyScore: closed-form fixture and corpus conservation laws") {
    val s = spark
    import s.implicits._
    // doc 1 owns its grams; doc 2 repeats doc 1 verbatim (novelty 0);
    // doc 3 shares a prefix gram with 1 but adds a new one; doc 4 is
    // too short for a 3-gram (no row)
    val docs = Seq(
      (1L, "k a b c"), (2L, "k a b c"), (3L, "a b c d"), (4L, "x y"))
      .toDF("doc_id", "text")
    val got = DedupOps.noveltyScore(docs, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Long]("novelty_ppm")))).toMap
    // doc1 grams: {kab, abc} both first here; doc2 same grams, none
    // first; doc3 grams: {abc, bcd} — abc owned by 1, bcd novel
    assert(got === Map(
      1L -> ((2L, 2L, 1000000L)),
      2L -> ((2L, 0L, 0L)),
      3L -> ((2L, 1L, 500000L))))
    // corpus conservation: every distinct gram is novel for exactly one
    // doc, so sum(n_novel) == |distinct grams|; novelty bounded by grams
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = DedupOps.noveltyScore(corpus).collect()
    val totalNovel = out.map(_.getAs[Long]("n_novel")).sum
    val distinctGrams = corpus.select(
      org.apache.spark.sql.functions.explode(
        DedupOps.shingles(col("text"))).as("sh"))
      .distinct().count()
    assert(totalNovel === distinctGrams,
      "every gram is first-owned exactly once")
    assert(out.forall(r => r.getAs[Long]("n_novel") <= r.getAs[Long]("n_grams")))
    assert(out.forall(r => r.getAs[Long]("n_grams") > 0L))
  }

  test("empty pair set: every doc is its own cluster") {
    val s = spark
    import s.implicits._
    val docs = (1L to 3L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val out = DedupOps.dupClusters(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("x156 contaminationMatrix: cross-source mirror lands off-diagonal, within-feed on it") {
    val s = spark
    import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    // A1 ~ B1 (near-identical, one word appended), A2 == A3 (exact
    // within-feed dup), C is unrelated word soup
    val docs = Seq(
      (1L, "A", base),
      (2L, "A", "one two three four five six seven eight nine ten " +
        "eleven twelve thirteen fourteen fifteen sixteen"),
      (3L, "A", "one two three four five six seven eight nine ten " +
        "eleven twelve thirteen fourteen fifteen sixteen"),
      (4L, "B", base + " mirrored"),
      (5L, "C", "red orange yellow green blue indigo violet crimson " +
        "amber teal maroon olive navy coral")
    ).toDF("doc_id", "source", "text")
    val got = DedupOps.contaminationMatrix(docs, threshold = 0.5)
      .collect().map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs_a"),
          r.getAs[Long]("n_docs_b"), r.getAs[Int]("cross_source")))).toMap
    assert(got(("A", "B")) === ((1L, 1L, 1L, 1)), s"mirror cell: $got")
    assert(got(("A", "A")) === ((1L, 1L, 1L, 0)), s"within-feed cell: $got")
    assert(!got.contains(("A", "C")) && !got.contains(("B", "C")),
      s"unrelated source must stay out of the matrix: $got")
  }

  test("x158 dedupYieldCurve: identical pair lands in the top band with exact victim tokens") {
    val s = spark
    import s.implicits._
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, t), (2L, t), // exact dups: jaccard 1.0 -> band 19
      (3L, "one two three four five six seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val got = DedupOps.dedupYieldCurve(docs).collect()
      .map(r => r.getAs[Long]("band") ->
        ((r.getAs[Long]("band_lo_ppm"), r.getAs[Long]("n_pairs"),
          r.getAs[Long]("n_victims"), r.getAs[Long]("victim_tokens")))).toMap
    assert(got.contains(19L), s"identical pair must land in band 19: $got")
    assert(got(19L) === ((950000L, 1L, 1L, 12L)),
      "one pair, one victim (doc 2), 12 victim tokens")
    assert(got.size === 1, s"the unrelated doc must add nothing: $got")
  }

  test("x158 dedupYieldCurve: a multi-band victim is claimed by its MAX band only") {
    val s = spark
    import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val variant = base.replace("mu", "nu omega") // 11 shared / 13 union
    val docs = Seq(
      (1L, base), (2L, variant), (3L, base) // (1,3) exact; (1,2),(2,3) partial
    ).toDF("doc_id", "text")
    val got = DedupOps.dedupYieldCurve(docs).collect()
      .map(r => r.getAs[Long]("band") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_victims"),
          r.getAs[Long]("victim_tokens")))).toMap
    assert(got.contains(19L), s"exact pair must land in band 19: $got")
    assert(got(19L) === ((1L, 1L, 12L)),
      s"doc 3 claimed by band 19 ONLY (it also pairs partially with 2): $got")
    val lower = (got - 19L)
    assert(lower.values.map(_._1).sum === 2L,
      s"two partial pairs below the top band: $got")
    // doc 3's partial pair adds NO victim below band 19 (already claimed);
    // doc 2 is the single lower-band victim with its 13 tokens
    assert(lower.values.map(_._2).sum === 1L &&
      lower.values.map(_._3).sum === 13L,
      s"one lower-band victim (doc 2, 13 tokens), no double count: $got")
  }

  test("x160 dedupPolicyDelta: keep-quality rescues the better copy, ties agree with keep-low") {
    val s = spark
    import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val longer = base + " nu omega" // near-dup, 2 extra words -> higher x3 quality
    val docs = Seq((1L, base), (2L, longer)).toDF("doc_id", "text")
    val got = DedupOps.dedupPolicyDelta(docs).collect()
    assert(got.length === 1, s"one pair, one band: ${got.toSeq}")
    val r = got.head
    // keep-low drops doc 2 (14 tokens, the HIGHER-quality copy);
    // keep-quality drops doc 1 (12 tokens) and saves the delta
    assert(r.getAs[Long]("n_pairs") === 1L)
    assert(r.getAs[Long]("kl_victim_tokens") === 14L)
    assert(r.getAs[Long]("kq_victim_tokens") === 12L)
    val saved = r.getAs[Long]("q_saved_micro")
    assert(saved > 0L &&
      saved === r.getAs[Long]("kl_victim_q_mass") - r.getAs[Long]("kq_victim_q_mass"),
      s"keep-quality must save exactly the score gap: $r")

    val tie = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val t = DedupOps.dedupPolicyDelta(tie).collect().head
    assert(t.getAs[Long]("kl_victim_tokens") === t.getAs[Long]("kq_victim_tokens")
      && t.getAs[Long]("q_saved_micro") === 0L,
      s"identical copies: both policies drop doc 2, nothing saved: $t")
  }

  test("x161 clusterPolicyDelta: transitive cluster keeps one survivor per policy") {
    val s = spark
    import s.implicits._
    // a 3-member transitive cluster where the BEST copy has the highest
    // id — keep-lowest drops it, keep-quality rescues it
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = a + " nu"        // 13 tokens
    val c = a + " nu omega"  // 14 tokens, highest quality, highest id
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = DedupOps.clusterPolicyDelta(docs, pairs).collect()
    assert(got.length === 1, s"one 3-member cluster: ${got.toSeq}")
    val r = got.head
    assert(r.getAs[Long]("size_band") === 3L &&
      r.getAs[Long]("n_clusters") === 1L)
    // keep-lowest keeps doc 1 (12 tok): victims 13+14=27; keep-quality
    // keeps doc 3 (14 tok): victims 12+13=25
    assert(r.getAs[Long]("kl_victim_tokens") === 27L, s"$r")
    assert(r.getAs[Long]("kq_victim_tokens") === 25L, s"$r")
    val saved = r.getAs[Long]("q_saved_micro")
    assert(saved > 0L && saved === r.getAs[Long]("kl_victim_q_mass") -
      r.getAs[Long]("kq_victim_q_mass"), s"$r")

    // singleton clusters never appear; identical pair saves nothing
    val two = Seq((1L, a), (2L, a), (9L, "unrelated solitary words here")).toDF("doc_id", "text")
    val g2 = DedupOps.clusterPolicyDelta(two, Seq((1L, 2L)).toDF("doc_a", "doc_b")).collect()
    assert(g2.length === 1 && g2.head.getAs[Long]("size_band") === 2L &&
      g2.head.getAs[Long]("q_saved_micro") === 0L, s"${g2.toSeq}")
  }
}
