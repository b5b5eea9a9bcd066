package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps

/** Randomized equivalence pins for the exact-dup clique contraction:
  * on seeded random corpora with PLANTED dup cliques (the adversarial
  * input the contraction exists for), every contracted operator must
  * equal its UNCONTRACTED formulation — re-derived inline here from
  * the public per-doc kernels, with no contraction anywhere — row for
  * row. This is the independent implementation the fixture specs
  * can't provide: the closed-form clique terms of x158/x160 (including
  * the keep-lowest orientation-split window) are checked against a
  * plain groupBy over the fully expanded pair relation. */
class ContractionPropertySpec extends AnyFunSuite with SparkSuite {

  /** Small-vocab corpus with dup cliques: ~n base docs of 1..9 words
    * (sub-shingle lengths included — the eligibility edge; never empty,
    * because the x3 quality score both formulations share divides by
    * the token count), then random cliques of 2..5 copies. Interleaved
    * ids so clique members spread across the id order (the
    * orientation-split stressor). */
  private def corpus(seed: Long, n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
    val base = (0 until n).map { _ =>
      (0 to rnd.nextInt(9)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    val withDups = base ++ (0 until n / 2).flatMap { _ =>
      val t = base(rnd.nextInt(base.size))
      Seq.fill(1 + rnd.nextInt(4))(t)
    }
    rnd.shuffle(withDups).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  /** The UNCONTRACTED LSH pair relation: signatures for every doc,
    * band self-join over every doc, exact Jaccard per candidate. */
  private def naiveLshPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sigs = DedupOps.minhashSignatures(docs).localCheckpoint(true)
    val bands = DedupOps.lshBands(sigs)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct().localCheckpoint(true)
    DedupOps.jaccardFor(docs, cand, state = DedupOps.Unpinned)
      .filter(col("jaccard") >= threshold)
  }

  /** The UNCONTRACTED simhash pair relation via a plain all-pairs
    * self-join on the per-doc signatures. */
  private def naiveSimhashPairs(docs: DataFrame, maxDist: Int): DataFrame = {
    val sim = DedupOps.simhash(docs).localCheckpoint(true)
    sim.as("a").join(sim.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.toVector: Seq[Any]).toSet

  test("lshDupPairs == uncontracted banding+verify on random cliqued corpora") {
    for (seed <- 1L to 4L) {
      val docs = corpus(seed, 24).localCheckpoint(true)
      val got = rows(DedupOps.lshDupPairs(docs, 0.3))
      val want = rows(naiveLshPairs(docs, 0.3))
      assert(got === want, s"seed=$seed")
    }
  }

  test("simhashDupPairs and simhashClusters == uncontracted forms") {
    for (seed <- 11L to 14L) {
      val docs = corpus(seed, 24).localCheckpoint(true)
      val naive = naiveSimhashPairs(docs, 3).localCheckpoint(true)
      assert(rows(DedupOps.simhashDupPairs(docs, 3)) === rows(naive),
        s"pairs seed=$seed")
      assert(rows(DedupOps.simhashClusters(docs, 3)) ===
        rows(DedupOps.dupClusters(docs, naive)), s"clusters seed=$seed")
    }
  }

  test("x158 closed form == groupBy over the expanded pair relation") {
    val bands = 20
    for (seed <- 21L to 24L) {
      val docs = corpus(seed, 24).localCheckpoint(true)
      val pairs = naiveLshPairs(docs, 0.0)
        .select(col("doc_a"), col("doc_b"),
          least(floor(col("jaccard") * bands), lit((bands - 1).toLong))
            .cast("long").as("band")).localCheckpoint(true)
      val toks = docs.select(col("doc_id").as("doc_b"),
        coalesce(graft.functions.TextExpressions
          .wsTokenCountFast(col("text")).cast("long"), lit(0L)).as("tok"))
      val victims = pairs.groupBy("doc_b").agg(max(col("band")).as("band"))
        .join(toks, Seq("doc_b"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_victims"),
          sum(col("tok")).as("victim_tokens"))
      val want = rows(pairs.groupBy("band").agg(count(lit(1)).as("n_pairs"))
        .join(victims, Seq("band"), "left")
        .select(col("band"),
          expr(s"(band * 1000000L) div ${bands}L").as("band_lo_ppm"),
          col("n_pairs"),
          coalesce(col("n_victims"), lit(0L)).as("n_victims"),
          coalesce(col("victim_tokens"), lit(0L)).as("victim_tokens")))
      assert(rows(DedupOps.dedupYieldCurve(docs, bands)) === want,
        s"seed=$seed")
    }
  }

  test("x160 closed form (incl. orientation split) == expanded per-pair accounting") {
    val bands = 20
    for (seed <- 31L to 34L) {
      val docs = corpus(seed, 24).localCheckpoint(true)
      val pairs = naiveLshPairs(docs, 0.0)
        .select(col("doc_a"), col("doc_b"),
          least(floor(col("jaccard") * bands), lit((bands - 1).toLong))
            .cast("long").as("band")).localCheckpoint(true)
      val scored = docs.select(col("doc_id"),
        coalesce(graft.functions.TextExpressions
          .wsTokenCountFast(col("text")).cast("long"), lit(0L)).as("tok"),
        floor(graft.operators.TextOps.qualityScoreCol(col("text"))
          * lit(1e6) + lit(0.5)).cast("long").as("q"))
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val want = rows(pairs
        .join(scored.select(col("doc_id").as("doc_a"),
          col("tok").as("tok_a"), col("q").as("q_a")), Seq("doc_a"))
        .join(scored.select(col("doc_id").as("doc_b"),
          col("tok").as("tok_b"), col("q").as("q_b")), Seq("doc_b"))
        .select(col("band"),
          col("tok_b").as("kl_tok"), col("q_b").as("kl_q"),
          when(col("q_a") >= col("q_b"), col("tok_b"))
            .otherwise(col("tok_a")).as("kq_tok"),
          least(col("q_a"), col("q_b")).as("kq_q"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("kl_tok").cast(dec)).as("__klt"),
          sum(col("kq_tok").cast(dec)).as("__kqt"),
          sum(col("kl_q").cast(dec)).as("__klq"),
          sum(col("kq_q").cast(dec)).as("__kqq"))
        .select(col("band"),
          expr(s"(band * 1000000L) div ${bands}L").as("band_lo_ppm"),
          col("n_pairs"),
          expr("CAST(__klt AS BIGINT)").as("kl_victim_tokens"),
          expr("CAST(__kqt AS BIGINT)").as("kq_victim_tokens"),
          expr("CAST(__klq AS BIGINT)").as("kl_victim_q_mass"),
          expr("CAST(__kqq AS BIGINT)").as("kq_victim_q_mass"),
          expr("CAST(__klq - __kqq AS BIGINT)").as("q_saved_micro")))
      assert(rows(DedupOps.dedupPolicyDelta(docs, bands)) === want,
        s"seed=$seed")
    }
  }

  test("kernelConfusion == uncontracted universe + ground verdicts, clique-weighted") {
    for (seed <- 31L to 34L) {
      val docs = corpus(seed, 24).localCheckpoint(true)
      // a ≤36-rep corpus can't have a hot bucket at the default cap, so
      // the guarded universe must equal this UNGUARDED re-derivation
      assert(DedupOps.simhashGuardAudit(docs).collect()(0).getLong(0) === 0L)
      assert(DedupOps.lshGuardAudit(docs).collect()(0).getLong(0) === 0L)
      val cl = docs
        .filter(col("text").isNotNull && col("doc_id").isNotNull)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("weight"))
        .localCheckpoint(true)
      val reps = docs.join(cl.select(col("rep").as("doc_id")),
        Seq("doc_id"), "left_semi").localCheckpoint(true)
      // uncontracted candidate universe at rep level: any shared LSH
      // band bucket ∪ any agreeing 15-bit simhash block
      val bands = DedupOps.lshBands(
        DedupOps.minhashSignatures(reps).localCheckpoint(true))
      val lcand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val sim = DedupOps.simhash(reps).localCheckpoint(true)
      val blockOf = (c: org.apache.spark.sql.Column, j: Int) =>
        shiftright(c, j * 15).bitwiseAND(lit(32767L))
      val scand = sim.as("a").join(sim.as("b"),
          col("a.doc_id") < col("b.doc_id") &&
            (0 until 4).map(j => blockOf(col("a.simhash"), j) ===
              blockOf(col("b.simhash"), j)).reduce(_ || _))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val univ = lcand.unionByName(scand).distinct().localCheckpoint(true)
      val jac = DedupOps.jaccardFor(reps, univ, state = DedupOps.Unpinned)
      val w = cl.select(col("rep"), col("weight"))
      val want = rows(univ
        .join(jac, Seq("doc_a", "doc_b"), "left")
        .join(sim.select(col("doc_id").as("doc_a"),
          col("simhash").as("sig_a")), Seq("doc_a"))
        .join(sim.select(col("doc_id").as("doc_b"),
          col("simhash").as("sig_b")), Seq("doc_b"))
        .join(w.select(col("rep").as("doc_a"), col("weight").as("w_a")),
          Seq("doc_a"))
        .join(w.select(col("rep").as("doc_b"), col("weight").as("w_b")),
          Seq("doc_b"))
        .select(
          when(coalesce(col("jaccard"), lit(0.0)) >= 0.5, 1)
            .otherwise(0).as("lsh_dup"),
          when(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 3, 1)
            .otherwise(0).as("simhash_dup"),
          (col("w_a") * col("w_b")).as("mass"))
        .groupBy("lsh_dup", "simhash_dup")
        .agg(count(lit(1)).as("n_rep_pairs"),
          sum(col("mass")).as("member_pair_mass")))
      assert(rows(DedupOps.kernelConfusion(docs)) === want, s"seed=$seed")
    }
  }
}
