package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnAdmitIndex, IvfOps}

/** Epoch-sharded ANN admission index: SemDeDup verdicts against the
  * live epoch union, contraction on extension (only admitted vectors
  * post), replay idempotency by name — surviving tail compaction via
  * covered.json — and the NearDupIndex tail-compaction invariants
  * (base never rewritten, probes identical across the merge). */
class AnnAdmitIndexSpec extends AnyFunSuite with SparkSuite {

  private val model = IvfOps.IvfModel(
    Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)))
  private val tau = 950000L

  private def freshRoot(): String =
    Files.createTempDirectory("annx_spec").toString

  private def emb(rows: (Long, Array[Double])*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  private def verdicts(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("vec_id") ->
      ((r.getAs[String]("verdict"),
        Option(r.getAs[java.lang.Long]("anchor_id")).map(_.toLong)))).toMap

  test("admit: semantic dup rejects at tau, novel admits; extension " +
      "posts only admitted vectors; replay is a name no-op") {
    val root = freshRoot()
    AnnAdmitIndex.buildIndex(
      emb(1L -> Array(1.0, 0.0, 0.0), 2L -> Array(0.0, 1.0, 0.0)),
      model, root)
    val batch = emb(
      10L -> Array(1.0, 0.0, 0.0),  // exact vector of 1: dup_embed
      11L -> Array(0.6, 0.8, 0.0),  // cos 0.8 vs 2: admitted
      12L -> Array(0.1, 0.0, 1.0))  // near-orthogonal: admitted
    val got = verdicts(AnnAdmitIndex.admit(batch, root, tau, nProbe = 1))
    assert(got(10L) === (("dup_embed", Some(1L))), s"$got")
    assert(got(11L)._1 === "admitted" && got(12L)._1 === "admitted",
      s"$got")
    assert(AnnAdmitIndex.extendEpoch(batch, root, "b0", tau, nProbe = 1))
    val eps = AnnAdmitIndex.postingsEntries(root)
    assert(eps.size === 2)
    val posted = spark.read.parquet(s"$root/${eps(1)}/postings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(posted === Set(11L, 12L),
      s"only ANN-admitted vectors may post (contraction): $posted")
    assert(!AnnAdmitIndex.extendEpoch(batch, root, "b0", tau, nProbe = 1),
      "a replayed batch name must be a no-op")
    assert(AnnAdmitIndex.postingsEntries(root) === eps)
    // the next batch sees batch-0 admissions: 11's int8 twin rejects
    val got2 = verdicts(AnnAdmitIndex.admit(
      emb(20L -> Array(0.6, 0.8, 0.0)), root, tau, nProbe = 1))
    assert(got2(20L) === (("dup_embed", Some(11L))),
      s"earlier batch's admitted vector must anchor the rejection: $got2")
  }

  test("empty embedding batch: admit returns no rows, extension commits " +
      "an empty epoch, later probes unchanged — the all-null-embedding " +
      "micro-batch a live stream will eventually deliver") {
    val root = freshRoot()
    AnnAdmitIndex.buildIndex(emb(1L -> Array(1.0, 0.0, 0.0)), model, root)
    val none = emb().limit(0)
    assert(AnnAdmitIndex.admit(none, root, tau, nProbe = 1).count() === 0L)
    assert(AnnAdmitIndex.extendEpoch(none, root, "b0", tau, nProbe = 1))
    assert(AnnAdmitIndex.postingsEntries(root).size === 2)
    assert(!AnnAdmitIndex.extendEpoch(none, root, "b0", tau, nProbe = 1),
      "replay of the empty batch stays a name no-op")
    val got = verdicts(AnnAdmitIndex.admit(
      emb(10L -> Array(1.0, 0.0, 0.0)), root, tau, nProbe = 1))
    assert(got(10L) === (("dup_embed", Some(1L))),
      s"probes through the empty epoch must still work: $got")
  }

  test("tail compaction: base untouched, probes identical, covered " +
      "names keep replay a no-op; retraction via compact(dropVecIds)") {
    val root = freshRoot()
    AnnAdmitIndex.buildIndex(
      emb(1L -> Array(1.0, 0.0, 0.0), 2L -> Array(0.0, 1.0, 0.0)),
      model, root)
    assert(AnnAdmitIndex.extendEpoch(emb(11L -> Array(0.6, 0.8, 0.0)),
      root, "b0", tau, nProbe = 1))
    assert(AnnAdmitIndex.extendEpoch(emb(12L -> Array(0.1, 0.0, 1.0)),
      root, "b1", tau, nProbe = 1))
    val base = AnnAdmitIndex.postingsEntries(root).head
    val baseListing = Files.walk(Paths.get(root, base))
      .map[String](_.toString).sorted().toArray
    val probe = emb(30L -> Array(0.6, 0.8, 0.0),
      31L -> Array(0.1, 0.0, 1.0), 32L -> Array(0.0, 1.0, 0.0))
    def admits() =
      verdicts(AnnAdmitIndex.admit(probe, root, tau, nProbe = 2))
    val before = admits()
    assert(before(30L)._1 === "dup_embed" && before(31L)._1 === "dup_embed"
      && before(32L)._1 === "dup_embed", s"$before")
    AnnAdmitIndex.compactTail(spark, root, targetRows = 1L)
    val eps = AnnAdmitIndex.postingsEntries(root)
    assert(eps.size === 2 && eps.head === base,
      s"base + merged tail: $eps")
    assert(Files.walk(Paths.get(root, base)).map[String](_.toString)
      .sorted().toArray.sameElements(baseListing),
      "tail compaction must never rewrite the base epoch")
    assert(admits() === before,
      "probes must be identical across the tail merge")
    assert(AnnAdmitIndex.hasEpoch(root, "b0") &&
      AnnAdmitIndex.hasEpoch(root, "b1"),
      "covered.json must keep folded batch names accounted")
    assert(!AnnAdmitIndex.extendEpoch(emb(11L -> Array(0.6, 0.8, 0.0)),
      root, "b0", tau, nProbe = 1),
      "a replayed folded batch must be a no-op")
    // takedown: retract vector 11 through the compaction rewrite —
    // its int8 twin stops anchoring rejections, atomically at promote
    val s = spark
    import s.implicits._
    AnnAdmitIndex.compact(spark, root, targetRows = 1L,
      dropVecIds = Some(Seq(11L).toDF("vec_id")))
    val after = admits()
    assert(after(30L)._1 === "admitted",
      s"the retracted vector must stop rejecting: $after")
    assert(after(31L) === before(31L) && after(32L) === before(32L),
      s"survivors keep anchoring: $after")
    assert(AnnAdmitIndex.hasEpoch(root, "b0"),
      "coverage carries transitively through the full compact")
  }

  test("extendEpochAdmitted consumes the PRECOMPUTED verdict relation " +
      "— no internal re-probe (the single-ADC-probe-per-batch contract " +
      "of the streaming loop)") {
    val root = freshRoot()
    AnnAdmitIndex.buildIndex(emb(1L -> Array(1.0, 0.0, 0.0)), model, root)
    // 10 is an EXACT copy of indexed 1: a re-probe would reject it.
    // Passing it as "admitted" proves the extension trusts the given
    // relation — the behavioral witness that the probe ran exactly
    // where the caller ran it, not again inside the extension.
    val batch = emb(10L -> Array(1.0, 0.0, 0.0),
      11L -> Array(0.0, 1.0, 0.0))
    val s = spark
    import s.implicits._
    assert(AnnAdmitIndex.extendEpochAdmitted(batch, root, "b0",
      Seq(10L).toDF("vec_id")))
    val posted = spark.read.parquet(
        s"$root/${AnnAdmitIndex.postingsEntries(root)(1)}/postings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(posted === Set(10L),
      s"the precomputed admit set must be posted verbatim: $posted")
    assert(!AnnAdmitIndex.extendEpochAdmitted(batch, root, "b0",
      Seq(11L).toDF("vec_id")),
      "a replayed name stays a no-op without evaluating the relation")
  }

  // a 24-vector 3-d corpus with genuine cluster structure: three rays,
  // small deterministic jitter — big enough for trainBounded's
  // k = max(16, ceil(sqrt(n))) = 16 to differ loudly from the frozen
  // 2-centroid build model
  private def rayCorpus(n: Int, offset: Long = 0L) = {
    val rays = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0))
    emb((0 until n).map { i =>
      val r = rays(i % 3)
      val j = 0.01 * (i / 3)
      (offset + i.toLong) -> Array(r(0) + j, r(1) + j * 2, r(2) + j * 3)
    }: _*)
  }

  test("retrain: post-retrain index bit-identical to buildIndex over " +
      "the live corpus at the corpus-aware k; generation + postings " +
      "swap in ONE promotion; folded batch names stay accounted; " +
      "takedown rides the rewrite") {
    val root = freshRoot()
    val base = rayCorpus(18)
    val b0 = rayCorpus(6, offset = 100L)
    AnnAdmitIndex.buildIndex(base, model, root) // frozen k=2 build model
    assert(AnnAdmitIndex.extendEpoch(b0, root, "b0", tau, nProbe = 1))
    assert(AnnAdmitIndex.loadModel(spark, root).centroids.length === 2)
    // the lake's float corpus: everything ever offered (retrain keeps
    // live ∩ corpus, so the un-admitted b0 vectors drop out on their
    // own — they were never in the index)
    val lake = base.union(b0)
    AnnAdmitIndex.retrain(spark, root, lake, targetRows = 1000L)
    // the live ids after extension, re-coded under the new model
    val liveIds = spark.read.parquet(
        s"$root/${AnnAdmitIndex.postingsEntries(root).head}/postings")
      .select("vec_id")
    val liveCorpus = lake.join(liveIds, Seq("vec_id"), "left_semi")
    val model2 = AnnAdmitIndex.loadModel(spark, root)
    assert(model2.centroids.length ===
      graft.operators.IvfOps.adaptiveK(liveCorpus.count()),
      "retrain must train at the corpus-aware k")
    // bit-identity: a fresh buildIndex over the same corpus with the
    // builder's own trainer produces the same postings relation
    val root2 = freshRoot()
    AnnAdmitIndex.buildIndex(liveCorpus,
      graft.operators.IvfOps.trainBounded(liveCorpus), root2)
    def dump(r: String) = spark.read.parquet(
        AnnAdmitIndex.postingsEntries(r).map(e => s"$r/$e/postings"): _*)
      .collect().map(x => (x.getLong(0), x.getInt(1),
        x.getAs[scala.collection.Seq[Int]](2).toList)).sortBy(_._1).toList
    assert(dump(root) === dump(root2),
      "post-retrain index must equal buildIndex over the same corpus")
    assert(AnnAdmitIndex.hasEpoch(root, "b0"),
      "replay idempotency must survive the re-train (covered.json)")
    assert(AnnAdmitIndex.committedEpochs(root).size === 2,
      "one model generation + one recoded epoch after retrain")
    // takedown riding the retrain rewrite: drop vec 0, its copy admits
    AnnAdmitIndex.retrain(spark, root, lake, targetRows = 1000L,
      dropVecIds = Some({ val s = spark; import s.implicits._
        Seq(0L).toDF("vec_id") }))
    val got = verdicts(AnnAdmitIndex.admit(
      emb(900L -> Array(1.0, 0.0, 0.0)), root, tau,
      nProbe = 8))
    assert(got(900L)._2 !== Some(0L),
      s"the dropped vector must stop anchoring: $got")
  }

  test("retrain restores sub-linear probe mass at a FIXED admission " +
      "depth, with a planted-dup recall floor — the scale posture: " +
      "frozen k=sqrt(n0) makes probed postings grow linearly with the " +
      "corpus; k=adaptiveK(N) caps each list near N/k") {
    val root = freshRoot()
    val n = 120
    val corpus = rayCorpus(n)
    AnnAdmitIndex.buildIndex(corpus, model, root) // frozen k=2
    def maxList(): Long = spark.read
      .parquet(AnnAdmitIndex.postingsEntries(root)
        .map(e => s"$root/$e/postings"): _*)
      .groupBy("centroid_id").count()
      .agg(org.apache.spark.sql.functions.max("count"))
      .first().getLong(0)
    // per-query probe mass is nProbe · (probed list sizes): the named
    // sub-linear bound is nProbe · sizeCap(N) = nProbe · 4·sqrt(N)
    // (trainBounded's enforced invariant). The frozen k=2 quantizer
    // breaches the cap — its lists grow as N/2, the linear hazard —
    // and retrain restores it.
    val cap = graft.operators.IvfOps.sizeCap(n)
    assert(maxList() > cap,
      s"fixture must exhibit the hazard: frozen max list ${maxList()} " +
        s"should exceed cap $cap")
    AnnAdmitIndex.retrain(spark, root, corpus, targetRows = 1000L)
    assert(maxList() <= cap,
      s"post-retrain every inverted list must sit under sizeCap(N)=" +
        s"$cap, bounding probe mass at nProbe·4·sqrt(N): ${maxList()}")
    // recall floor at the fixed depth: every planted exact copy of an
    // indexed vector is caught post-retrain
    val planted = emb((0 until 12).map { i =>
      val src = corpus.collect()(i * 7 % n)
      (1000L + i) -> src.getAs[scala.collection.Seq[Double]]("embedding")
        .toArray
    }: _*)
    val got = verdicts(AnnAdmitIndex.admit(planted, root, tau, nProbe = 8))
    assert(got.values.forall(_._1 === "dup_embed"),
      s"planted exact dups must all reject at the fixed depth: $got")
  }

  test("Collected and Distributed probe forms return bit-identical " +
      "verdicts — the contract that lets ProbeAuto flip a micro-batch " +
      "to the batch-scale path without changing any decision") {
    val root = freshRoot()
    val fourCent = IvfOps.IvfModel(Array(
      Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0), Array(0.5, 0.5, 0.0)))
    AnnAdmitIndex.buildIndex(rayCorpus(24), fourCent, root)
    val batch = rayCorpus(9, offset = 500L)
    def rows(mode: IvfOps.ProbeMode) =
      AnnAdmitIndex.admit(batch, root, tau, nProbe = 2, mode)
        .collect().map(r => (r.getLong(0),
          Option(r.getAs[java.lang.Long]("anchor_id")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("adc_cos_micro")).map(_.toLong),
          r.getString(3))).sortBy(_._1).toList
    val collected = rows(IvfOps.ProbeCollected)
    assert(rows(IvfOps.ProbeDistributed) === collected,
      "distributed probes must replay the collected decisions bit-for-bit")
    assert(rows(IvfOps.ProbeAuto(collectMax = 4L)) === collected,
      "Auto above threshold (9 > 4) rides the distributed form")
    assert(rows(IvfOps.ProbeAuto(collectMax = 1000L)) === collected,
      "Auto below threshold rides the collected form")
  }

  test("Distributed probe plan: nothing broadcast grows with the " +
      "batch — probes shuffle-join (sort-merge pinned), the probed-cid " +
      "cut still reaches the postings scan as a pushed filter") {
    val root = freshRoot()
    AnnAdmitIndex.buildIndex(rayCorpus(24), root = root,
      model = IvfOps.IvfModel(Array(
        Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
        Array(0.0, 0.0, 1.0), Array(0.5, 0.5, 0.0))))
    AnnAdmitIndex.compact(spark, root, targetRows = 1000L)
    // pin=false: the plan contract under test IS the probe plan — the
    // pinned form would expose only its materialized LogicalRDD leaf
    // (the identical tree, executed at pin time)
    val df = AnnAdmitIndex.admit(rayCorpus(9, offset = 500L), root, tau,
      nProbe = 2, IvfOps.ProbeDistributed, pin = false)
    // the STATIC physical plan is the scale witness: at production
    // sizes AQE sees a large probe relation and keeps this shape; at
    // test sizes AQE may legitimately re-broadcast tiny runtime
    // stages, so the pin reads the pre-adaptive plan
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"probe relation must shuffle-join the postings:\n$plan")
    assert(!plan.contains("BroadcastExchange"),
      s"no broadcast may carry a batch-sized relation:\n$plan")
    assert(plan.contains("PushedFilters: [In(centroid_id"),
      s"the ≤K probed-cid cut must still reach the parquet reader:\n$plan")
    // and the decisions are the indexed-corpus truths
    val got = verdicts(df)
    assert(got.nonEmpty && got.values.forall(v =>
      v._1 == "admitted" || v._1 == "dup_embed"))
  }

  test("pin=true memoizes the verdict per (batch, index) — and an " +
      "extension keys a FRESH entry, never a stale verdict") {
    val root = freshRoot()
    AnnAdmitIndex.buildIndex(rayCorpus(24), root = root,
      model = IvfOps.IvfModel(Array(
        Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
        Array(0.0, 0.0, 1.0), Array(0.5, 0.5, 0.0))))
    val batch = rayCorpus(9, offset = 500L)
    val a = AnnAdmitIndex.admit(batch, root, tau, nProbe = 2)
    val b = AnnAdmitIndex.admit(batch, root, tau, nProbe = 2)
    // probe-once: the second call serves the SAME pinned relation
    assert(a.queryExecution.analyzed
      .sameResult(b.queryExecution.analyzed))
    assert(verdicts(a) === verdicts(b))
    // mutate the index: the live epoch set (and so the plan key)
    // changes — the memo must not serve the pre-extension verdicts
    AnnAdmitIndex.extendEpoch(rayCorpus(5, offset = 900L), root,
      "bmemo", tauMicro = tau, nProbe = 2)
    val c = AnnAdmitIndex.admit(batch, root, tau, nProbe = 2)
    assert(!a.queryExecution.analyzed
      .sameResult(c.queryExecution.analyzed))
  }

  test("probedOnly width guard: beyond inMax centroids the In-literal " +
      "becomes a broadcast LEFT SEMI join on the cid relation — same " +
      "rows, no megabyte literal in the plan at K ≈ 3e5") {
    val s = spark
    import s.implicits._
    val posts = (0 until 12).map(i => (i.toLong, i % 4))
      .toDF("vec_id", "centroid_id")
    val cids = Seq(0, 2, 3)
    val narrow = IvfOps.probedOnly(posts, cids, inMax = 2)
    val wide = IvfOps.probedOnly(posts, cids, inMax = 100)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).sorted.toList
    assert(ids(narrow) === ids(wide),
      "both forms must keep exactly the probed lists")
    val plan = narrow.queryExecution.sparkPlan.toString
    assert(plan.contains("LeftSemi") && plan.contains("BroadcastHashJoin"),
      s"above-width form must be a broadcast semi-join:\n$plan")
    assert(!wide.queryExecution.sparkPlan.toString.contains("LeftSemi"),
      "below-width form keeps the pushable In filter")
  }

  test("admission probe pushes the probed-centroid set into the " +
      "postings SCAN (PushedFilters In(centroid_id,...)) — row-group " +
      "pruning on the range-bucketed layout: the probe reads the " +
      "touched lists, not the index") {
    val root = freshRoot()
    AnnAdmitIndex.buildIndex(rayCorpus(24), root = root,
      model = IvfOps.IvfModel(Array(
        Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
        Array(0.0, 0.0, 1.0), Array(0.5, 0.5, 0.0))))
    AnnAdmitIndex.compact(spark, root, targetRows = 1000L)
    // pin=false: assert on the probe plan itself, not the pinned leaf
    val df = AnnAdmitIndex.admit(
      emb(500L -> Array(1.0, 0.0, 0.0)), root, tau, nProbe = 2,
      pin = false)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("PushedFilters: [In(centroid_id"),
      s"the driver-known probed-centroid filter must reach the parquet " +
        s"reader (join keys alone never do):\n$plan")
  }
}
