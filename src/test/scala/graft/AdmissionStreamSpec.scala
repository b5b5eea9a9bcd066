package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnAdmitIndex, IvfOps, NearDupIndex,
  ShardAdmission, SpanIndex}

/** The full streaming ingest loop: per micro-batch a ShardAdmission
  * manifest against the PRE-batch index state, then both indexes
  * extended — with the replay guard that keeps a recomputed manifest
  * from reading its own batch back out of the index. */
class AdmissionStreamSpec extends AnyFunSuite with SparkSuite {

  private val seed =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val novel1 =
    "one two three four five six seven eight nine ten eleven twelve"
  private val novel2 = "red orange yellow green blue indigo violet cyan " +
    "magenta umber teal jade"
  private val novel3 = "north south east west upward downward inward " +
    "outward forward backward leftward rightward"
  private val novel4 = "oak elm ash birch maple cedar pine spruce willow " +
    "poplar rowan yew"

  private def roots(): (String, String, String) = (
    Files.createTempDirectory("adm_ndx").toString,
    Files.createTempDirectory("adm_spx").toString,
    Files.createTempDirectory("adm_out").toString)

  // the four-tier fixture: one indexed doc on every tier
  private val model = IvfOps.IvfModel(
    Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)))
  private val tau = 950000L
  private val e1 = Array(1.0, 0.0, 0.0)
  private val eNew = Array(0.0, 1.0, 0.0)
  private val eOrth = Array(0.1, 0.0, 1.0)
  // batch 0: a semantic dup of the seed under NOVEL text (only the
  // embedding tier can catch it), a fully novel doc, an exact copy
  // (text tier wins precedence over its dup embedding)
  private val b0 = Seq((10L, novel1, e1), (11L, novel3, eNew), (12L, seed, e1))
  // batch 1: an exact copy of batch-0 text, and novel text whose
  // embedding collides with batch-0's ADMITTED vector — proof the
  // ANN tier extended per batch
  private val b1 = Seq((20L, novel3, eOrth), (21L, novel4, eNew))

  private def buildRoots(): (String, String, String) = {
    val s = spark
    import s.implicits._
    val ndx = Files.createTempDirectory("adm4_ndx").toString
    val spx = Files.createTempDirectory("adm4_spx").toString
    val ann = Files.createTempDirectory("adm4_ann").toString
    NearDupIndex.buildIndex(Seq((1L, seed)).toDF("doc_id", "text"), ndx)
    SpanIndex.buildIndex(Seq((1L, seed)).toDF("doc_id", "text"), spx)
    AnnAdmitIndex.buildIndex(Seq((1L, e1)).toDF("vec_id", "embedding"),
      model, ann)
    (ndx, spx, ann)
  }

  private def fourTierBatch(rows: Seq[(Long, String, Array[Double])]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "embedding")
  }

  private def decisions(out: String, batch: Long) =
    spark.read.parquet(s"$out/batch=$batch").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("decision"))
      .toMap

  test("manifests reflect the pre-batch state; later batches reject earlier content") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (ndx, spx, out) = roots()
    val indexed = Seq((1L, seed), (2L, novel1), (3L, novel2))
      .toDF("doc_id", "text")
    NearDupIndex.buildIndex(indexed, ndx)
    SpanIndex.buildIndex(indexed, spx)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.AdmissionStream.ingest(
      in.toDF().toDF("doc_id", "text"), ndx, spx, out,
      Files.createTempDirectory("adm_ck").toString)
    // the remix: every token from indexed content, but no single
    // indexed doc is similar enough to near-reject the whole — the
    // population only the span tier prices
    val remix = seed + " " + novel1 + " " + novel2
    try {
      in.addData(Seq((10L, seed), (11L, novel3), (12L, remix),
        (13L, "tiny doc"))) // sub-window: no span-bill row
      q.processAllAvailable()
      // batch 1: copies of batch-0 content + one genuinely new doc
      in.addData(Seq((20L, novel3), (21L, seed), (22L, novel4)))
      q.processAllAvailable()
    } finally q.stop()
    val d0 = decisions(out, 0)
    assert(d0(10L) === "reject_exact", s"seed copy rejects: $d0")
    assert(d0(11L) === "admit", s"novel admits: $d0")
    assert(d0(12L) === "trim_spans",
      s"a doc made of indexed spans ships through trimming: $d0")
    // n_tokens comes from the batch, not the span bill: a doc shorter
    // than w tokens still counts its tokens toward Σ tokens_retained
    val short0 = spark.read.parquet(s"$out/batch=0")
      .filter(col("doc_id") === 13L).collect().head
    assert(short0.getAs[String]("decision") === "admit" &&
      short0.getAs[Long]("n_tokens") === 2L &&
      short0.getAs[Long]("tokens_retained") === 2L,
      s"sub-window doc must carry its batch token count: $short0")
    val d1 = decisions(out, 1)
    assert(d1(20L) === "reject_exact",
      s"batch-0 admission must reject its later copy: $d1")
    assert(d1(21L) === "reject_exact" && d1(22L) === "admit", s"$d1")
    // both indexes committed one epoch per batch
    assert(NearDupIndex.committedEpochs(ndx).size === 3)
    assert(SpanIndex.committedEpochs(spx).size === 3)
  }

  test("replay after index commits must not recompute the manifest") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (ndx, spx, out) = roots()
    NearDupIndex.buildIndex(Seq((1L, seed)).toDF("doc_id", "text"), ndx)
    SpanIndex.buildIndex(Seq((1L, seed)).toDF("doc_id", "text"), spx)
    val batch = Seq((10L, novel1)).toDF("doc_id", "text")
    // the crash shape: the prior attempt wrote the manifest and
    // committed both index epochs, then died before the checkpoint —
    // model it by doing exactly that by hand for batch id 0
    ShardAdmission.report(batch, ndx, spx)
      .write.mode("overwrite").parquet(s"$out/batch=0")
    NearDupIndex.extendEpoch(batch, ndx, "b0")
    SpanIndex.extendEpoch(batch, spx, "b0")
    val before = decisions(out, 0)
    assert(before === Map(10L -> "admit"), s"pre-crash manifest: $before")
    val mtime = Files.getLastModifiedTime(
      Paths.get(out, "batch=0", "_SUCCESS"))
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.AdmissionStream.ingest(
      in.toDF().toDF("doc_id", "text"), ndx, spx, out,
      Files.createTempDirectory("adm_ck2").toString)
    try {
      in.addData(Seq((10L, novel1))) // the replay of batch id 0
      q.processAllAvailable()
    } finally q.stop()
    assert(decisions(out, 0) === before,
      "a replayed batch must keep the pre-batch-state manifest — a " +
        "recompute would read its own content back as reject_exact")
    assert(Files.getLastModifiedTime(Paths.get(out, "batch=0", "_SUCCESS"))
      === mtime, "the manifest files must not be rewritten at all")
    assert(NearDupIndex.committedEpochs(ndx).count(_.endsWith("/b0")) === 1)
  }

  test("replay after a tail compaction folded the batch epoch still skips " +
      "the manifest recompute") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (ndx, spx, out) = roots()
    NearDupIndex.buildIndex(Seq((1L, seed)).toDF("doc_id", "text"), ndx)
    SpanIndex.buildIndex(Seq((1L, seed)).toDF("doc_id", "text"), spx)
    // the crash shape the r15 ADVICE named: both batches' manifests and
    // epochs committed, then a maintenance tail compaction folded the
    // epoch NAMES away — and only then the process died, before the
    // streaming checkpoint could commit. The replay must see b0/b1 as
    // accounted (covered.json), not recompute manifests against an
    // index that already holds their content.
    val b0 = Seq((10L, novel1)).toDF("doc_id", "text")
    val b1 = Seq((20L, novel2)).toDF("doc_id", "text")
    ShardAdmission.report(b0, ndx, spx)
      .write.mode("overwrite").parquet(s"$out/batch=0")
    NearDupIndex.extendEpoch(b0, ndx, "b0")
    SpanIndex.extendEpoch(b0, spx, "b0")
    ShardAdmission.report(b1, ndx, spx)
      .write.mode("overwrite").parquet(s"$out/batch=1")
    NearDupIndex.extendEpoch(b1, ndx, "b1")
    SpanIndex.extendEpoch(b1, spx, "b1")
    NearDupIndex.compactTail(spark, ndx)
    SpanIndex.compactTail(spark, spx)
    assert(!NearDupIndex.committedEpochs(ndx).exists(_.endsWith("/b0")),
      "precondition: the tail compaction folded the batch epochs")
    val before0 = decisions(out, 0)
    val before1 = decisions(out, 1)
    assert(before0 === Map(10L -> "admit") &&
      before1 === Map(20L -> "admit"), s"$before0 / $before1")
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.AdmissionStream.ingest(
      in.toDF().toDF("doc_id", "text"), ndx, spx, out,
      Files.createTempDirectory("adm_ck3").toString)
    try {
      in.addData(Seq((10L, novel1))) // replayed batch id 0
      q.processAllAvailable()
      in.addData(Seq((20L, novel2))) // replayed batch id 1
      q.processAllAvailable()
    } finally q.stop()
    assert(decisions(out, 0) === before0 && decisions(out, 1) === before1,
      "a folded batch's replay must keep the pre-batch-state manifest — " +
        "recomputing would read its own content back as reject_exact")
    // and the indexes must not double-commit: still base + one merged
    assert(NearDupIndex.committedEpochs(ndx).size === 2 &&
      SpanIndex.committedEpochs(spx).size === 2,
      "replayed folded batches must not re-extend either index")
  }

  test("four-tier streaming: per-batch manifests equal the batch " +
      "reportFullEpoch on the same arrival order; every tier extends") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (ndx, spx, ann) = buildRoots()
    val out = Files.createTempDirectory("adm4_out").toString
    val in = MemoryStream[(Long, String, Array[Double])]
    val q = graft.streaming.AdmissionStream.ingestFull(
      in.toDF().toDF("doc_id", "text", "embedding"), ndx, spx, ann, out,
      Files.createTempDirectory("adm4_ck").toString, tau, nProbe = 1)
    try {
      in.addData(b0); q.processAllAvailable()
      in.addData(b1); q.processAllAvailable()
    } finally q.stop()
    val d0 = decisions(out, 0)
    assert(d0 === Map(10L -> "reject_embed", 11L -> "admit",
      12L -> "reject_exact"), s"four-tier precedence: $d0")
    val d1 = decisions(out, 1)
    assert(d1 === Map(20L -> "reject_exact", 21L -> "reject_embed"),
      s"later batches must see batch-0 content on every tier: $d1")
    assert(Seq(NearDupIndex.committedEpochs(ndx),
      SpanIndex.committedEpochs(spx),
      AnnAdmitIndex.postingsEntries(ann)).forall(_.size === 3),
      "one epoch per batch on every index")
    // the streamed manifests must equal the BATCH composition replayed
    // in the same arrival order on fresh roots
    def manifest(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("decision"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("tokens_retained")))).toMap
    def streamed(batch: Long) =
      manifest(spark.read.parquet(s"$out/batch=$batch"))
    val (ndx2, spx2, ann2) = buildRoots()
    def replay(rows: Seq[(Long, String, Array[Double])], id: Long) = {
      val batch = rows.toDF("doc_id", "text", "embedding")
      val emb = batch.select(col("doc_id").as("vec_id"), col("embedding"))
      val m = manifest(ShardAdmission.reportFullEpoch(
        batch, emb, ndx2, spx2, ann2, tau, nProbe = 1))
      NearDupIndex.extendEpoch(batch, ndx2, s"b$id")
      SpanIndex.extendEpoch(batch, spx2, s"b$id")
      AnnAdmitIndex.extendEpoch(emb, ann2, s"b$id", tau, nProbe = 1)
      m
    }
    assert(replay(b0, 0) === streamed(0) && replay(b1, 1) === streamed(1),
      "streamed four-tier manifests must equal the batch composition")
  }

  test("four-tier maintenance: maintainEvery bounds ALL THREE manifests, " +
      "base epochs untouched, decisions unchanged") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val model = IvfOps.IvfModel(
      Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)))
    val ndx = Files.createTempDirectory("adm5_ndx").toString
    val spx = Files.createTempDirectory("adm5_spx").toString
    val ann = Files.createTempDirectory("adm5_ann").toString
    NearDupIndex.buildIndex(Seq((1L, seed)).toDF("doc_id", "text"), ndx)
    SpanIndex.buildIndex(Seq((1L, seed)).toDF("doc_id", "text"), spx)
    AnnAdmitIndex.buildIndex(
      Seq((1L, Array(1.0, 0.0, 0.0))).toDF("vec_id", "embedding"),
      model, ann)
    def baseOf(root: String) = EpochsOf(root).head
    def EpochsOf(root: String) = graft.core.EpochStore.committedEpochs(root)
    val bases = Seq(ndx, spx, ann).map(r => (r, baseOf(r)))
    val listings = bases.map { case (r, b) =>
      Files.walk(Paths.get(r, b)).map[String](_.toString).sorted().toArray }
    val out = Files.createTempDirectory("adm5_out").toString
    val batches = Seq(
      Seq((10L, novel1, Array(0.0, 1.0, 0.0))),
      Seq((20L, novel2, Array(0.1, 0.0, 1.0))),
      Seq((30L, novel3, Array(0.0, 0.9, 0.1))),
      Seq((40L, novel4, Array(0.7, 0.0, 0.7))))
    val in = MemoryStream[(Long, String, Array[Double])]
    val q = graft.streaming.AdmissionStream.ingestFull(
      in.toDF().toDF("doc_id", "text", "embedding"), ndx, spx, ann, out,
      Files.createTempDirectory("adm5_ck").toString, 950000L, nProbe = 1,
      maintainEvery = 2)
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    // each index accreted 4 batch epochs; maintenance folds whenever the
    // tail reaches 2, so every manifest stays bounded at base + <=2
    Seq(ndx, spx, ann).foreach { r =>
      assert(EpochsOf(r).size <= 3, s"manifest bounded at $r: ${EpochsOf(r)}")
    }
    bases.zip(listings).foreach { case ((r, b), l) =>
      assert(Files.walk(Paths.get(r, b)).map[String](_.toString)
        .sorted().toArray.sameElements(l),
        s"maintenance must never rewrite the base epoch of $r")
    }
    // replay metadata is WATERMARK-PRUNED (coveredFloor = the
    // in-flight id): a batch below the checkpoint frontier can never
    // replay, so its folded name is deliberately forgotten — the
    // in-flight batch (the only replayable one at each fold) must
    // stay accounted, and the accounted b-name set stays O(1)
    // instead of growing with the stream's history
    (Seq(ndx, spx) :+ ann).foreach { r =>
      val accounted = graft.core.EpochStore.accountedNames(r)
        .filter(_.matches("epochs/b[0-9]+"))
      assert(accounted.contains("epochs/b3"),
        s"the latest batch must stay accounted at $r: $accounted")
      assert(accounted.size <= 2,
        s"covered metadata must stay bounded at $r: $accounted")
    }
    // and the live state is unchanged: every ingested doc now rejects
    val rb = batches.zipWithIndex.map { case (b, i) =>
      (100L + i, b.head._2, b.head._3) }.toDF("doc_id", "text", "embedding")
    val d = ShardAdmission.reportFullEpoch(rb,
        rb.select(col("doc_id").as("vec_id"), col("embedding")),
        ndx, spx, ann, 950000L, nProbe = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("decision"))
      .toMap
    assert(d.values.forall(_ == "reject_exact"),
      s"ingested content must reject after maintenance: $d")
  }

  test("x197 dashboard adds ZERO index reads over the x193 manifest — " +
      "the <=5-row rollup cannot double-probe any tier (r16 bench-split " +
      "attribution: a 5x cost delta between them is measurement, not " +
      "plan)") {
    val s = spark
    import s.implicits._
    val model = IvfOps.IvfModel(
      Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)))
    val ndx = Files.createTempDirectory("adm6_ndx").toString
    val spx = Files.createTempDirectory("adm6_spx").toString
    val ann = Files.createTempDirectory("adm6_ann").toString
    NearDupIndex.buildIndex(Seq((1L, seed)).toDF("doc_id", "text"), ndx)
    SpanIndex.buildIndex(Seq((1L, seed)).toDF("doc_id", "text"), spx)
    IvfOps.saveIndex( // the FLAT layout x193/x197 probe
      Seq((1L, Array(1.0, 0.0, 0.0))).toDF("vec_id", "embedding"),
      model, ann)
    val batch = Seq((10L, novel1), (11L, novel2)).toDF("doc_id", "text")
    val emb = Seq((10L, Array(0.0, 1.0, 0.0)), (11L, Array(0.1, 0.0, 1.0)))
      .toDF("vec_id", "embedding")
    // count every data-read leaf: parquet scans, pinned-view
    // checkpoint reads, cache reads. AQE is DISABLED for the
    // comparison: its runtime empty-relation propagation prunes an
    // empty probe join's scan subtree, and on this tiny fixture that
    // fires differently under the two plans (observed: the span
    // postings scan elided from reportFull's final plan but not
    // summary's) — the pin is about STATIC plan structure (the rollup
    // adds no reads), which the non-adaptive plan states exactly.
    def reads(df: org.apache.spark.sql.DataFrame): (Int, Int, Int) = {
      val plan = df.queryExecution.executedPlan.toString
      ("Scan parquet".r.findAllIn(plan).length,
        "Scan ExistingRDD".r.findAllIn(plan).length,
        "InMemoryTableScan".r.findAllIn(plan).length)
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val full = reads(ShardAdmission.reportFull(batch, emb, ndx, spx,
        ann, tauMicro = 950000L, nProbe = 1))
      val summ = reads(ShardAdmission.summary(batch, emb, ndx, spx, ann,
        tauMicro = 950000L, nProbe = 1))
      assert(summ === full,
        s"summary (scans, checkpoint reads, cache reads) $summ must " +
          s"equal reportFull's $full")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("four-tier replay after a crash between two extensions: the " +
      "manifest stays, the uncommitted tiers commit as a clean run's") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ingestB0(ndx: String, spx: String, ann: String, out: String): Unit = {
      val in = MemoryStream[(Long, String, Array[Double])]
      val q = graft.streaming.AdmissionStream.ingestFull(
        in.toDF().toDF("doc_id", "text", "embedding"), ndx, spx, ann, out,
        Files.createTempDirectory("adm7_ck").toString, tau, nProbe = 1)
      try { in.addData(b0); q.processAllAvailable() } finally q.stop()
    }
    val (cNdx, cSpx, cAnn) = buildRoots()
    ingestB0(cNdx, cSpx, cAnn, Files.createTempDirectory("adm7_out").toString)
    // the crash shape: the prior attempt wrote the manifest and committed
    // the near-dup b0, then died before the span and ANN extensions
    val (ndx, spx, ann) = buildRoots()
    val out = Files.createTempDirectory("adm7_out").toString
    val batch = fourTierBatch(b0)
    val emb = batch.select(col("doc_id").as("vec_id"), col("embedding"))
    val near = NearDupIndex.probe(batch, ndx)
    ShardAdmission.reportFullWith(batch,
        AnnAdmitIndex.admit(emb, ann, tau, nProbe = 1, pin = false),
        near, SpanIndex.probe(batch, spx))
      .write.mode("overwrite").parquet(s"$out/batch=0")
    assert(NearDupIndex.commitEpoch(ndx, "b0", near))
    val mtime = Files.getLastModifiedTime(
      Paths.get(out, "batch=0", "_SUCCESS"))
    ingestB0(ndx, spx, ann, out) // the replay of batch id 0
    assert(Files.getLastModifiedTime(Paths.get(out, "batch=0", "_SUCCESS"))
      === mtime, "the manifest must not be rewritten")
    def rows(root: String, t: String) =
      spark.read.parquet(s"$root/epochs/b0/$t").collect().map(_.toString)
        .sorted.toSeq
    assert(rows(spx, "postings") === rows(cSpx, "postings"),
      "the span b0 must equal a clean run's")
    assert(rows(ann, "postings") === rows(cAnn, "postings"),
      "the ANN b0 must equal a clean run's")
    assert(NearDupIndex.committedEpochs(ndx).count(_.endsWith("/b0")) === 1,
      "the near-dup index keeps exactly one b0")
  }

  test("a four-tier micro-batch stays within its Spark job budget") {
    val (ndx, spx, ann) = buildRoots()
    val out = Files.createTempDirectory("adm8_out").toString
    def admit(rows: Seq[(Long, String, Array[Double])], id: Long): Unit =
      graft.streaming.AdmissionStream.admitBatch(fourTierBatch(rows), id,
        ndx, spx, ann, out, tau, nProbe = 1, maintainEvery = 1)
    admit(b0, 0) // batch 1 then compacts a two-epoch tail on every tier
    val (_, jobs) = SparkJobCount(spark.sparkContext)(admit(b1, 1))
    assert(decisions(out, 1) === Map(20L -> "reject_exact",
      21L -> "reject_embed"))
    // Bound measured with this spec's session (local[2], 2 shuffle
    // partitions, AQE on): the batch ran 66 jobs. Signing each text
    // tier twice (manifest and extension) and inferring every epoch
    // read's schema with a job ran 119.
    assert(jobs <= 66, s"$jobs Spark jobs in one micro-batch")
  }
}
