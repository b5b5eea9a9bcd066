package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.NearDupIndex

/** Streaming admission into the persisted near-dup index: one epoch
  * per micro-batch, replayed batches are no-ops by epoch NAME, and a
  * crashed half-committed attempt rebuilds deterministically. */
class NearDupStreamSpec extends AnyFunSuite with SparkSuite {

  private val seed =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val novel1 =
    "one two three four five six seven eight nine ten eleven twelve"
  private val novel2 = "fresh words appear here that no other document " +
    "in this corpus has used before at all"

  test("stream batches admit against the live index; later batches see earlier ones") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("nds").toString
    NearDupIndex.buildIndex(Seq((1L, seed)).toDF("doc_id", "text"), root)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.NearDupStream.ingest(
      in.toDF().toDF("doc_id", "text"), root,
      Files.createTempDirectory("nds_ck").toString)
    try {
      in.addData(Seq((10L, novel1), (11L, seed))) // novel + exact dup
      q.processAllAvailable()
      in.addData(Seq((20L, novel1), (21L, novel2))) // batch-1 dup + novel
      q.processAllAvailable()
    } finally q.stop()
    val eps = NearDupIndex.committedEpochs(root)
    assert(eps.size === 3, s"seed epoch + one per micro-batch: $eps")
    assert(eps.exists(_.endsWith("/b0")) && eps.exists(_.endsWith("/b1")))
    // b0 admitted only novel1; b1 admitted only novel2 — the admitted
    // corpus holds exactly three distinct contents
    val cl = spark.read.parquet(eps.map(e => s"$root/$e/cliques"): _*)
    assert(cl.count() === 3, "seed + novel1 + novel2 cliques only")
    val verdicts = NearDupIndex.admit(
      Seq((30L, novel1), (31L, novel2), (32L, seed)).toDF("doc_id", "text"),
      root).collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[String]("verdict")).toMap
    assert(verdicts === Map(30L -> "dup_exact", 31L -> "dup_exact",
      32L -> "dup_exact"), s"everything ingested must now reject: $verdicts")
  }

  test("maintainEvery bounds the manifest; admissions and virality unchanged") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = (0 until 6).map(i => s"document number $i carries its own " +
      s"distinct wording variant so every batch admits fresh content $i")
    def run(maintain: Int): (String, Seq[String]) = {
      val root = Files.createTempDirectory(s"nds_m$maintain").toString
      NearDupIndex.buildIndex(Seq((1L, seed)).toDF("doc_id", "text"), root)
      val base = NearDupIndex.committedEpochs(root).head
      val baseListing = Files.walk(Paths.get(root, base))
        .map[String](_.toString).sorted().toArray
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.NearDupStream.ingest(
        in.toDF().toDF("doc_id", "text"), root,
        Files.createTempDirectory("nds_mck").toString,
        maintainEvery = maintain)
      try texts.zipWithIndex.foreach { case (t, i) =>
        in.addData(Seq((10L + i, t), (100L + i, seed))) // fresh + rejected
        q.processAllAvailable()
      } finally q.stop()
      val eps = NearDupIndex.committedEpochs(root)
      assert(eps.head === base && Files.walk(Paths.get(root, base))
        .map[String](_.toString).sorted().toArray.sameElements(baseListing),
        "the base epoch is never rewritten by maintenance")
      (root, eps)
    }
    val (plainRoot, plainEps) = run(0)
    val (maintRoot, maintEps) = run(3)
    assert(plainEps.size === 7, s"unmaintained: seed + 6 epochs: $plainEps")
    assert(maintEps.size <= 4,
      s"maintained manifest must stay bounded: $maintEps")
    val probe = (texts.zipWithIndex.map { case (t, i) => (200L + i, t) } :+
      ((300L, seed)) :+ ((301L, novel2))).toDF("doc_id", "text")
    def verdicts(root: String) = NearDupIndex.admit(probe, root).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"), r.getAs[Long]("best_est_ppm")))).toMap
    assert(verdicts(maintRoot) === verdicts(plainRoot),
      "maintenance must not change any admission")
    def vir(root: String) = NearDupIndex.virality(spark, root).collect()
      .map(r => r.getAs[String]("fp") ->
        ((r.getAs[Long]("n_epoch_copies"), r.getAs[Long]("n_copies")))).toMap
    val vp = vir(plainRoot)
    assert(vir(maintRoot) === vp, "maintenance must preserve the ledger")
    // the seed content was exact-rejected once per micro-batch
    assert(vp.values.exists(_ == ((1L, 7L))),
      s"seed: 1 epoch copy + 6 ledgered rejections: $vp")
  }

  test("replayed batch id is a no-op; crashed attempt rebuilds and commits") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("nds2").toString
    NearDupIndex.buildIndex(Seq((1L, seed)).toDF("doc_id", "text"), root)
    val batch = Seq((10L, novel1)).toDF("doc_id", "text")
    assert(NearDupIndex.extendEpoch(batch, root, "b0"))
    val after = NearDupIndex.committedEpochs(root)
    // at-least-once replay: same batch, same id — committed name wins
    assert(!NearDupIndex.extendEpoch(batch, root, "b0"))
    assert(NearDupIndex.committedEpochs(root) === after,
      "replay must not grow the manifest")
    // crash mid-commit of b1: the epoch dir moved into place but the
    // manifest was never promoted — the retry rebuilds and commits
    Files.createDirectories(Paths.get(root, "epochs", "b1", "cliques"))
    assert(NearDupIndex.extendEpoch(
      Seq((20L, novel2)).toDF("doc_id", "text"), root, "b1"))
    val eps = NearDupIndex.committedEpochs(root)
    assert(eps.exists(_.endsWith("/b1")))
    val cl = spark.read.parquet(eps.map(e => s"$root/$e/cliques"): _*)
    assert(cl.count() === 3, "rebuilt b1 holds exactly the novel content")
  }
}
