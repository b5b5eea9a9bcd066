package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.EpochStore
import graft.operators.{AnnAdmitIndex, IvfOps}

/** The manifest store's own contracts, independent of any one index:
  * covered-name prune polarity (forget only what the store provably
  * owns), accounted-set cache safety under a same-path rebuild (the
  * `v<N>` token restarts at v1 — the cache must not serve the dead
  * index's set), and explicit gc (retired versions / folded epochs /
  * unreferenced model generations / staging leftovers reclaimed,
  * live state untouched). */
class EpochStoreSpec extends AnyFunSuite with SparkSuite {

  private val model = IvfOps.IvfModel(
    Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)))

  private def emb(rows: (Long, Array[Double])*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  test("pruneCovered polarity: below-floor b-names and generated " +
      "maintenance names drop; custom epoch names survive the floor " +
      "(silent-forget would break an external caller's idempotency)") {
    val gen = "c" + java.util.UUID.randomUUID().toString.take(12)
    val names = Seq("epochs/b3", "epochs/b7", "epochs/b12",
      s"epochs/$gen", "epochs/myCustomLoad", "epochs/e-short")
    val kept = EpochStore.pruneCovered(names, Some(7L))
    assert(kept.contains("epochs/b7") && kept.contains("epochs/b12"),
      s"at-or-above-floor batches must stay accounted: $kept")
    assert(!kept.contains("epochs/b3"),
      "below-floor batches are checkpoint-committed and may be forgotten")
    assert(!kept.contains(s"epochs/$gen"),
      "store-generated compaction names carry no replay obligation")
    assert(kept.contains("epochs/myCustomLoad") &&
      kept.contains("epochs/e-short"),
      s"unrecognized custom names must be kept conservatively: $kept")
    assert(EpochStore.pruneCovered(names, None) === names,
      "no floor keeps everything")
  }

  test("accountedNames survives a same-path delete+rebuild in one JVM " +
      "— the v<N> token restarts at v1, and a token-keyed cache would " +
      "serve the DEAD index's accounted set (silent batch loss)") {
    val root = Files.createTempDirectory("eps_rebuild").toString
    AnnAdmitIndex.buildIndex(emb(1L -> Array(1.0, 0.0, 0.0)), model, root)
    assert(AnnAdmitIndex.extendEpoch(
      emb(11L -> Array(0.0, 1.0, 0.0)), root, "b0", 950000L, nProbe = 1))
    assert(EpochStore.isAccounted(root, "epochs/b0"))
    // delete the whole index and rebuild at the SAME path: CURRENT is
    // v1 again after buildIndex, as it was after the first buildIndex
    EpochStore.deleteRecursively(Paths.get(root))
    AnnAdmitIndex.buildIndex(emb(2L -> Array(1.0, 0.0, 0.0)), model, root)
    assert(!EpochStore.isAccounted(root, "epochs/b0"),
      "the rebuilt index never committed b0 — a stale cache hit here " +
        "would make the stream skip committing the batch (data loss)")
    assert(AnnAdmitIndex.extendEpoch(
      emb(12L -> Array(0.0, 1.0, 0.0)), root, "b0", 950000L, nProbe = 1),
      "the rebuilt index must accept b0 as a NEW batch")
  }

  test("gc reclaims retired versions, folded epochs, unreferenced " +
      "model generations and staging leftovers; live reads unchanged") {
    val root = Files.createTempDirectory("eps_gc").toString
    AnnAdmitIndex.buildIndex(
      emb(1L -> Array(1.0, 0.0, 0.0), 2L -> Array(0.0, 1.0, 0.0)),
      model, root)
    assert(AnnAdmitIndex.extendEpoch(emb(11L -> Array(0.6, 0.8, 0.0)),
      root, "b0", 950000L, nProbe = 1))
    assert(AnnAdmitIndex.extendEpoch(emb(12L -> Array(0.1, 0.0, 1.0)),
      root, "b1", 950000L, nProbe = 1))
    AnnAdmitIndex.compactTail(spark, root, targetRows = 1000L)
    // plant a crashed-stage leftover and a retrain (second model gen)
    Files.createDirectories(Paths.get(root, "model", ".stage-gdead"))
    AnnAdmitIndex.retrain(spark, root,
      emb(1L -> Array(1.0, 0.0, 0.0), 2L -> Array(0.0, 1.0, 0.0),
        11L -> Array(0.6, 0.8, 0.0), 12L -> Array(0.1, 0.0, 1.0)))
    def admits() = AnnAdmitIndex.admit(
      emb(30L -> Array(0.6, 0.8, 0.0)), root, 950000L, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getString(3))).toList
    val before = admits()
    def children(sub: String): Set[String] = {
      val d = Paths.get(root, sub)
      if (!Files.isDirectory(d)) Set.empty
      else {
        import scala.jdk.CollectionConverters._
        val ls = Files.list(d)
        try ls.iterator().asScala.map(_.getFileName.toString).toSet
        finally ls.close()
      }
    }
    assert(!children("model").contains(".stage-gdead"),
      "writeModel must sweep crashed .stage-* leftovers on its next run")
    assert(children("model").size === 2,
      "retired + live generation present before gc")
    val removed = EpochStore.gc(root)
    assert(removed > 0, "gc must reclaim something on this fixture")
    val live = EpochStore.committedEpochs(root).map(EpochStore.entryPath)
    assert(children("epochs") ===
      live.filter(_.startsWith("epochs/")).map(_.stripPrefix("epochs/")).toSet,
      "exactly the live manifest's epoch dirs survive")
    assert(children("model") ===
      live.filter(_.startsWith("model/")).map(_.stripPrefix("model/")).toSet,
      "exactly the live model generation survives")
    val token = EpochStore.currentToken(root)
    assert(children(".").filter(_.matches("v\\d+")) === Set(token),
      "only the live version dir survives")
    assert(admits() === before, "gc must be invisible to the live reads")
    assert(AnnAdmitIndex.hasEpoch(root, "b0") &&
      AnnAdmitIndex.hasEpoch(root, "b1"),
      "replay accounting (covered.json rides the live epochs) survives gc")
  }

  test("readTable starts no schema-inference job and reads what " +
      "spark.read.parquet reads") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("epoch_read").toString
    Seq((1L, "a", Seq(1.0, 2.0)), (2L, null, Seq.empty[Double]))
      .toDF("id", "s", "v").write.parquet(s"$dir/t1")
    Seq((3L, "c", Seq(3.0))).toDF("id", "s", "v").write.parquet(s"$dir/t2")
    val paths = Seq(s"$dir/t1", s"$dir/t2")
    val sc = spark.sparkContext
    val (inferred, inferJobs) = SparkJobCount(sc)(spark.read.parquet(paths: _*))
    val (read, jobs) = SparkJobCount(sc)(EpochStore.readTable(spark, paths))
    assert(inferJobs >= 1, "the inferring read starts a footer job")
    assert(jobs === 0, "the footer schema is read on the driver")
    assert(read.schema === inferred.schema)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(read) === rows(inferred))
  }
}
