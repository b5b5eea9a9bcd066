package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.StateStore
import graft.operators.{SearchOps, Views}
import graft.server.CrawlPipeline
import graft.server.CrawlPipeline.Config

/** End-to-end slice (SURVEY §7.2): crawl a real fixture tree → merge →
  * hash → flagship duplicate query → change tracking on re-crawl. */
class CrawlPipelineSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  private var fixture: Path = _
  private var stateDir: Path = _
  private val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2024-01-02 00:00:00")

  override def beforeAll(): Unit = {
    super.beforeAll()
    fixture = Files.createTempDirectory("graft_fixture")
    stateDir = Files.createTempDirectory("graft_state")
    // tree:  root/{a.bin, b.bin(dup of a), sub/{c.bin, d.bin(dup of a)}, empty/}
    val sub = Files.createDirectories(fixture.resolve("sub"))
    Files.createDirectories(fixture.resolve("empty"))
    Files.write(fixture.resolve("a.bin"), "duplicate-content".getBytes)
    Files.write(fixture.resolve("b.bin"), "duplicate-content".getBytes)
    Files.write(sub.resolve("c.bin"), "unique-content".getBytes)
    Files.write(sub.resolve("d.bin"), "duplicate-content".getBytes)
  }

  private def state = new StateStore(spark, stateDir.toString)

  test("crawl reaches fixpoint and catalogs the tree") {
    CrawlPipeline.seedDrives(state, Seq(fixture.toString), t1)
    val rounds = CrawlPipeline.runToFixpoint(state, t1)
    assert(rounds.nonEmpty && rounds.last.dueDirs > 0)

    val dirs = state.read("directory").collect().map(_.getString(1)).toSet
    assert(dirs === Set(fixture.toString, s"$fixture/sub", s"$fixture/empty"))

    val files = state.read("file")
    assert(files.count() === 4)
    // file identity = (name, dir_id); ids unique
    assert(files.select("id").distinct().count() === 4)
    // sizes are MB decimals: 17 bytes → 0.000017
    val sz = files.filter(col("name") === "a.bin").head().getDecimal(3)
    assert(sz.toPlainString === "0.000017")
    // every file is queued for hashing
    assert(state.read("hash_control").count() === 4)
    // schedule: all crawled dirs rescheduled into the future, counts right
    val ctl = state.read("directory_control")
    assert(ctl.filter(col("next_crawl") <= lit(t1)).count() === 0)
    val rootCtl = ctl.filter(col("dir_path") === fixture.toString).head()
    assert(rootCtl.getAs[Int]("file_count") === 2)
    assert(rootCtl.getAs[Int]("subdir_count") === 2)
    // adaptive frequency clamped to [900, 604800]
    val freqs = ctl.select("crawl_frequency").collect().map(_.getLong(0))
    assert(freqs.forall(f => f >= 900L && f <= 604800L))
  }

  test("hash round digests match MessageDigest, drains the queue") {
    val n = CrawlPipeline.hashRound(state, t1)
    assert(n === 4)
    assert(state.read("hash_control").count() === 0)
    val hash = state.read("hash")
    assert(hash.count() === 4)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("duplicate-content".getBytes).map("%02x".format(_)).mkString
    val sha = java.security.MessageDigest.getInstance("SHA-1")
      .digest("duplicate-content".getBytes).map("%02x".format(_)).mkString
    val row = state.read("file").filter(col("name") === "a.bin")
      .join(hash.select("file_id", "md5_hash", "sha1_hash"),
        col("id") === col("file_id")).head()
    assert(row.getAs[String]("md5_hash") === md)
    assert(row.getAs[String]("sha1_hash") === sha)
  }

  test("flagship duplicate query finds the planted duplicates") {
    val vwLl = Views.vwLl(state.read("directory"), state.read("file"), state.read("hash"))
    val dups = SearchOps.searchDuplicateFile(vwLl, s"$fixture/a.bin")
    val names = dups.collect().map(_.getAs[String]("name")).sorted
    assert(names === Array("a.bin", "b.bin", "d.bin"))
  }

  test("re-crawl: change-only updates, vanished file archived, hash rescheduled") {
    val before = state.read("file").select("name", "updated_on").collect()
      .map(r => r.getString(0) -> r.getTimestamp(1)).toMap

    // the hash round READ every file, which bumped FS atimes — and atime
    // participates in change detection (faithful to the reference). Reset
    // each file's atime to its recorded value so only intended mutations
    // register as changes.
    val d = state.read("directory").select(col("id").as("d_id"), col("dir_path"))
    state.read("file").join(d, col("dir_id") === col("d_id"))
      .select("dir_path", "name", "atime").collect().foreach { r =>
        Files.setAttribute(
          java.nio.file.Paths.get(r.getString(0), r.getString(1)),
          "lastAccessTime",
          java.nio.file.attribute.FileTime.fromMillis(r.getTimestamp(2).getTime))
      }

    // mutate the tree: change c.bin, delete b.bin, add e.bin
    Files.write(fixture.resolve("sub").resolve("c.bin"), "changed-content!".getBytes)
    Files.delete(fixture.resolve("b.bin"))
    Files.write(fixture.resolve("e.bin"), "fresh".getBytes)

    val rounds = CrawlPipeline.runToFixpoint(state, t2)
    assert(rounds.nonEmpty)

    val after = state.read("file")
    val names = after.select("name").collect().map(_.getString(0)).toSet
    assert(names === Set("a.bin", "c.bin", "d.bin", "e.bin"))

    // change-only semantics: a.bin untouched keeps its updated_on;
    // c.bin changed -> bumped to t2; e.bin new -> inserted at t2
    val ts = after.select("name", "updated_on").collect()
      .map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    assert(ts("a.bin") === before("a.bin"))
    assert(ts("c.bin") === t2)
    assert(ts("e.bin") === t2)

    // b.bin archived with original audit trail + deletion stamp
    val arch = state.read("file_archive").filter(col("name") === "b.bin")
    assert(arch.count() === 1)
    assert(arch.head().getAs[Timestamp]("deleted_on") === t2)
    // its hash rows were cleaned up
    val bId = arch.head().getAs[Long]("id")
    assert(state.read("hash").filter(col("file_id") === bId).count() === 0)

    // changed + new files are back in the hash queue; unchanged are not
    val queued = state.read("hash_control")
      .join(after.select(col("id").as("file_id"), col("name")), Seq("file_id"))
      .select("name").collect().map(_.getString(0)).toSet
    assert(queued === Set("c.bin", "e.bin"))
  }

  test("bucketed file-state mode: same catalog, partial rewrites, empty-bucket cleanup") {
    val cfg = Config(fileBuckets = 8)
    val root = Files.createTempDirectory("graft_bstate")
    val fx = Files.createTempDirectory("graft_bfixture")
    val sub = Files.createDirectories(fx.resolve("sub"))
    Files.write(fx.resolve("r1.bin"), "rootfile".getBytes)
    Files.write(sub.resolve("s1.bin"), "subfile1".getBytes)
    Files.write(sub.resolve("s2.bin"), "subfile2".getBytes)
    val st = new StateStore(spark, root.toString)

    CrawlPipeline.seedDrives(st, Seq(fx.toString), t1)
    CrawlPipeline.runToFixpoint(st, t1, cfg)
    assert(CrawlPipeline.hashRound(st, t1, cfg = cfg) === 3)

    val bs = new graft.core.BucketedState(spark, root.toString, "file", 8)
    val files = bs.read(graft.core.Schemas.file)
    assert(files.count() === 3)
    // bucketed layout on disk
    assert(new java.io.File(s"$root/file").listFiles()
      .exists(_.getName.startsWith("bucket=")))

    // delete EVERY file of sub/ → its bucket's rows must vanish even
    // though dynamic overwrite writes no rows for an emptied bucket
    Files.delete(sub.resolve("s1.bin"))
    Files.delete(sub.resolve("s2.bin"))
    CrawlPipeline.runToFixpoint(st, t2, cfg)

    val after = bs.read(graft.core.Schemas.file)
    assert(after.select("name").collect().map(_.getString(0)).toSet === Set("r1.bin"))
    // both vanished files archived
    assert(st.read("file_archive").filter(col("deleted_on") === lit(t2)).count() === 2)
  }

  test("deep subtree vanishes: whole closure removed via the prefix join, no driver collect") {
    val root = Files.createTempDirectory("graft_dstate")
    val fx = Files.createTempDirectory("graft_dfixture")
    // fx/keep.bin, fx/deep/l1/l2/l3 with a file at every level
    val l3 = Files.createDirectories(fx.resolve("deep/l1/l2/l3"))
    Files.write(fx.resolve("keep.bin"), "keep".getBytes)
    Files.write(fx.resolve("deep/f0.bin"), "d0".getBytes)
    Files.write(fx.resolve("deep/l1/f1.bin"), "d1".getBytes)
    Files.write(fx.resolve("deep/l1/l2/f2.bin"), "d2".getBytes)
    Files.write(l3.resolve("f3.bin"), "d3".getBytes)
    val st = new StateStore(spark, root.toString)

    CrawlPipeline.seedDrives(st, Seq(fx.toString), t1)
    CrawlPipeline.runToFixpoint(st, t1)
    assert(st.read("directory").count() === 5)
    assert(st.read("file").count() === 5)

    // the subtree vanishes wholesale: the re-crawl of fx sees `deep`
    // missing and must remove the entire descendant closure (dirs l1..l3
    // were never re-crawled themselves — only the prefix join reaches them)
    def rm(x: java.io.File): Unit = {
      if (x.isDirectory) x.listFiles().foreach(rm)
      x.delete(): Unit
    }
    rm(fx.resolve("deep").toFile)
    CrawlPipeline.runToFixpoint(st, t2)

    assert(st.read("directory").collect().map(_.getString(1)).toSet === Set(fx.toString))
    assert(st.read("file").select("name").collect().map(_.getString(0)).toSet === Set("keep.bin"))
    assert(st.read("directory_archive").filter(col("deleted_on") === lit(t2)).count() === 4)
    assert(st.read("file_archive").filter(col("deleted_on") === lit(t2)).count() === 4)
    // schedule rows for the vanished dirs are gone too
    assert(st.read("directory_control").count() === 1)
  }

  test("unmounted tree survives: failed scrapes delete nothing, remount restores") {
    val root = Files.createTempDirectory("graft_ustate")
    val fx = Files.createTempDirectory("graft_ufixture")
    val sub = Files.createDirectories(fx.resolve("sub"))
    Files.write(fx.resolve("a.bin"), "aa".getBytes)
    Files.write(sub.resolve("b.bin"), "bb".getBytes)
    val st = new StateStore(spark, root.toString)
    CrawlPipeline.seedDrives(st, Seq(fx.toString), t1)
    CrawlPipeline.runToFixpoint(st, t1)
    assert(st.read("file").count() === 2)

    // "unmount": the whole tree is gone; every due dir's scrape fails.
    // A failed scrape asserts NOTHING about children or files — the
    // catalog must survive untouched, only missing-flagged.
    val parked = fx.resolveSibling("parked_" + fx.getFileName)
    Files.move(fx, parked)
    CrawlPipeline.runToFixpoint(st, t2)
    assert(st.read("directory").count() === 2, "dirs must survive the unmount")
    assert(st.read("file").count() === 2, "files must survive the unmount")
    assert(st.read("file_archive").count() === 0)
    assert(st.read("directory_control").filter(col("dir_missing")).count() > 0)

    // remount and recover: flags clear, catalog unchanged
    Files.move(parked, fx)
    val t3 = Timestamp.valueOf("2024-01-03 00:00:00")
    st.write("directory_control",
      st.read("directory_control").withColumn("next_crawl", lit(t3))
        .withColumn("dir_missing", lit(false)))
    CrawlPipeline.runToFixpoint(st, t3)
    assert(st.read("file").count() === 2)
    assert(st.read("directory").count() === 2)
  }

  test("a root flagged missing is retried once due, and a remount restores it untouched") {
    val root = Files.createTempDirectory("graft_rstate")
    val fx = Files.createTempDirectory("graft_rfixture")
    val sub = Files.createDirectories(fx.resolve("sub"))
    Files.write(fx.resolve("a.bin"), "aa".getBytes)
    Files.write(sub.resolve("b.bin"), "bb".getBytes)
    val st = new StateStore(spark, root.toString)
    CrawlPipeline.seedDrives(st, Seq(fx.toString), t1)
    CrawlPipeline.runToFixpoint(st, t1)
    val files = st.read("file").collect().toSet
    val dirs = st.read("directory").select("id", "dir_path").collect().toSet
    assert(files.size === 2 && dirs.size === 2)

    // unmount: every due dir's scrape fails and is flagged missing, with a
    // retry scheduled missingRetrySeconds (24 h) later
    val parked = fx.resolveSibling("parked_" + fx.getFileName)
    Files.move(fx, parked)
    assert(CrawlPipeline.runToFixpoint(st, t2).map(_.missingDirs).sum === 2)
    assert(st.read("directory_control").filter(!col("dir_missing")).count() === 0)

    // remount; the schedule alone brings the root back, with no edit of
    // directory_control
    Files.move(parked, fx)
    val t3 = Timestamp.valueOf("2024-01-03 01:00:00")
    val rounds = CrawlPipeline.runToFixpoint(st, t3)
    assert(rounds.nonEmpty, "no round ran after the retry came due")
    val ctl = st.read("directory_control")
    val rootCtl = ctl.filter(col("dir_path") === fx.toString).head()
    assert(rootCtl.getAs[Timestamp]("last_crawled") === t3)
    assert(ctl.filter(col("dir_missing")).count() === 0)
    assert(st.read("file").collect().toSet === files)
    assert(st.read("directory").select("id", "dir_path").collect().toSet === dirs)
  }

  /** A fresh state over a fresh copy of the spec's fixture tree, crawled
    * to fixpoint and hashed at `t1`. */
  private def crawledCopy(): (StateStore, Path) = {
    val st = new StateStore(spark, Files.createTempDirectory("graft_cstate").toString)
    val fx = Files.createTempDirectory("graft_cfixture")
    val sub = Files.createDirectories(fx.resolve("sub"))
    Files.createDirectories(fx.resolve("empty"))
    Files.write(fx.resolve("a.bin"), "duplicate-content".getBytes)
    Files.write(fx.resolve("b.bin"), "duplicate-content".getBytes)
    Files.write(sub.resolve("c.bin"), "unique-content".getBytes)
    CrawlPipeline.seedDrives(st, Seq(fx.toString), t1)
    CrawlPipeline.runToFixpoint(st, t1)
    CrawlPipeline.hashRound(st, t1)
    (st, fx)
  }

  test("a round releases its pins") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (st, fx) = crawledCopy()
    Files.write(fx.resolve("new.bin"), "new".getBytes)
    Files.delete(fx.resolve("b.bin"))
    CrawlPipeline.runToFixpoint(st, t2)
    assert(CrawlPipeline.hashRound(st, t2) > 0)
    assert(sc.getPersistentRDDs.keySet === before)
  }

  test("a file queued for hashing and deleted before its hash round is archived once") {
    val (st, fx) = crawledCopy()
    Files.write(fx.resolve("z.bin"), "short-lived".getBytes)
    CrawlPipeline.runToFixpoint(st, t2)
    val zId = st.read("file").filter(col("name") === "z.bin").head().getAs[Long]("id")
    assert(st.read("hash_control").filter(col("file_id") === zId).count() === 1)
    val hashBefore = st.read("hash").collect().toSet
    assert(hashBefore.nonEmpty)

    Files.delete(fx.resolve("z.bin"))
    val t3 = Timestamp.valueOf("2024-01-03 00:00:00")
    val rounds = CrawlPipeline.runToFixpoint(st, t3)
    assert(rounds.map(_.removedFiles).sum === 1)
    val arch = st.read("file_archive").filter(col("id") === zId)
    assert(arch.count() === 1)
    assert(arch.head().getAs[Timestamp]("deleted_on") === t3)
    assert(st.read("file").filter(col("id") === zId).count() === 0)
    assert(st.read("hash_control").filter(col("file_id") === zId).count() === 0)
    assert(st.read("hash").collect().toSet === hashBefore)
  }

  test("a re-crawl round stays within its Spark job budget") {
    // Bound measured with this spec's session (local[4], 4 shuffle
    // partitions, AQE on): the round below ran 44 jobs, counting every
    // shuffle stage and broadcast AQE submits as its own job. A round that
    // re-derived its intermediates and wrote `hash_control` twice ran 71.
    val (st, fx) = crawledCopy()
    Files.write(fx.resolve("sub").resolve("c.bin"), "changed-content!".getBytes)
    Files.write(fx.resolve("e.bin"), "fresh".getBytes)
    Files.delete(fx.resolve("b.bin"))
    val (stats, jobs) = SparkJobCount(spark.sparkContext)(CrawlPipeline.crawlRound(st, t2))
    assert(stats.dueDirs === 3 && stats.removedFiles === 1)
    assert(jobs <= 44, s"$jobs Spark jobs in one crawl round")
  }

  test("a staged file with no digest is queued for hashing though unchanged") {
    // crawled, not hashed: the re-crawl below sees every file unchanged
    val st = new StateStore(spark, Files.createTempDirectory("graft_jstate").toString)
    val fx = Files.createTempDirectory("graft_jfixture")
    Files.write(fx.resolve("a.bin"), "aa".getBytes)
    Files.write(fx.resolve("b.bin"), "bb".getBytes)
    CrawlPipeline.seedDrives(st, Seq(fx.toString), t1)
    CrawlPipeline.runToFixpoint(st, t1)
    // a.bin has a digest (hash rows carry id = file_id, as hashRound writes
    // them); the queue was lost
    val ids = st.read("file").select("name", "id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val s = spark
    import s.implicits._
    st.write("hash", Seq((ids("a.bin"), ids("a.bin"), "m", t1, "s", t1))
      .toDF("id", "file_id", "md5_hash", "md5_hash_time", "sha1_hash", "sha1_hash_time"))
    st.write("hash_control", st.read("hash_control").limit(0))

    CrawlPipeline.runToFixpoint(st, t2)
    assert(st.read("hash_control").select("file_id").collect().map(_.getLong(0)).toSet ===
      Set(ids("b.bin")))
  }

  test("a crawl round writes each state table at most once, directory_control last") {
    val (st, fx) = crawledCopy()
    Files.write(fx.resolve("sub").resolve("c.bin"), "changed-content!".getBytes)
    Files.write(fx.resolve("e.bin"), "fresh".getBytes)
    Files.delete(fx.resolve("b.bin"))
    val logged = new WriteLogStateStore(spark, st.root)
    val stats = CrawlPipeline.crawlRound(logged, t2)
    assert(stats.dueDirs === 3 && stats.removedFiles === 1)
    assert(logged.repeated.isEmpty, s"tables written more than once: ${logged.repeated}")
    assert(logged.writes.toSet === Set("file_archive", "hash", "file", "hash_control",
      "directory", "directory_control"))
    assert(logged.writes.last === "directory_control")
  }

  test("server rounds print as one JSON line") {
    val line = graft.server.ServerMain.roundJson(
      CrawlPipeline.RoundStats(3, 24, 1, 0, 2), hashed = 24, crawlMs = 812, hashMs = 95)
    assert(line === """{"due": 3, "staged_files": 24, "new_dirs": 1, "missing": 0, """ +
      """"removed": 2, "hashed": 24, "crawl_ms": 812, "hash_ms": 95}""")
  }

  test("missing drive root is flagged, retried later, not fatal") {
    val ghostState = new StateStore(spark,
      Files.createTempDirectory("graft_ghost").toString)
    CrawlPipeline.seedDrives(ghostState, Seq("/nonexistent/ghost_dir"), t1)
    val stats = CrawlPipeline.crawlRound(ghostState, t1)
    assert(stats.dueDirs === 1 && stats.missingDirs === 1)
    val ctl = ghostState.read("directory_control").head()
    assert(ctl.getAs[Boolean]("dir_missing"))
    // retried in 24 h (missingRetrySeconds)
    assert(ctl.getAs[Timestamp]("next_crawl") ===
      Timestamp.valueOf("2024-01-02 00:00:00"))
  }
}
