package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.StateStore
import graft.sources.FsScrape.ScrapeRecord
import graft.streaming.StreamingIngest

/** Structured-Streaming ingest (§2.9): staged drops → micro-batch →
  * idempotent merge; replay converges (exactly-once posture). */
class StreamingIngestSpec extends AnyFunSuite with SparkSuite {

  private val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2024-01-02 00:00:00")

  private def rec(kind: String, parent: String, name: String,
                  size: String = null): ScrapeRecord =
    ScrapeRecord(kind, parent, name,
      if (name.isEmpty) parent else s"$parent/$name",
      if (size == null) null else new java.math.BigDecimal(size),
      t1, t1, t1)

  test("staged drops stream into merged state; replayed batch is a no-op") {
    val s = spark
    import s.implicits._
    val stageDir = Files.createTempDirectory("graft_stage").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val state = new StateStore(spark, Files.createTempDirectory("graft_sstate").toString)

    val drop1 = Seq(
      rec("self", "/data", ""),
      rec("dir", "/data", "sub"),
      rec("file", "/data", "a.txt", "0.000010"),
      rec("file", "/data", "b.txt", "0.000020"))
    drop1.toDS().coalesce(1).write.mode("append").parquet(stageDir)

    val q = StreamingIngest.start(state, stageDir, ckpt,
      triggerMs = 200, asOfOverride = Some(t1))
    try {
      q.processAllAvailable()
      assert(state.read("directory").count() === 2) // /data, /data/sub
      assert(state.read("file").count() === 2)

      // second drop: one new file, one unchanged replay of a.txt
      Seq(rec("file", "/data", "a.txt", "0.000010"),
          rec("file", "/data", "c.txt", "0.000030"))
        .toDS().coalesce(1).write.mode("append").parquet(stageDir)
      q.processAllAvailable()

      val files = state.read("file")
      assert(files.count() === 3)
      // idempotent merge: replayed identical a.txt did not duplicate or
      // bump its audit column
      val a = files.filter(col("name") === "a.txt").collect()
      assert(a.length === 1)
      assert(a.head.getAs[Timestamp]("updated_on") === t1)
    } finally q.stop()
  }

  test("mangled (lone-surrogate) names are quarantined: never merged, never lost") {
    val s = spark
    import s.implicits._
    import graft.sources.FsScrape
    val mangled = "report\uD800final.txt" // lone high surrogate: fails UTF-8
    assert(!FsScrape.utf8Encodable(mangled))
    assert(FsScrape.utf8Encodable("plain-ünïcode-😀.txt")) // paired is fine
    // the escape is lossless-by-rendering: lone surrogate becomes \ud800
    assert(FsScrape.escapeLoneSurrogates(mangled) === "report\\ud800final.txt")
    assert(FsScrape.escapeLoneSurrogates("ok-😀") === "ok-😀")

    val st = new StateStore(spark, Files.createTempDirectory("graft_quar").toString)
    val drop = Seq(
      rec("self", "/data", ""),
      rec("file", "/data", "good.txt", "0.000010"),
      // what scrapeDir emits for the mangled entry
      rec("invalid_name", "/data", FsScrape.escapeLoneSurrogates(mangled)))
    StreamingIngest.mergeBatch(st, drop.toDS().toDF(), t1)
    // not ingested: only the valid file reached the catalog
    val names = st.read("file").select("name").as[String].collect().toSet
    assert(names === Set("good.txt"))
    // not lost: the dead-letter row is retrievable from the staged drop
    val q = FsScrape.quarantined(drop.toDS().toDF())
      .select("name").as[String].collect()
    assert(q.toSeq === Seq("report\\ud800final.txt"))
  }

  test("stream reaches state parity with the batch pipeline — hashes and removals included") {
    val s = spark
    import s.implicits._
    val t2 = Timestamp.valueOf("2024-01-02 00:00:00")
    val t3 = Timestamp.valueOf("2024-01-03 00:00:00")
    val fx = Files.createTempDirectory("graft_parity_fx")
    val sub = Files.createDirectories(fx.resolve("sub"))
    Files.write(fx.resolve("x.bin"), "xx-content".getBytes)
    Files.write(sub.resolve("y.bin"), "yy-content".getBytes)
    Files.write(sub.resolve("z.bin"), "zz-content".getBytes)

    val batchState = new StateStore(spark, Files.createTempDirectory("graft_parity_b").toString)
    val streamState = new StateStore(spark, Files.createTempDirectory("graft_parity_s").toString)
    val stageDir = Files.createTempDirectory("graft_parity_stage").toString
    val ckpt = Files.createTempDirectory("graft_parity_ckpt").toString

    import graft.server.CrawlPipeline
    import graft.sources.FsScrape

    def dropScrape(paths: String*): Unit =
      FsScrape.scrapeBatch(spark, paths.toDF("dir_path")).toDF()
        .coalesce(1).write.mode("append").parquet(stageDir)
    def runStream(asOf: Timestamp): Unit = {
      val q = StreamingIngest.start(streamState, stageDir, ckpt,
        triggerMs = 200, asOfOverride = Some(asOf), hashInline = true)
      try q.processAllAvailable() finally q.stop()
    }
    // compare the timestamp-insensitive projection of the whole state
    def snapshot(st: StateStore): (Set[String], Set[(String, Long)], Set[(String, String)], Set[String], Set[String]) = (
      st.read("directory").select("dir_path").collect().map(_.getString(0)).toSet,
      st.read("file").select("name", "dir_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet,
      st.read("file").select(col("id").as("f_id"), col("name"))
        .join(st.read("hash"), col("f_id") === col("file_id"))
        .select("name", "md5_hash").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet,
      st.read("file_archive").select("name").collect().map(_.getString(0)).toSet,
      st.read("directory_archive").select("dir_path").collect().map(_.getString(0)).toSet)

    // phase 1: full catalog + hashes
    dropScrape(fx.toString)
    dropScrape(sub.toString)
    CrawlPipeline.seedDrives(batchState, Seq(fx.toString), t1)
    CrawlPipeline.runToFixpoint(batchState, t1)
    CrawlPipeline.hashRound(batchState, t1)
    runStream(t1)
    assert(snapshot(streamState) === snapshot(batchState))
    assert(snapshot(streamState)._3.size === 3) // all three files hashed

    // phase 2: one file vanishes → J10 removal + archive on both sides
    Files.delete(sub.resolve("y.bin"))
    dropScrape(sub.toString)
    CrawlPipeline.runToFixpoint(batchState, t2)
    runStream(t2)
    assert(snapshot(streamState) === snapshot(batchState))
    assert(snapshot(streamState)._4 === Set("y.bin"))

    // phase 3: the whole subdir vanishes → J11 closure on both sides
    Files.delete(sub.resolve("z.bin"))
    Files.delete(sub)
    dropScrape(fx.toString)
    CrawlPipeline.runToFixpoint(batchState, t3)
    runStream(t3)
    assert(snapshot(streamState) === snapshot(batchState))
    assert(snapshot(streamState)._5 === Set(sub.toString))
    assert(snapshot(streamState)._2 === Set(("x.bin",
      streamState.read("directory").filter(col("dir_path") === fx.toString)
        .head().getLong(0))))

    // at-least-once posture: replaying the LAST batch (same drop, same
    // asOf) must be a complete no-op — including the removal branches
    // (no double-archival) and the hash queue (no re-enqueue)
    val before = snapshot(streamState)
    val archiveRows = streamState.read("file_archive").count()
    val lastDrop = FsScrape.scrapeBatch(spark, Seq(fx.toString).toDF("dir_path")).toDF()
    StreamingIngest.mergeBatch(streamState, lastDrop, t3, hashInline = true)
    assert(snapshot(streamState) === before)
    assert(streamState.read("file_archive").count() === archiveRows)
    assert(streamState.read("hash_control").count() === 0)
  }

  test("pinned asOf across batches: unchanged replay of a just-changed file is not re-queued") {
    val s = spark
    import s.implicits._
    val t2 = Timestamp.valueOf("2024-01-02 00:00:00")
    // synthetic drops (fixed ctime/mtime/atime): the real filesystem bumps
    // atime on hash reads, which is a genuine attribute change and would
    // mask what this test pins down
    val st = new StateStore(spark, Files.createTempDirectory("graft_requeue").toString)
    def dropOf(size: String): org.apache.spark.sql.DataFrame =
      Seq(rec("self", "/data", ""), rec("file", "/data", "a.bin", size)).toDS().toDF()
    def drainQueue(): Unit =
      st.write("hash_control", st.read("hash_control").limit(0))

    StreamingIngest.mergeBatch(st, dropOf("0.000010"), t1)
    assert(st.read("hash_control").count() === 1)
    // simulate the hash consumer: digest recorded, queue drained
    val fid = st.read("file").head().getAs[Long]("id")
    st.write("hash", Seq((1L, fid, "md5x", t1, "sha1x", t1))
      .toDF("id", "file_id", "md5_hash", "md5_hash_time", "sha1_hash", "sha1_hash_time"))
    drainQueue()

    // the file changes at t2 → correctly re-queued despite having a hash
    StreamingIngest.mergeBatch(st, dropOf("0.000020"), t2)
    assert(st.read("hash_control").count() === 1)
    assert(st.read("file").head().getAs[Timestamp]("updated_on") === t2)
    drainQueue()

    // replay an UNCHANGED drop at the SAME pinned asOf: stored
    // updated_on === t2, but no attribute differs — must not re-enter the
    // queue (the old updated_on===ts detection re-queued here)
    StreamingIngest.mergeBatch(st, dropOf("0.000020"), t2)
    assert(st.read("hash_control").count() === 0)
  }

  test("duplicate staged listings: change decision and upsert agree on the same survivor") {
    val s = spark
    import s.implicits._
    val t2 = Timestamp.valueOf("2024-01-02 00:00:00")
    val st = new StateStore(spark, Files.createTempDirectory("graft_dupstage").toString)
    // establish: one file, hashed, queue drained
    StreamingIngest.mergeBatch(st,
      Seq(rec("self", "/data", ""), rec("file", "/data", "a.bin", "0.000010")).toDS().toDF(), t1)
    val fid = st.read("file").head().getAs[Long]("id")
    st.write("hash", Seq((1L, fid, "m", t1, "s", t1))
      .toDF("id", "file_id", "md5_hash", "md5_hash_time", "sha1_hash", "sha1_hash_time"))
    st.write("hash_control", st.read("hash_control").limit(0))
    // the same file listed TWICE in one batch with conflicting sizes (the
    // dir crawled twice in a cadence window): whichever duplicate the
    // dedup keeps, the re-queue decision must match what was written
    StreamingIngest.mergeBatch(st,
      Seq(rec("self", "/data", ""),
        rec("file", "/data", "a.bin", "0.000010"),
        rec("file", "/data", "a.bin", "0.000020")).toDS().toDF(), t2)
    val stored = st.read("file").head().getAs[java.math.BigDecimal]("size")
    val queued = st.read("hash_control").count()
    val changed = stored.compareTo(new java.math.BigDecimal("0.000010")) != 0
    assert(queued === (if (changed) 1L else 0L),
      s"stored size $stored but hash queue has $queued entries")
  }

  test("bucketed streaming state: partial-bucket rewrites, same end state") {
    val s = spark
    import s.implicits._
    val t2 = Timestamp.valueOf("2024-01-02 00:00:00")
    val fx = Files.createTempDirectory("graft_bstream_fx")
    val sub = Files.createDirectories(fx.resolve("sub"))
    Files.write(fx.resolve("r.bin"), "rr".getBytes)
    Files.write(sub.resolve("s.bin"), "ss".getBytes)

    val st = new StateStore(spark, Files.createTempDirectory("graft_bstream").toString)
    import graft.sources.FsScrape
    def drop(paths: String*): org.apache.spark.sql.DataFrame =
      FsScrape.scrapeBatch(spark, paths.toDF("dir_path")).toDF()

    StreamingIngest.mergeBatch(st, drop(fx.toString, sub.toString), t1,
      hashInline = true, fileBuckets = 8)
    val bs = new graft.core.BucketedState(spark, st.root, "file", 8)
    assert(bs.read(graft.core.Schemas.file).count() === 2)
    assert(st.read("hash").count() === 2) // inline hash drained the queue
    // bucketed layout on disk
    assert(new java.io.File(s"${st.root}/file").listFiles()
      .exists(_.getName.startsWith("bucket=")))

    // subtree vanishes → closure removal must clear its bucket rows
    Files.delete(sub.resolve("s.bin"))
    Files.delete(sub)
    StreamingIngest.mergeBatch(st, drop(fx.toString), t2,
      hashInline = true, fileBuckets = 8)
    assert(bs.read(graft.core.Schemas.file).select("name")
      .collect().map(_.getString(0)).toSet === Set("r.bin"))
    assert(st.read("file_archive").filter(col("name") === "s.bin").count() === 1)
    assert(st.read("hash").count() === 1)
  }

  /** A state holding `/data/{a.bin, b.bin, sub/c.bin}` at t1, and the next
    * micro-batch: a.bin modified, n.bin added, b.bin and `sub` vanished. */
  private def removalBatch(st: StateStore): org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    StreamingIngest.mergeBatch(st, Seq(
      rec("self", "/data", ""), rec("dir", "/data", "sub"),
      rec("file", "/data", "a.bin", "0.000010"), rec("file", "/data", "b.bin", "0.000020"),
      rec("self", "/data/sub", ""), rec("file", "/data/sub", "c.bin", "0.000030")).toDS().toDF(), t1)
    Seq(rec("self", "/data", ""),
      rec("file", "/data", "a.bin", "0.000011"), rec("file", "/data", "n.bin", "0.000040"))
      .toDS().toDF()
  }

  test("a micro-batch writes each state table at most once, directory_control last") {
    val st = new WriteLogStateStore(spark, Files.createTempDirectory("graft_wonce").toString)
    val batch = removalBatch(st)
    st.writes.clear()
    StreamingIngest.mergeBatch(st, batch, t2)
    assert(st.repeated.isEmpty, s"tables written more than once: ${st.repeated}")
    assert(st.writes.toSet === Set("directory_archive", "file_archive", "hash", "file",
      "hash_control", "directory", "directory_control"))
    assert(st.writes.last === "directory_control")
    assert(st.read("file").select("name").collect().map(_.getString(0)).toSet ===
      Set("a.bin", "n.bin"))
    assert(st.read("file_archive").select("name").collect().map(_.getString(0)).toSet ===
      Set("b.bin", "c.bin"))
  }

  test("a micro-batch stays within its Spark job budget") {
    val st = new StateStore(spark, Files.createTempDirectory("graft_mbjobs").toString)
    val batch = removalBatch(st)
    val (_, jobs) = SparkJobCount(spark.sparkContext)(StreamingIngest.mergeBatch(st, batch, t2))
    // Bound measured with this spec's session (local[2], 2 shuffle
    // partitions, AQE on): the batch ran 45 jobs. The micro-batch merge that
    // wrote `hash_control` three times and pinned each intermediate
    // separately ran 54.
    assert(jobs <= 45, s"$jobs Spark jobs in one micro-batch")
  }

  test("a micro-batch releases its pins") {
    val sc = spark.sparkContext
    val st = new StateStore(spark, Files.createTempDirectory("graft_mbpins").toString)
    val batch = removalBatch(st)
    val before = sc.getPersistentRDDs.keySet
    StreamingIngest.mergeBatch(st, batch, t2)
    assert(sc.getPersistentRDDs.keySet -- before === Set.empty)
  }
}
