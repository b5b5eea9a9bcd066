package graft.server

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{BucketedState, Schemas, StateStore}
import graft.operators.{MergeOps, ScheduleOps}
import graft.sources.{FsScrape, HashSource}

/** The crawl/merge/hash dataflow (SURVEY §3.2–3.3) as a batch fixpoint
  * loop: each round selects the due frontier from `directory_control`,
  * scrapes one directory level per due dir, merges staged rows (M1/M2),
  * archives vanished entries, schedules hashing (J12), and reschedules
  * crawled dirs adaptively (M3+M7). New subdirs discovered by a round are
  * scheduled for the next — the reference's recursive crawl across rounds
  * (`Server/__init__.py:217-225`).
  *
  * Differences from the reference, by design (SURVEY §7.4):
  *   - no claim protocol — the batch IS the ownership unit;
  *   - removals are archived+applied synchronously inside the round
  *     rather than drained from `db_removal_*` queues by a 1 s timer
  *     (same end state, one less moving part);
  *   - cross-table atomicity is per-table swap + idempotent re-run,
  *     mirroring the reference's `ON CONFLICT DO NOTHING` posture.
  */
object CrawlPipeline {

  final case class Config(
      batchSize: Int = 10000, // due dirs per round
      divideSeconds: Int = 30, // M7: DirectoryCrawl.py:1011-1019
      minFrequencySeconds: Int = 900,
      maxFrequencySeconds: Int = 604800,
      missingRetrySeconds: Int = 86400, // DirectoryCrawl.py:1020-1024
      deleteMissing: Boolean = true,
      // >0 = keep `file` state hash-bucketed by dir_id and rewrite only
      // the buckets a round touches (O(batch), not O(table) — the 100 TB
      // merge shape; see BucketedState). 0 = whole-table swap writes.
      fileBuckets: Int = 0)

  final case class RoundStats(
      dueDirs: Long, stagedFiles: Long, stagedDirs: Long,
      missingDirs: Long, removedFiles: Long)

  /** Seed crawl roots (S7): insert into `drive` and schedule them
    * (J9 anti-join — only roots not already scheduled). */
  def seedDrives(state: StateStore, roots: Seq[String], now: Timestamp): Unit = {
    val spark = state.spark
    import spark.implicits._
    val ts = lit(now)
    val newDrives = roots.distinct.toDF("dir_path")
      .join(state.read("drive").select("dir_path"), Seq("dir_path"), "left_anti")
      .select(pmod(xxhash64(col("dir_path")), lit(Long.MaxValue)).as("id"),
        col("dir_path"), ts.as("inserted_on"))
    state.write("drive", state.read("drive").unionByName(newDrives))

    val unscheduled = ScheduleOps.unscheduledDrives(
      state.read("drive"), state.read("directory_control"))
    val seeded = unscheduled.select(
      col("dir_path"), lit(null).cast("long").as("dir_id"),
      lit(0).as("file_count"), lit(0).as("subdir_count"),
      ts.as("next_crawl"), lit(86400L).as("crawl_frequency"),
      lit(null).cast("int").as("assigned_process_id"),
      lit(null).cast("timestamp").as("process_assigned_on"),
      lit(null).cast("timestamp").as("last_crawled"),
      lit(null).cast("timestamp").as("last_active"),
      lit(false).as("dir_missing"), ts.as("inserted_on"))
    state.write("directory_control",
      state.read("directory_control").unionByName(seeded))
  }

  /** One crawl round. Returns stats; `dueDirs == 0` means fixpoint. */
  def crawlRound(state: StateStore, now: Timestamp,
                 cfg: Config = Config()): RoundStats = {
    val spark = state.spark
    val ts = lit(now)

    // T1 frontier selection (claim-free batch ownership). The frontier is
    // pinned (localCheckpoint, bounded by batchSize) because later plans
    // reuse it after directory_control has been swap-written mid-round —
    // a stale file listing would otherwise FAILED_READ_FILE.
    val ctl = state.read("directory_control")
    val due = ctl.filter(col("next_crawl") <= ts && !col("dir_missing"))
      .withColumn("priority", ScheduleOps.crawlPriority(ts))
      .orderBy(col("priority").desc, col("dir_path"))
      .limit(cfg.batchSize)
      .select("dir_path")
      .localCheckpoint(true)
    val nDue = due.count()
    if (nDue == 0) return RoundStats(0, 0, 0, 0, 0)

    // S1–S3 scrape; materialize once to the staging area (the micro-batch
    // IS the staging table — SURVEY §1.1) so lazy re-reads don't re-scrape
    val scraped = FsScrape.scrapeBatch(spark, due)
    scraped.write.mode("overwrite").parquet(s"${state.root}/.stage_scrape")
    val stagedAll = spark.read.parquet(s"${state.root}/.stage_scrape")
    val files0 = stagedAll.filter(col("kind") === "file").select(
      col("name"), col("dirPath").as("dir_path"),
      col("sizeMb").cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("size"),
      col("ctime"), col("mtime"), col("atime"))
    val dirs0 = stagedAll.filter(col("kind") === "dir").select(
      col("fullPath").as("dir_path"), col("ctime"), col("mtime"))
    val missing0 = stagedAll.filter(col("kind") === "missing_dir")
      .select(col("dirPath").as("dir_path"))

    // M2: upsert scraped subdirs AND the crawled dirs themselves (their
    // own metadata arrives as `self` records — S3)
    val selfDirs = stagedAll.filter(col("kind") === "self").select(
      col("fullPath").as("dir_path"), col("ctime"), col("mtime"))
    val dirStage = dirs0.unionByName(selfDirs).dropDuplicates("dir_path")
    val newDirectory = MergeOps.upsertDirs(state.read("directory"), dirStage, now)
    state.write("directory", newDirectory)
    val directory = state.read("directory")

    val bucketed = if (cfg.fileBuckets > 0)
      Some(new BucketedState(spark, state.root, "file", cfg.fileBuckets)) else None
    def readFileFull(): DataFrame =
      bucketed.map(_.read(Schemas.file)).getOrElse(state.read("file"))

    // J11: subdirs recorded under a crawled parent but absent from its
    // scrape vanished on disk — delete their whole closure (recursive via
    // the path-prefix join inside deleteDirectoriesDf) with archiving.
    // The vanished roots stay a DataFrame end-to-end (no driver collect —
    // a mass-deletion round is a broadcast prefix join, not a 100k-term
    // literal filter). localCheckpoint pins the root set so the many
    // consumers below don't re-derive it, and so it survives the
    // directory-table swap. Write order matters: every plan below reads
    // the ORIGINAL directory/file tables, so those two swap LAST.
    val removedRoots: DataFrame = if (cfg.deleteMissing) {
      directory
        .withColumn("parent_path",
          graft.functions.PathExpressions.basepathFast(col("dir_path")))
        // key on dirs that actually SCRAPED (self record), not merely due:
        // a parent whose scrape failed (missing/unmounted) asserts nothing
        // about its children — deleting them would turn a transient mount
        // failure into data loss
        .join(selfDirs.select(col("dir_path").as("parent_path")), Seq("parent_path"), "left_semi")
        // a drive root self-parents (basepath of a top-level path is
        // itself) — roots are never deleted here, only flagged missing
        .filter(col("parent_path") =!= col("dir_path"))
        .join(dirs0.select("dir_path"), Seq("dir_path"), "left_anti") // parent scrape lists it → alive
        .join(selfDirs.select("dir_path"), Seq("dir_path"), "left_anti") // it scraped itself → alive
        .select(col("dir_path").as("root_path")).localCheckpoint(true)
    } else spark.emptyDataFrame.withColumn("root_path", lit(""))
    if (cfg.deleteMissing && !removedRoots.isEmpty) {
      val (remainingDirs, remainingFiles, dirArchive, fileArchive) =
        MergeOps.deleteDirectoriesDf(directory, readFileFull(),
          removedRoots, deleteSubdirs = true, now)
      state.append("directory_archive", dirArchive)
      state.append("file_archive", fileArchive)
      val doomedFileIds = fileArchive.select(col("id").as("file_id"))
      state.write("hash",
        state.read("hash").join(doomedFileIds, Seq("file_id"), "left_anti"))
      state.write("hash_control",
        state.read("hash_control").join(doomedFileIds, Seq("file_id"), "left_anti"))
      state.write("directory_control",
        state.read("directory_control")
          .join(dirArchive.select(col("dir_path")), Seq("dir_path"), "left_anti"))
      bucketed match {
        case Some(bs) =>
          val affected = fileArchive.select(bs.bucketOf(col("dir_id")).as("b"))
            .distinct().collect().map(_.getInt(0)).toSeq
          if (affected.nonEmpty)
            bs.overwriteBuckets(
              bs.readBuckets(Schemas.file, affected)
                .join(doomedFileIds, col("id") === col("file_id"), "left_anti"),
              "dir_id", affected)
        case None => state.write("file", remainingFiles)
      }
      state.write("directory", remainingDirs) // LAST — upstream plans read it
    }
    val directoryAfterRemoval = state.read("directory")
    // fresh handle: the removal block may have swap-written the control
    // table, invalidating `ctl`'s captured file listing
    val ctlAfterRemoval = state.read("directory_control")

    // resolve staged files to dir ids
    val dirIds = directoryAfterRemoval.select(col("id").as("dir_id"), col("dir_path"))
    val stagedFiles = files0.join(dirIds, Seq("dir_path")).drop("dir_path")
    // completeness is asserted only by dirs that actually scraped — a due
    // dir whose scrape failed must not have its files declared vanished
    val crawledDirIds = selfDirs.select("dir_path").join(dirIds, Seq("dir_path"))
      .select("dir_id")

    // M1 removal branch (J10): files under crawled dirs absent from the
    // snapshot → archive + delete (+ hash/hash_control cleanup, M6 shape).
    // In bucketed mode the merge only ever reads/writes the buckets of
    // the crawled dirs (staged + vanished rows all live there).
    val affectedBuckets: Seq[Int] = bucketed.map { bs =>
      crawledDirIds.select(bs.bucketOf(col("dir_id")).as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq
    }.getOrElse(Nil)
    val fileTable = bucketed
      .map(_.readBuckets(Schemas.file, affectedBuckets))
      .getOrElse(state.read("file"))
    val vanished = if (cfg.deleteMissing)
      MergeOps.missingFilesIn(fileTable, stagedFiles, crawledDirIds)
    else fileTable.limit(0)
    val nVanished = vanished.count()
    if (nVanished > 0) {
      state.append("file_archive", vanished.select(
        col("id"), col("name"), col("dir_id"), col("size"),
        col("ctime"), col("mtime"), col("atime"),
        col("inserted_on").as("original_inserted_on"),
        col("updated_on").as("original_updated_on"), ts.as("deleted_on")))
      val vanishedIds = vanished.select(col("id").as("file_id"))
      state.write("hash",
        state.read("hash").join(vanishedIds, Seq("file_id"), "left_anti"))
      state.write("hash_control",
        state.read("hash_control").join(vanishedIds, Seq("file_id"), "left_anti"))
    }

    // M1 upsert (change-only updates) — then drop vanished rows
    val upserted = MergeOps.upsertFiles(fileTable, stagedFiles, now)
    val newFile =
      if (nVanished > 0)
        upserted.join(vanished.select(col("id")), Seq("id"), "left_anti")
      else upserted
    bucketed match {
      case Some(bs) => bs.overwriteBuckets(newFile, "dir_id", affectedBuckets)
      case None => state.write("file", newFile)
    }
    val fileAfter = bucketed
      .map(_.readBuckets(Schemas.file, affectedBuckets))
      .getOrElse(state.read("file"))

    // M1 hash-scheduling branch: staged files that are not hashed yet
    // (J12) OR changed this round (DirectoryCrawl.py:856-873 re-queues on
    // mtime change — our change-only upsert stamped those updated_on=now)
    val stagedKeys = stagedFiles.select("dir_id", "name").distinct()
    val stagedCurrent = fileAfter.join(stagedKeys, Seq("dir_id", "name"), "left_semi")
    val unhashed = stagedCurrent.join(state.read("hash").select(col("file_id")),
      col("id") === col("file_id"), "left_anti")
    val changedNow = stagedCurrent.filter(col("updated_on") === ts)
    val needHash = unhashed.unionByName(changedNow).dropDuplicates("id")
      .select(col("id").as("file_id"), col("mtime"),
        col("size").as("file_size"),
        lit(null).cast("timestamp").as("process_assigned_on"),
        lit(false).as("file_missing"), ts.as("inserted_on"))
      .join(state.read("hash_control").select("file_id"), Seq("file_id"), "left_anti")
    state.write("hash_control", state.read("hash_control").unionByName(needHash))

    // M3 + M7: reschedule crawled dirs from the snapshot's activity
    // (counts/activity key on the scraped parent path directly)
    val fileCounts = stagedAll.filter(col("kind") === "file")
      .groupBy(col("dirPath").as("dir_path")).agg(count(lit(1)).as("fc"))
    val subdirCounts = stagedAll.filter(col("kind") === "dir")
      .groupBy(col("dirPath").as("dir_path")).agg(count(lit(1)).as("sc"))
    val activity = stagedAll.filter(col("kind").isin("file", "dir"))
      .select(col("dirPath").as("dir_path"), col("ctime"))
      .groupBy("dir_path").agg(max(col("ctime")).as("last_ctime"))
    val freq = due
      .join(activity, Seq("dir_path"), "left")
      .join(ctlAfterRemoval.select(col("dir_path"), col("inserted_on")), Seq("dir_path"))
    val withFreq = ScheduleOps.crawlFrequency(freq, ts, cfg.divideSeconds,
      cfg.minFrequencySeconds, cfg.maxFrequencySeconds)
      .select(col("dir_path"), col("crawl_frequency").as("new_freq"))

    // M3 core is the shared operator (oracle-gated as m3_mark_crawled);
    // the pipeline's claim-free batch model clears every claim and
    // un-flags missing dirs each round (the retry path — see the
    // markDirsCrawled doc), then re-resolves dir ids for dirs first seen
    // this round.
    val crawledInfo = due.select(col("dir_path"))
      .join(fileCounts, Seq("dir_path"), "left")
      .join(subdirCounts, Seq("dir_path"), "left")
      .join(withFreq, Seq("dir_path"), "left")
      .select(col("dir_path"), col("fc"), col("sc"), col("new_freq"))
    val crawledUpdate = ScheduleOps.markDirsCrawled(
        ctlAfterRemoval, crawledInfo, missing0, ts,
        cfg.missingRetrySeconds, clearAllClaims = true, preserveMissing = false)
      .join(dirIds.select(col("dir_path"), col("dir_id").as("resolved_id")),
        Seq("dir_path"), "left")
      .withColumn("dir_id", coalesce(col("resolved_id"), col("dir_id")))
      .drop("resolved_id")

    // schedule newly discovered subdirs (M2 insert branch — never reschedule
    // existing entries: DirectoryCrawl.py:933-945)
    val newCtl = dirs0.select("dir_path").distinct()
      .join(ctlAfterRemoval.select("dir_path"), Seq("dir_path"), "left_anti")
      .join(dirIds, Seq("dir_path"))
      .select(col("dir_path"), col("dir_id"),
        lit(0).as("file_count"), lit(0).as("subdir_count"),
        ts.as("next_crawl"), lit(86400L).as("crawl_frequency"),
        lit(null).cast("int").as("assigned_process_id"),
        lit(null).cast("timestamp").as("process_assigned_on"),
        lit(null).cast("timestamp").as("last_crawled"),
        lit(null).cast("timestamp").as("last_active"),
        lit(false).as("dir_missing"), ts.as("inserted_on"))

    state.write("directory_control", crawledUpdate.unionByName(newCtl))

    RoundStats(nDue, stagedFiles.count(), dirs0.count(), missing0.count(), nVanished)
  }

  /** Run crawl rounds until the frontier drains (or maxRounds). Returns
    * per-round stats. With a frozen `now`, rescheduled dirs are never due
    * again within the run, so this terminates when the tree is exhausted. */
  def runToFixpoint(state: StateStore, now: Timestamp,
                    cfg: Config = Config(), maxRounds: Int = 100): Seq[RoundStats] = {
    val out = Seq.newBuilder[RoundStats]
    var rounds = 0
    var continue = true
    while (continue && rounds < maxRounds) {
      val stats = crawlRound(state, now, cfg)
      if (stats.dueDirs > 0) out += stats
      continue = stats.dueDirs > 0
      rounds += 1
    }
    out.result()
  }

  /** One hash round (§3.3): T2 smallest-first selection → S4 streamed
    * dual-hash → M4 merge into `hash` + drain `hash_control`. */
  def hashRound(state: StateStore, now: Timestamp, limit: Int = 10000,
                cfg: Config = Config()): Long = {
    val spark = state.spark
    val work = ScheduleOps.filesToHash(
      state.read("hash_control"),
      fullPaths(state, cfg), limit)
    if (work.isEmpty) return 0L
    val hashed = HashSource.hashBatch(spark, work, now)
    hashed.write.mode("overwrite").parquet(s"${state.root}/.stage_hash")
    val stagedRaw = spark.read.parquet(s"${state.root}/.stage_hash")
    val staged = stagedRaw.filter(col("error").isNull).select(
      col("file_id").as("id"), col("file_id"),
      col("md5_hash"), col("hashed_on").as("md5_hash_time"),
      col("sha1_hash"), col("hashed_on").as("sha1_hash_time"))
    val (newHash, newCtl) = MergeOps.mergeHashes(
      state.read("hash"), state.read("hash_control"), staged)
    val n = staged.count()
    state.write("hash", newHash)
    // unreadable files: flag instead of retry-looping (file_missing)
    val failed = stagedRaw.filter(col("error").isNotNull)
      .select(col("file_id"), lit(true).as("read_failed"))
    state.write("hash_control",
      newCtl.join(failed, Seq("file_id"), "left")
        .withColumn("file_missing",
          when(coalesce(col("read_failed"), lit(false)), lit(true))
            .otherwise(col("file_missing")))
        .drop("read_failed"))
    n
  }

  /** `(id, full_path)` of every file — the vw_file_detail projection the
    * hash selector joins against. */
  private def fullPaths(state: StateStore, cfg: Config = Config()): DataFrame = {
    val d = state.read("directory").select(col("id").as("d_id"), col("dir_path"))
    val file = if (cfg.fileBuckets > 0)
      new BucketedState(state.spark, state.root, "file", cfg.fileBuckets)
        .read(Schemas.file)
    else state.read("file")
    file
      .join(d, col("dir_id") === col("d_id"))
      .select(col("id"),
        graft.functions.PathFunctions.pathJoin(col("dir_path"), col("name")).as("full_path"))
  }
}
