package graft.server

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{BucketedState, PinScope, Schemas, StateStore}
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
  *
  * The merge after the scrape is [[mergeScrape]], the one core that both
  * `crawlRound` and `StreamingIngest.mergeBatch` call. Like the reference's
  * one `WITH … DELETE … RETURNING → INSERT` statement per table
  * (`DirectoryCrawl.py:797-1045`), it evaluates each staged relation once
  * and writes each state table once:
  *   - pin once: every relation read more than once is pinned
  *     (`localCheckpoint`) into the round's or micro-batch's [[PinScope]],
  *     opened by `crawlRound`, `hashRound` or `mergeBatch` and passed to
  *     the core — and only O(batch) ones: the staged batch (the
  *     stream's; the crawl's is `.stage_scrape`), the frontier and the
  *     per-dir M3/M7 inputs (crawl only), the staged dirs with their ids,
  *     the removed roots and their closure, the staged files, the removed
  *     files. Nothing O(table) (`file`, `hash`, `hash_control`, `directory`,
  *     the upserts over them) is ever pinned; those are read where they are
  *     written. The pins are released when the scope closes, as the round
  *     or micro-batch returns.
  *   - write once, in this order: the archives, `hash`, `file`,
  *     `hash_control`, `directory` (the core), then `directory_control`
  *     (the caller) last — the schedule is the round's commit, so a round
  *     cut short before it is re-run from the same frontier.
  */
object CrawlPipeline {

  final case class Config(
      batchSize: Int = 10000, // due dirs per round
      divideSeconds: Int = 30, // M7: DirectoryCrawl.py:1011-1019
      minFrequencySeconds: Int = 900,
      maxFrequencySeconds: Int = 604800,
      missingRetrySeconds: Int = 86400, // DirectoryCrawl.py:1020-1024
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
    val seeded = firstSchedule(
      unscheduled.select(col("dir_path"), lit(null).cast("long").as("dir_id")), ts)
    state.write("directory_control",
      state.read("directory_control").unionByName(seeded))
  }

  /** One crawl round. Returns stats; `dueDirs == 0` means fixpoint. */
  def crawlRound(state: StateStore, now: Timestamp,
                 cfg: Config = Config()): RoundStats =
    PinScope(crawlWith(state, now, cfg, _))

  private def crawlWith(state: StateStore, now: Timestamp, cfg: Config,
                        pin: PinScope): RoundStats = {
    val spark = state.spark
    val ts = lit(now)
    val ctl = state.read("directory_control")

    // T1 frontier selection (claim-free batch ownership). `next_crawl`
    // alone decides: a dir flagged missing comes due again at the retry
    // time markDirsCrawled gave it. `inserted_on` rides along for M7
    val due = pin(ctl.filter(col("next_crawl") <= ts)
      .withColumn("priority", ScheduleOps.crawlPriority(ts))
      .orderBy(col("priority").desc, col("dir_path"))
      .limit(cfg.batchSize)
      .select("dir_path", "inserted_on"))
    if (due.isEmpty) return RoundStats(0, 0, 0, 0, 0)

    // S1–S3 scrape; materialize once to the staging area (the micro-batch
    // IS the staging table — SURVEY §1.1) so lazy re-reads don't re-scrape
    val scraped = FsScrape.scrapeBatch(spark, due)
    scraped.write.mode("overwrite").parquet(s"${state.root}/.stage_scrape")
    val stagedAll = spark.read.parquet(s"${state.root}/.stage_scrape")
    // M3 + M7 inputs per due dir, from one aggregate over the scrape: file
    // and subdir counts, and the adaptive frequency from the newest ctime
    val crawledInfo = pin(ScheduleOps.crawlFrequency(
        due.join(stagedAll.filter(col("kind").isin("file", "dir"))
          .groupBy(col("dirPath").as("dir_path"))
          .agg(count(when(col("kind") === "file", true)).as("fc"),
            count(when(col("kind") === "dir", true)).as("sc"),
            max(col("ctime")).as("last_ctime")), Seq("dir_path"), "left"),
        ts, cfg.divideSeconds, cfg.minFrequencySeconds, cfg.maxFrequencySeconds)
      .select(col("dir_path"), col("fc"), col("sc"), col("crawl_frequency").as("new_freq")))

    val merged = mergeScrape(state, stagedAll, now, cfg, pin)

    // M3 + M7: reschedule crawled dirs. M3 core is the shared operator
    // (oracle-gated as m3_mark_crawled); the pipeline's claim-free batch
    // model clears every claim and un-flags missing dirs each round (the
    // retry path — see the markDirsCrawled doc), then re-resolves dir ids
    // for dirs first seen this round.
    val ctlKept = merged.withoutDoomed(ctl)
    val crawledUpdate = ScheduleOps.markDirsCrawled(
        ctlKept, crawledInfo,
        stagedAll.filter(col("kind") === "missing_dir").select(col("dirPath").as("dir_path")),
        ts, cfg.missingRetrySeconds, clearAllClaims = true, preserveMissing = false)
      .join(state.read("directory").select(col("dir_path"), col("id").as("resolved_id")),
        Seq("dir_path"), "left")
      .withColumn("dir_id", coalesce(col("resolved_id"), col("dir_id")))
      .drop("resolved_id")

    // schedule newly discovered subdirs (M2 insert branch — never reschedule
    // existing entries: DirectoryCrawl.py:933-945)
    val newCtl = firstSchedule(merged.liveDirs.filter(col("listed"))
      .join(ctlKept.select("dir_path"), Seq("dir_path"), "left_anti"), ts)

    state.write("directory_control", crawledUpdate.unionByName(newCtl))

    // each due dir's scrape yields exactly one `self` or `missing_dir` row
    RoundStats(merged.scraped + merged.missingDirs, merged.stagedFiles,
      merged.listedDirs, merged.missingDirs, merged.removedFiles)
  }

  /** `directory_control` rows scheduling `dirs` (`dir_path`, `dir_id`) for
    * a first crawl at `ts`. */
  private def firstSchedule(dirs: DataFrame, ts: Column): DataFrame =
    dirs.select(col("dir_path"), col("dir_id"),
      lit(0).as("file_count"), lit(0).as("subdir_count"),
      ts.as("next_crawl"), lit(86400L).as("crawl_frequency"),
      lit(null).cast("int").as("assigned_process_id"),
      lit(null).cast("timestamp").as("process_assigned_on"),
      lit(null).cast("timestamp").as("last_crawled"),
      lit(null).cast("timestamp").as("last_active"),
      lit(false).as("dir_missing"), ts.as("inserted_on"))

  /** What [[mergeScrape]] leaves to its caller, which writes
    * `directory_control` last: the archive rows of the removed dirs (the
    * J11 closure, pinned), the staged dirs that survive (`dir_path`,
    * `dir_id`, `listed`, `scraped`, `has_files`), and the row counts. */
  private[graft] final case class Merged(
      doomedDirs: Option[DataFrame], liveDirs: DataFrame,
      scraped: Long, listedDirs: Long, missingDirs: Long,
      stagedFiles: Long, removedFiles: Long) {
    def withoutDoomed(df: DataFrame): DataFrame = CrawlPipeline.withoutDoomed(doomedDirs, df)
  }

  private def withoutDoomed(doomedDirs: Option[DataFrame], df: DataFrame): DataFrame =
    doomedDirs.fold(df)(d => df.join(d.select("dir_path"), Seq("dir_path"), "left_anti"))

  /** Merge one staged scrape into the state: M2 dir upsert, J11
    * vanished-subdir closure, J10 vanished files, the archives, M1 file
    * upsert and the J12 hash queue, under the object doc's rules. `staged`
    * has the `FsScrape.ScrapeRecord` columns, one row per `(kind,
    * fullPath)`, and is materialized. Only a dir with a `self` row asserts
    * anything about its children and files; files under a dir neither
    * staged nor recorded are dropped. */
  private[graft] def mergeScrape(state: StateStore, staged: DataFrame, now: Timestamp,
                                 cfg: Config, pin: PinScope): Merged = {
    val ts = lit(now)
    // the versions every plan below reads; each is swap-written once, in
    // the order at the end, so a plan over one runs before its swap
    val directory = state.read("directory")
    val kind = col("kind")

    // M2: upsert listed subdirs and the scraped dirs themselves (a scraped
    // dir's own metadata arrives as its `self` record — S3)
    val upsertedDirs = MergeOps.upsertDirs(directory, staged.filter(kind.isin("dir", "self"))
      .select(col("fullPath").as("dir_path"), col("ctime"), col("mtime")), now)

    // each staged dir path once: listed by a scraped parent, scraped
    // itself, and/or the home of staged files, with the id the M2 upsert
    // gives it; the semi-join keeps the `directory` side of the id lookup
    // O(batch)
    val dirFlags = staged.filter(kind.isin("file", "dir", "self"))
      .groupBy(when(kind === "file", col("dirPath")).otherwise(col("fullPath")).as("dir_path"))
      .agg(max(kind === "dir").as("listed"), max(kind === "self").as("scraped"),
        max(kind === "file").as("has_files"))
    val stagedDirs = pin(dirFlags
      .join(directory.join(dirFlags.select("dir_path"), Seq("dir_path"), "left_semi")
        .select("dir_path", "id"), Seq("dir_path"), "left")
      .select(col("dir_path"),
        coalesce(col("id"), when(col("listed") || col("scraped"), MergeOps.newDirId(col("dir_path"))))
          .as("dir_id"),
        col("listed"), col("scraped"), col("has_files"))
      .filter(col("dir_id").isNotNull))

    // J11: subdirs recorded under a scraped parent but absent from its
    // scrape vanished on disk — delete their whole closure (the path-prefix
    // join of MergeOps.directoryClosure) with archiving. The roots stay a
    // DataFrame end-to-end (no driver collect). Every path the upsert adds
    // is a staged one, which the anti-join drops, so `directory` yields the
    // same roots as the upserted table.
    val roots = pin(directory
      .withColumn("parent_path",
        graft.functions.PathExpressions.basepathFast(col("dir_path")))
      // key on dirs that actually SCRAPED (self record), not merely due:
      // a parent whose scrape failed (missing/unmounted) asserts nothing
      // about its children — deleting them would turn a transient mount
      // failure into data loss
      .join(stagedDirs.filter(col("scraped")).select(col("dir_path").as("parent_path")),
        Seq("parent_path"), "left_semi")
      // a drive root self-parents (basepath of a top-level path is
      // itself) — roots are never deleted here, only flagged missing
      .filter(col("parent_path") =!= col("dir_path"))
      // alive: its parent's scrape lists it, or it scraped itself
      .join(stagedDirs.filter(col("listed") || col("scraped")).select("dir_path"),
        Seq("dir_path"), "left_anti")
      .select(col("dir_path").as("root_path")))
    val doomedDirs =
      if (roots.isEmpty) None
      else Some(pin(MergeOps.dirArchiveRows(
        MergeOps.directoryClosure(upsertedDirs, roots, deleteSubdirs = true), now)))
    val liveDirs = withoutDoomed(doomedDirs, stagedDirs)
    // completeness is asserted only by dirs that actually scraped — a due
    // dir whose scrape failed must not have its files declared vanished
    val crawledDirIds = liveDirs.filter(col("scraped")).select("dir_id")

    // In bucketed mode the merge only ever reads/writes the buckets of the
    // scraped, file-holding and deleted dirs (staged, vanished and doomed
    // rows live there)
    val bucketed = bucketedFiles(state, cfg)
    val affectedBuckets: Seq[Int] = bucketed.map { bs =>
      val touched = liveDirs.filter(col("scraped") || col("has_files")).select("dir_id")
      doomedDirs.fold(touched)(d => touched.unionByName(d.select(col("id").as("dir_id"))))
        .select(bs.bucketOf(col("dir_id")).as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq
    }.getOrElse(Nil)
    val fileTable = bucketed
      .map(_.readBuckets(Schemas.file, affectedBuckets))
      .getOrElse(state.read("file"))

    // each staged file with its id (the current one, or the one the M1
    // upsert inserts it with) and whether J12 queues it for hashing: it is
    // new, changed (the M1 rule against the pre-merge row) or not hashed
    // yet. Not `updated_on = now`: a replay at a pinned asOf must not
    // re-queue a file an earlier batch changed. The pin keeps the size
    // estimate of the joins it came from; the hint keeps its joins broadcast
    val stagedFiles = broadcast(pin(staged.filter(kind === "file")
      .select(col("name"), col("dirPath").as("dir_path"),
        col("sizeMb").cast(DecimalType(18, 6)).as("s_size"),
        col("ctime").as("s_ctime"), col("mtime").as("s_mtime"), col("atime").as("s_atime"))
      .join(liveDirs.select("dir_path", "dir_id"), Seq("dir_path"))
      .join(fileTable.select("id", "dir_id", "name", "size", "ctime", "mtime", "atime"),
        Seq("dir_id", "name"), "left")
      .join(state.read("hash").select(col("file_id").as("id"), lit(true).as("hashed")),
        Seq("id"), "left")
      .select(coalesce(col("id"), MergeOps.newFileId(col("name"), col("dir_id"))).as("id"),
        col("name"), col("dir_id"), col("s_size").as("size"), col("s_ctime").as("ctime"),
        col("s_mtime").as("mtime"), col("s_atime").as("atime"),
        (col("id").isNull || MergeOps.fileChanged || col("hashed").isNull).as("to_hash"))))

    // M1 removal branch (J10): files under scraped dirs absent from the
    // snapshot, plus the files of the deleted dirs — archived, and dropped
    // from file, hash and hash_control (M6 shape)
    val vanished = MergeOps.missingFilesIn(fileTable, stagedFiles, crawledDirIds)
    val gone = pin(doomedDirs.foldLeft(
        MergeOps.fileArchiveRows(vanished, now).withColumn("kind", lit("vanished"))) { (v, d) =>
      v.unionByName(MergeOps.fileArchiveRows(
        fileTable.join(d.select(col("id").as("dir_id")), Seq("dir_id"), "left_semi"), now)
        .withColumn("kind", lit("doomed_file")))
    })
    val goneIds = gone.select(col("id").as("file_id"))

    // every count the merge needs, in one pass over the scrape and the pins
    val perKind = Seq("self", "dir", "missing_dir", "staged_file", "vanished", "doomed_file")
      .map(k => count(when(kind === k, true)))
    val counts = staged.select("kind")
      .unionByName(stagedFiles.select(lit("staged_file").as("kind")))
      .unionByName(gone.select("kind"))
      .agg(perKind.head, perKind.tail: _*)
      .head()
    val Seq(nSelf, nDirs, nMissing, nStaged, nVanished, nDoomedFiles) =
      perKind.indices.map(counts.getLong)
    val anyGone = nVanished + nDoomedFiles > 0

    doomedDirs.foreach(d => state.append("directory_archive", d))
    if (anyGone) {
      state.append("file_archive", gone)
      state.write("hash",
        state.read("hash").join(goneIds, Seq("file_id"), "left_anti"))
    }

    // M1 upsert (change-only updates), then drop the removed rows
    val upserted = MergeOps.upsertFiles(fileTable, stagedFiles, now)
    val newFile =
      if (anyGone) upserted.join(goneIds.select(col("file_id").as("id")), Seq("id"), "left_anti")
      else upserted
    bucketed match {
      case Some(bs) => bs.overwriteBuckets(newFile, "dir_id", affectedBuckets)
      case None => state.write("file", newFile)
    }

    // M1 hash-scheduling branch (J12, DirectoryCrawl.py:856-873): the
    // flagged staged files, unless already queued; the queue minus removed
    // files
    val hashCtl = state.read("hash_control")
    val needHash = stagedFiles.filter(col("to_hash"))
      .select(col("id").as("file_id"), col("mtime"),
        col("size").as("file_size"),
        lit(null).cast("timestamp").as("process_assigned_on"),
        lit(false).as("file_missing"), ts.as("inserted_on"))
      .join(hashCtl.select("file_id"), Seq("file_id"), "left_anti")
    val keptQueue = if (anyGone) hashCtl.join(goneIds, Seq("file_id"), "left_anti") else hashCtl
    state.write("hash_control", keptQueue.unionByName(needHash))

    state.write("directory", withoutDoomed(doomedDirs, upsertedDirs))
    Merged(doomedDirs, liveDirs, nSelf, nDirs, nMissing, nStaged, nVanished)
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
                cfg: Config = Config()): Long =
    PinScope(hashWith(state, now, limit, cfg, _))

  private def hashWith(state: StateStore, now: Timestamp, limit: Int,
                       cfg: Config, pin: PinScope): Long = {
    val spark = state.spark
    val work = pin(ScheduleOps.filesToHash(
      state.read("hash_control"),
      fullPaths(state, cfg), limit))
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
    bucketedFiles(state, cfg).fold(state.read("file"))(_.read(Schemas.file))
      .join(d, col("dir_id") === col("d_id"))
      .select(col("id"),
        graft.functions.PathFunctions.pathJoin(col("dir_path"), col("name")).as("full_path"))
  }

  /** The `file` table's bucketed layout, when `cfg.fileBuckets > 0`. */
  private def bucketedFiles(state: StateStore, cfg: Config): Option[BucketedState] =
    if (cfg.fileBuckets > 0)
      Some(new BucketedState(state.spark, state.root, "file", cfg.fileBuckets)) else None
}
