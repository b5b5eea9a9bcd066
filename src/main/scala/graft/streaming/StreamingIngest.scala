package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.core.{BucketedState, Schemas, StateStore}
import graft.operators.MergeOps

/** Structured-Streaming front end for the ingest dataflow (SURVEY §2.9).
  *
  * The reference's server is a polling loop with hybrid time/size flush
  * triggers (flush every 5 s or when a queue fills —
  * `Server/__init__.py:297-325`, `config.json:24-29`). The Spark-native
  * equivalent: staged scrape rows land as parquet drops in a staging
  * directory; a streaming query micro-batches them
  * (`Trigger.ProcessingTime(5s)` = the time trigger, `maxFilesPerTrigger`
  * = the size cap) and `foreachBatch` runs the same M1/M2 merge rounds the
  * batch pipeline uses. Backpressure is inherent — one batch in flight.
  *
  * Exactly-once: the merge keys are idempotent (same posture as the
  * reference's ON CONFLICT DO NOTHING), so replayed batches after a crash
  * converge to the same state; the checkpoint dir gives at-least-once
  * delivery of every staged file.
  */
object StreamingIngest {

  /** Schema of staged scrape drops (one parquet file per crawl flush):
    * matches `FsScrape.ScrapeRecord`. */
  val stageSchema: StructType = org.apache.spark.sql.Encoders
    .product[graft.sources.FsScrape.ScrapeRecord].schema

  /** Start the merge stream over a staging directory. Each micro-batch
    * runs the full crawl-round state machine — M2 dir upsert, J11
    * vanished-subdir closure, J10 vanished-file archival, M1 file upsert,
    * J12 hash scheduling (and, with `hashInline`, the M4 hash merge) — so
    * the streaming front end reaches the same fixpoint state as
    * `CrawlPipeline.crawlRound` over the same scrape drops.
    * `asOfOverride` pins batch timestamps for deterministic tests. */
  def start(state: StateStore, stageDir: String, checkpointDir: String,
            triggerMs: Long = 5000, maxFilesPerTrigger: Int = 100,
            asOfOverride: Option[Timestamp] = None,
            hashInline: Boolean = false,
            fileBuckets: Int = 0): StreamingQuery = {
    val spark = state.spark
    val stream = spark.readStream
      .schema(stageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(stageDir)

    stream.writeStream
      .queryName("graft-ingest")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(state, batch,
          asOfOverride.getOrElse(new Timestamp(System.currentTimeMillis())),
          hashInline = hashInline, fileBuckets = fileBuckets)
      }
      .start()
  }

  /** One micro-batch merge round (shared with tests; pure batch logic).
    *
    * Removal semantics mirror `CrawlPipeline.crawlRound`: a batch only
    * asserts completeness for directories whose `self` record it carries —
    * a drop without self records upserts files without triggering any
    * removal. Intermediate results are pinned (`localCheckpoint`) before
    * state swaps, never collected. */
  def mergeBatch(state: StateStore, batch: DataFrame, asOf: Timestamp,
                 deleteMissing: Boolean = true, hashInline: Boolean = false,
                 fileBuckets: Int = 0): Unit = {
    if (batch.isEmpty) return
    val ts = lit(asOf)
    // fileBuckets > 0: the file table stays hash-bucketed by dir_id and a
    // micro-batch rewrites ONLY its affected buckets (O(batch), not
    // O(table) — a 5 s trigger must not rewrite a 10^11-row table)
    val bucketed = if (fileBuckets > 0)
      Some(new BucketedState(state.spark, state.root, "file", fileBuckets)) else None
    def readFileFull(): DataFrame =
      bucketed.map(_.read(Schemas.file)).getOrElse(state.read("file"))
    val selfDirs = batch.filter(col("kind") === "self").select(
      col("fullPath").as("dir_path"), col("ctime"), col("mtime"))
    val subDirs = batch.filter(col("kind") === "dir").select(
      col("fullPath").as("dir_path"), col("ctime"), col("mtime"))
    val dirStage = subDirs.unionByName(selfDirs).dropDuplicates("dir_path")
    state.write("directory",
      MergeOps.upsertDirs(state.read("directory"), dirStage, asOf))
    val directory = state.read("directory")

    // J11: recorded subdirs of a crawled (self-carrying) dir absent from
    // its scrape vanished — delete their whole closure (crawled roots
    // themselves never self-delete; same rule as crawlRound)
    if (deleteMissing) {
      val removedRoots = directory
        .withColumn("parent_path",
          graft.functions.PathExpressions.basepathFast(col("dir_path")))
        .join(selfDirs.select(col("dir_path").as("parent_path")), Seq("parent_path"), "left_semi")
        .filter(col("parent_path") =!= col("dir_path"))
        .join(subDirs.select("dir_path"), Seq("dir_path"), "left_anti")
        .join(selfDirs.select("dir_path"), Seq("dir_path"), "left_anti")
        .select(col("dir_path").as("root_path")).localCheckpoint(true)
      if (!removedRoots.isEmpty) {
        val (_, _, dirArchive, fileArchive) = MergeOps.deleteDirectoriesDf(
          directory, readFileFull(), removedRoots, deleteSubdirs = true, asOf)
        val pinnedDirs = dirArchive.localCheckpoint(true)
        val pinnedFiles = fileArchive.localCheckpoint(true)
        val doomedIds = pinnedFiles.select(col("id").as("file_id"))
        state.append("directory_archive", pinnedDirs)
        state.append("file_archive", pinnedFiles)
        state.write("hash",
          state.read("hash").join(doomedIds, Seq("file_id"), "left_anti"))
        state.write("hash_control",
          state.read("hash_control").join(doomedIds, Seq("file_id"), "left_anti"))
        state.write("directory_control",
          state.read("directory_control")
            .join(pinnedDirs.select("dir_path"), Seq("dir_path"), "left_anti"))
        bucketed match {
          case Some(bs) =>
            val affected = pinnedFiles.select(bs.bucketOf(col("dir_id")).as("b"))
              .distinct().collect().map(_.getInt(0)).toSeq
            if (affected.nonEmpty)
              bs.overwriteBuckets(
                bs.readBuckets(Schemas.file, affected)
                  .join(doomedIds, col("id") === col("file_id"), "left_anti"),
                "dir_id", affected)
          case None =>
            state.write("file",
              state.read("file").join(doomedIds, col("id") === col("file_id"), "left_anti"))
        }
        state.write("directory",
          state.read("directory").join(pinnedDirs.select(col("id").as("dd_id")),
            col("id") === col("dd_id"), "left_anti"))
      }
    }

    val dirIds = state.read("directory").select(col("id").as("dir_id"), col("dir_path"))
    val files = batch.filter(col("kind") === "file").select(
        col("name"), col("dirPath").as("dir_path"),
        col("sizeMb").cast(DecimalType(18, 6)).as("size"),
        col("ctime"), col("mtime"), col("atime"))
      .join(dirIds, Seq("dir_path")).drop("dir_path")
    val crawledDirIds = selfDirs.select("dir_path").join(dirIds, Seq("dir_path"))
      .select("dir_id")

    // bucketed mode: the merge reads/writes ONLY the buckets of the
    // batch's dirs (staged + crawled rows all live there)
    val affectedBuckets: Seq[Int] = bucketed.map { bs =>
      files.select(bs.bucketOf(col("dir_id")).as("b"))
        .unionByName(crawledDirIds.select(bs.bucketOf(col("dir_id")).as("b")))
        .distinct().collect().map(_.getInt(0)).toSeq
    }.getOrElse(Nil)
    def fileSlice(): DataFrame = bucketed
      .map(_.readBuckets(Schemas.file, affectedBuckets))
      .getOrElse(state.read("file"))

    // J10: files under crawled dirs absent from the snapshot → archive +
    // hash cleanup + drop
    val vanished = if (deleteMissing)
      MergeOps.missingFilesIn(fileSlice(), files, crawledDirIds)
        .localCheckpoint(true)
    else state.read("file").limit(0)
    val anyVanished = deleteMissing && !vanished.isEmpty
    if (anyVanished) {
      state.append("file_archive", MergeOps.fileArchiveRows(vanished, asOf))
      val vanishedIds = vanished.select(col("id").as("file_id"))
      state.write("hash",
        state.read("hash").join(vanishedIds, Seq("file_id"), "left_anti"))
      state.write("hash_control",
        state.read("hash_control").join(vanishedIds, Seq("file_id"), "left_anti"))
    }

    // ONE pinned dedup per (dir_id, name): the change decision below and
    // the upsert must see the SAME surviving staged row — dropDuplicates
    // picks nondeterministically, so deduping separately in each consumer
    // could decide "unchanged" on one duplicate while the upsert writes
    // another (stale digest, or a spurious re-queue)
    val stagedFiles = files.dropDuplicates("dir_id", "name").localCheckpoint(true)

    // J12 change detection from the merge inputs themselves, NOT
    // updated_on === asOf: with a pinned asOf across micro-batches (the
    // deterministic-test configuration) timestamp equality re-queues every
    // file touched in an earlier batch. A staged row "changed" iff its
    // attributes differ from the pre-merge record — the same null-safe
    // comparison upsertFiles uses. Pinned before the state swap
    // (stale-listing hazard: handles created pre-write fail post-write).
    val changedKeys = fileSlice()
      .join(stagedFiles.select(col("dir_id"), col("name"),
          col("size").as("s_size"), col("ctime").as("s_ctime"),
          col("mtime").as("s_mtime"), col("atime").as("s_atime")),
        Seq("dir_id", "name"))
      .filter(!(col("size") <=> col("s_size")) ||
        !(col("ctime") <=> col("s_ctime")) ||
        !(col("mtime") <=> col("s_mtime")) ||
        !(col("atime") <=> col("s_atime")))
      .select(col("id")).localCheckpoint(true)

    // M1 upsert (change-only updates) — then drop vanished rows
    val upserted = MergeOps.upsertFiles(fileSlice(), stagedFiles, asOf)
    val newFile =
      if (anyVanished) upserted.join(vanished.select(col("id")), Seq("id"), "left_anti")
      else upserted
    bucketed match {
      case Some(bs) => bs.overwriteBuckets(newFile, "dir_id", affectedBuckets)
      case None => state.write("file", newFile)
    }

    // J12 hash scheduling: staged files with no digest yet, or changed
    // this batch (attribute delta pinned above, pre-merge)
    val fileAfter = fileSlice()
    val stagedKeys = files.select("dir_id", "name").distinct()
    val stagedCurrent = fileAfter.join(stagedKeys, Seq("dir_id", "name"), "left_semi")
    val unhashed = stagedCurrent.join(state.read("hash").select(col("file_id")),
      col("id") === col("file_id"), "left_anti")
    val changedNow = stagedCurrent.join(changedKeys, Seq("id"), "left_semi")
    val needHash = unhashed.unionByName(changedNow).dropDuplicates("id")
      .select(col("id").as("file_id"), col("mtime"),
        col("size").as("file_size"),
        lit(null).cast("timestamp").as("process_assigned_on"),
        lit(false).as("file_missing"), ts.as("inserted_on"))
      .join(state.read("hash_control").select("file_id"), Seq("file_id"), "left_anti")
    state.write("hash_control", state.read("hash_control").unionByName(needHash))

    // M4: drain the queue inline when requested (the batch pipeline runs
    // this as its own round; a streaming deployment can also keep it as a
    // separate consumer — both read the same hash_control queue)
    if (hashInline) {
      val cfg = graft.server.CrawlPipeline.Config(fileBuckets = fileBuckets)
      while (graft.server.CrawlPipeline.hashRound(state, asOf, cfg = cfg) > 0) ()
    }
  }
}
