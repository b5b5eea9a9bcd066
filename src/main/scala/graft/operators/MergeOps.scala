package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's mutation pipelines (SURVEY §2.8 M1/M2/M4/M6) as pure
  * DataFrame transforms: (current state, staged batch) → next state.
  *
  * The reference runs these as multi-statement PL/pgSQL CTE dataflows
  * (`FileDbDAL/DirectoryCrawl.py:771-1045`); with no transactional table
  * format on the classpath we express each round as a deterministic
  * relational transform whose output overwrites (or appends to) the
  * state table. Idempotent keys give the same re-runnability the
  * reference gets from `ON CONFLICT DO NOTHING` (SURVEY §7.4.3).
  *
  * Scale: each round is one full-outer / anti join keyed on the entity
  * key. At 100 TB the state side is large but the staged batch is one
  * micro-batch (bounded by queue caps ~10k rows, BASELINE.md) → Catalyst
  * broadcasts the staged side; the state table is only rewritten where
  * partition keys match (partition `file` state by bucket(dir_id) so a
  * merge round touches only affected partitions).
  */
object MergeOps {

  private val fileCols = Seq("id", "name", "dir_id", "size", "ctime",
    "mtime", "atime", "inserted_on", "updated_on")

  /** M1 upsert core (`DirectoryCrawl.py:835-855`): merge staged file
    * metadata into `file`, keyed `(name, dir_id)`. Updates apply ONLY when
    * size/ctime/mtime/atime actually changed (null-safe compare) — the
    * reference's write-amplification guard — and only a changed row gets
    * its `updated_on` bumped. New keys are inserted with
    * `inserted_on = updated_on = asOf`.
    *
    * `staged` columns: name, dir_id, size, ctime, mtime, atime.
    */
  def upsertFiles(current: DataFrame, staged: DataFrame,
                  asOf: java.sql.Timestamp, nextId: Long = 1000000L): DataFrame = {
    val s = staged.select(
      col("name").as("s_name"), col("dir_id").as("s_dir_id"),
      col("size").as("s_size"), col("ctime").as("s_ctime"),
      col("mtime").as("s_mtime"), col("atime").as("s_atime"))
      .dropDuplicates("s_name", "s_dir_id")
    val joined = current.join(s,
      col("name") === col("s_name") && col("dir_id") === col("s_dir_id"),
      "full_outer")

    val changed = fileChanged
    val isNew = col("id").isNull
    val isStaged = col("s_name").isNotNull
    val ts = lit(asOf)

    joined.select(
      // New files get deterministic ids derived from their key — at scale a
      // max(id)+row_number pass would serialize; a keyed hash doesn't
      // (SURVEY §7.4.2). nextId offsets keep them out of the existing range.
      when(isNew, newFileId(col("s_name"), col("s_dir_id"), nextId)).otherwise(col("id")).as("id"),
      coalesce(col("name"), col("s_name")).as("name"),
      coalesce(col("dir_id"), col("s_dir_id")).as("dir_id"),
      when(isStaged && (isNew || changed), col("s_size")).otherwise(col("size"))
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("size"),
      when(isStaged && (isNew || changed), col("s_ctime")).otherwise(col("ctime")).as("ctime"),
      when(isStaged && (isNew || changed), col("s_mtime")).otherwise(col("mtime")).as("mtime"),
      when(isStaged && (isNew || changed), col("s_atime")).otherwise(col("atime")).as("atime"),
      when(isNew, ts).otherwise(col("inserted_on")).as("inserted_on"),
      when(isNew, ts).otherwise(when(isStaged && changed, ts).otherwise(col("updated_on")))
        .as("updated_on"))
  }

  /** The id [[upsertFiles]] gives a file it inserts: a keyed hash of its
    * `(name, dir_id)`. */
  def newFileId(name: Column, dirId: Column, nextId: Long = 1000000L): Column =
    pmod(xxhash64(name, dirId), lit(Long.MaxValue - nextId)) + nextId

  /** The M1 change rule: size, ctime, mtime or atime differs (null-safe)
    * between a `file` row and its `s_`-prefixed staged twin. */
  def fileChanged: Column =
    Seq("size", "ctime", "mtime", "atime").map(c => !(col(c) <=> col(s"s_$c"))).reduce(_ || _)

  /** M1 removal branch (J10, `DirectoryCrawl.py:816-833`): files recorded
    * under the staged batch's directories but absent from the staged
    * snapshot — i.e. deleted on disk since the last crawl. Scoped to the
    * batch's dirs first (semi-join) so the probe never scans the whole
    * `file` table (SURVEY §4 "manual rewrites" (c)). */
  def missingFiles(current: DataFrame, staged: DataFrame): DataFrame = {
    val stagedDirs = staged.select("dir_id").distinct()
    missingFilesIn(current, staged, stagedDirs)
  }

  /** Like [[missingFiles]] but scoped to an explicit crawled-dir set — a
    * dir whose files ALL vanished stages zero rows, so scoping by staged
    * rows alone would never flag them. */
  def missingFilesIn(current: DataFrame, staged: DataFrame,
                     crawledDirIds: DataFrame): DataFrame =
    current
      .join(crawledDirIds.select("dir_id"), Seq("dir_id"), "left_semi")
      .join(staged.select("dir_id", "name"), Seq("dir_id", "name"), "left_anti")

  /** M2 upsert core (`DirectoryCrawl.py:915-931`): merge staged dirs into
    * `directory`, keyed `dir_path`; update only on ctime/mtime change.
    * `staged` columns: dir_path, ctime, mtime. */
  def upsertDirs(current: DataFrame, staged: DataFrame,
                 asOf: java.sql.Timestamp, nextId: Long = 1000000L): DataFrame = {
    val s = staged.select(col("dir_path").as("s_path"),
      col("ctime").as("s_ctime"), col("mtime").as("s_mtime"))
      .dropDuplicates("s_path")
    val joined = current.join(s, col("dir_path") === col("s_path"), "full_outer")
    val changed = !(col("ctime") <=> col("s_ctime")) || !(col("mtime") <=> col("s_mtime"))
    val isNew = col("id").isNull
    val isStaged = col("s_path").isNotNull
    val ts = lit(asOf)
    joined.select(
      when(isNew, newDirId(col("s_path"), nextId)).otherwise(col("id")).as("id"),
      coalesce(col("dir_path"), col("s_path")).as("dir_path"),
      when(isStaged && (isNew || changed), col("s_ctime")).otherwise(col("ctime")).as("ctime"),
      when(isStaged && (isNew || changed), col("s_mtime")).otherwise(col("mtime")).as("mtime"),
      when(isNew, ts).otherwise(col("inserted_on")).as("inserted_on"),
      when(isNew, ts).otherwise(when(isStaged && changed, ts).otherwise(col("updated_on")))
        .as("updated_on"))
  }

  /** The id [[upsertDirs]] gives a directory path it inserts: a keyed
    * hash, so no max(id)+row_number pass serializes the round. */
  def newDirId(path: Column, nextId: Long = 1000000L): Column =
    pmod(xxhash64(path), lit(Long.MaxValue - nextId)) + nextId

  /** M4+M5 (`DirectoryCrawl.py:771-795`, `Hash.py:110-179`): merge staged
    * hashes into `hash` keyed `file_id` and drop the drained rows from
    * `hash_control`. The reference's batch path is insert-if-absent (M4)
    * and its per-file path is change-only upsert (M5); re-hashing a
    * changed file must land the new digest, so the batch merge here uses
    * the M5 semantics — update only when a digest actually changed
    * (documented intended-semantics deviation, SURVEY §7.4.6).
    * Returns (newHash, newHashControl). */
  def mergeHashes(hash: DataFrame, hashControl: DataFrame,
                  stagedHashes: DataFrame): (DataFrame, DataFrame) = {
    val s = stagedHashes.dropDuplicates("file_id").select(
      col("file_id").as("s_fid"), col("md5_hash").as("s_md5"),
      col("md5_hash_time").as("s_md5_t"), col("sha1_hash").as("s_sha1"),
      col("sha1_hash_time").as("s_sha1_t"))
    val j = hash.join(s, col("file_id") === col("s_fid"), "full_outer")
    val isNew = col("file_id").isNull
    val changed = !(col("md5_hash") <=> col("s_md5")) || !(col("sha1_hash") <=> col("s_sha1"))
    val staged = col("s_fid").isNotNull
    val take = staged && (isNew || changed)
    val merged = j.select(
      coalesce(col("id"), col("s_fid")).as("id"),
      coalesce(col("file_id"), col("s_fid")).as("file_id"),
      when(take, col("s_md5")).otherwise(col("md5_hash")).as("md5_hash"),
      when(take, col("s_md5_t")).otherwise(col("md5_hash_time")).as("md5_hash_time"),
      when(take, col("s_sha1")).otherwise(col("sha1_hash")).as("sha1_hash"),
      when(take, col("s_sha1_t")).otherwise(col("sha1_hash_time")).as("sha1_hash_time"))
    val drained = hashControl.join(stagedHashes.select("file_id"), Seq("file_id"), "left_anti")
    (merged, drained)
  }

  /** M6 file-deletion family (`FileDbDAL/File.py:263-344` — the reference
    * ships text/text[]/int/int[] overloads; Scala overloading mirrors
    * them). Deletes the files, archives them, and cleans their hash +
    * hash_control rows. Returns (remainingFiles, remainingHash,
    * remainingHashControl, fileArchive). */
  def deleteFilesById(file: DataFrame, hash: DataFrame, hashControl: DataFrame,
                      ids: Seq[Long], asOf: java.sql.Timestamp)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val doomed = file.filter(col("id").isin(ids.distinct: _*))
    deleteFileRows(file, hash, hashControl, doomed, asOf)
  }

  /** Overload keyed by full path (needs the directory table to resolve). */
  def deleteFilesByPath(directory: DataFrame, file: DataFrame, hash: DataFrame,
                        hashControl: DataFrame, fullPaths: Seq[String],
                        asOf: java.sql.Timestamp)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.functions.PathFunctions.{basenameScala, basepathScala}
    val keys = fullPaths.distinct.map(p => (basepathScala(p), basenameScala(p)))
    val spark = file.sparkSession
    import spark.implicits._
    val probe = keys.toDF("p_dir", "p_name")
    val doomed = file
      .join(directory.select(col("id").as("d_id"), col("dir_path")),
        col("dir_id") === col("d_id"))
      .join(broadcast(probe),
        col("dir_path") === col("p_dir") && col("name") === col("p_name"))
      .select(file.columns.toIndexedSeq.map(col): _*)
    deleteFileRows(file, hash, hashControl, doomed, asOf)
  }

  private def deleteFileRows(file: DataFrame, hash: DataFrame,
                             hashControl: DataFrame, doomed: DataFrame,
                             asOf: java.sql.Timestamp)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val doomedIds = doomed.select(col("id").as("file_id"))
    (file.join(doomedIds, col("id") === col("file_id"), "left_anti"),
      hash.join(doomedIds, Seq("file_id"), "left_anti"),
      hashControl.join(doomedIds, Seq("file_id"), "left_anti"),
      fileArchiveRows(doomed, asOf))
  }

  /** `file_archive` rows for deleted `file` rows: the original audit
    * timestamps plus `deleted_on = asOf`. */
  def fileArchiveRows(doomed: DataFrame, asOf: java.sql.Timestamp): DataFrame =
    doomed.select(col("id"), col("name"), col("dir_id"),
      col("size"), col("ctime"), col("mtime"), col("atime"),
      col("inserted_on").as("original_inserted_on"),
      col("updated_on").as("original_updated_on"), lit(asOf).as("deleted_on"))

  /** `directory_archive` rows for deleted `directory` rows. */
  def dirArchiveRows(doomed: DataFrame, asOf: java.sql.Timestamp): DataFrame =
    doomed.select(col("id"), col("dir_path"),
      col("ctime"), col("mtime"),
      col("inserted_on").as("original_inserted_on"),
      col("updated_on").as("original_updated_on"),
      lit(asOf).as("deleted_on"))

  /** M6 (`FileDbDAL/File.py:263-344`, `Directory.py:195-358`): delete the
    * directories matching `dirPaths` (plus, when `deleteSubdirs`, their
    * whole descendant closure via the path-prefix join — SURVEY §7.4.5)
    * and all files homed in them. Archives carry the original audit
    * timestamps plus `deleted_on`.
    *
    * Returns (remainingDirs, remainingFiles, dirArchive, fileArchive).
    */
  def deleteDirectories(directory: DataFrame, file: DataFrame,
                        dirPaths: Seq[String], deleteSubdirs: Boolean,
                        asOf: java.sql.Timestamp): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val spark = directory.sparkSession
    import spark.implicits._
    deleteDirectoriesDf(directory, file,
      dirPaths.distinct.toDF("root_path"), deleteSubdirs, asOf)
  }

  /** [[deleteDirectories]] keyed by directory id (`FileDbDAL/Directory
    * .py:196-358` ships int/int[] overloads beside the text ones; this is
    * their twin — the file side has both at [[deleteFilesById]]/
    * [[deleteFilesByPath]]). Ids resolve to paths first so the
    * `deleteSubdirs` closure still rides the prefix join. */
  def deleteDirectoriesById(directory: DataFrame, file: DataFrame,
                            ids: Seq[Long], deleteSubdirs: Boolean,
                            asOf: java.sql.Timestamp): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val roots = directory.filter(col("id").isin(ids.distinct: _*))
      .select(col("dir_path").as("root_path"))
    deleteDirectoriesDf(directory, file, roots, deleteSubdirs, asOf)
  }

  /** [[deleteDirectories]] with the roots as a DataFrame (column
    * `root_path`) — the scale form: the roots stay distributed end-to-end
    * (no driver collect, no O(|roots|) literal expression tree; a mass
    * deletion round with 100k vanished roots is one broadcast prefix
    * join, the same shape as `SearchOps.descendantDirs`). */
  def deleteDirectoriesDf(directory: DataFrame, file: DataFrame,
                          roots: DataFrame, deleteSubdirs: Boolean,
                          asOf: java.sql.Timestamp): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val doomedDirs = directoryClosure(directory, roots, deleteSubdirs)
    val remainingDirs = directory.join(broadcastRoots(roots), closureCond(deleteSubdirs), "left_anti")
    val doomedFiles = file.join(doomedDirs.select(col("id").as("dd_id")),
      col("dir_id") === col("dd_id"), "left_semi")
    val remainingFiles = file.join(doomedDirs.select(col("id").as("dd_id")),
      col("dir_id") === col("dd_id"), "left_anti")
    (remainingDirs, remainingFiles, dirArchiveRows(doomedDirs, asOf),
      fileArchiveRows(doomedFiles, asOf))
  }

  /** The `directory` rows [[deleteDirectoriesDf]] deletes: those at a
    * `root_path` of `roots` or, with `deleteSubdirs`, under one. */
  def directoryClosure(directory: DataFrame, roots: DataFrame,
                       deleteSubdirs: Boolean): DataFrame =
    directory.join(broadcastRoots(roots), closureCond(deleteSubdirs), "left_semi")

  private def broadcastRoots(roots: DataFrame): DataFrame =
    broadcast(roots.select(col("root_path")).distinct())

  private def closureCond(deleteSubdirs: Boolean) =
    if (deleteSubdirs)
      col("dir_path") === col("root_path") ||
        col("dir_path").startsWith(concat(col("root_path"), lit("/"))) ||
        col("dir_path").startsWith(concat(col("root_path"), lit("\\")))
    else col("dir_path") === col("root_path")
}
