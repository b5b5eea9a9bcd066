package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MergeOps

/** M1/M4 merge edge cases: null-safe change detection, in-batch dedup,
  * deterministic id assignment, change-aware hash upsert. */
class MergeOpsSpec extends AnyFunSuite with SparkSuite {

  private val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2024-01-02 00:00:00")

  private def currentFiles: DataFrame = {
    val s = spark
    import s.implicits._
    Seq((1L, "a.txt", 10L, "1.5", t1), (2L, "b.txt", 10L, "2.5", t1))
      .toDF("id", "name", "dir_id", "size", "mtime")
      .selectExpr("id", "name", "dir_id", "CAST(size AS DECIMAL(18,6)) AS size",
        "mtime AS ctime", "mtime", "CAST(NULL AS TIMESTAMP) AS atime",
        "mtime AS inserted_on", "mtime AS updated_on")
  }

  private def staged(rows: Seq[(String, Long, String, Timestamp)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("name", "dir_id", "size", "mtime")
      .selectExpr("name", "dir_id", "CAST(size AS DECIMAL(18,6)) AS size",
        "mtime AS ctime", "mtime", "CAST(NULL AS TIMESTAMP) AS atime")
  }

  test("identical staged row (incl. null atime) does NOT bump updated_on") {
    val out = MergeOps.upsertFiles(currentFiles,
      staged(Seq(("a.txt", 10L, "1.5", t1))), t2)
    val a = out.filter(col("name") === "a.txt").head()
    assert(a.getAs[Timestamp]("updated_on") === t1) // null <=> null is "same"
    assert(out.count() === 2)
  }

  test("changed size bumps updated_on and takes staged values; sibling untouched") {
    val out = MergeOps.upsertFiles(currentFiles,
      staged(Seq(("a.txt", 10L, "7.0", t1))), t2)
    val byName = out.collect().map(r => r.getAs[String]("name") -> r).toMap
    assert(byName("a.txt").getAs[java.math.BigDecimal]("size").toPlainString === "7.000000")
    assert(byName("a.txt").getAs[Timestamp]("updated_on") === t2)
    assert(byName("b.txt").getAs[Timestamp]("updated_on") === t1)
  }

  test("staged batch duplicates collapse to one row (S5 dedup semantics)") {
    val out = MergeOps.upsertFiles(currentFiles,
      staged(Seq(("new.txt", 10L, "1.0", t2), ("new.txt", 10L, "1.0", t2))), t2)
    assert(out.filter(col("name") === "new.txt").count() === 1)
  }

  test("new-file ids are deterministic, stable across runs, and collision-free") {
    val st = staged(Seq(("n1.txt", 10L, "1.0", t2), ("n2.txt", 11L, "1.0", t2)))
    val run1 = MergeOps.upsertFiles(currentFiles, st, t2)
      .collect().map(r => r.getAs[String]("name") -> r.getAs[Long]("id")).toMap
    val run2 = MergeOps.upsertFiles(currentFiles, st, t2)
      .collect().map(r => r.getAs[String]("name") -> r.getAs[Long]("id")).toMap
    assert(run1 === run2)
    assert(run1.values.toSeq.distinct.size === run1.size)
    assert(run1("n1.txt") >= 1000000L) // new ids live above the offset
  }

  test("mergeHashes: inserts absent, updates changed, keeps unchanged times") {
    val s = spark
    import s.implicits._
    val hash = Seq((1L, "M1", "S1"), (2L, "M2", "S2"))
      .toDF("file_id", "md5_hash", "sha1_hash")
      .selectExpr("file_id AS id", "file_id", "md5_hash",
        "timestamp'2024-01-01' AS md5_hash_time", "sha1_hash",
        "timestamp'2024-01-01' AS sha1_hash_time")
    val hashControl = Seq(2L, 3L).toDF("file_id")
      .selectExpr("file_id", "CAST(NULL AS TIMESTAMP) AS mtime",
        "CAST(1 AS DECIMAL(18,6)) AS file_size",
        "CAST(NULL AS TIMESTAMP) AS process_assigned_on",
        "false AS file_missing", "timestamp'2024-01-01' AS inserted_on")
    val stagedH = Seq((2L, "M2-changed", "S2-changed"), (3L, "M3", "S3"))
      .toDF("file_id", "md5_hash", "sha1_hash")
      .selectExpr("file_id AS id", "file_id", "md5_hash",
        "timestamp'2024-01-02' AS md5_hash_time", "sha1_hash",
        "timestamp'2024-01-02' AS sha1_hash_time")

    val (merged, drained) = MergeOps.mergeHashes(hash, hashControl, stagedH)
    val m = merged.collect().map(r => r.getAs[Long]("file_id") ->
      (r.getAs[String]("md5_hash"), r.getAs[Timestamp]("md5_hash_time"))).toMap
    assert(m(1L) === (("M1", t1))) // untouched
    assert(m(2L) === (("M2-changed", t2))) // change-aware update
    assert(m(3L) === (("M3", t2))) // insert
    // queue drained for every staged id
    assert(drained.collect().map(_.getLong(0)).toSeq === Seq.empty)
  }

  test("deleteDirectoriesById == deleteDirectoriesByPath (closure + archives)") {
    val s = spark
    import s.implicits._
    val directory = Seq(
      (1L, "/top"), (2L, "/top/mid"), (3L, "/top/mid/leaf"), (4L, "/other"))
      .toDF("id", "dir_path")
      .selectExpr("id", "dir_path", "timestamp'2024-01-01' AS ctime",
        "timestamp'2024-01-01' AS mtime", "timestamp'2024-01-01' AS inserted_on",
        "timestamp'2024-01-01' AS updated_on")
    val file = Seq((10L, "f1", 2L), (11L, "f2", 3L), (12L, "f3", 4L))
      .toDF("id", "name", "dir_id")
      .selectExpr("id", "name", "dir_id", "CAST(1 AS DECIMAL(18,6)) AS size",
        "timestamp'2024-01-01' AS ctime", "timestamp'2024-01-01' AS mtime",
        "CAST(NULL AS TIMESTAMP) AS atime",
        "timestamp'2024-01-01' AS inserted_on", "timestamp'2024-01-01' AS updated_on")

    val byPath = MergeOps.deleteDirectories(directory, file,
      Seq("/top/mid"), deleteSubdirs = true, t2)
    val byId = MergeOps.deleteDirectoriesById(directory, file,
      Seq(2L), deleteSubdirs = true, t2)
    def snap(r: (DataFrame, DataFrame, DataFrame, DataFrame)) = (
      r._1.select("id").collect().map(_.getLong(0)).sorted.toSeq,
      r._2.select("id").collect().map(_.getLong(0)).sorted.toSeq,
      r._3.select("id").collect().map(_.getLong(0)).sorted.toSeq,
      r._4.select("id").collect().map(_.getLong(0)).sorted.toSeq)
    assert(snap(byId) === snap(byPath))
    // closure really fired: mid+leaf deleted with their files archived
    assert(snap(byId)._3 === Seq(2L, 3L))
    assert(snap(byId)._4 === Seq(10L, 11L))
  }

  test("mass deletion: 100k roots stay a join, not a literal expression tree") {
    val s = spark
    import s.implicits._
    val directory = Seq((1L, "/keep"), (2L, "/gone/a"), (3L, "/gone/a/sub"))
      .toDF("id", "dir_path")
      .selectExpr("id", "dir_path", "timestamp'2024-01-01' AS ctime",
        "timestamp'2024-01-01' AS mtime", "timestamp'2024-01-01' AS inserted_on",
        "timestamp'2024-01-01' AS updated_on")
    val file = directory.limit(0).selectExpr("id", "'f' AS name", "id AS dir_id",
      "CAST(1 AS DECIMAL(18,6)) AS size", "ctime", "mtime",
      "CAST(NULL AS TIMESTAMP) AS atime", "inserted_on", "updated_on")
    // 100k deletion roots (one real, the rest misses) — the round-1 OR-chain
    // formulation built a 100k-term boolean tree here; the join form must
    // keep the plan CONSTANT-SIZED and finish promptly
    val roots = spark.range(0, 100000L)
      .selectExpr("concat('/miss/', id) AS root_path")
      .unionByName(Seq("/gone/a").toDF("root_path"))
    val t0 = System.nanoTime()
    val (remainingDirs, _, dirArchive, _) = MergeOps.deleteDirectoriesDf(
      directory, file, roots, deleteSubdirs = true, t2)
    val planSize = dirArchive.queryExecution.executedPlan.toString.length
    assert(planSize < 20000, s"plan blew up to $planSize chars")
    assert(dirArchive.select("dir_path").collect().map(_.getString(0)).sorted
      === Array("/gone/a", "/gone/a/sub"))
    assert(remainingDirs.collect().map(_.getString(1)).toSeq === Seq("/keep"))
    assert((System.nanoTime() - t0) / 1e9 < 60.0)
  }
}
