package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CopyOps

/** S8/T3: copy sink with validation + overwrite flags; T4 queue drain. */
class CopyOpsSpec extends AnyFunSuite with SparkSuite {

  private var dir: Path = _
  private val t1 = Timestamp.valueOf("2024-01-01 00:00:00")

  override def beforeAll(): Unit = {
    super.beforeAll()
    dir = Files.createTempDirectory("graft_copy")
    Files.write(dir.resolve("src.txt"), "copy me".getBytes)
    Files.write(dir.resolve("existing.txt"), "already here".getBytes)
  }

  test("T3 selection computes destination with coalesce(new_name, basename)") {
    val s = spark
    import s.implicits._
    val queue = Seq(
      (1L, "/a/src.txt", "/dest", null.asInstanceOf[String], "N", false, t1),
      (2L, "/a/other.txt", "/dest", "renamed.txt", "Y", false, t1))
      .toDF("id", "source_path", "dest_dir", "new_file_name", "overwrite", "move_file", "inserted_on")
    val sel = CopyOps.filesToCopy(queue, 10).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("dest_path")).toMap
    assert(sel(1L) === "/dest/src.txt")
    assert(sel(2L) === "/dest/renamed.txt")
  }

  test("copy validates content; overwrite flags Y/N/W behave per reference") {
    val okRes = CopyOps.copyOne(s"$dir/src.txt", s"$dir/out/copy1.txt", "N", move = false, t1)
    assert(okRes.status === 0)
    assert(Files.readAllLines(dir.resolve("out/copy1.txt")).get(0) === "copy me")

    // N: refuse to clobber
    val clash = CopyOps.copyOne(s"$dir/src.txt", s"$dir/existing.txt", "N", move = false, t1)
    assert(clash.status === 2)
    // Y: replace
    val replace = CopyOps.copyOne(s"$dir/src.txt", s"$dir/existing.txt", "Y", move = false, t1)
    assert(replace.status === 0)
    assert(Files.readAllLines(dir.resolve("existing.txt")).get(0) === "copy me")
    // W: keep both
    val keepBoth = CopyOps.copyOne(s"$dir/src.txt", s"$dir/existing.txt", "W", move = false, t1)
    assert(keepBoth.status === 0)
    assert(Files.exists(dir.resolve("existing.txt (1)")))
    // missing source
    val missing = CopyOps.copyOne(s"$dir/ghost.txt", s"$dir/out/x.txt", "N", move = false, t1)
    assert(missing.status === 1)
  }

  test("distributed copy batch returns result codes as data") {
    val s = spark
    import s.implicits._
    Files.write(dir.resolve("batch1.txt"), "b1".getBytes)
    Files.write(dir.resolve("batch2.txt"), "b2".getBytes)
    val work = Seq(
      (s"$dir/batch1.txt", s"$dir/out/batch1.txt", "N", false),
      (s"$dir/batch2.txt", s"$dir/out/batch2.txt", "N", true), // move
      (s"$dir/nope.txt", s"$dir/out/nope.txt", "N", false))
      .toDF("source_path", "dest_path", "overwrite", "move_file")
    val res = CopyOps.executeCopies(spark, work, t1).collect()
      .map(r => r.getAs[String]("source_path") -> r.getAs[Int]("status")).toMap
    assert(res(s"$dir/batch1.txt") === 0)
    assert(res(s"$dir/batch2.txt") === 0)
    assert(!Files.exists(dir.resolve("batch2.txt"))) // moved
    assert(res(s"$dir/nope.txt") === 1)
  }

  test("copy_directory request expands to per-file work over the closure, then executes") {
    val s = spark
    import s.implicits._
    // real tree: cdir/{top.txt, nest/{deep.txt}}; catalog mirrors it
    val cdir = Files.createTempDirectory("graft_cdir")
    val nest = Files.createDirectories(cdir.resolve("nest"))
    Files.write(cdir.resolve("top.txt"), "top".getBytes)
    Files.write(nest.resolve("deep.txt"), "deep".getBytes)
    val destRoot = Files.createTempDirectory("graft_cdest")

    val directory = Seq((1L, cdir.toString), (2L, nest.toString), (3L, "/elsewhere"))
      .toDF("id", "dir_path")
    // full catalog file schema — the table carries its own
    // inserted_on/updated_on, which must not collide with the request's
    // inserted_on in the expansion output
    val file = Seq(
        (10L, "top.txt", 1L, BigDecimal("0.000003"), t1, t1, t1, t1, t1),
        (11L, "deep.txt", 2L, BigDecimal("0.000004"), t1, t1, t1, t1, t1),
        (12L, "other.txt", 3L, BigDecimal("0.000005"), t1, t1, t1, t1, t1))
      .toDF("id", "name", "dir_id", "size", "ctime", "mtime", "atime",
        "inserted_on", "updated_on")
    // one request keyed by dir_id (resolution through the catalog), with a
    // rename; move_dir=false
    val queue = Seq((7L, Some(1L), null.asInstanceOf[String],
        destRoot.toString, "copied", false, "N", t1))
      .toDF("id", "dir_id", "dir_path", "new_parent_dir", "new_dir_name",
        "move_dir", "overwrite", "inserted_on")

    val expanded = CopyOps.expandDirectoryCopies(queue, directory, file)
    val byName = expanded.collect()
      .map(r => r.getAs[String]("source_path") -> r.getAs[String]("dest_dir")).toMap
    assert(byName.size === 2) // /elsewhere excluded
    assert(byName(s"$cdir/top.txt") === s"$destRoot/copied")
    assert(byName(s"$cdir/nest/deep.txt") === s"$destRoot/copied/nest")

    // end-to-end through the file-copy machinery
    val res = CopyOps.executeCopies(spark,
      CopyOps.filesToCopy(expanded, 100), t1).collect()
    assert(res.forall(_.getAs[Int]("status") === 0))
    assert(Files.readAllLines(destRoot.resolve("copied/top.txt")).get(0) === "top")
    assert(Files.readAllLines(destRoot.resolve("copied/nest/deep.txt")).get(0) === "deep")
  }

  test("T4 drain takes FIFO batch and leaves the rest") {
    val s = spark
    import s.implicits._
    val queue = (1 to 10).map(i =>
        (i.toLong, Timestamp.valueOf(f"2024-01-01 00:00:${i}%02d")))
      .toDF("id", "inserted_on")
    val (batch, remaining) = CopyOps.drainRemovalQueue(queue, 4)
    assert(batch.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    assert(remaining.count() === 6)
  }
}
