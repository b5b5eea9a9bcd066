package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Shell
import graft.core.StateStore
import graft.operators.MergeOps
import graft.server.CrawlPipeline

/** CLI dispatch over a tiny in-state catalog. */
class ShellSpec extends AnyFunSuite with SparkSuite {

  private var state: StateStore = _
  private var blobPath: String = _
  private val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val lines = collection.mutable.Buffer[String]()
  private def shell = new Shell(state, lines.append(_))

  override def beforeAll(): Unit = {
    super.beforeAll()
    state = new StateStore(spark, Files.createTempDirectory("graft_shell").toString)
    val s = spark
    import s.implicits._
    state.write("directory", MergeOps.upsertDirs(state.read("directory"),
      Seq(("/data", t1, t1), ("/data/sub", t1, t1)).toDF("dir_path", "ctime", "mtime"), t1))
    val dirId = state.read("directory").filter($"dir_path" === "/data").head().getLong(0)
    state.write("file", MergeOps.upsertFiles(state.read("file"),
      Seq(("report.txt", dirId, BigDecimal(1.5), t1, t1, t1))
        .toDF("name", "dir_id", "size", "ctime", "mtime", "atime"), t1))

    // a real on-disk file, cataloged under its real directory (hash_file)
    val blobDir = Files.createTempDirectory("graft_shell_blob")
    val blob = blobDir.resolve("blob.bin")
    Files.write(blob, "shell-hash-me".getBytes)
    blobPath = blob.toString
    state.write("directory", MergeOps.upsertDirs(state.read("directory"),
      Seq((blobDir.toString, t1, t1)).toDF("dir_path", "ctime", "mtime"), t1))
    val blobDirId = state.read("directory")
      .filter($"dir_path" === blobDir.toString).head().getLong(0)
    state.write("file", MergeOps.upsertFiles(state.read("file"),
      Seq(("blob.bin", blobDirId, BigDecimal(0.0), t1, t1, t1))
        .toDF("name", "dir_id", "size", "ctime", "mtime", "atime"), t1))

    CrawlPipeline.seedDrives(state, Seq("/data", "/data/sub"), t1)
  }

  test("search name with wildcard finds the file; output capped table") {
    lines.clear()
    val sh = shell
    assert(sh.execute("search name report*"))
    assert(lines.exists(_.contains("report.txt")))
  }

  test("cd context resolves relative paths; quoted args survive spaces") {
    val sh = shell
    assert(sh.tokenize("""search file "a b.txt" plain""") ===
      Seq("search", "file", "a b.txt", "plain"))
    sh.execute("cd /data")
    assert(sh.resolve("sub/") === "/data/sub")
    lines.clear()
    sh.execute("pwd")
    assert(lines.last === "/data")
  }

  test("unknown command and exit handling") {
    lines.clear()
    val sh = shell
    assert(sh.execute("frobnicate"))
    assert(lines.last.contains("unknown command"))
    assert(!sh.execute("exit"))
  }

  test("hash_file prints MessageDigest-parity digests; insert lands in hash state") {
    lines.clear()
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("shell-hash-me".getBytes).map("%02x".format(_)).mkString
    shell.execute(s"""hash_file "$blobPath" insert""")
    assert(lines.exists(_.startsWith(md + "\t")))
    assert(lines.exists(_.startsWith("hash inserted")))
    import org.apache.spark.sql.functions.col
    val row = state.read("hash").filter(col("md5_hash") === md)
    assert(row.count() === 1)
  }

  test("view_scrape_schedule: recursive wildcard, sanitized order, limit") {
    lines.clear()
    shell.execute("view_scrape_schedule /data recursive")
    assert(lines.count(_.startsWith("/data")) === 2)
    lines.clear()
    shell.execute("view_scrape_schedule /data recursive dir_path:desc no_such_col limit=1")
    assert(lines.count(_.startsWith("/data")) === 1)
    assert(lines.exists(_.startsWith("/data/sub"))) // desc order survived sanitize
  }

  test("reschedule_dir makes the dir due and applies the frequency arg") {
    import org.apache.spark.sql.functions.col
    val before = state.read("directory_control")
      .filter(col("dir_path") === "/data/sub").head()
    shell.execute("reschedule_dir /data/sub 3600")
    val after = state.read("directory_control")
      .filter(col("dir_path") === "/data/sub").head()
    assert(after.getAs[Long]("crawl_frequency") === 3600L)
    assert(after.getAs[Timestamp]("next_crawl").after(
      before.getAs[Timestamp]("next_crawl")) ||
      after.getAs[Timestamp]("next_crawl") != before.getAs[Timestamp]("next_crawl"))
  }

  test("delete_file archives the row and reports Y; missing path reports N") {
    import org.apache.spark.sql.functions.col
    lines.clear()
    shell.execute(s"""delete_file "$blobPath"""")
    assert(lines.last === "Y")
    assert(state.read("file").filter(col("name") === "blob.bin").count() === 0)
    assert(state.read("file_archive").filter(col("name") === "blob.bin").count() === 1)
    // its on-demand hash row was cleaned up with it
    assert(state.read("hash").count() === 0)
    lines.clear()
    shell.execute("delete_file /nope/missing.bin")
    assert(lines.last.startsWith("N"))
  }

  test("delete_dir subdirs removes the closure with archives + schedule cleanup") {
    import org.apache.spark.sql.functions.col
    lines.clear()
    shell.execute("delete_dir /data subdirs")
    assert(lines.last.startsWith("Y"))
    assert(state.read("directory").filter(col("dir_path").startsWith("/data")).count() === 0)
    assert(state.read("directory_archive").count() === 2)
    assert(state.read("file_archive").filter(col("name") === "report.txt").count() === 1)
    assert(state.read("directory_control")
      .filter(col("dir_path").startsWith("/data")).count() === 0)
  }

  test("delete and duplicate commands free their pins when they finish") {
    val s = spark
    import s.implicits._
    state.write("directory", MergeOps.upsertDirs(state.read("directory"),
      Seq(("/pins", t1, t1)).toDF("dir_path", "ctime", "mtime"), t1))
    val dirId = state.read("directory").filter($"dir_path" === "/pins").head().getLong(0)
    state.write("file", MergeOps.upsertFiles(state.read("file"),
      Seq(("a.txt", dirId, BigDecimal(1.0), t1, t1, t1), ("b.txt", dirId, BigDecimal(2.0), t1, t1, t1))
        .toDF("name", "dir_id", "size", "ctime", "mtime", "atime"), t1))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val sh = shell
    lines.clear()
    Seq("search duplicate_file /pins/a.txt", "search duplicate_dir /pins",
      "delete_file /pins/a.txt", "delete_file /nope/missing.bin", "delete_dir /pins")
      .foreach(sh.execute)
    assert(lines.count(_.startsWith("Y")) === 2, lines.mkString("\n"))
    assert(sc.getPersistentRDDs.keySet -- before === Set.empty)
  }
}
