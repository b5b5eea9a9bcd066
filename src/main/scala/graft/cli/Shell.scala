package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraftSession, PinScope, StateStore}
import graft.functions.PathFunctions
import graft.operators.{MergeOps, ScheduleOps, SearchOps, Views}
import graft.sources.HashSource

/** Interactive shell (SURVEY §7.1.9) mirroring the reference CLI's command
  * grammar (`CLI/__init__.py:41-52,90-226,291-311`): `search <criteria>
  * <args>`, `cd/pwd` path context, `scrape <path>`, `exit`. Results print
  * as truncated tables (the reference caps pandas display at 50 rows).
  *
  * The shell is a thin dispatch layer — every command resolves to the same
  * library operators the programmatic API exposes; wildcards go through
  * the reference's translation (F5) and relative paths through the cd
  * context exactly like `CLI/__init__.py:170-192`. Each command runs in
  * its own [[PinScope]], so the pins it makes (the doomed sets of the
  * deletes, the duplicate searches' needles and the view they scan) are
  * freed when it finishes.
  */
class Shell(state: StateStore, out: String => Unit = println) {

  private var cwd: String = "/"
  private val maxRows = 50

  private def spark: SparkSession = state.spark

  private def vwLl: DataFrame =
    Views.vwLl(state.read("directory"), state.read("file"), state.read("hash"))

  /** Resolve a possibly-relative path against the cd context. */
  def resolve(path: String): String = {
    val p = path.trim
    if (p.startsWith("/") || p.matches("^[A-Za-z]:.*")) PathFunctions.parseExactSearch(p)
    else PathFunctions.parseExactSearch(
      if (cwd.endsWith("/")) cwd + p else s"$cwd/$p")
  }

  /** Execute one command line; returns false on `exit`. */
  def execute(line: String): Boolean = {
    val parts = tokenize(line.trim)
    if (parts.isEmpty) return true
    val cmd = parts.head.toLowerCase
    if (cmd == "exit" || cmd == "quit") return false
    PinScope(scope => dispatch(cmd, parts.tail, scope))
    true
  }

  private def dispatch(cmd: String, args: Seq[String], scope: PinScope): Unit =
    (cmd, args) match {
      case ("pwd", _) => out(cwd)
      case ("cd", Seq(p, _*)) => cwd = resolve(p)
      case ("search", _) => search(args, scope)
      case ("scrape", Seq(p, _*)) => rescrape(resolve(p))
      case ("hash_file", Seq(p, rest @ _*)) =>
        hashFile(resolve(p), insertDb = rest.headOption.exists(_.equalsIgnoreCase("insert")))
      case ("reschedule_dir", Seq(p, rest @ _*)) =>
        rescheduleDir(resolve(p), rest.headOption.map(_.toLong))
      case ("view_scrape_schedule", Seq(p, rest @ _*)) =>
        viewScrapeSchedule(resolve(p), rest)
      case ("delete_file", Seq(p, _*)) => deleteFile(resolve(p))
      case ("delete_dir", Seq(p, rest @ _*)) =>
        deleteDir(resolve(p), rest.headOption.exists(_.equalsIgnoreCase("subdirs")))
      case ("help", _) => out(helpText)
      case _ => out(s"unknown command: $cmd (try 'help')")
    }

  private def search(args: Seq[String], scope: PinScope): Unit = args match {
    case Seq("name", pattern, _*) =>
      show(SearchOps.searchName(vwLl, PathFunctions.parseWildcardSearch(pattern)))
    case Seq("name_file", pattern, _*) =>
      show(SearchOps.searchNameFile(vwLl, PathFunctions.parseWildcardSearch(pattern)))
    case Seq("name_dir", pattern, _*) =>
      show(SearchOps.searchNameDir(state.read("directory"),
        PathFunctions.parseWildcardSearch(pattern)))
    case Seq("hash", h, rest @ _*) =>
      show(SearchOps.searchHash(vwLl, h, rest.headOption))
    case Seq("file", paths @ _*) if paths.nonEmpty =>
      show(SearchOps.searchFullPath(vwLl, paths.map(resolve)))
    case Seq("dir", paths @ _*) if paths.nonEmpty =>
      show(SearchOps.searchDir(state.read("directory"), paths.map(resolve)))
    // a duplicate search scans the view twice (needle and haystack): an
    // uncached view would be pinned for the session, held past this
    // command until the GC collects it; persisted here, the command's
    // scope frees it
    case Seq("duplicate_file", path, _*) =>
      show(SearchOps.searchDuplicateFile(scope.persist(vwLl), resolve(path)))
    case Seq("duplicate_dir", path, _*) =>
      show(SearchOps.searchDuplicateDir(scope.persist(vwLl), resolve(path)))
    case _ =>
      out("usage: search name|name_file|name_dir|hash|file|dir|duplicate_file|duplicate_dir <args>")
  }

  /** M10 (`API/Scrape.py:16-24`): mark matching dirs due now. */
  private def rescrape(pattern: String): Unit = {
    val like = PathFunctions.parseWildcardSearch(pattern)
    val ctl = state.read("directory_control")
    val updated = ctl.withColumn("next_crawl",
      when(lower(col("dir_path")).like(like.toLowerCase),
        current_timestamp()).otherwise(col("next_crawl")))
    state.write("directory_control", updated)
    out(s"rescheduled dirs matching $pattern")
  }

  /** `hash_file` (`API/Hash.py:6-22`, `CLI/__init__.py:229-241`): hash one
    * file on demand; with `insert`, merge the digests into the hash state
    * (single-row M4/M5 path) when the file is cataloged. */
  private def hashFile(path: String, insertDb: Boolean): Unit =
    HashSource.hashFile(path) match {
      case Left(err) => out(s"hash_file failed: $err")
      case Right((md5, sha1)) =>
        out("md5_hash\tsha1_hash")
        out(s"$md5\t$sha1")
        if (insertDb) {
          val d = state.read("directory").select(col("id").as("d_id"), col("dir_path"))
          val fileId = state.read("file")
            .join(d, col("dir_id") === col("d_id"))
            .filter(col("dir_path") === PathFunctions.basepathScala(path) &&
              col("name") === PathFunctions.basenameScala(path))
            .select("id").limit(1).collect().headOption.map(_.getLong(0))
          fileId match {
            case None => out(s"not cataloged, hash not inserted: $path")
            case Some(id) =>
              val s = spark
              import s.implicits._
              val now = new java.sql.Timestamp(System.currentTimeMillis())
              val staged = Seq((id, id, md5, now, sha1, now)).toDF(
                "id", "file_id", "md5_hash", "md5_hash_time", "sha1_hash", "sha1_hash_time")
              val (newHash, newCtl) = MergeOps.mergeHashes(
                state.read("hash"), state.read("hash_control"), staged)
              state.write("hash", newHash)
              state.write("hash_control", newCtl)
              out(s"hash inserted for file id $id")
          }
        }
    }

  /** `reschedule_dir <path> [freqSeconds]` (`API/Schedule.py:7-9`). */
  private def rescheduleDir(pattern: String, frequency: Option[Long]): Unit = {
    state.write("directory_control", ScheduleOps.rescheduleDir(
      state.read("directory_control"), pattern, current_timestamp(), frequency))
    out(s"rescheduled dirs matching $pattern" +
      frequency.fold("")(f => s" (frequency ${f}s)"))
  }

  /** `view_scrape_schedule <path> [recursive] [col[:desc] ...] [limit=N]`
    * (`API/Schedule.py:11-44`). */
  private def viewScrapeSchedule(pattern: String, rest: Seq[String]): Unit = {
    val recursive = rest.exists(_.equalsIgnoreCase("recursive"))
    val limit = rest.collectFirst {
      case a if a.startsWith("limit=") => a.stripPrefix("limit=").toInt
    }.getOrElse(100)
    val orderBy = rest
      .filterNot(a => a.equalsIgnoreCase("recursive") || a.startsWith("limit="))
      .map { a =>
        val desc = a.endsWith(":desc")
        (a.stripSuffix(":desc").stripSuffix(":asc"), !desc)
      }
    show(ScheduleOps.viewScrapeSchedule(
      state.read("directory_control"), pattern, recursive, orderBy, limit))
  }

  /** `delete_file` (`API/Scrape.py:27-42`): remove one file row with
    * archiving + hash cleanup; prints Y/N like the reference's bool. */
  private def deleteFile(path: String): Unit = {
    val (remFile, remHash, remCtl, archive) = MergeOps.deleteFilesByPath(
      state.read("directory"), state.read("file"), state.read("hash"),
      state.read("hash_control"), Seq(path),
      new java.sql.Timestamp(System.currentTimeMillis()))
    // pin the doomed set before any table swap invalidates its inputs
    val pinnedArchive = PinScope.pin(archive)
    if (pinnedArchive.isEmpty) out("N (no matching file)")
    else {
      val ids = pinnedArchive.select(col("id").as("file_id"))
      state.append("file_archive", pinnedArchive)
      state.write("hash", state.read("hash").join(ids, Seq("file_id"), "left_anti"))
      state.write("hash_control",
        state.read("hash_control").join(ids, Seq("file_id"), "left_anti"))
      state.write("file",
        state.read("file").join(ids, col("id") === col("file_id"), "left_anti"))
      out("Y")
    }
  }

  /** `delete_dir [subdirs]` (`API/Scrape.py:44-60`): remove a directory
    * (optionally its closure) with archives + hash/schedule cleanup. */
  private def deleteDir(path: String, subdirs: Boolean): Unit = {
    val (_, _, dirArchive, fileArchive) = MergeOps.deleteDirectories(
      state.read("directory"), state.read("file"), Seq(path), subdirs,
      new java.sql.Timestamp(System.currentTimeMillis()))
    val pinnedDirs = PinScope.pin(dirArchive)
    val pinnedFiles = PinScope.pin(fileArchive)
    if (pinnedDirs.isEmpty) out("N (no matching dir)")
    else {
      val dirIds = pinnedDirs.select(col("id").as("dd_id"))
      val fileIds = pinnedFiles.select(col("id").as("file_id"))
      state.append("directory_archive", pinnedDirs)
      state.append("file_archive", pinnedFiles)
      state.write("hash", state.read("hash").join(fileIds, Seq("file_id"), "left_anti"))
      state.write("hash_control",
        state.read("hash_control").join(fileIds, Seq("file_id"), "left_anti"))
      state.write("directory_control",
        state.read("directory_control")
          .join(pinnedDirs.select("dir_path"), Seq("dir_path"), "left_anti"))
      state.write("file",
        state.read("file").join(fileIds, col("id") === col("file_id"), "left_anti"))
      state.write("directory",
        state.read("directory").join(dirIds, col("id") === col("dd_id"), "left_anti"))
      out(s"Y (${pinnedDirs.count()} dirs, ${pinnedFiles.count()} files archived)")
    }
  }

  private def show(df: DataFrame): Unit = {
    val rows = df.limit(maxRows + 1).collect()
    val hdr = df.columns.mkString("\t")
    out(hdr)
    rows.take(maxRows).foreach(r => out(r.toSeq.map(v =>
      if (v == null) "NULL" else v.toString).mkString("\t")))
    if (rows.length > maxRows) out(s"... (display capped at $maxRows rows)")
  }

  /** csv-style tokenization with quoted-arg support (CLI/__init__.py:128-131). */
  def tokenize(line: String): Seq[String] = {
    val tokens = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    line.foreach {
      case '"' => inQuote = !inQuote
      case c if c.isWhitespace && !inQuote =>
        if (cur.nonEmpty) { tokens += cur.result(); cur.clear() }
      case c => cur += c
    }
    if (cur.nonEmpty) tokens += cur.result()
    tokens.result()
  }

  private val helpText =
    """commands:
      |  search name <pattern>           wildcard search over files and dirs
      |  search name_file <pattern>      files only
      |  search name_dir <pattern>       dirs only
      |  search hash <hex> [MD5|SHA1]    content-hash lookup
      |  search file <path> [...]        exact file paths
      |  search dir <path> [...]         exact dir paths
      |  search duplicate_file <path>    duplicates of a file
      |  search duplicate_dir <path>     duplicates of a dir's contents
      |  scrape <pattern>                reschedule matching dirs for crawl
      |  hash_file <path> [insert]       hash a file now; 'insert' stores it
      |  reschedule_dir <path> [freq]    make dirs due now (opt. new frequency)
      |  view_scrape_schedule <path> [recursive] [col[:desc] ...] [limit=N]
      |  delete_file <path>              delete + archive one file
      |  delete_dir <path> [subdirs]     delete + archive a dir (opt. closure)
      |  cd <path> / pwd                 path context
      |  exit""".stripMargin
}

/** REPL main: `runMain graft.cli.ShellMain <stateDir>`. */
object ShellMain {
  def main(args: Array[String]): Unit = {
    val stateDir = args.headOption.getOrElse(sys.error("usage: ShellMain <stateDir>"))
    val spark = GraftSession.fromEnv()
    val shell = new Shell(new StateStore(spark, stateDir))
    val in = new java.util.Scanner(System.in)
    print("graft> ")
    while (in.hasNextLine && shell.execute(in.nextLine())) print("graft> ")
    spark.stop()
  }
}
