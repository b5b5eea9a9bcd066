package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.security.MessageDigest
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.StateStore
import graft.server.CrawlPipeline
import graft.sources.{FsScrape, HashSource}

/** The crawl server. Set-up writes a seeded tree to local disk and crawls
  * and hashes it to a fixpoint, with its directories as crawl roots. Each
  * timed operation is one server round as `graft.server.ServerMain` runs
  * it, `crawlRound` then `hashRound`, at the wall clock (as `ServerMain`
  * reads it) plus `RoundAdvanceMs` per round so far; the engine's own
  * M3/M7 schedule in `directory_control` decides which directories are due.
  * Before each round, untimed, a seeded slice of the directories is
  * mutated (files modified, added, deleted). After each round the whole
  * state is checked: every directory the schedule made due must match a
  * `java.nio` walk with JDK MD5/SHA-1 digests taken then, every other one
  * its last crawled contents. */
final class CrawlMerge(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import CrawlMerge._

  private val root = work.resolve("tree")
  private val state = new StateStore(spark, work.resolve("state").toString)
  private var now: Timestamp = _
  private val rnd = Gen.rng(seed, 2)
  // what `file`/`hash` should hold per directory: its files at its last crawl
  private val expected = mutable.Map.empty[String, Map[String, Entry]]
  // files changed on disk but not yet crawled, per directory
  private val pending = mutable.Map.empty[String, Set[Path]].withDefaultValue(Set.empty)
  private var due: Set[String] = Set.empty
  private var landed: Seq[Path] = Nil
  private var lastFiles: Map[String, (Long, Long)] = Map.empty
  // per-layer sums over the timed rounds
  private var rounds, dueDirs, changed = 0
  private var scrapeFloorMs, hashFloorMs, roundMs, bytesWritten = 0.0

  def setup(clock: SetupClock): Unit = {
    now = new Timestamp(System.currentTimeMillis())
    writeTree(root, seed, now.getTime)
    clock {
      CrawlPipeline.seedDrives(state, leafDirs(root).map(_.toString), now)
      CrawlPipeline.runToFixpoint(state, now)
      while (CrawlPipeline.hashRound(state, now) > 0) ()
    }
    leafDirs(root).foreach(d => expected(d.toString) = onDisk(d))
    check(leafDirs(root).map(_.toString).toSet)
      .foreach(e => throw new IllegalStateException(s"initial crawl: $e"))
    lastFiles = stateFiles()
  }

  def storedBytes: Long = Probe.dirBytes(Path.of(state.root))

  /** Mutates the tree, advances the clock, and reads from the schedule which
    * directories the round will crawl and so which changes it will land. */
  override def before(i: Int): Unit = {
    mutate(i).groupBy(_.getParent.toString).foreach { case (d, fs) => pending(d) ++= fs }
    now = new Timestamp(System.currentTimeMillis() + (i + 1) * RoundAdvanceMs)
    due = state.read("directory_control")
      .filter(col("next_crawl") <= lit(now) && !col("dir_missing"))
      .select("dir_path").collect().map(_.getString(0)).toSet
    landed = due.toSeq.flatMap(d => pending(d).filter(Files.exists(_)))
    due.foreach(pending.remove)
  }

  def run(i: Int, t: Tracer): Done = {
    t.span("server.crawl_round")(CrawlPipeline.crawlRound(state, now))
    t.span("server.hash_round")(CrawlPipeline.hashRound(state, now))
    val spans = t.spans.takeRight(2)
    val (roundDue, roundLanded) = (due, landed)
    Done("crawl.round", roundLanded.size, () => {
      roundDue.foreach(d => expected(d) = onDisk(Path.of(d)))
      if (t.enabled) measureLayers(roundDue, roundLanded, spans.map(_.ms).sum)
      check(roundDue)
    })
  }

  /** Modifies, adds and deletes files in `DirsPerRound` seeded
    * directories, at times between the last round's clock and the next
    * one's. Returns the files whose new content should land in `file` and
    * `hash`. */
  private def mutate(i: Int): Seq[Path] = {
    val seeded = scala.util.Random.javaRandomToRandom(rnd)
    val out = mutable.ArrayBuffer.empty[Path]
    def at = now.getTime + (out.size + 1) * 1000L
    seeded.shuffle(leafDirs(root)).take(DirsPerRound).foreach { d =>
      seeded.shuffle(listFiles(d)).take(ModifyPerDir)
        .foreach { f => put(f, randomBytes(rnd), at); out += f }
      (1 to AddPerDir).foreach { j =>
        val f = d.resolve(f"n$i%04d_$j%02d.dat")
        put(f, randomBytes(rnd), at); out += f
      }
      val left = listFiles(d).filterNot(out.contains)
      if (left.nonEmpty) Files.delete(left(rnd.nextInt(left.size)))
    }
    out.toSeq
  }

  /** Single-threaded IO floors, in this JVM, over the round's crawled
    * directories and landed files, and the bytes the round wrote to the
    * state directory. */
  private def measureLayers(dirs: Set[String], files: Seq[Path], ms: Double): Unit = {
    val t0 = System.nanoTime()
    dirs.foreach(d => FsScrape.scrapeDir(d))
    val t1 = System.nanoTime()
    files.foreach(f => HashSource.hashFile(f.toString))
    val t2 = System.nanoTime()
    val after = stateFiles()
    bytesWritten += after.collect { case (p, v @ (size, _)) if !lastFiles.get(p).contains(v) => size }.sum
    lastFiles = after
    scrapeFloorMs += (t1 - t0) / 1e6
    hashFloorMs += (t2 - t1) / 1e6
    roundMs += ms
    rounds += 1
    dueDirs += dirs.size
    changed += files.size
  }

  override def layers: Map[String, Double] =
    if (rounds == 0) Map.empty
    else Map(
      "server.due_dirs" -> dueDirs.toDouble / rounds,
      "server.landed_files" -> changed.toDouble / rounds,
      "sources.scrape_floor_ms" -> scrapeFloorMs / rounds,
      "sources.hash_floor_ms" -> hashFloorMs / rounds,
      "server.useful_io_ratio" -> (scrapeFloorMs + hashFloorMs) / roundMs,
      "core.state_bytes_written" -> bytesWritten / rounds,
      "core.write_amp" -> bytesWritten / changed.max(1))

  /** (path → (size, mtime)) of every file in the state directory. */
  private def stateFiles(): Map[String, (Long, Long)] = {
    val s = Files.walk(Path.of(state.root))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap
    finally s.close()
  }

  /** `file` and `hash` must hold exactly the expected files of every
    * directory, with their sizes, MD5 and SHA-1; `directory` exactly the
    * crawled directories; and the round must have marked exactly the `due`
    * directories as crawled now. */
  private def check(due: Set[String]): Option[String] = {
    val want = expected.toSeq.flatMap { case (d, fs) => fs.map { case (n, e) => (d, n) -> e } }.toMap
    val directory = state.read("directory")
    val stored = state.read("file")
      .join(directory.select(col("id").as("d_id"), col("dir_path")), col("dir_id") === col("d_id"))
      .join(state.read("hash").select("file_id", "md5_hash", "sha1_hash"),
        col("id") === col("file_id"), "left")
      .select("dir_path", "name", "size", "md5_hash", "sha1_hash").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        Entry(BigDecimal(r.getDecimal(2)), r.getString(3), r.getString(4))).toMap
    val dirsStored = directory.select("dir_path").collect().map(_.getString(0)).toSet
    val crawled = state.read("directory_control").filter(col("last_crawled") === lit(now))
      .select("dir_path").collect().map(_.getString(0)).toSet
    if (stored.keySet != want.keySet)
      Some(s"file set: ${stored.size} stored, ${want.size} expected, e.g. " +
        (stored.keySet diff want.keySet).take(2) + " / " + (want.keySet diff stored.keySet).take(2))
    else want.collectFirst { case (k, v) if stored(k) != v => s"$k: stored ${stored(k)}, expected $v" }
      .orElse(if (dirsStored == expected.keySet) None
        else Some(s"directories: ${dirsStored.size} stored, ${expected.size} crawled"))
      .orElse(if (crawled == due) None
        else Some(s"crawled ${crawled.size} directories, ${due.size} were due"))
  }
}

object CrawlMerge {
  /** A file's size in MB and its digests, as `file`/`hash` should hold them. */
  final case class Entry(sizeMb: BigDecimal, md5: String, sha1: String)

  val Dirs = 60
  val FilesPerDir = 40
  val DirsPerRound = 4
  val ModifyPerDir = 3
  val AddPerDir = 3
  /** Server time per round: the M7 floor. M7 gives a directory whose newest
    * entry was created `age` ago a crawl interval of age / 30, clamped to
    * [15 min, 7 days]. Creation times are the real ones, so the whole tree
    * is minutes old and every directory is due again after 15 min: each
    * round crawls every directory. On the wall clock alone, as a
    * `ServerMain` loop of a minute's length sees it, no directory is due
    * after the initial crawl and every round is idle. */
  val RoundAdvanceMs: Long = 900L * 1000
  /** Access times are set far ahead, so reads do not move them (relatime)
    * and a round never sees a change that the mutation did not make. */
  private val Atime = FileTime.fromMillis(Timestamp.valueOf("2099-01-01 00:00:00").getTime)

  /** `root/dNN/`, each holding `FilesPerDir` files of seeded size and
    * content; about one file in six repeats the content of an earlier one,
    * so duplicate hashes exist. Modification times are set explicitly, a
    * second apart and up to a day before `startMs`, so every later rewrite
    * is a visible change. */
  def writeTree(root: Path, seed: Long, startMs: Long): Unit = {
    val r = Gen.rng(seed, 3)
    val contents = mutable.ArrayBuffer.empty[Array[Byte]]
    (0 until Dirs).foreach { d =>
      val dir = root.resolve(f"d$d%02d")
      Files.createDirectories(dir)
      (0 until FilesPerDir).foreach { j =>
        val bytes =
          if (contents.nonEmpty && r.nextInt(6) == 0) contents(r.nextInt(contents.size))
          else randomBytes(r)
        contents += bytes
        put(dir.resolve(f"f$j%03d.dat"), bytes, startMs - 86400000L + contents.size * 1000L)
      }
    }
  }

  private def randomBytes(r: java.util.Random): Array[Byte] = {
    val b = new Array[Byte](256 + r.nextInt(3840)); r.nextBytes(b); b
  }

  private def put(f: Path, bytes: Array[Byte], mtimeMs: Long): Unit = {
    Files.write(f, bytes)
    Files.setLastModifiedTime(f, FileTime.fromMillis(mtimeMs))
    Files.setAttribute(f, "lastAccessTime", Atime)
  }

  /** The files of one directory on disk, with their digests. */
  def onDisk(d: Path): Map[String, Entry] =
    listFiles(d).map { p =>
      val (md5, sha1) = digests(p)
      p.getFileName.toString -> Entry(BigDecimal(Files.size(p)) / 1000000, md5, sha1)
    }.toMap

  private def sorted(s: java.util.stream.Stream[Path]): Vector[Path] =
    try s.iterator().asScala.toVector.sortBy(_.toString) finally s.close()

  def allDirs(root: Path): Vector[Path] = sorted(Files.walk(root)).filter(Files.isDirectory(_))
  def allFiles(root: Path): Vector[Path] = sorted(Files.walk(root)).filter(Files.isRegularFile(_))
  def leafDirs(root: Path): Vector[Path] = allDirs(root).filter(_ != root)
  def listFiles(d: Path): Vector[Path] = sorted(Files.list(d)).filter(Files.isRegularFile(_))

  /** MD5 and SHA-1 of a file, leaving its access time as it was. */
  def digests(p: Path): (String, String) = {
    val atime = Files.getAttribute(p, "lastAccessTime").asInstanceOf[FileTime]
    val bytes = Files.readAllBytes(p)
    Files.setAttribute(p, "lastAccessTime", atime)
    def hex(algo: String) =
      MessageDigest.getInstance(algo).digest(bytes).map("%02x".format(_)).mkString
    (hex("MD5"), hex("SHA-1"))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
    }
}
