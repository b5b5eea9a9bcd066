package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{SearchOps, Views}

/** FIXTURES.md §A/§B: hand-authored mixed-OS catalog exercising every
  * duplicate-search branch (`Search.py:248-295`) — including the
  * md5-fallback (sha1 missing on either side) and the flag-gated
  * name-match, which the derived TPC-H catalog can't reach (its hash rows
  * always carry both digests). */
class DuplicateSearchSpec extends AnyFunSuite with SparkSuite {

  private var vwLl: DataFrame = _
  private val t = Timestamp.valueOf("2024-01-01 00:00:00")

  override def beforeAll(): Unit = {
    super.beforeAll()
    vwLl = catalog(
      Seq((1L, "/fixture"), (2L, "/fixture/a"), (3L, "/fixture/b"),
        (4L, "C:\\fx"), (5L, "C:\\fx\\sub")),
      // (id, name, dir_id, sizeMb)
      Seq(
        (10L, "dup1.bin", 2L, "1.000000"),
        (11L, "dup2.bin", 3L, "1.000000"), // sha1+size dup of dup1
        (12L, "md5only.bin", 3L, "1.000000"), // md5+size dup, NO sha1
        (13L, "samename.txt", 2L, "0.500000"),
        (14L, "samename.txt", 5L, "9.000000"), // name dup, different content
        (15L, "unique.bin", 4L, "3.000000")),
      // dup1/dup2 share both digests; md5only shares ONLY md5 (sha1 null);
      // samename/unique have distinct digests; file 14 has no hash row at all
      Seq((10L, "AAAA", "S1"), (11L, "AAAA", "S1"), (12L, "AAAA", null),
        (13L, "BBBB", "S3"), (15L, "CCCC", "S5"))).cache()
  }

  /** `vw_ll` over hand-authored (id, dir_path) directories, (id, name,
    * dir_id, sizeMb) files and (file_id, md5, sha1) hash rows. */
  private def catalog(dirs: Seq[(Long, String)], files: Seq[(Long, String, Long, String)],
                      hashes: Seq[(Long, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    val directory = dirs.toDF("id", "dir_path")
      .selectExpr("id", "dir_path",
        "timestamp'2024-01-01' AS ctime", "timestamp'2024-01-01' AS mtime",
        "timestamp'2024-01-01' AS inserted_on", "timestamp'2024-01-01' AS updated_on")
    val file = files.toDF("id", "name", "dir_id", "size")
      .selectExpr("id", "name", "dir_id", "CAST(size AS DECIMAL(18,6)) AS size",
        "timestamp'2024-01-01' AS ctime", "timestamp'2024-01-01' AS mtime",
        "CAST(NULL AS TIMESTAMP) AS atime",
        "timestamp'2024-01-01' AS inserted_on", "timestamp'2024-01-01' AS updated_on")
    val hash = hashes.toDF("file_id", "md5_hash", "sha1_hash")
      .selectExpr("file_id AS id", "file_id", "md5_hash",
        "timestamp'2024-01-01' AS md5_hash_time", "sha1_hash",
        "timestamp'2024-01-01' AS sha1_hash_time")
    Views.vwLl(directory, file, hash)
  }

  private def names(df: DataFrame): Seq[String] =
    df.collect().map(_.getAs[String]("name")).sorted.toSeq

  test("sha1+size match finds the hash duplicates; md5 fallback fires when sha1 missing") {
    val dups = SearchOps.searchDuplicateFile(vwLl, "/fixture/a/dup1.bin")
    // dup1 (self, byId), dup2 (sha1+size), md5only (md5+size with null sha1)
    assert(names(dups) === Seq("dup1.bin", "dup2.bin", "md5only.bin"))
  }

  test("needle WITHOUT sha1 falls back to md5 against hashed haystack") {
    val dups = SearchOps.searchDuplicateFile(vwLl, "/fixture/b/md5only.bin")
    assert(names(dups) === Seq("dup1.bin", "dup2.bin", "md5only.bin"))
  }

  test("name match only fires when the flag is set") {
    val without = SearchOps.searchDuplicateFile(vwLl, "/fixture/a/samename.txt")
    assert(names(without) === Seq("samename.txt")) // only itself (byId)
    val withName = SearchOps.searchDuplicateFile(vwLl,
      "/fixture/a/samename.txt", nameMatch = true)
    assert(names(withName) === Seq("samename.txt", "samename.txt")) // both dirs
  }

  test("windows-path needle resolves through the win separator") {
    val dups = SearchOps.searchDuplicateFile(vwLl, "C:\\fx\\unique.bin")
    assert(names(dups) === Seq("unique.bin"))
  }

  test("duplicate_dir: needle = all files of a directory") {
    val dups = SearchOps.searchDuplicateDir(vwLl, "/fixture/b")
    // needle = {dup2, md5only} → matches dup1 via sha1/md5+size
    assert(names(dups).contains("dup1.bin"))
    assert(names(dups).contains("dup2.bin"))
    assert(names(dups).contains("md5only.bin"))
  }

  test("dir needle matches by path identity, not the file_id=0 sentinel") {
    // needle = vw_ll rows with dir_path='/fixture': the two child dirs plus
    // /fixture itself (a root is its own basepath, so it self-parents).
    // The byId branch must NOT treat their sentinel file_id=0 as an id
    // match against every dir in the catalog (e.g. C:\fx\sub).
    val dups = SearchOps.searchDuplicateDir(vwLl, "/fixture")
    val paths = dups.collect().map(_.getAs[String]("full_path")).sorted.toSeq
    assert(paths === Seq("/fixture", "/fixture/a", "/fixture/b"))
  }

  test("hash-disabled search returns only identity matches") {
    val dups = SearchOps.searchDuplicateFile(vwLl, "/fixture/a/dup1.bin",
      hashMatch = false)
    assert(names(dups) === Seq("dup1.bin"))
  }

  private def paths(df: DataFrame): Seq[String] =
    df.collect().map(_.getAs[String]("full_path")).sorted.toSeq

  test("needle derived from the haystack's own view matches only its duplicates") {
    // the search correlates its subqueries with the haystack; a needle
    // that is a plain filter of that same view must not correlate with
    // its own rows (which would return the whole haystack)
    val dups = SearchOps.duplicatesOf(vwLl, vwLl.filter(col("name") === "dup1.bin"),
      hashMatch = true, nameMatch = false)
    assert(paths(dups) === Seq("/fixture/a/dup1.bin", "/fixture/b/dup2.bin",
      "/fixture/b/md5only.bin"))
  }

  test("a row qualifying through several branches comes back once") {
    // dup1 matches its own needle by file_id, by sha1+size and (flag on)
    // by name; dup2 by sha1+size
    val dups = SearchOps.searchDuplicateFile(vwLl, "/fixture/a/dup1.bin", nameMatch = true)
    assert(paths(dups) === Seq("/fixture/a/dup1.bin", "/fixture/b/dup2.bin",
      "/fixture/b/md5only.bin"))
  }

  test("dir needle whose files share one (sha1, size) returns each match once") {
    val twins = catalog(
      Seq((1L, "/t"), (2L, "/t/twins"), (3L, "/t/other")),
      Seq((10L, "a.bin", 2L, "2.000000"), (11L, "b.bin", 2L, "2.000000"),
        (12L, "c.bin", 3L, "2.000000"), (13L, "d.bin", 3L, "5.000000")),
      Seq((10L, "M9", "S9"), (11L, "M9", "S9"), (12L, "M9", "S9"), (13L, "M8", "S8")))
    val dups = SearchOps.searchDuplicateDir(twins, "/t/twins")
    assert(paths(dups) === Seq("/t/other/c.bin", "/t/twins/a.bin", "/t/twins/b.bin"))
  }
}
