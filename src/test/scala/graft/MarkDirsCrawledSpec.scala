package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ScheduleOps

/** M3 finalize semantics (`mark_dirs_crawled`): crawled rows get fresh
  * counts/schedule/claim-clear; untouched rows are preserved under the
  * reference defaults, and the pipeline's claim-free flags relax exactly
  * the two documented dimensions (claims, missing flags) — nothing else. */
class MarkDirsCrawledSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)
  private val asOf = ts("2024-02-01 00:00:00")

  private def ctl: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      // (dir_path, dir_id, file_count, subdir_count, next_crawl,
      //  crawl_frequency, assigned_process_id, process_assigned_on,
      //  last_crawled, last_active, dir_missing, inserted_on)
      ("/a", 1L, 5, 1, ts("2024-01-10 00:00:00"), 900L, Option.empty[Int],
        Option.empty[Timestamp], Option(ts("2024-01-01 00:00:00")),
        Option.empty[Timestamp], false, ts("2024-01-01 00:00:00")),
      ("/b", 2L, 7, 0, ts("2024-01-11 00:00:00"), 1800L, Option(3),
        Option(ts("2024-01-20 00:00:00")), Option(ts("2024-01-02 00:00:00")),
        Option.empty[Timestamp], false, ts("2024-01-01 00:00:00")),
      ("/gone", 3L, 9, 2, ts("2024-01-12 00:00:00"), 3600L, Option.empty[Int],
        Option(ts("2024-01-21 00:00:00")), Option(ts("2024-01-03 00:00:00")),
        Option.empty[Timestamp], true, ts("2024-01-01 00:00:00")))
      .toDF("dir_path", "dir_id", "file_count", "subdir_count", "next_crawl",
        "crawl_frequency", "assigned_process_id", "process_assigned_on",
        "last_crawled", "last_active", "dir_missing", "inserted_on")
  }

  private def crawledA: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(("/a", 12L, 3L, 7200L)).toDF("dir_path", "fc", "sc", "new_freq")
  }
  private def noneMissing: DataFrame = {
    val s = spark
    import s.implicits._
    Seq.empty[String].toDF("dir_path")
  }

  test("reference defaults: only the crawled row changes; claims and missing flags persist") {
    val out = ScheduleOps.markDirsCrawled(ctl, crawledA, noneMissing, lit(asOf))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("/a")
    assert(a.getInt(2) === 12 && a.getInt(3) === 3) // fresh counts
    assert(a.getTimestamp(4) === ts("2024-02-01 02:00:00")) // asOf + new_freq
    assert(a.getLong(5) === 7200L)
    assert(a.getTimestamp(8) === asOf) // last_crawled stamped
    // untouched rows: claim and missing flag preserved
    assert(out("/b").getTimestamp(7) === ts("2024-01-20 00:00:00"))
    assert(out("/gone").getBoolean(10) === true)
  }

  test("a crawled dir that came back missing gets the retry schedule, not the new frequency") {
    val s = spark
    import s.implicits._
    val missing = Seq("/a").toDF("dir_path")
    val out = ScheduleOps.markDirsCrawled(ctl, crawledA, missing, lit(asOf),
        missingRetrySeconds = 600)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("/a")
    assert(a.getBoolean(10) === true) // flagged missing
    assert(a.getTimestamp(4) === ts("2024-02-01 00:10:00")) // asOf + retry
    assert(a.getLong(5) === 900L) // frequency NOT updated on a missing round
  }

  test("claim-free pipeline flags clear every claim and un-flag missing dirs") {
    val out = ScheduleOps.markDirsCrawled(ctl, crawledA, noneMissing, lit(asOf),
        clearAllClaims = true, preserveMissing = false)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.values.forall(_.isNullAt(7))) // all claims reset
    assert(out("/gone").getBoolean(10) === false) // retry path reopened
  }
}
