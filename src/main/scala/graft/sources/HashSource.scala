package graft.sources

import java.io.FileInputStream
import java.security.MessageDigest
import java.sql.Timestamp

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Content-hashing source (SURVEY S4): one streamed read per file feeding
  * BOTH MD5 and SHA-1 incrementally — the reference's single-pass chunked
  * design (`FileHandler/HashFile.py:5-51`, 8 KiB buffer).
  *
  * Runs as `mapPartitions` over the selected hash queue: digests are
  * per-row state, the buffer is reused across files in a partition, and
  * file bytes never leave the executor. The built-in
  * `spark.read.format("binaryFile")` + `md5()`/`sha1()` route would
  * materialize whole files in memory — wrong for multi-GB files, so the
  * streamed form is the default.
  *
  * Skew note (SURVEY §7.4.7): the caller orders the queue smallest-first
  * (T2) and `repartition` randomizes assignment so one executor doesn't
  * collect all the giant files.
  */
object HashSource {

  final case class HashedFile(
      file_id: Long,
      full_path: String,
      md5_hash: String,
      sha1_hash: String,
      hashed_on: Timestamp,
      error: String) // null on success; read errors flow as data, not crashes

  val bufferSize: Int = 8192 // reference: FileHandler/HashFile.py:9

  private def hex(bytes: Array[Byte]): String =
    bytes.map("%02x".format(_)).mkString

  /** Hash one file in a single streamed pass. */
  def hashFile(path: String): Either[String, (String, String)] =
    try {
      val md5 = MessageDigest.getInstance("MD5")
      val sha1 = MessageDigest.getInstance("SHA-1")
      val in = new FileInputStream(path)
      try {
        val buf = new Array[Byte](bufferSize)
        var n = in.read(buf)
        while (n > 0) {
          md5.update(buf, 0, n)
          sha1.update(buf, 0, n)
          n = in.read(buf)
        }
      } finally in.close()
      Right((hex(md5.digest()), hex(sha1.digest())))
    } catch { case NonFatal(e) => Left(e.getClass.getSimpleName + ": " + e.getMessage) }

  /** Distributed dual-hash of a work batch (columns: file_id, full_path).
    * `repartition` spreads the batch regardless of upstream ordering so
    * size-sorted input doesn't pile the big files onto one task. */
  def hashBatch(spark: SparkSession, work: DataFrame,
                asOf: Timestamp, parallelism: Int = 0): Dataset[HashedFile] = {
    import spark.implicits._
    val n = if (parallelism > 0) parallelism
      else spark.sparkContext.defaultParallelism
    work.select(col("file_id").cast("long"), col("full_path"))
      .as[(Long, String)]
      .repartition(n)
      .mapPartitions(_.map { case (id, path) =>
        hashFile(path) match {
          case Right((m, s)) => HashedFile(id, path, m, s, asOf, null)
          case Left(err) => HashedFile(id, path, null, null, asOf, err)
        }
      })
  }
}
