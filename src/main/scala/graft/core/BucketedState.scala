package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucket-partitioned state table with partial-partition merge — the
  * 100 TB shape of the M1 upsert round.
  *
  * `StateStore.write` swaps a whole table per round, which is fine while
  * the table fits a rewrite budget; at cluster scale the `file` table is
  * ~10^11 rows and a micro-batch touches a tiny key range. This layout
  * hash-buckets rows by a key (`pmod(dir_id, n)`) into parquet partition
  * directories; a merge round then:
  *
  *   1. derives the AFFECTED bucket set from the staged batch (bounded by
  *      batch size, not table size),
  *   2. reads ONLY those partitions (partition pruning on the bucket
  *      column — the scan never touches the other n−k buckets),
  *   3. merges the staged rows against that slice,
  *   4. rewrites only those partition directories via dynamic partition
  *      overwrite.
  *
  * Rewrite cost per round is O(|affected buckets| × bucket size), not
  * O(table). This is exactly what a Delta/Iceberg MERGE does with file
  * pruning; the mechanism here is pure Spark + parquet.
  */
class BucketedState(val spark: SparkSession, val root: String,
                    val table: String, val numBuckets: Int) {

  val path = s"$root/$table"
  private val bucketCol = "bucket"

  def bucketOf(keyCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(keyCol, lit(numBuckets.toLong)).cast("int")

  private def empty(schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Full-table read (bucket column dropped). */
  def read(schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (new java.io.File(path).exists())
      spark.read.parquet(path).select(schema.fieldNames.toIndexedSeq.map(col): _*)
    else empty(schema)

  /** Read only the given buckets — partition pruning keeps the scan to
    * those directories. */
  def readBuckets(schema: org.apache.spark.sql.types.StructType,
                  buckets: Seq[Int]): DataFrame =
    if (new java.io.File(path).exists())
      spark.read.parquet(path)
        .filter(col(bucketCol).isin(buckets: _*))
        .select(schema.fieldNames.toIndexedSeq.map(col): _*)
    else empty(schema)

  /** Initial full write, bucketed by `keyCol`. */
  def writeAll(df: DataFrame, keyCol: String): Unit = {
    df.withColumn(bucketCol, bucketOf(col(keyCol)))
      .write.mode("overwrite").partitionBy(bucketCol).parquet(path)
    Memo.invalidate(spark) // root-path plan canonicalization hazard
  }

  /** Rewrite ONLY the partitions present in `df` (which must already be
    * restricted to the affected buckets). Dynamic partition overwrite
    * leaves every other bucket directory untouched on disk.
    *
    * `expected`: buckets the merge round touched. Dynamic overwrite can't
    * express "this bucket is now EMPTY" (no rows → no partition written →
    * stale rows survive), so expected buckets that produced zero output
    * rows are cleared explicitly afterwards. */
  def overwriteBuckets(df: DataFrame, keyCol: String,
                       expected: Seq[Int] = Nil): Unit = {
    val written =
      if (expected.nonEmpty)
        df.select(bucketOf(col(keyCol)).as("b")).distinct()
          .collect().map(_.getInt(0)).toSet
      else Set.empty[Int]
    df.withColumn(bucketCol, bucketOf(col(keyCol)))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(bucketCol)
      .parquet(path)
    expected.filterNot(written).foreach { b =>
      val dir = new java.io.File(s"$path/$bucketCol=$b")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      if (dir.exists()) rm(dir)
    }
    // invalidate AFTER the emptied-bucket cleanup: a pin built between an
    // earlier invalidation and the directory removals would capture the
    // about-to-be-deleted rows and never be dropped again
    Memo.invalidate(spark) // root-path plan canonicalization hazard
  }

  /** The M1-shaped merge round against this layout: staged rows touch
    * only their buckets; everything else is untouched bytes on disk. */
  def mergeRound(staged: DataFrame, keyCol: String,
                 merge: (DataFrame, DataFrame) => DataFrame,
                 schema: org.apache.spark.sql.types.StructType): Seq[Int] = {
    val affected = staged.select(bucketOf(col(keyCol)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val slice = readBuckets(schema, affected)
    val merged = merge(slice, staged)
    // pass the affected set so a bucket the merge EMPTIED is physically
    // cleared (dynamic overwrite writes nothing for a zero-row bucket)
    overwriteBuckets(merged, keyCol, affected)
    affected
  }
}
