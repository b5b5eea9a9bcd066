package graft.core

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet-backed table state for the crawl/merge pipelines.
  *
  * The reference keeps state in Postgres tables; with no transactional
  * table format on the unmanaged classpath, each merge round here writes
  * the next version of a table to a staging path and swaps it in
  * (write-new → move-old-away → rename-new → drop-old). Readers of the
  * old version that already captured file listings keep working; a crash
  * mid-swap is recoverable by re-running the round (idempotent MERGE keys
  * — the reference relies on the same property, SURVEY §7.4.3).
  *
  * At cluster scale the same choreography works on any shared FS /
  * object store; swapping to Delta/Iceberg (true MERGE + snapshot
  * isolation) changes only this class.
  */
class StateStore(val spark: SparkSession, val root: String) {
  new File(root).mkdirs()

  def path(table: String): String = s"$root/$table"

  private def exists(table: String): Boolean =
    Files.exists(Paths.get(path(table), "_SUCCESS"))

  /** Read a state table; missing tables read as empty with the canonical
    * schema. */
  def read(table: String): DataFrame = {
    val schema = Schemas.all(table)
    if (exists(table)) spark.read.schema(schema).parquet(path(table))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Overwrite a state table with swap semantics. The plan behind `df` may
    * read the table's current version — it is fully materialized into the
    * staging path before the current version is touched. */
  def write(table: String, df: DataFrame): Unit = {
    val tmp = s"$root/.staging_$table"
    val old = s"$root/.old_$table"
    df.write.mode("overwrite").parquet(tmp)
    val cur = Paths.get(path(table))
    if (Files.exists(cur))
      Files.move(cur, Paths.get(old), StandardCopyOption.REPLACE_EXISTING)
    Files.move(Paths.get(tmp), cur)
    deleteRecursively(new File(old))
    // plan-keyed caches canonicalize a parquet read by its ROOT PATH, so
    // a re-read of the swapped table is semantically "equal" to the old
    // plan — drop every pin this session holds, or a later duplicate
    // search over the refreshed catalog would scan pre-swap rows
    Memo.invalidate(spark)
  }

  /** Append rows (archive tables are append-only). */
  def append(table: String, df: DataFrame): Unit = {
    val schema = Schemas.all(table)
    val aligned = df.select(schema.fieldNames.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
    aligned.write.mode("append").parquet(path(table))
    Memo.invalidate(spark) // same root-path canonicalization hazard
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(): Unit
  }
}
