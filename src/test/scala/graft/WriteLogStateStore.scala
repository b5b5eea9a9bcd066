package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.StateStore

/** A [[StateStore]] that logs the table of every `write` and `append`, in
  * call order, so a spec can check how often a round writes each table. */
class WriteLogStateStore(spark: SparkSession, root: String) extends StateStore(spark, root) {
  val writes: ArrayBuffer[String] = ArrayBuffer.empty

  override def write(table: String, df: DataFrame): Unit = {
    writes += table
    super.write(table, df)
  }

  override def append(table: String, df: DataFrame): Unit = {
    writes += table
    super.append(table, df)
  }

  /** Tables written more than once, with their write counts. */
  def repeated: Map[String, Int] =
    writes.groupBy(identity).collect { case (t, ws) if ws.size > 1 => t -> ws.size }
}
