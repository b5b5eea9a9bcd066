package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps
import graft.operators.DedupOps.{Local, Unpinned}
import org.apache.spark.sql.graftbridge.Bridge

/** The co-partitioned pin (round 19): `localCheckpoint` erases
  * outputPartitioning, so [[DedupOps.pinPartitioned]] re-declares the
  * layout the checkpointed RDD physically has via
  * [[Bridge.declareHashPartitioning]]. These tests pin the TRUTHFULNESS
  * contract — the declared murmur3(k) % n placement must match where
  * rows actually sit — plus the two things the declaration buys
  * (exchange-free aggregation and joins on the pinned key) and the two
  * things it must never change (row content, non-Local states). */
class PinPartitionedSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  private def base = spark.range(0, 1000)
    .select((col("id") % 97).as("k"), col("id").as("v"))

  test("declared layout is truthful: rows sit at murmur3(k) % n") {
    val n = 3
    val pinned = Bridge.declareHashPartitioning(
      base.repartition(n, col("k")).localCheckpoint(true), Seq("k"), n)
    assert(pinned.rdd.getNumPartitions === n)
    // functions.hash is Murmur3Hash(seed 42) — the same expression
    // HashPartitioning.partitionIdExpression uses, so this equality IS
    // the declared contract, checked row by row on the physical layout
    val misplaced = pinned
      .select(col("k"), spark_partition_id().as("p"))
      .where(pmod(hash(col("k")), lit(n)) =!= col("p")).count()
    assert(misplaced === 0L)
  }

  test("rows are unchanged and keyed aggregation skips the exchange") {
    val expected = base.groupBy("k").agg(sum("v").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val pinned = DedupOps.pinPartitioned(Local, base, "k")
    val got = pinned.groupBy("k").agg(sum("v").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expected)
    // the point of the declaration: no shuffle for a groupBy on the
    // pinned key (BroadcastExchange-free too — it is a bare aggregate)
    val plan = pinned.groupBy("k").agg(sum("v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("self-derived join on the pinned key: exchange-free and exact") {
    val pinned = DedupOps.pinPartitioned(Local, base, "k")
    val agg = pinned.groupBy("k").agg(sum("v").as("s"))
    val joined = pinned.join(agg.hint("shuffle_hash"), Seq("k"))
      .select(col("k"), col("v"), col("s"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    val expected = base.join(base.groupBy("k").agg(sum("v").as("s")), Seq("k"))
      .select(col("k"), col("v"), col("s"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(joined.collect().map(_.toSeq).sortBy(_.toString) === expected)
  }

  test("Unpinned state: no checkpoint, partitioning still visible") {
    val df = DedupOps.pinPartitioned(Unpinned, base, "k")
    // no LogicalRDD leaf — the repartition node itself carries the
    // partitioning, so declareHashPartitioning must leave the plan alone
    assert(!df.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    val plan = df.groupBy("k").agg(sum("v"))
      .queryExecution.executedPlan.toString
    // exactly one exchange: the explicit repartition, none for the agg
    // (a 1-partition hash layout prints as SinglePartition, so count
    // Exchange nodes generically)
    assert("Exchange ".r.findAllIn(plan).length === 1, plan)
  }

  test("declareHashPartitioning refuses a column the plan lacks") {
    val pinned = base.repartition(2, col("k")).localCheckpoint(true)
    intercept[IllegalArgumentException] {
      Bridge.declareHashPartitioning(pinned, Seq("nope"), 2)
    }
  }
}
