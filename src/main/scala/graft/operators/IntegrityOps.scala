package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Warehouse referential-integrity audit — the pre-flight read every
  * scheduled pipeline runs before trusting a join: for each declared
  * foreign-key edge, how many child rows and distinct keys exist and
  * how many dangle (no parent row). A dangling key silently DROPS rows
  * from every inner join downstream (q3/q5/q10-class revenue queries
  * under-report with no error anywhere), so the audit quantifies what
  * the joins will silently do.
  *
  * Scale shape, per edge: the child is KEY-COMPRESSED first
  * (`groupBy(fk).count` — map-side partials absorb fact-table volume
  * and key skew), then LEFT-JOINED against the parent's key projection
  * — the join input is |distinct keys|, never |child rows|; dims
  * broadcast automatically, the one fact-sized parent (orders) shuffles
  * key-compressed on both sides. Each edge collapses to ONE output row
  * before the 9-row union (TPC-H spine plus the 1:1 embeddings↔documents pair), so nothing row-sized crosses a union. */
object IntegrityOps {

  /** The warehouse's declared FK edges:
    * (name, child table, fk col, parent table, pk col). */
  val edges: Seq[(String, String, String, String, String)] = Seq(
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    // the ML side of the warehouse: vectors and documents are 1:1 —
    // a vector without a doc is unservable, a doc without a vector is
    // invisible to every ANN/semantic operator
    ("embeddings->documents", "embeddings", "vec_id", "documents", "doc_id"),
    ("documents->embeddings", "documents", "doc_id", "embeddings", "vec_id"))

  /** The SUFFICIENT STATISTIC behind one edge's audit: the
    * key-compressed child panel `(k, c)` — ONE aggregation whose only
    * measure is a sum, |distinct keys| rows, which is exactly what lets
    * the same call maintain the panel as streaming state (replays
    * count: deliver exactly-once or dedup upstream): the audit row
    * needs the parent join, the panel does not. */
  def childPanel(child: DataFrame, fk: String): DataFrame =
    child.groupBy(col(fk).as("k")).agg(count(lit(1)).as("c"))

  /** Finish a [[childPanel]] into the edge's audit row — batch and the
    * streaming live panel share this read verbatim, so
    * stream-then-finish equals batch x147 on every arrival prefix
    * (the streaming spec pins it). The parent relation is joined RAW
    * (no distinct), matching the oracle's `LEFT JOIN parent` row
    * semantics exactly. */
  def auditFromPanel(name: String, panel: DataFrame,
                     parent: DataFrame, pk: String): DataFrame =
    panel
      .join(parent.select(col(pk).as("k"), lit(1).as("hit")), Seq("k"), "left")
      .agg(
        sum(col("c")).as("n_child"),
        sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("n_keys"),
        sum(when(col("hit").isNull, col("c")).otherwise(0L))
          .as("n_orphan_rows"),
        sum(when(col("hit").isNull && col("k").isNotNull, 1L).otherwise(0L))
          .as("n_orphan_keys"))
      .select(lit(name).as("relationship"), col("n_child"), col("n_keys"),
        col("n_orphan_rows"), col("n_orphan_keys"))

  /** One edge's audit row — the key-compressed left-join shape,
    * factored as finish(panel). */
  def edgeAudit(name: String, child: DataFrame, fk: String,
                parent: DataFrame, pk: String): DataFrame =
    auditFromPanel(name, childPanel(child, fk), parent, pk)

  /** The parent's distinct key projection `(k, __hit = 1)` for
    * [[flagOnIngest]]. Distinct is correct here (the flag only asks
    * existence) and bounds the broadcast by |distinct pk|. */
  def parentKeys(parent: DataFrame, pk: String): DataFrame =
    parent.select(col(pk).as("k")).distinct()
      .select(col("k"), lit(1).as("__hit"))

  /** Per-row dangling-child flag: `child.*` + `orphan` (1 = no parent
    * row exists — including NULL fk, which the audit counts
    * identically). The row passes through, because a pipeline wants to
    * quarantine orphans, not drop them the way an inner join would. A
    * broadcast left join against [[parentKeys]]: on a stream it is
    * stateless and stream-static, so a child row is flagged the moment
    * it arrives (append mode). */
  def flagOnIngest(child: DataFrame, fk: String,
                   parentK: DataFrame): DataFrame =
    child.join(broadcast(parentK), child(fk) === parentK("k"), "left_outer")
      .select(child.columns.toSeq.map(col) :+
        when(col("__hit").isNull, 1).otherwise(0).as("orphan"): _*)

  /** x147: one row per FK edge —
    * `(relationship, n_child, n_keys, n_orphan_rows, n_orphan_keys)`.
    * NULL foreign keys count as orphan rows (they vanish from inner
    * joins exactly like dangling ones) but not as keys. */
  def fkAudit(spark: SparkSession, dir: String): DataFrame = {
    val t: Map[String, DataFrame] = Map(
      "lineitem" -> Tables.lineitem(spark, dir),
      "orders" -> Tables.orders(spark, dir),
      "customer" -> Tables.customer(spark, dir),
      "supplier" -> Tables.supplier(spark, dir),
      "part" -> Tables.part(spark, dir),
      "nation" -> Tables.nation(spark, dir),
      "region" -> Tables.region(spark, dir),
      "documents" -> Tables.documents(spark, dir),
      "embeddings" -> Tables.embeddings(spark, dir))
    edges.map { case (name, child, fk, parent, pk) =>
      edgeAudit(name, t(child), fk, t(parent), pk)
    }.reduce(_ union _)
  }

  /** DuckDB twin of [[fkAudit]]. */
  def fkAuditSql: String =
    edges.map { case (name, child, fk, parent, pk) =>
      s"""SELECT '$name' AS relationship,
         |  CAST(count(*) AS BIGINT) AS n_child,
         |  CAST(count(DISTINCT c.$fk) AS BIGINT) AS n_keys,
         |  CAST(sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_orphan_rows,
         |  CAST(count(DISTINCT CASE WHEN p.$pk IS NULL THEN c.$fk END)
         |    AS BIGINT) AS n_orphan_keys
         |FROM $child c LEFT JOIN $parent p ON c.$fk = p.$pk""".stripMargin
    }.mkString("\nUNION ALL\n")
}
