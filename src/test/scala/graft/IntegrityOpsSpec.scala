package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IntegrityOps

/** FK audit: planted orphans and null keys count exactly; the real
  * warehouse audits consistent (what the gate's hash then pins per
  * round — if the generator ever ships dangling keys, the audit is the
  * operator that says so). */
class IntegrityOpsSpec extends AnyFunSuite with SparkSuite {

  test("planted orphans and null FKs count by row and by key") {
    val s = spark
    import s.implicits._
    // parent keys {1, 2}; children: 3 rows on key 1, 2 rows on dangling
    // key 9, 1 row on dangling key 8, 1 null-FK row
    val child = Seq(Option(1L), Option(1L), Option(1L), Option(9L),
      Option(9L), Option(8L), None).toDF("fk")
    val parent = Seq(1L, 2L).toDF("pk")
    val r = IntegrityOps.edgeAudit("t", child, "fk", parent, "pk")
      .collect().head
    assert(r.getAs[String]("relationship") === "t")
    assert(r.getAs[Long]("n_child") === 7L)
    assert(r.getAs[Long]("n_keys") === 3L)          // 1, 9, 8 (null is not a key)
    assert(r.getAs[Long]("n_orphan_rows") === 4L)   // 9,9,8 + the null row
    assert(r.getAs[Long]("n_orphan_keys") === 2L)   // 9 and 8
  }

  test("the generated warehouse is referentially consistent on every edge") {
    val audit = IntegrityOps.fkAudit(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getAs[String]("relationship") ->
        ((r.getAs[Long]("n_child"), r.getAs[Long]("n_orphan_rows"),
          r.getAs[Long]("n_orphan_keys")))).toMap
    assert(audit.size === IntegrityOps.edges.size)
    audit.foreach { case (name, (nChild, orphanRows, orphanKeys)) =>
      assert(nChild > 0L, s"$name: empty child table")
      assert(orphanRows === 0L && orphanKeys === 0L,
        s"$name: generator shipped dangling keys — investigate, don't mask")
    }
  }
}
