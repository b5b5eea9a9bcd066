package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewOps

/** Salting must preserve exact results while spreading hot keys. */
class SkewOpsSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  test("salted count equals plain groupBy count on a skewed key") {
    val s = spark
    import s.implicits._
    // 90% of rows share one hot key
    val df = (1 to 10000).map(i => (if (i % 10 == 0) s"k${i % 7}" else "HOT", i.toLong))
      .toDF("key", "row_id")
    val plain = df.groupBy("key").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SkewOps.saltedCount(df, Seq("key"), "row_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === plain)
  }

  test("salted join equals plain inner join") {
    val s = spark
    import s.implicits._
    val big = (1 to 5000).map(i => (if (i % 5 == 0) "a" else "b", i.toLong)).toDF("k", "row_id")
    val small = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
    val plain = big.join(small, Seq("k")).groupBy("k").agg(count(lit(1)), sum("v"))
      .collect().map(_.toSeq).toSet
    val salted = SkewOps.saltedJoin(big, small, Seq("k"), "row_id")
      .groupBy("k").agg(count(lit(1)), sum("v"))
      .collect().map(_.toSeq).toSet
    assert(salted === plain)
  }
}
