package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SimilarityFunctions

/** The native Jaro-Winkler expression against an independent plain-Scala
  * reference of the pinned convention (DuckDB/rapidfuzz lineage:
  * either-empty → 0, floored transposition half-count, boost only above
  * 0.7). The oracle gate (x51) separately pins bit-parity against DuckDB
  * itself; this spec pins the expression's own contract, including
  * codegen evaluation and null handling. */
class JaroWinklerSpec extends AnyFunSuite with SparkSuite {

  // independent reference implementation over chars (== bytes for ASCII)
  private def refJw(s1: String, s2: String): Double = {
    val (l1, l2) = (s1.length, s2.length)
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    for (i <- 0 until l1) {
      val (lo, hi) = (math.max(0, i - window), math.min(l2 - 1, i + window))
      var j = lo
      while (j <= hi && !m1(i)) {
        if (!m2(j) && s1(i) == s2(j)) { m1(i) = true; m2(j) = true; m += 1 }
        j += 1
      }
    }
    if (m == 0) return 0.0
    var (mismatches, k) = (0, 0)
    for (i <- 0 until l1 if m1(i)) {
      while (!m2(k)) k += 1
      if (s1(i) != s2(k)) mismatches += 1
      k += 1
    }
    val md = m.toDouble
    var j = (md / l1 + md / l2 + (md - mismatches / 2) / md) / 3.0
    if (j > 0.7) {
      val p = s1.zip(s2).take(4).takeWhile { case (a, b) => a == b }.size
      j += p * 0.1 * (1.0 - j)
    }
    j
  }

  test("known anchor values and conventions") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      ("", "", 0.0),                   // NOT the textbook 1.0
      ("abc", "", 0.0),
      ("abc", "abc", 1.0),
      ("order_1.txt", "order_1.txt", 1.0))
    val got = cases.map(_._1).zip(cases.map(_._2)).toDF("a", "b")
      .select(SimilarityFunctions.jaroWinkler(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(got.toSeq === cases.map(_._3))
  }

  test("randomized parity with the reference implementation (codegen path)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val chars = "abcdefg_.0123"
    def mk(n: Int) = (0 until n).map(_ => chars(rnd.nextInt(chars.length))).mkString
    val pairs = (0 until 500).map { n =>
      val a = mk(rnd.nextInt(25))
      val b = n % 4 match {
        case 0 if a.length > 2 => a.updated(a.length / 2, 'X')
        case 1 => a.reverse
        case 2 => a + mk(3)
        case _ => mk(rnd.nextInt(25))
      }
      (a, b)
    }
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), SimilarityFunctions.jaroWinkler(col("a"), col("b")).as("jw"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    pairs.foreach { case (a, b) =>
      assert(java.lang.Double.doubleToLongBits(got((a, b))) ===
        java.lang.Double.doubleToLongBits(refJw(a, b)), s"($a, $b)")
    }
  }

  test("null propagates; order symmetry holds on same-length inputs") {
    val s = spark
    import s.implicits._
    val rows = Seq((Option("abc"), Option.empty[String]),
      (Option.empty[String], Option("x")), (Some("martha"), Some("marhta")))
      .toDF("a", "b")
      .select(SimilarityFunctions.jaroWinkler(col("a"), col("b"))).collect()
    assert(rows(0).isNullAt(0) && rows(1).isNullAt(0))
    assert(math.abs(rows(2).getDouble(0) - 0.9611111111111111) < 1e-12)
  }
}
