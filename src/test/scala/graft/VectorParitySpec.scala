package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityOps

/** The native codegen dot product must be BIT-identical to the HOF fold
  * (same multiplies, same left-to-right summation order) on float arrays
  * — including values where summation order matters in IEEE arithmetic. */
class VectorParitySpec extends AnyFunSuite with SparkSuite {

  test("dot_fast bit-equals the HOF fold on adversarial float vectors") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val vecs: Seq[(Array[Float], Array[Float])] =
      // magnitude-mixed values make the sum order-sensitive — exactly
      // where an implementation with a different fold order would diverge
      (0 until 200).map { _ =>
        def v = Array.tabulate(64)(_ =>
          ((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(8) - 4)).toFloat)
        (v, v)
      } :+ ((Array.empty[Float], Array.empty[Float])) :+
        ((Array(1e30f, 1f, -1e30f), Array(1f, 1f, 1f)))
    val df = vecs.toDF("a", "b").select(
      SimilarityOps.dotHof(col("a"), col("b")).as("hof"),
      SimilarityOps.dot(col("a"), col("b")).as("fast"))
    df.collect().foreach { r =>
      val (h, f) = (r.getDouble(0), r.getDouble(1))
      assert(java.lang.Double.doubleToRawLongBits(h) ===
        java.lang.Double.doubleToRawLongBits(f), s"$h vs $f")
    }
  }

  test("mismatched dimensions yield NULL on both forms, never a partial dot") {
    val s = spark
    import s.implicits._
    val r = Seq((Array(1f, 2f, 3f), Array(1f, 2f)))
      .toDF("a", "b").select(
        SimilarityOps.dotHof(col("a"), col("b")).as("hof"),
        SimilarityOps.dot(col("a"), col("b")).as("fast")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("null array propagates null on both forms") {
    val s = spark
    import s.implicits._
    val r = Seq((Option.empty[Array[Float]], Option(Array(1f))))
      .toDF("a", "b").select(
        SimilarityOps.dotHof(col("a"), col("b")).as("hof"),
        SimilarityOps.dot(col("a"), col("b")).as("fast")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }
}
