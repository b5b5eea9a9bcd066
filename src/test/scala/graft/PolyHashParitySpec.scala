package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashFunctions

/** The native one-pass [[HashFunctions.polyHash52Fast]] must equal the
  * declarative HOF fold (the documented/oracle semantics) on every input
  * class: empty, single char, long ASCII, whitespace corners, multibyte
  * (2- and 3-byte) code points, surrogate pairs, and null. The DSIR
  * family's feature hashing rides the native form; the DuckDB twin stays
  * the character fold, so this spec IS the cross-form contract. */
class PolyHashParitySpec extends AnyFunSuite with SparkSuite {

  private val inputs: Seq[String] = Seq(
    "", " ", "a", "ab", "ba", "the", "the quick brown fox",
    "bigram feat", "word1 word2",
    "a" * 500,                          // long fold (many mod reductions)
    "héllo wörld",                      // 2-byte code points
    "日本語テキスト",                     // 3-byte code points
    "emoji 😀 pair",          // surrogate pair (4-byte cp)
    "\t\n\r mixed ws", "0123456789")

  test("native == HOF fold on the adversarial matrix") {
    val s = spark
    import s.implicits._
    val df = inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val rows = df.select(col("id"),
      HashFunctions.polyHash52(col("t")).as("hof"),
      HashFunctions.polyHash52Fast(col("t")).as("fast")).collect()
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2),
        s"input ${inputs(r.getLong(0).toInt)}: " +
          s"hof=${r.getLong(1)} fast=${r.getLong(2)}")
    }
  }

  test("null text -> null hash, both forms") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, null.asInstanceOf[String])).toDF("id", "t")
    val r = df.select(HashFunctions.polyHash52Fast(col("t"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("interpreted eval matches codegen (nullSafeEval path)") {
    // polyHash52Utf8 direct vs the HOF constant-folded value
    val u = org.apache.spark.unsafe.types.UTF8String.fromString("word1 word2")
    val direct = HashFunctions.polyHash52Utf8(u)
    val s = spark
    val viaSql = s.sql(
      "SELECT 1").select(HashFunctions.polyHash52(lit("word1 word2")))
      .collect()(0).getLong(0)
    assert(direct === viaSql)
  }
}
