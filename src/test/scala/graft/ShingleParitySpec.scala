package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps

/** The native codegen shingle expression must be BYTE-IDENTICAL to the
  * higher-order-function chain (the documented/oracle semantics) on every
  * input class — including the corner cases where Java and Spark string
  * semantics diverge (trim scope, empty tokens, newlines). */
class ShingleParitySpec extends AnyFunSuite with SparkSuite {

  private val inputs: Seq[String] = Seq(
    "the quick brown fox jumps", "a b c", "a b", "a", "",
    " leading and trailing  ", "double  space between", "   ", "a  b c",
    "tab\tseparated words here", "new\nline inside text ok",
    "\nleading newline stays", // Spark trim strips 0x20 only — not \n
    "ünï côde wörds here", "a b c d e f g h i j") ++
    (0 until 50).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val words = (0 until (i % 9)).map { j =>
        val h = md.digest(s"$i:$j".getBytes("UTF-8"))
        h.map("%02x".format(_)).mkString.take(1 + (h(0) & 3))
      }
      words.mkString(" ")
    }

  test("native shingles equal the HOF chain on the full input matrix") {
    val s = spark
    import s.implicits._
    Seq(2, 3, 5).foreach { n =>
      val df = inputs.toDF("text").select(
        col("text"),
        DedupOps.shinglesHof(col("text"), n).as("hof"),
        DedupOps.shingles(col("text"), n).as("fast"))
      df.collect().foreach { r =>
        assert(r.getSeq[String](1) === r.getSeq[String](2),
          s"n=$n mismatch for input '${r.getString(0)}'")
      }
    }
  }

  test("null text yields an empty array on both forms") {
    val s = spark
    import s.implicits._
    val r = Seq(Option.empty[String]).toDF("text").select(
      DedupOps.shinglesHof(col("text")).as("hof"),
      DedupOps.shingles(col("text")).as("fast")).head()
    assert(r.getSeq[String](0) === Seq.empty)
    assert(r.getSeq[String](1) === Seq.empty)
  }
}
