package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native one-pass window-hash kernel
  * ([[graft.functions.TextExpressions.windowHashes]], wired through
  * `SubstringOps.windows(fastHash = true)`) must equal the HOF-lambda
  * reference (`transform(sequence(…), i -> xxhash64(element_at…))`)
  * row-for-row: same (doc_id, pos, whash) triples — chained-seed
  * xxhash64 VALUES, not just equality classes — on empty, short,
  * exact-w, multibyte, repeated-token, and real fixture inputs. */
class WindowHashParitySpec extends AnyFunSuite with SparkSuite {

  private val inputs: Seq[String] = Seq(
    "", " ", "one", "one two", "a b c d e f g h",          // exactly w=8
    "a b c d e f g h i j k l m n o p q r s t",
    ("tok " * 100).trim,                                    // heavy repeats
    "héllo wörld ünïcode text with 日本語 tokens mixed in here",
    "  leading and trailing  ", "tab\tand\nnewline runs x y z w q r")

  test("native windows(fastHash) == HOF xxhash64 lambda, w=8 and w=3") {
    val s = spark
    import s.implicits._
    val docs = inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (w <- Seq(3, 8)) {
      val native = graft.operators.SubstringOps
        .windows(docs, w, col("text"), fastHash = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val hof = graft.operators.SubstringOps
        .windowsFastHof(docs, w, col("text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(native === hof, s"w=$w")
      assert(native.nonEmpty)
    }
  }

  test("chained seed matches xxhash64(col, col) on a two-token window") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val nat = graft.operators.SubstringOps
      .windows(df, 2, col("text"), fastHash = true)
      .select("whash").collect()(0).getLong(0)
    val ref = df.select(xxhash64(lit("alpha"), lit("beta"))).collect()(0)
      .getLong(0)
    assert(nat === ref)
  }
}
