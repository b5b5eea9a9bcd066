package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextExpressions
import graft.operators.TextOps

/** The native token counter must equal `size(wordsRe(text))` on every
  * input class: mixed whitespace runs, edge whitespace, empties,
  * vertical tab (NOT a separator, by the regex-parity contract),
  * multi-byte unicode, and NULLs — plus the whole fixture corpus. */
class WsTokenParitySpec extends AnyFunSuite with SparkSuite {

  test("adversarial strings: native count == split count") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      "", " ", "  ", "a", "a b", "a  b", "a\tb", "\ta b\n", "a b ", " a b",
      "\t", "\n\n", "a\t \n b", "a\u000Bb", // vertical tab is NOT a separator here
      "héllo wörld", "日本 語 テスト", "a\rb\fc", "  mixed \t\n ws  ",
      " nbsp is not ws", "ends with tab\t", "\nstarts with nl")
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    // reference is the LITERAL split form — wordsRe itself now routes
    // through the native expressions, so going through it would be
    // native-vs-native
    val out = df.select(col("id"),
      TextExpressions.wsTokenCountFast(col("text")).as("fast"),
      size(split(trim(col("text")), TextOps.wsRunRegex)).as("ref"))
      .collect()
    out.foreach { r =>
      assert(r.getInt(1) === r.getInt(2),
        s"case ${r.getLong(0)}: '${cases(r.getLong(0).toInt)}'")
    }
    // null text: both forms yield null
    val nulls = Seq((1L, Option.empty[String])).toDF("id", "text")
      .select(TextExpressions.wsTokenCountFast(col("text")).as("fast"),
        size(split(trim(col("text")), TextOps.wsRunRegex)).as("ref"))
      .head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("adversarial strings: native token ARRAY == split array") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      "", " ", "  ", "a", "a b", "a  b", "a\tb", "\ta b\n", "a b ", " a b",
      "\t", "\n\n", "a\t \n b", "ab", // vertical tab is NOT a separator
      "héllo wörld", "日本 語 テスト", "a\rb\fc", "  mixed \t\n ws  ",
      " nbsp is not ws", "ends with tab\t", "\nstarts with nl")
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val out = df.select(col("id"),
      TextExpressions.wsTokensFast(col("text")).as("fast"),
      split(trim(col("text")), TextOps.wsRunRegex).as("ref"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2),
        s"case ${r.getLong(0)}: '${cases(r.getLong(0).toInt)}'")
    }
    val nulls = Seq((1L, Option.empty[String])).toDF("id", "text")
      .select(TextExpressions.wsTokensFast(col("text")).as("fast"))
      .head()
    assert(nulls.isNullAt(0))
  }

  test("whole fixture corpus: zero mismatches (count and array)") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
    val mismatches = docs.select(
        TextExpressions.wsTokenCountFast(col("text")).as("fast"),
        size(split(trim(col("text")), TextOps.wsRunRegex)).as("ref"),
        TextExpressions.wsTokensFast(col("text")).as("fastArr"),
        split(trim(col("text")), TextOps.wsRunRegex).as("refArr"))
      .filter(col("fast") =!= col("ref") || col("fastArr") =!= col("refArr"))
      .count()
    assert(mismatches === 0L)
  }

  test("native bigram array == zip_with(slice, slice) reference, incl. corpus") {
    val s = spark
    import s.implicits._
    // the HOF reference the native expression replaced (lambda variables
    // defeat exchange-reuse canonicalization, hence the expression)
    def ref(t: org.apache.spark.sql.Column) = {
      val toks = split(trim(t), TextOps.wsRunRegex)
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b))
    }
    val cases = Seq("", " ", "a", "a b", "a b c", "a\t b\nc d ",
      "héllo wörld 日本", "one")
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val bad = df.select(
      TextExpressions.wsBigramsFast(col("text")).as("fast"),
      ref(col("text")).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(bad === 0L)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val mism = corpus.select(
      TextExpressions.wsBigramsFast(col("text")).as("fast"),
      ref(col("text")).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(mism === 0L)
  }
}
