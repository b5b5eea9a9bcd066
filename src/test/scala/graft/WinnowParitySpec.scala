package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** The native one-pass winnowing expression must equal the declarative
  * HOF formulation (the documented/oracle semantics) element-for-element
  * on every input class: empty, shorter-than-k, trim-scope corners,
  * repeated text (distinct collapse order), multibyte code points, and
  * the real fixture corpus. */
class WinnowParitySpec extends AnyFunSuite with SparkSuite {

  private val inputs: Seq[String] = Seq(
    "", " ", "    ", "a", "ab", "abcd", "abcde", "abcdef",
    "  leading spaces stay stripped  ", "\nnewline is NOT trimmed",
    "tab\there", "aaaaaaaaaaaaaaaa", // heavy duplicate grams
    "the quick brown fox jumps over the lazy dog",
    ("repeat me " * 30).trim,        // long + periodic (distinct-order stress)
    "héllo wörld ünïcode text",      // 2-byte code points
    "日本語のテキストです、五文字グラム",   // 3-byte code points
    "mixed ascii と 日本語 and môre")

  private def run(df: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
  : Map[Long, Seq[Long]] = {
    val s = spark
    import s.implicits._
    val docs = inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    df(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
  }

  test("native == HOF on the adversarial matrix, in order") {
    val native = run(TextOps.winnowingSelections(_))
    val hof = run(TextOps.winnowingSelectionsHof(_))
    inputs.indices.foreach { i =>
      assert(native(i.toLong) === hof(i.toLong),
        s"input ${i}: '${inputs(i).take(40)}'")
    }
  }

  test("native == HOF on the fixture corpus (all rows, varied k/w)") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    for ((k, w) <- Seq((5, 4), (3, 2), (7, 9))) {
      val native = TextOps.winnowingSelections(docs, k, w).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
      val hof = TextOps.winnowingSelectionsHof(docs, k, w).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
      assert(native === hof, s"k=$k w=$w")
    }
  }

  test("minGramHash native == HOF (adversarial matrix + fixture corpus)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    def pairs(df: org.apache.spark.sql.DataFrame, n: Int) = df.select(
        col("doc_id"),
        TextOps.minShingleHash(col("text"), n).as("native"),
        TextOps.minShingleHashHof(col("text"), n).as("hof"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val adv = inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (n <- Seq(3, 5, 8); (id, nat, hof) <- pairs(adv, n))
      assert(nat === hof, s"n=$n input $id: '${inputs(id.toInt).take(40)}'")
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    pairs(docs, 5).foreach { case (id, nat, hof) =>
      assert(nat === hof, s"fixture doc $id") }
  }
}
