package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BpeRanks, BpeUtils}
import graft.operators.BpeOps

/** Native BPE segmentation ([[BpeUtils.segment]]) vs the chained-replace
  * reference form: bit-parity on trained models (the x112/x114 gate
  * re-pins this cross-engine), on adversarial rank-order fixtures, and
  * on a PRODUCTION-SIZED (≥512-merge) trained table where a chained
  * expression tree stops being a practical plan. */
class BpeParitySpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  private val sfDir = "/root/testdata/sf0.001"
  private val SEP = BpeOps.SEP

  /** The chained-replace semantics in plain Scala — java
    * `String.replace` substitutes non-overlapping occurrences
    * left-to-right exactly like the SQL `replace` both engines run. */
  private def refSegment(word: String, merges: Seq[(String, String)]): String = {
    var s = word.codePoints().toArray
      .map(cp => SEP + new String(Character.toChars(cp)) + SEP).mkString("")
    merges.foreach { case (l, r) =>
      s = s.replace(SEP + l + SEP + SEP + r + SEP, SEP + l + r + SEP)
    }
    s
  }

  private def native(word: String, merges: Seq[(String, String)]): String =
    BpeUtils.segment(UTF8String.fromString(word),
      BpeRanks(merges.toIndexedSeq)).toString

  test("rank-order fixtures: lower-rank adjacencies created late stay unmerged") {
    // r0 = (ab,c) trains EARLIER than r1 = (a,b): applying r1 creates
    // the (ab, c) adjacency, but a chained pipeline has already passed
    // r0 — the native heap must skip it too
    val skewed = Seq(("ab", "c"), ("a", "b"))
    assert(native("abc", skewed) === refSegment("abc", skewed))
    assert(native("abc", skewed) === s"${SEP}ab${SEP}${SEP}c${SEP}")
    // in-order table: cascading merges fire
    val cascade = Seq(("a", "b"), ("ab", "c"))
    assert(native("abc", cascade) === refSegment("abc", cascade))
    assert(native("abc", cascade) === s"${SEP}abc${SEP}")
    // non-overlap within one rank + back-to-back fusion adjacency
    val aa = Seq(("a", "a"), ("aa", "aa"), ("aa", "a"))
    for (w <- Seq("a", "aa", "aaa", "aaaa", "aaaaa", "aaaaaaa"))
      assert(native(w, aa) === refSegment(w, aa), s"word=$w")
    // supplementary code points segment per code point, not per char
    val uni = Seq(("𝕏", "𝕏"))
    assert(native("𝕏𝕏a", uni) ===
      refSegment("𝕏𝕏a", uni))
    // empty + single-symbol edges
    assert(native("", aa) === "")
    assert(native("q", aa) === s"${SEP}q${SEP}")
  }

  test("trained 32-merge model: native == chained-replace Column on every distinct word") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val model = BpeOps.train(docs, rounds = 32)
    assert(model.merges.length === 32)
    val words = BpeOps.vocab(docs).select(col("word"))
    val chained = BpeOps.segmented(model,
      regexp_replace(col("word"), "(.)", SEP + "$1" + SEP))
    val mismatches = words
      .select(col("word"), chained.as("want"),
        BpeOps.segmentedNative(model, col("word")).as("got"))
      .filter(col("want") =!= col("got"))
      .count()
    assert(mismatches === 0L)
  }

  test("trained >=512-merge model applies natively; chained reference agrees") {
    // deterministic pseudo-corpus with enough pair diversity to sustain
    // 512+ distinct merges (an LCG, no java.util.Random — reproducible)
    var s = 123456789L
    def nxt(bound: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % bound) + bound).toInt % bound
    }
    val words = (1 to 1500).map { _ =>
      val len = 6 + nxt(9)
      (1 to len).map(_ => ('a' + nxt(26)).toChar).mkString
    }
    val sess = spark
    import sess.implicits._
    val corpus = words.grouped(25).map(_.mkString(" ")).toSeq
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val model = BpeOps.train(corpus, rounds = 512)
    assert(model.merges.length === 512,
      s"corpus exhausted at ${model.merges.length} merges — enlarge the fixture")
    val merges = model.merges.map { case (l, r, _) => (l, r) }
    // native expression over the DataFrame (exercises codegen + the
    // serialized BpeRanks reference object), checked word-by-word
    // against the plain-Scala chained-replace reference
    val got = corpus
      .select(explode(graft.operators.TextOps.wordsRe(col("text"))).as("word"))
      .distinct()
      .select(col("word"), BpeOps.segmentedNative(model, col("word")).as("seg"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(got.nonEmpty)
    got.foreach { case (w, seg) =>
      assert(seg === refSegment(w, merges), s"word=$w")
      // removing separators must reproduce the word exactly
      assert(seg.replace(SEP, "") === w)
    }
  }
}
