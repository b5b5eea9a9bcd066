package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AcDict, AcExpressions, AcUtils}
import graft.operators.DictTagOps

/** Aho-Corasick tagger vs the naive positional definition (every start
  * position, overlapping included) on adversarial fixtures and the real
  * corpus — the Spark-side half of the proof whose DuckDB half is the
  * x143 oracle hash. */
class AcParitySpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  /** Naive reference: overlapping occurrence count by stepping one
    * character past each match start. */
  private def naive(text: String, term: String): Long = {
    var from = 0; var n = 0L
    while ({ val i = text.indexOf(term, from); i >= 0 && { n += 1; from = i + 1; true } }) ()
    n
  }

  private def acCounts(texts: Seq[String], dict: AcDict): Seq[Seq[Long]] = {
    val s = spark
    import s.implicits._
    texts.toDF("text")
      .select(AcExpressions.acTermCounts(col("text"), AcDict(dict.terms)).as("c"))
      .collect().toSeq.map(_.getSeq[Long](0))
  }

  test("classic he/she/his/hers automaton: fail links and nested outputs") {
    val dict = AcDict(IndexedSeq("he", "she", "his", "hers"))
    val texts = Seq("ushers", "shehehers", "hishe", "h", "")
    val got = acCounts(texts, dict)
    texts.zip(got).foreach { case (t, cs) =>
      dict.terms.zipWithIndex.foreach { case (term, i) =>
        assert(cs(i) === naive(t, term), s"term '$term' in '$t'")
      }
    }
    // "ushers": she, he, hers each once — the fail-chain output case
    assert(got.head === Seq(1L, 1L, 0L, 1L))
  }

  test("overlapping and self-overlapping terms count every start position") {
    val dict = AcDict(IndexedSeq("aa", "aaa", "a a"))
    val texts = Seq("aaaa", "a a a", "aa aa", "a", "b")
    acCounts(texts, dict).zip(texts).foreach { case (cs, t) =>
      dict.terms.zipWithIndex.foreach { case (term, i) =>
        assert(cs(i) === naive(t, term), s"term '$term' in '$t'")
      }
    }
  }

  test("multi-byte UTF-8: byte-level matching is codepoint-aligned") {
    val dict = AcDict(IndexedSeq("é", "éé", "日本", "本", "aé"))
    val texts = Seq("ééé", "日本本日本", "café aéré", "")
    acCounts(texts, dict).zip(texts).foreach { case (cs, t) =>
      dict.terms.zipWithIndex.foreach { case (term, i) =>
        assert(cs(i) === naive(t, term), s"term '$term' in '$t'")
      }
    }
  }

  test("null text yields null counts; prefix-nested terms both fire") {
    val s = spark
    import s.implicits._
    val dict = AcDict(IndexedSeq("tab", "table", "able"))
    val rows = Seq[(java.lang.Long, String)]((1L, "table tab"), (2L, null))
      .toDF("id", "text")
      .select(col("id"), AcExpressions.acTermCounts(col("text"), dict).as("c"))
      .collect().sortBy(_.getLong(0))
    assert(rows(0).getSeq[Long](1) === Seq(2L, 1L, 1L))
    assert(rows(1).isNullAt(1))
  }

  test("x143 plan: one corpus scan, no join anywhere (zeros come explode-side)") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = DictTagOps.dictionaryTags(docs).queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size === 1,
      s"dictionary audit must read the corpus once:\n$plan")
    assert(!plan.contains("Join"),
      s"no terms-relation join-back — absent terms keep zero rows dense:\n$plan")
  }

  /** Codepoint-aware overlapping start positions, capped. */
  private def naivePositions(text: String, term: String,
                             cap: Int): Seq[Long] = {
    val t = text.codePoints().toArray
    val p = term.codePoints().toArray
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i + p.length <= t.length && out.size < cap) {
      if (t.slice(i, i + p.length).sameElements(p)) out += (i + 1).toLong
      i += 1
    }
    out.toSeq
  }

  test("x151 hit positions: character-exact on unicode, capped per term, ascending") {
    val s = spark
    import s.implicits._
    val terms = IndexedSeq("aa", "a a", "é", "日本", "😀a", "can")
    val dict = AcDict(terms)
    val texts = Seq("aaaa a a a", "café 日本日本 😀a😀a", "scan can 😀aé", "")
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = graft.operators.DictTagOps
      .dictionarySpans(rows, terms, cap = 3).collect()
      .map(r => ((r.getAs[Long]("doc_id"), r.getAs[String]("term")),
        r.getAs[Long]("pos")))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted.toSeq }
    texts.zipWithIndex.foreach { case (t, i) =>
      terms.foreach { term =>
        val want = naivePositions(t, term, 3)
        val have = got.getOrElse((i.toLong, term), Seq.empty)
        assert(have === want, s"term '$term' in '$t'")
      }
    }
  }

  test("production-sized dictionary: 10k terms build and tally in one pass") {
    // the scale contract: automaton build is O(total pattern bytes),
    // matching O(text bytes + matches) — a dictionary three orders
    // beyond the gate's must stay a single cheap pass (a per-term
    // regexp pipeline would be a 10k-deep expression tree)
    val rnd = new scala.util.Random(7)
    val alphabet = Vector("scan", "table", "agg", "row", "key", "sort",
      "batch", "query", "data", "win")
    val big = (0 until 10000).map { i =>
      (0 until 2 + rnd.nextInt(3)).map(_ => alphabet(rnd.nextInt(alphabet.size)))
        .mkString(" ") + s" t$i"
    }.toIndexedSeq
    val dict = AcDict(big)
    assert(dict.auto.nTerms === 10000)
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = graft.operators.DictTagOps.dictionaryTags(docs, big)
    assert(out.count() === 10000L, "dense output: one row per term")
    // unique suffixes make every term absent — all-zero tallies
    assert(out.filter(col("n_occ") > 0).count() === 0L)
  }

  test("x143 gate dictionary matches the naive reference on the real corpus") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val terms = DictTagOps.gateTerms
    val texts = docs.select("text").collect().map(_.getString(0)).toSeq
    val expected = terms.map { t =>
      val per = texts.map(x => naive(x, t))
      (per.count(_ > 0).toLong, per.sum)
    }
    val got = DictTagOps.dictionaryTags(docs).collect()
      .map(r => r.getAs[Long]("term_id") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_occ")))).toMap
    assert(got.size === terms.size, "one row per term, zeros preserved")
    terms.indices.foreach { i =>
      assert(got(i.toLong) === expected(i), s"term '${terms(i)}'")
    }
    // the audit is non-trivial on this corpus: hot terms hit, zebra zero
    assert(got(terms.indexOf("zebra").toLong) === ((0L, 0L)))
    assert(got(terms.indexOf("scan").toLong)._1 > 0L)
  }
}
