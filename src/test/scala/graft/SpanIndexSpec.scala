package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{SpanIndex, SubstringOps}

/** Persisted exact-substring first-occurrence index: the incremental
  * keep-first bill must equal the one-shot x181 bill when the indexed
  * corpus precedes the batch, epochs hold disjoint hashes, replay is a
  * no-op by name, and the crash-anywhere promotion states hold. */
class SpanIndexSpec extends AnyFunSuite with SparkSuite {

  // 12-word sentences over distinct vocabularies; w = 8 windows
  private val a =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val b =
    "one two three four five six seven eight nine ten eleven twelve"
  private val c =
    "red orange yellow green blue indigo violet cyan magenta umber teal jade"

  private def freshRoot(): String =
    Files.createTempDirectory("spx_spec").toString

  private def billMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_windows"),
        r.getAs[Long]("n_dup_windows"), r.getAs[Long]("tokens_cut"),
        r.getAs[Long]("tokens_retained")))).toMap

  test("incremental bill == one-shot x181 when the corpus precedes the batch") {
    val s = spark
    import s.implicits._
    // corpus ids < batch ids, so x181's min-doc_id policy aligns with
    // the index-precedence policy and the identity is exact
    val corpus = Seq((1L, a), (2L, b), (3L, a + " " + b))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, a),                     // fully indexed: everything cut
      (11L, c),                     // fully novel: nothing cut
      (12L, c + " " + a),           // novel prefix + indexed suffix
      (13L, c),                     // in-batch dup of 11
      (14L, "hi")                   // under w tokens: no row
    ).toDF("doc_id", "text")
    val root = freshRoot()
    SpanIndex.buildIndex(corpus, root)
    val got = billMap(SpanIndex.admitBill(batch, root))
    val oneShot = billMap(
      SubstringOps.keepFirstSpanBill(corpus.unionByName(batch))
        .filter(col("doc_id") >= 10L))
    assert(got === oneShot,
      s"incremental must replay the one-shot policy exactly:\n$got\nvs\n$oneShot")
    assert(got(10L)._5 === 0L, s"fully indexed doc retains nothing: $got")
    assert(got(11L)._4 === 0L, s"fully novel doc is never cut: $got")
    assert(got(13L)._5 === 0L, s"in-batch dup of 11 retains nothing: $got")
    assert(!got.contains(14L), "sub-window docs yield no bill row")
  }

  test("extension stores only novel hashes; epochs disjoint; replay no-op") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    SpanIndex.buildIndex(Seq((1L, a)).toDF("doc_id", "text"), root)
    assert(SpanIndex.extendEpoch(
      Seq((10L, a), (11L, b)).toDF("doc_id", "text"), root, "b0"))
    val eps = SpanIndex.committedEpochs(root)
    assert(eps.size === 2)
    val e2 = spark.read.parquet(s"$root/${eps(1)}/postings")
    // a's 5 windows are indexed; only b's 5 are novel, first held by 11
    assert(e2.count() === 5L && e2.filter(col("first_doc") =!= 11L).isEmpty,
      "the extension epoch holds exactly the novel hashes")
    val all = spark.read.parquet(eps.map(e => s"$root/$e/postings"): _*)
    assert(all.groupBy("whash").count().filter(col("count") > 1).isEmpty,
      "no hash may be posted twice across epochs")
    // replay: the committed name wins, nothing grows
    assert(!SpanIndex.extendEpoch(
      Seq((10L, a), (11L, b)).toDF("doc_id", "text"), root, "b0"))
    assert(SpanIndex.committedEpochs(root) === eps)
    // the next batch sees batch-0 admissions: b is now fully dup
    val bill = billMap(SpanIndex.admitBill(
      Seq((20L, b)).toDF("doc_id", "text"), root))
    assert(bill(20L)._5 === 0L, s"earlier batch content must bill: $bill")
  }

  test("streaming ingest: epochs per batch, bounded by maintenance, bills live") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = freshRoot()
    SpanIndex.buildIndex(Seq((1L, a)).toDF("doc_id", "text"), root)
    val base = SpanIndex.committedEpochs(root).head
    val baseListing = Files.walk(Paths.get(root, base))
      .map[String](_.toString).sorted().toArray
    val texts = Seq(b, c, b + " " + c, a + " " + c)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.SpanStream.ingest(
      in.toDF().toDF("doc_id", "text"), root,
      Files.createTempDirectory("spx_ck").toString, maintainEvery = 2)
    try texts.zipWithIndex.foreach { case (t, i) =>
      in.addData(Seq((10L + i, t)))
      q.processAllAvailable()
    } finally q.stop()
    val eps = SpanIndex.committedEpochs(root)
    assert(eps.head === base && eps.size <= 3,
      s"manifest bounded, base first: $eps")
    assert(Files.walk(Paths.get(root, base)).map[String](_.toString)
      .sorted().toArray.sameElements(baseListing),
      "maintenance never rewrites the base epoch")
    // everything ingested (and the seed) now bills as fully dup
    val bill = billMap(SpanIndex.admitBill(
      (texts :+ a).zipWithIndex.map { case (t, i) => (50L + i, t) }
        .toDF("doc_id", "text"), root))
    assert(bill.values.forall(_._5 == 0L),
      s"all ingested content must bill fully dup: $bill")
    val st = SpanIndex.stats(spark, root).collect()
    assert(st.length === eps.size && st.map(_.getAs[Long]("n_postings")).sum
      === spark.read.parquet(eps.map(e => s"$root/$e/postings"): _*).count(),
      "stats must mirror the manifest and its posting masses")
  }

  test("compact collapses epochs; bills identical; orphans invisible") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    SpanIndex.buildIndex(Seq((1L, a)).toDF("doc_id", "text"), root)
    SpanIndex.extend(Seq((10L, b)).toDF("doc_id", "text"), root)
    // crash between epoch write and promotion: orphan stays invisible
    Files.createDirectories(Paths.get(root, "epochs", "eORPHAN", "postings"))
    val probe = Seq((20L, a), (21L, b), (22L, c), (23L, a + " " + c))
      .toDF("doc_id", "text")
    val before = billMap(SpanIndex.admitBill(probe, root))
    assert(before(20L)._5 === 0L && before(21L)._5 === 0L &&
      before(22L)._4 === 0L, s"$before")
    SpanIndex.compact(spark, root)
    assert(SpanIndex.committedEpochs(root).size === 1)
    assert(billMap(SpanIndex.admitBill(probe, root)) === before,
      "compaction must not change any bill")
  }

  test("bucketed compaction: parallel rewrite, bills identical, replay " +
      "stays a no-op for folded batch names") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    SpanIndex.buildIndex(Seq((1L, a)).toDF("doc_id", "text"), root)
    assert(SpanIndex.extendEpoch(Seq((10L, b)).toDF("doc_id", "text"),
      root, "b0"))
    assert(SpanIndex.extendEpoch(Seq((20L, c)).toDF("doc_id", "text"),
      root, "b1"))
    val probe = Seq((30L, a), (31L, b), (32L, c), (33L, a + " " + c))
      .toDF("doc_id", "text")
    val before = billMap(SpanIndex.admitBill(probe, root))
    // targetRows=2 over the 10-posting tail: a genuinely multi-file
    // range-bucketed rewrite, the 100 TB shape
    SpanIndex.compactTail(spark, root, targetRows = 2L)
    val eps = SpanIndex.committedEpochs(root)
    assert(eps.size === 2, s"base + merged tail: $eps")
    assert(Files.list(Paths.get(root, eps(1), "postings"))
      .filter(p => p.toString.endsWith(".parquet")).count() >= 2,
      "a bucketed rewrite must produce multiple range-partition files")
    assert(billMap(SpanIndex.admitBill(probe, root)) === before,
      "bucketed tail compaction must not change any bill")
    assert(SpanIndex.hasEpoch(root, "b0") && SpanIndex.hasEpoch(root, "b1"),
      "covered.json must keep the folded batch names accounted")
    assert(!SpanIndex.extendEpoch(Seq((10L, b)).toDF("doc_id", "text"),
      root, "b0"), "a replayed folded batch must be a no-op")
    assert(SpanIndex.committedEpochs(root) === eps)
    // full compact: coverage carries transitively through the merge
    SpanIndex.compact(spark, root, targetRows = 2L)
    assert(SpanIndex.committedEpochs(root).size === 1 &&
      SpanIndex.hasEpoch(root, "b1"),
      "full compaction must union its inputs' covered lists")
    assert(billMap(SpanIndex.admitBill(probe, root)) === before,
      "full bucketed compaction must not change any bill")
  }

  test("rebuildWithout == buildIndex over the surviving corpus; " +
      "replayed pre-takedown batches stay no-ops") {
    val s = spark
    import s.implicits._
    // doc 2 shares a's suffix windows with doc 1 and holds b alone
    val corpus = Seq((1L, a), (2L, a + " " + b), (3L, c))
      .toDF("doc_id", "text")
    val root = freshRoot()
    SpanIndex.buildIndex(Seq((1L, a)).toDF("doc_id", "text"), root)
    assert(SpanIndex.extendEpoch(
      Seq((2L, a + " " + b)).toDF("doc_id", "text"), root, "b0"))
    assert(SpanIndex.extendEpoch(Seq((3L, c)).toDF("doc_id", "text"),
      root, "b1"))
    val versionsBefore = Files.list(Paths.get(root))
      .map[String](_.getFileName.toString).sorted().toArray
    // take down doc 1: a's own windows survive through doc 2 (next
    // holder), the a->b straddle windows survive, c survives
    SpanIndex.rebuildWithout(spark, root,
      Seq(1L).toDF("doc_id"), corpus)
    val eps = SpanIndex.committedEpochs(root)
    assert(eps.size === 1, s"a rebuild is one fresh epoch: $eps")
    // equality with buildIndex over the filtered corpus: postings AND
    // a subsequent admission's bills
    val ref = freshRoot()
    SpanIndex.buildIndex(corpus.filter(col("doc_id") =!= 1L), ref)
    def postings(r: String) = spark.read.parquet(
        SpanIndex.committedEpochs(r).map(e => s"$r/$e/postings"): _*)
      .collect().map(x => (x.getAs[String]("whash"),
        x.getAs[Long]("first_doc"))).toSet
    assert(postings(root) === postings(ref),
      "rebuild-without must equal buildIndex over the survivors")
    val probe = Seq((30L, a), (31L, b), (32L, c)).toDF("doc_id", "text")
    assert(billMap(SpanIndex.admitBill(probe, root))
      === billMap(SpanIndex.admitBill(probe, ref)),
      "subsequent admission bills must be identical")
    // rollback survives: every pre-takedown version dir is untouched
    val versionsAfter = Files.list(Paths.get(root))
      .map[String](_.getFileName.toString).sorted().toArray
    assert(versionsBefore.forall(versionsAfter.contains),
      "prior versions must stay for rollback")
    // a replayed pre-takedown batch must NOT re-admit removed content
    assert(!SpanIndex.extendEpoch(
      Seq((2L, a + " " + b)).toDF("doc_id", "text"), root, "b0"),
      "accounted names must carry through the rebuild")
  }

  test("a probe taken before another commit is never committed stale") {
    val s = spark
    import s.implicits._
    def built(): String = {
      val r = freshRoot()
      SpanIndex.buildIndex(Seq((1L, c)).toDF("doc_id", "text"), r)
      r
    }
    val batch = Seq((10L, a), (11L, b)).toDF("doc_id", "text")
    val other = Seq((5L, a)).toDF("doc_id", "text") // a's windows, first
    val root = built()
    val stale = SpanIndex.probe(batch, root)
    assert(stale.matched.isEmpty, "the probe read the index before `other`")
    assert(SpanIndex.extendEpoch(other, root, "other"))
    assert(SpanIndex.commitEpoch(root, "b0", stale))
    val fresh = built()
    assert(SpanIndex.extendEpoch(other, fresh, "other"))
    assert(SpanIndex.extendEpoch(batch, fresh, "b0"))
    def rows(r: String) = spark.read.parquet(s"$r/epochs/b0/postings")
      .collect().map(_.toString).sorted.toSeq
    assert(rows(root) === rows(fresh))
    assert(rows(fresh).size === 5, "only b's windows are novel after `other`")
  }
}
