package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.SamplingOps

/** Deterministic hash splitting: content-stable membership, correct
  * proportions, and insensitivity to the rest of the dataset. */
class SamplingOpsSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("train/val/test covers every row once with roughly 90/5/5 shares") {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val split = SamplingOps.trainValTest(docs, col("doc_id"))
    assert(split.count() === n)
    val shares = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(shares.values.sum === n)
    assert(shares("train").toDouble / n > 0.8 &&
      shares("train").toDouble / n < 0.97, s"shares: $shares")
    assert(shares.getOrElse("val", 0L) > 0 && shares.getOrElse("test", 0L) > 0)
  }

  test("membership is a pure function of the key: subsetting never reassigns") {
    val docs = Tables.documents(spark, sfDir)
    val full = SamplingOps.trainValTest(docs, col("doc_id"))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // drop half the corpus — every surviving doc keeps its split
    val sub = SamplingOps.trainValTest(docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sub.forall { case (id, s) => full(id) == s })
  }

  test("packChunks: offsets chain exactly through the concatenated stream") {
    val docs = Tables.documents(spark, sfDir)
    val rows = SamplingOps.packChunks(docs, contextLen = 512, shards = 8)
      .collect().map(r => (r.getAs[Long]("shard"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("chunk_offset")))
    assert(rows.length === docs.count())
    rows.groupBy(_._1).values.foreach { shard =>
      var cum = 0L
      shard.sortBy(_._2).foreach { case (_, _, n, chunk, off) =>
        assert(chunk === cum / 512 && off === cum % 512)
        cum += n
      }
    }
    // chunking does real packing: some docs land past chunk 0
    assert(rows.exists(_._4 > 0))
  }

  test("quotaSample: exactly min(K, stratum size) rows per stratum, deterministic") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sfDir)
    val sizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def run(k: Int) = SamplingOps.quotaSample(docs, col("lang"), k)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val k = 10
    assert(run(k) === sizes.map { case (l, n) => l -> math.min(k.toLong, n) })
    // huge quota degrades to the full stratum
    assert(run(1000000) === sizes)
    // deterministic membership
    def ids = SamplingOps.quotaSample(docs, col("lang"), k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === ids)
  }

  test("quotaSamplePrefiltered == quotaSample, on both the prefix and fallback paths") {
    val docs = Tables.documents(spark, sfDir)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = ids(SamplingOps.quotaSample(docs, col("lang"), 7))
    // normal headroom: prefix path selects, verification passes
    assert(ids(SamplingOps.quotaSamplePrefiltered(docs, col("lang"), 7)) === exact)
    // starved headroom: the prefix under-fills every stratum, so the
    // per-stratum verification must route them all through the fallback
    assert(ids(SamplingOps.quotaSamplePrefiltered(docs, col("lang"), 7,
      headroom = 1e-9)) === exact)
    // NULL stratum is a legitimate window partition — the prefilter's
    // joins must be null-safe, not silently drop those rows
    val withNull = docs.withColumn("lang",
      when(col("doc_id") % 3 === 0, col("lang")))
    val exactN = ids(SamplingOps.quotaSample(withNull, col("lang"), 7))
    assert(ids(SamplingOps.quotaSamplePrefiltered(withNull, col("lang"), 7)) === exactN)
  }

  test("trainingPipeline: packs exactly the curated train docs, offsets chain") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sfDir)
    val out = SamplingOps.trainingPipeline(docs).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("chunk_offset")))
    // membership = curated ∩ train split, nothing else
    val expected = graft.operators.TextOps.trainingSelection(docs)
      .filter(SamplingOps.hashBucket(col("doc_id")) < 90)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.map(_._2).toSet === expected && expected.nonEmpty)
    // offsets chain through the concatenated stream per shard
    out.groupBy(_._1).values.foreach { shard =>
      var cum = 0L
      shard.sortBy(_._2).foreach { case (_, _, n, chunk, off) =>
        assert(chunk === cum / 512 && off === cum % 512)
        cum += n
      }
    }
  }

  test("mixtureRebalance: kept shares move toward uniform, no stratum vanishes") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sfDir)
    val out = SamplingOps.mixtureRebalance(docs).collect()
      .map(r => (r.getAs[String]("stratum"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("keep_pct"), r.getAs[Long]("n_kept")))
    assert(out.nonEmpty)
    val inShares = out.map(o => o._2.toDouble / out.map(_._2).sum)
    val keptShares = out.map(o => o._4.toDouble / out.map(_._4).sum)
    // rebalancing must shrink the spread of shares across strata
    assert(keptShares.max - keptShares.min < inShares.max - inShares.min,
      s"expected flatter mixture: in=$inShares kept=$keptShares")
    assert(out.forall(_._4 > 0), "no stratum may vanish")
    assert(out.forall(o => o._4 <= o._2))
  }

  test("stratified sample keeps about pct% and is deterministic") {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count().toDouble
    def ids = SamplingOps.stratifiedSample(docs, col("doc_id"), 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids
    assert(a === ids, "sample must be deterministic")
    assert(a.size / n > 0.1 && a.size / n < 0.3, s"share ${a.size / n}")
  }

  test("bottomKSampleAgg equals the window-form quotaSample exactly") {
    val docs = Tables.documents(spark, sfDir)
    val k = 7
    val win = SamplingOps.quotaSample(docs, col("lang"), k)
      .select(col("lang"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val agg = SamplingOps.bottomKSampleAgg(docs, k)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(agg === win, "heap aggregate must select the identical rows")
    // a stratum smaller than k is returned whole
    val tiny = docs.filter(col("doc_id") < 3)
    assert(SamplingOps.bottomKSampleAgg(tiny, 100).count() === tiny.count())
  }

  test("clusterSplit: clusters are atomic across splits; naive doc-hash split would leak") {
    val docs = Tables.documents(spark, sfDir)
    val pairs = graft.operators.DedupOps.simhashDupPairs(docs, 3)
    val cs = SamplingOps.clusterSplit(docs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(cs.length.toLong == docs.count())
    // invariant: one split per cluster — the whole point
    cs.groupBy(_._2).foreach { case (cid, rs) =>
      assert(rs.map(_._3).distinct.length == 1,
        s"cluster $cid straddles splits: ${rs.map(_._3).distinct.mkString(",")}")
    }
    // the hazard is real on this corpus: hashing doc_id instead mixes
    // splits inside at least one multi-doc cluster
    val naive = SamplingOps.trainValTest(
        graft.operators.DedupOps.dupClusters(docs, pairs), col("doc_id"))
      .collect().map(r => (r.getLong(1), r.getString(2)))
    val leaky = naive.groupBy(_._1).count(_._2.map(_._2).distinct.length > 1)
    assert(leaky > 0, "expected at least one naive-split leak in the fixture corpus")
    // and membership is stable: the split of a cluster is a pure
    // function of its id (recompute on a reshuffled input)
    val cs2 = SamplingOps.clusterSplit(docs.repartition(5), pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(cs2.sortBy(_._1).toSeq == cs.sortBy(_._1).toSeq)
  }

  test("prioritySample: matches the naive reference, unaffected by partitioning, length-biased") {
    val docs = Tables.documents(spark, sfDir)
    val got = SamplingOps.prioritySample(docs, k = 50, seed = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // naive reference: compute every priority in Scala, sort, cut
    val all = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        graft.functions.TextExpressions.wsTokenCountFast(col("text")).cast("long"),
        (graft.functions.HashFunctions.hash60(col("doc_id"), 7) + lit(1L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._2 > 0)
    val ref = all.map(t => (t._1, t._2, t._3, t._2.toDouble / t._3.toDouble))
      .sortBy(t => (-t._4, t._1)).take(50).toSeq
    assert(got.toSeq == ref)
    // repartitioning must not change the sample (TakeOrdered is exact)
    val got2 = SamplingOps.prioritySample(docs.repartition(7), k = 50, seed = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got2.toSeq == ref)
    // length bias: mean weight of the sample exceeds the corpus mean
    // (the whole point vs uniform x53)
    val corpusMean = all.map(_._2).sum.toDouble / all.length
    val sampleMean = got.map(_._2).sum.toDouble / got.length
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean should exceed corpus mean $corpusMean")
  }

  test("prioritySampleByStratum: per-stratum naive reference holds; WindowGroupLimit plan") {
    val docs = Tables.documents(spark, sfDir)
    val df = SamplingOps.prioritySampleByStratum(docs, k = 5, seed = 7)
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    val all = docs.filter(col("doc_id").isNotNull && col("lang").isNotNull)
      .select(col("lang"),
        col("doc_id"),
        graft.functions.TextExpressions.wsTokenCountFast(col("text")).cast("long"),
        (graft.functions.HashFunctions.hash60(col("doc_id"), 7) + lit(1L)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._3 > 0)
    val ref = all.groupBy(_._1).toSeq.flatMap { case (st, rs) =>
      rs.map(t => (st, t._2, t._3, t._4, t._3.toDouble / t._4.toDouble))
        .sortBy(t => (-t._5, t._2)).take(5).zipWithIndex
        .map { case (t, i) => (t._1, t._2, t._3, t._4, t._5, (i + 1).toLong) }
    }
    assert(got.sortBy(t => (t._1, t._6)).toSeq == ref.sortBy(t => (t._1, t._6)))
    // every stratum present and capped at k
    assert(got.groupBy(_._1).forall(_._2.length <= 5))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"per-stratum rank must heap:\n$plan")
  }

  test("prioritySample: plans as TakeOrderedAndProject, no global sort, no shuffle agg") {
    val docs = Tables.documents(spark, sfDir)
    val plan = SamplingOps.prioritySample(docs, 100, 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must heap, not sort:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"), s"no global sort:\n$plan")
  }

  test("shardManifest == driver-side snake reference; tighter than hash sharding") {
    val docs = Tables.documents(spark, sfDir)
    val shards = 8
    // driver reference: tokens via the pinned ws count, snake over the
    // (tokens desc, doc_id) rank
    val toks = docs.select(col("doc_id"),
      graft.functions.TextExpressions.wsTokenCountFast(col("text"))
        .cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ranked = toks.sortBy { case (id, n) => (-n, id) }
    val ref = Array.fill(shards)((0L, 0L))
    ranked.zipWithIndex.foreach { case ((_, n), rk) =>
      val pos = rk % shards
      val sh = if ((rk / shards) % 2 == 0) pos else shards - 1 - pos
      ref(sh) = (ref(sh)._1 + 1L, ref(sh)._2 + n)
    }
    val total = ref.map(_._2).sum
    val got = SamplingOps.shardManifest(docs, shards).collect()
      .map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("share_ppm")))).toMap
    assert(got.size === shards)
    ref.zipWithIndex.foreach { case ((nd, nt), sh) =>
      assert(got(sh.toLong) === ((nd, nt,
        (BigInt(nt) * 1000000 / total).toLong)), s"shard $sh")
    }
    // the point of the snake: token mass spreads to within one max-doc
    // of even, where doc-count hash sharding tracks the length lottery
    val masses = ref.map(_._2)
    val maxDoc = toks.map(_._2).max
    assert(masses.max - masses.min <= maxDoc,
      s"snake imbalance ${masses.max - masses.min} vs max doc $maxDoc")
  }

  test("shardManifest: closed-form 3-shard fixture, snake order exact") {
    val s = spark
    import s.implicits._
    // token counts 9..1 over doc_ids 1..9: snake blocks (9,8,7)(6,5,4)
    // reversed → shard0: 9,4,3 = 16; shard1: 8,5,2 = 15; shard2: 7,6,1 = 14
    val docs = (1L to 9L).map { i =>
      val n = 10 - i
      (i, Seq.fill(n.toInt)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val got = SamplingOps.shardManifest(docs, shards = 3, buckets = 4)
      .collect().map(r => r.getAs[Long]("shard") -> r.getAs[Long]("n_tokens"))
      .toMap
    assert(got === Map(0L -> 16L, 1L -> 15L, 2L -> 14L))
  }

  test("writeShards: one file per shard directory, physical masses == manifest") {
    val docs = Tables.documents(spark, sfDir)
    val shards = 4
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    try {
      val v1 = SamplingOps.writeShards(docs, dir, shards)
      assert(SamplingOps.currentShards(dir) === v1)
      val back = spark.read.parquet(SamplingOps.currentShards(dir))
        .withColumn("file", input_file_name())
        .withColumn("n", graft.functions.TextExpressions
          .wsTokenCountFast(col("text")).cast("long"))
      val perShard = back.groupBy("shard")
        .agg(countDistinct(col("file")).as("n_files"),
          count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
        .collect().map(r => r.getAs[Int]("shard").toLong ->
          ((r.getAs[Long]("n_files"), r.getAs[Long]("n_docs"),
            r.getAs[Long]("n_tokens")))).toMap
      assert(perShard.size === shards)
      assert(perShard.values.forall(_._1 === 1L), "exactly one file per shard")
      val manifest = SamplingOps.shardManifest(docs, shards).collect()
        .map(r => r.getAs[Long]("shard") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))).toMap
      manifest.foreach { case (sh, (nd, nt)) =>
        assert(perShard(sh)._2 === nd && perShard(sh)._3 === nt,
          s"shard $sh physical mass must equal the manifest")
      }
      assert(back.count() === docs.count(), "rows conserved")
      // exactly-once commit: a writer that dies mid-layout (staging dir
      // half-written, never promoted) leaves the published layout
      // untouched and fully readable
      val stale = new java.io.File(s"$dir/.staging/shard=0")
      stale.mkdirs()
      java.nio.file.Files.writeString(
        stale.toPath.resolve("part-garbage.parquet"), "not parquet")
      assert(SamplingOps.currentShards(dir) === v1,
        "a crashed staging write must not move the pointer")
      assert(spark.read.parquet(SamplingOps.currentShards(dir)).count()
        === docs.count(), "published layout survives a crashed writer")
      // the next successful write reclaims staging and publishes v2;
      // v1 stays for rollback
      val v2 = SamplingOps.writeShards(docs, dir, shards)
      assert(v2 !== v1)
      assert(SamplingOps.currentShards(dir) === v2)
      assert(spark.read.parquet(v1).count() === docs.count(),
        "superseded layout stays intact for rollback")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("bottomKSampleAgg plans as a partial ObjectHashAggregate (no sort, map-side combine)") {
    val docs = Tables.documents(spark, sfDir)
    val plan = SamplingOps.bottomKSampleAgg(docs, 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"typed-imperative aggregate should hash-aggregate:\n$plan")
    assert(plan.contains("partial_bottom_k_by_hash"),
      s"map-side partial aggregation must be present:\n$plan")
    val beforeExchange = plan.split("Exchange").head
    assert(beforeExchange.contains("partial_bottom_k_by_hash") ||
      plan.linesIterator.exists(l => l.contains("partial_bottom_k_by_hash")),
      s"partial agg below the shuffle:\n$plan")
    assert(!plan.contains("Window"), s"no window/sort machinery:\n$plan")
  }
}
