package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityOps

/** The three exact cosine-pair formulations must be value-identical: the
  * declarative fold ([[SimilarityOps.cosineDupPairs]]), the small-corpus
  * broadcast kernel, and the tiled (no-driver-collect) block form that is
  * the scale/default path. */
class SimilarityOpsSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  private var emb: DataFrame = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    val s = spark
    import s.implicits._
    // deterministic pseudo-random 16-dim vectors, ids NOT aligned to the
    // tile count so tiles are uneven
    emb = (0L until 97L).map { id =>
      val v = Array.tabulate(16) { j =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$id:$j".getBytes("UTF-8"))
        (((h(0) & 0xff) - 128) / 128.0).toFloat
      }
      (id, v)
    }.toDF("vec_id", "embedding").cache()
  }

  private def pairs(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq

  test("tiled == broadcast == declarative, bit-identical cosines") {
    val declarative = pairs(SimilarityOps.cosineDupPairs(emb, 0.2))
    val broadcastK = pairs(SimilarityOps.cosineDupPairsBroadcast(emb, 0.2))
    val tiled = pairs(SimilarityOps.cosineDupPairsTiled(emb, 0.2, nTiles = 5))
    assert(declarative.nonEmpty)
    assert(broadcastK === declarative)
    assert(tiled === declarative)
  }

  test("tiled emits each qualifying pair exactly once across tile pairs") {
    val tiled = pairs(SimilarityOps.cosineDupPairsTiled(emb, -1.0, nTiles = 3))
    // threshold -1 keeps every pair: n*(n-1)/2 of them, no dup, no self
    assert(tiled.size === 97 * 96 / 2)
    assert(tiled.distinct.size === tiled.size)
    assert(tiled.forall { case (a, b, _) => a < b })
  }

  test("int8 quantization reconstructs within the per-element bound") {
    val rows = SimilarityOps.quantizeEmbeddings(emb)
      .join(emb.withColumnRenamed("embedding", "orig"), "vec_id")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val norm = r.getAs[Double]("norm")
      val q = r.getSeq[Int](r.fieldIndex("qcode"))
      val orig = r.getSeq[Float](r.fieldIndex("orig")).map(_.toDouble)
      q.zip(orig).foreach { case (code, x) =>
        assert(math.abs(code * norm / 127d - x) <= norm / 127d + 1e-12)
        assert(math.abs(code) <= 128)
      }
    }
  }

  test("quantized top-K recalls most exact neighbors") {
    import org.apache.spark.sql.functions.col
    val queries = emb.filter(col("vec_id") % 10 === 0)
    val k = 5
    def neighbors(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = neighbors(SimilarityOps.bruteForceTopK(emb, queries, k))
    val approx = neighbors(SimilarityOps.quantizedTopK(emb, queries, k))
    val recall = exact.map { case (q, ns) =>
      (ns intersect approx.getOrElse(q, Set.empty)).size.toDouble / ns.size
    }.sum / exact.size
    assert(recall >= 0.6, s"quantized recall too low: $recall")
  }

  test("tiled plan contains no driver collect (it is a shuffle exchange)") {
    val plan = SimilarityOps.cosineDupPairsTiled(emb, 0.2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Exchange") || plan.contains("Sort"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("sourceCohesion: identical vectors score 1.0, an antipodal outlier drags the min negative") {
    val s = spark; import s.implicits._
    val v = Array(0.1f, 0.2f, -0.1f, 0.3f)
    val neg = v.map(x => -x)
    val docs = Seq((1L, "tight"), (2L, "tight"), (3L, "tight"),
      (10L, "mixed"), (11L, "mixed"))
      .toDF("doc_id", "source")
    val emb = Seq((1L, v), (2L, v), (3L, v), (10L, v), (11L, neg))
      .toDF("vec_id", "embedding")
    val out = graft.operators.SimilarityOps.sourceCohesion(docs, emb)
      .collect().map(r => r.getString(0) -> r).toMap
    // all-identical source: every cosine to the centroid is exactly 1
    assert(out("tight").getAs[Long]("min_coh_micro") === 1000000L)
    assert(math.abs(out("tight").getAs[Double]("mean_coh") - 1.0) < 1e-9)
    // v + (-v) centroid is the zero vector -> cohesion NULL-guarded, not
    // a crash; with distinct magnitudes the outlier sign shows in min
    val emb2 = Seq((10L, v), (11L, v.map(x => x * 0.5f)),
      (12L, neg)).toDF("vec_id", "embedding")
    val docs2 = Seq((10L, "m2"), (11L, "m2"), (12L, "m2")).toDF("doc_id", "source")
    val o2 = graft.operators.SimilarityOps.sourceCohesion(docs2, emb2)
      .collect().head
    assert(o2.getAs[Long]("min_coh_micro") < 0L, "antipodal doc scores negative")
    assert(o2.getAs[Long]("n_docs") === 3L)
  }

  test("x155 labelConsistency: clean clusters score 1e6; a mislabeled point dents purity") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // two orthogonal clusters of 6, tight noise on distinct axes; every
    // vec_id % 2 == 0 row is a query (k=3 neighbors within a 6-cluster)
    def v(axis: Int, eps: Float): Array[Float] = {
      val a = Array.fill(4)(0f); a(axis) = 1f; a(3) = eps; a
    }
    val clean = (0 until 6).map(i => (i.toLong, v(0, 0.01f * i), 0)) ++
      (6 until 12).map(i => (i.toLong, v(1, 0.01f * i), 1))
    val cleanDf = clean.toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.labelConsistency(cleanDf, k = 3,
      queryPred = col("vec_id") % 2 === 0)
      .collect().map(r => r.getAs[Int]("label") ->
        ((r.getAs[Long]("purity_ppm"), r.getAs[Long]("vote_acc_ppm")))).toMap
    assert(got(0) === ((1000000L, 1000000L)))
    assert(got(1) === ((1000000L, 1000000L)))
    // flip one cluster-0 NON-QUERY row's label: cluster-0 queries now
    // see a wrong-label neighbor slot, purity < 1e6, vote still right
    val dirty = clean.map { case (id, e, l) =>
      (id, e, if (id == 1L) 1 else l) }.toDF("vec_id", "embedding", "label")
    val got2 = SimilarityOps.labelConsistency(dirty, k = 3,
      queryPred = col("vec_id") % 2 === 0)
      .collect().map(r => r.getAs[Int]("label") ->
        ((r.getAs[Long]("purity_ppm"), r.getAs[Long]("vote_acc_ppm")))).toMap
    assert(got2(0)._1 < 1000000L,
      s"mislabeled neighbor must dent cluster-0 purity: ${got2(0)}")
    assert(got2(0)._2 === 1000000L, "majority vote should survive one flip")
  }

  test("x172 quantizationYield: axis vectors are exact; driver-formula parity; diffuse q=0 scores 1e6") {
    val s = spark; import s.implicits._
    // 1) axis vector: every width reconstructs the direction exactly
    val axis = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val a = SimilarityOps.quantizationYield(axis).collect()
      .map(r => r.getAs[Long]("bits") -> ((r.getAs[Long]("mean_err_ppm"),
        r.getAs[Long]("max_err_ppm"), r.getAs[Long]("n_vecs")))).toMap
    assert(a.keySet === Set(2L, 3L, 4L, 5L, 6L, 8L))
    assert(a.values.forall { case (m, x, n) => m == 0L && x == 0L && n == 1L })
    // 2) (0.8, 0.6): replicate the exact double formula on the driver
    val v = Array(0.8f, 0.6f)
    val emb = Seq((1L, v)).toDF("vec_id", "embedding")
    val got = SimilarityOps.quantizationYield(emb).collect()
      .map(r => r.getAs[Long]("bits") -> r.getAs[Long]("max_err_ppm")).toMap
    def expected(b: Int): Long = {
      val ed = v.map(_.toDouble)
      val nrm = math.sqrt(ed.map(x => x * x).sum)
      val u = ed.map(_ / nrm)
      val sc = (1 << (b - 1)) - 1
      val q = u.map(x => math.floor(x * sc + 0.5))
      val (uq, qq, uu) = (u.zip(q).map(p => p._1 * p._2).sum,
        q.map(x => x * x).sum, u.map(x => x * x).sum)
      if (qq <= 0) 1000000L
      else math.floor((1.0 - uq / (math.sqrt(uu) * math.sqrt(qq))) * 1e6 + 0.5).toLong
    }
    Seq(2, 3, 4, 5, 6, 8).foreach(b =>
      assert(got(b.toLong) === expected(b), s"bits $b: ${got(b.toLong)}"))
    assert(got(2L) > got(8L), "coarser codes must cost more angular error")
    // 3) diffuse 5-dim vector: at 2 bits every element rounds to zero —
    // the direction is LOST and the operator must say so, not NULL out
    val diffuse = Seq((1L, Array.fill(5)(1.0f))).toDF("vec_id", "embedding")
    val d = SimilarityOps.quantizationYield(diffuse).collect()
      .map(r => r.getAs[Long]("bits") -> r.getAs[Long]("max_err_ppm")).toMap
    assert(d(2L) === 1000000L, s"$d")
    assert(d(8L) === 0L, "127-scale reconstructs the uniform direction")
  }

  test("x163 sourceAnisotropy: sum-of-sums identity equals hand-computed pair dots") {
    val s = spark; import s.implicits._
    val e0 = Array(1.0f, 0.0f)
    val e1 = Array(0.0f, 1.0f)
    val docs = Seq((1L, "dup"), (2L, "dup"),       // identical pair
      (10L, "orth"), (11L, "orth"),                // orthogonal pair
      (20L, "anti"), (21L, "anti"),                // antipodal pair
      (30L, "solo"))                               // singleton
      .toDF("doc_id", "source")
    val emb = Seq((1L, e0), (2L, e0), (10L, e0), (11L, e1),
      (20L, e0), (21L, e0.map(x => -x)), (30L, e0))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.sourceAnisotropy(docs, emb)
      .collect().map(r => r.getString(0) -> r).toMap
    // grid: 1.0 -> 10000, self dot = 1e8 (q8 units)
    assert(out("dup").getAs[Long]("mean_self_q8") === 100000000L)
    assert(out("dup").getAs[Long]("mean_pair_q8") === 100000000L)
    assert(out("dup").getAs[Long]("anisotropy_ppm") === 1000000L)
    assert(out("orth").getAs[Long]("mean_pair_q8") === 0L)
    assert(out("orth").getAs[Long]("anisotropy_ppm") === 0L)
    assert(out("anti").getAs[Long]("mean_pair_q8") === -100000000L)
    assert(out("anti").getAs[Long]("anisotropy_ppm") === -1000000L)
    // singleton: pair statistics NULL-guarded, self dot still exact
    val solo = out("solo")
    assert(solo.getAs[Long]("n_docs") === 1L &&
      solo.getAs[Long]("mean_self_q8") === 100000000L &&
      solo.isNullAt(solo.fieldIndex("mean_pair_q8")) &&
      solo.isNullAt(solo.fieldIndex("anisotropy_ppm")))
    // three-vector source: identity must equal the explicit pair average
    // dots (q8): <a,b>=0.48e8... use exact grid ints: a=(.6,.8)->(6000,8000)
    val a = Array(0.6f, 0.8f); val b = Array(1.0f, 0.0f); val c = Array(0.0f, 1.0f)
    val d3 = Seq((1L, "s3"), (2L, "s3"), (3L, "s3")).toDF("doc_id", "source")
    val e3 = Seq((1L, a), (2L, b), (3L, c)).toDF("vec_id", "embedding")
    val o3 = SimilarityOps.sourceAnisotropy(d3, e3).collect().head
    // pair dots: ab=6000*10000=6e7, ac=8000*10000=8e7, bc=0; ordered-pair
    // mean = 2*(6e7+8e7)/6 (truncating div)
    assert(o3.getAs[Long]("mean_pair_q8") === (2L * 140000000L) / 6L)
    assert(o3.getAs[Long]("mean_self_q8") === 100000000L)
  }
}
