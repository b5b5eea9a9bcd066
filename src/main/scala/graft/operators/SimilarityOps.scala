package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine as the exactness baseline, random-hyperplane LSH
  * bucketing as the scale path.
  *
  * Numeric portability: every dot product casts float elements to double
  * BEFORE multiplying (float*float rounds differently than
  * double*double), and the fold is sequential in array order, so Spark
  * and the DuckDB oracle compute bit-identical sums; projected cosines
  * are rounded to 9 dp to absorb any engine-level reassociation.
  *
  * Scale: brute-force pairs is O(n²) — correct baseline, never the 100 TB
  * plan. The LSH path buckets vectors by a b-bit hyperplane signature
  * (per-row projection, no shuffle) and only joins within buckets; at
  * 1000 executors the bucket id is the shuffle key and collisions per
  * bucket stay O(n/2^b). Brute-force top-K against a SMALL query set
  * broadcasts the queries — one pass over the corpus, no shuffle of the
  * big side (the window ranks only k·|queries| candidate rows).
  */
object SimilarityOps {

  /** Sequential-fold dot product of two float-array columns, in double —
    * backed by the native codegen [[graft.functions.DotExpr]] (the HOF
    * fold below is the documented semantics; VectorParitySpec pins
    * bit-equality). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotFast(a, b)

  /** The declarative (higher-order-function) fold — the semantic
    * reference for [[dot]]; CodegenFallback, so not the hot path.
    * (A fully unrolled 64-term expression tree was tried and is ~3×
    * SLOWER: it blows past the codegen method-size limits; the win is a
    * compiled LOOP, not a bigger tree.) */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** DuckDB twin of [[dot]]: list_dot_product over DOUBLE[] casts. */
  def dotSql(a: String, b: String): String =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** `(vec_id, embedding, norm)` with the L2 norm precomputed once per
    * vector — O(n·d) instead of O(n²·d) norm work in the pair joins. The
    * expression `sqrt(dot(e,e))` is the same IEEE op sequence the oracle
    * uses inline, so precomputing does not change a single bit. */
  def withNorm(emb: DataFrame): DataFrame = {
    // pre-cast to array<double> once per vector — the pair joins then
    // multiply doubles directly instead of casting 2·dim elements per pair
    val e = emb.withColumn("embedding", col("embedding").cast("array<double>"))
    e.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("norm"))
  }

  /** All embedding pairs with cosine ≥ threshold (near-duplicate
    * detection). Exact O(n²) baseline — see scaladoc for the LSH path. */
  def cosineDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val n = withNorm(emb)
    val a = n.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("norm").as("na"))
    val b = n.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("norm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 9).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  def cosineDupPairsSql(threshold: Double): String =
    s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(${cosineSql("a.embedding", "b.embedding")}, 9) AS cos_sim
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE round(${cosineSql("a.embedding", "b.embedding")}, 9) >= $threshold""".stripMargin

  /** Local tight-loop dot (same sequential order as [[dot]]'s fold). */
  def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Spark `round(x, 9)` twin for executor-side code (HALF_UP over the
    * canonical decimal representation — matches Round's double path). */
  def round9(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  /** [[cosineDupPairs]] in broadcast form — an explicit SMALL-CORPUS fast
    * path only: the corpus is collected to the driver and broadcast, so
    * it must fit in driver memory. The default/scale entry is
    * [[cosineDupPairsTiled]], which produces identical output with no
    * driver collect; use this one when the corpus is known-bounded (e.g.
    * a per-partition block in an outer pipeline). */
  def cosineDupPairsBroadcast(emb: DataFrame, threshold: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val typed = emb.select(col("vec_id").cast("long"),
      col("embedding").cast("array<double>")).as[(Long, Array[Double])]
    val corpus = typed.collect().sortBy(_._1)
    val norms = corpus.map { case (_, v) => math.sqrt(dotLocal(v, v)) }
    val bc = spark.sparkContext.broadcast((corpus, norms))
    typed.mapPartitions { it =>
      val (corp, ns) = bc.value
      it.flatMap { case (id, v) =>
        val myNorm = math.sqrt(dotLocal(v, v))
        val out = Seq.newBuilder[(Long, Long, Double)]
        var j = 0
        while (j < corp.length) {
          val (oid, ov) = corp(j)
          if (oid > id) {
            val c = round9(dotLocal(v, ov) / (myNorm * ns(j)))
            if (c >= threshold) out += ((id, oid, c))
          }
          j += 1
        }
        out.result()
      }
    }.toDF("vec_a", "vec_b", "cos_sim")
  }

  /** [[cosineDupPairs]] as bounded tile-pair execution — the 100 TB shape
    * of the exact kernel, with NO driver collect anywhere:
    *
    *   - each vector belongs to tile `floorMod(vec_id, nTiles)`;
    *   - a vector is replicated to every unordered tile pair its tile
    *     participates in (factor nTiles — the standard O(n·√P) block
    *     matrix replication);
    *   - `groupByKey` on the tile pair shuffles each pair's two tiles to
    *     one task, which runs the primitive-loop kernel over them.
    *
    * Each task holds 2n/nTiles vectors, so memory per task is bounded by
    * choosing nTiles ∝ √(corpus/desired tile size); total dot-product work
    * is identical to the broadcast form and identical in value (the kernel
    * is commutative in argument order: same multiplies, same summation
    * order, same HALF_UP round9). */
  def cosineDupPairsTiled(emb: DataFrame, threshold: Double, nTiles: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val nT = nTiles
    val typed = emb.select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
    val replicated = typed.flatMap { case (id, v) =>
      val t = java.lang.Math.floorMod(id, nT.toLong).toInt
      (0 until nT).map(o => (math.min(t, o), math.max(t, o))).distinct
        .map { case (s, u) => (s, u, id, v) }
    }
    replicated.groupByKey { case (s, u, _, _) => (s, u) }
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Long, Array[Double])]) =>
        val (s, u) = key
        val rows = it.map { case (_, _, id, v) => (id, v) }.toArray
        val norms = rows.map { case (_, v) => math.sqrt(dotLocal(v, v)) }
        val out = Seq.newBuilder[(Long, Long, Double)]
        def emit(i: Int, j: Int): Unit = {
          val (ia, va) = rows(i); val (ib, vb) = rows(j)
          val c = round9(dotLocal(va, vb) / (norms(i) * norms(j)))
          if (c >= threshold)
            out += (if (ia < ib) (ia, ib, c) else (ib, ia, c))
        }
        if (s == u) {
          // one tile: all unordered pairs within it
          var i = 0
          while (i < rows.length) {
            var j = i + 1
            while (j < rows.length) { emit(i, j); j += 1 }
            i += 1
          }
        } else {
          // two tiles: cross pairs only (within-tile pairs are handled by
          // that tile's own (t, t) group)
          val sideA = rows.indices.filter(i => java.lang.Math.floorMod(rows(i)._1, nT.toLong).toInt == s)
          val sideB = rows.indices.filter(i => java.lang.Math.floorMod(rows(i)._1, nT.toLong).toInt == u)
          sideA.foreach(i => sideB.foreach(j => emit(i, j)))
        }
        out.result().iterator
      }
      .toDF("vec_a", "vec_b", "cos_sim")
  }

  /** Brute-force cosine top-K: for each query vector, the k nearest
    * corpus vectors (excluding itself), ties broken by vec_id. The query
    * side is broadcast; ranking happens per query partition. */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = withNorm(queries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("norm").as("qn"))
    // exactness baseline: deliberately a full corpus × query broadcast scan
    // (self-pairs dropped by post-filter). Real ANN demand at scale routes
    // through lshDupPairs / IvfOps, which join on bucket keys instead.
    val scored = withNorm(emb).crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qe"), col("embedding")) / (col("qn") * col("norm")), 9).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  def bruteForceTopKSql(queryFilter: String, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE $queryFilter),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    round(${cosineSql("q.qe", "e.embedding")}, 9) AS cos_sim
       |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id
       |)
       |SELECT query_id, neighbor_id, cos_sim,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= $k""".stripMargin

  /** x155: kNN label-consistency — the embedding-quality audit the
    * label column makes possible. For the sampled query set, the EXACT
    * top-k cosine neighbors are checked against each query's label;
    * per label: neighbor purity (share of the k·|queries| neighbor
    * slots holding the query's own label) and majority-vote accuracy
    * (share of queries whose neighbor-majority label equals their own;
    * vote ties resolve to the smallest label on both engines). A label
    * whose purity sags marks a region the embedding space (or the
    * labeling) mixes — the read that gates an embedding-model swap
    * before ANN / semdedup / hard-negative mining (x116) consume it;
    * x96 measures whether the INDEX finds the true neighbors, this
    * measures whether the true neighbors mean anything.
    *
    * Scale shape: the exact kernel is the sampled-query brute-force
    * baseline (the x96 contract — queries are the 1% probe set,
    * corpus × probes via broadcast; production volume routes through
    * the IVF path). Everything after is vec_id-keyed equi-joins and
    * aggregates at query then label granularity; the majority vote is
    * two aggregates + an equi-join — no window over anything unbounded
    * (the only window is the kernel's per-query top-k, |probe|-keyed). */
  def labelConsistency(emb: DataFrame, k: Int = 8,
                       queryPred: Column = col("vec_id") % 100 === 0): DataFrame = {
    val labels = emb.select(col("vec_id"), col("label"))
    val nn = bruteForceTopK(emb, emb.filter(queryPred), k)
      .select(col("query_id"), col("neighbor_id"))
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("qlabel")), Seq("query_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel")), Seq("neighbor_id"))
    val v = nn.groupBy("query_id", "qlabel", "nlabel")
      .agg(count(lit(1)).as("cnt"))
    val m = v.groupBy("query_id").agg(max(col("cnt")).as("mx"))
    val vote = v.join(m, Seq("query_id")).filter(col("cnt") === col("mx"))
      .groupBy("query_id", "qlabel").agg(min(col("nlabel")).as("vote"))
    val purity = nn.groupBy("qlabel").agg(
      countDistinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("n_slots"),
      sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
        .as("n_match"))
    val acc = vote.groupBy("qlabel").agg(
      sum(when(col("vote") === col("qlabel"), 1L).otherwise(0L))
        .as("n_vote_correct"))
    purity.join(acc, Seq("qlabel"))
      .select(col("qlabel").as("label"), col("n_queries"), col("n_slots"),
        col("n_match"),
        expr("CAST((CAST(n_match AS DECIMAL(38,0)) * 1000000) " +
          "div n_slots AS BIGINT)").as("purity_ppm"),
        col("n_vote_correct"),
        expr("CAST((CAST(n_vote_correct AS DECIMAL(38,0)) * 1000000) " +
          "div n_queries AS BIGINT)").as("vote_acc_ppm"))
  }

  /** DuckDB twin of [[labelConsistency]] — static (no trained model):
    * the exact-kNN kernel is [[bruteForceTopKSql]] verbatim. */
  def labelConsistencySql(queryFilter: String = "vec_id % 100 = 0",
                          k: Int = 8): String =
    s"""WITH lc_l AS (SELECT vec_id, label FROM embeddings),
       |lc_nn0 AS (
       |  SELECT query_id, neighbor_id FROM (
       |${bruteForceTopKSql(queryFilter, k)}
       |  )
       |), lc_nn AS (
       |  SELECT n.query_id, ql.label AS qlabel, nl.label AS nlabel
       |  FROM lc_nn0 n
       |  JOIN lc_l ql ON n.query_id = ql.vec_id
       |  JOIN lc_l nl ON n.neighbor_id = nl.vec_id
       |), lc_v AS (
       |  SELECT query_id, qlabel, nlabel, count(*) AS cnt
       |  FROM lc_nn GROUP BY query_id, qlabel, nlabel
       |), lc_m AS (
       |  SELECT query_id, max(cnt) AS mx FROM lc_v GROUP BY query_id
       |), lc_vote AS (
       |  SELECT v.query_id, v.qlabel, min(v.nlabel) AS vote
       |  FROM lc_v v JOIN lc_m m
       |    ON v.query_id = m.query_id AND v.cnt = m.mx
       |  GROUP BY v.query_id, v.qlabel
       |), lc_p AS (
       |  SELECT qlabel, count(DISTINCT query_id) AS n_queries,
       |    count(*) AS n_slots,
       |    sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS n_match
       |  FROM lc_nn GROUP BY qlabel
       |), lc_a AS (
       |  SELECT qlabel,
       |    sum(CASE WHEN vote = qlabel THEN 1 ELSE 0 END) AS n_vote_correct
       |  FROM lc_vote GROUP BY qlabel
       |)
       |SELECT CAST(p.qlabel AS INTEGER) AS label,
       |  CAST(n_queries AS BIGINT) AS n_queries,
       |  CAST(n_slots AS BIGINT) AS n_slots,
       |  CAST(n_match AS BIGINT) AS n_match,
       |  CAST((CAST(n_match AS HUGEINT) * 1000000) // n_slots AS BIGINT)
       |    AS purity_ppm,
       |  CAST(n_vote_correct AS BIGINT) AS n_vote_correct,
       |  CAST((CAST(n_vote_correct AS HUGEINT) * 1000000) // n_queries
       |    AS BIGINT) AS vote_acc_ppm
       |FROM lc_p p JOIN lc_a a ON p.qlabel = a.qlabel""".stripMargin

  /** Int8 scalar quantization of the embedding column — the storage/
    * bandwidth step of a large-scale ANN pipeline (code + per-vector norm
    * reconstruct the vector to ±norm/254 per element). Per-row narrow
    * projection, no shuffle. Quantizer is `floor(x/norm·127 + 0.5)`
    * (floor, not round — IEEE-identical across engines, no rounding-mode
    * hazards); zero vectors quantize to zero codes. */
  def quantizeEmbeddings(emb: DataFrame): DataFrame = {
    val e = col("embedding").cast("array<double>")
    val nrm = sqrt(dot(e, e))
    val q = transform(e, x =>
      when(nrm === 0d, lit(0))
        .otherwise(floor(x / nrm * 127d + 0.5d).cast("int")))
    emb.select(col("vec_id"), nrm.as("norm"), q.as("qcode"))
  }

  def quantizeEmbeddingsSql: String = {
    val e = "CAST(embedding AS DOUBLE[])"
    val nrm = s"sqrt(${dotSql("embedding", "embedding")})"
    s"""SELECT vec_id, $nrm AS norm,
       |  list_transform($e, x -> CASE WHEN $nrm = 0 THEN 0
       |    ELSE CAST(floor(x / $nrm * 127 + 0.5) AS INT) END) AS qcode
       |FROM embeddings""".stripMargin
  }

  /** x172: quantization-bits yield curve — x20 ships int8 (scale 127)
    * codes; this prices EVERY bit width b ∈ {2,3,4,5,6,8}: per b, the
    * angular reconstruction error of quantizing each vector's unit
    * direction at scale 2^(b−1)−1 — err_ppm = (1 − cos(u, q_b))·10⁶,
    * with q_b = floor(u·s + ½) elementwise (b = 8 IS x20's code). Code
    * storage and shuffle bandwidth scale linearly in b, so the knee of
    * mean/max error vs bits is the ANN-tier storage decision. A vector
    * too diffuse for a width (q_b = 0, direction lost) scores the full
    * 10⁶ — the honest failure, not a NULL.
    *
    * Determinism: one scan; per row the unit direction u and each q_b
    * are materialized ONCE (attribute references, the SPARK-36718
    * boundary), dots are the shared sequential fold ([[dot]] /
    * list_dot_product — VectorParitySpec pins bit parity), each error
    * micro-snaps BEFORE aggregation, so mean (integer div) and max are
    * exact BIGINTs on both engines. */
  def quantizationYield(emb: DataFrame,
                        bits: Seq[Int] = Seq(2, 3, 4, 5, 6, 8)): DataFrame = {
    require(bits.nonEmpty && bits == bits.sorted && bits.forall(b =>
      b >= 2 && b <= 8), s"bits=$bits")
    val e = col("embedding").cast("array<double>")
    val p1 = emb.select(col("vec_id"), e.as("ed"))
      .withColumn("nrm", sqrt(dot(col("ed"), col("ed"))))
      .filter(col("nrm") > 0d)
      .select(col("vec_id"), transform(col("ed"), x => x / col("nrm")).as("u"))
    val p2 = p1.select(Seq(col("vec_id"), col("u")) ++ bits.map { b =>
      val s = (1 << (b - 1)) - 1
      transform(col("u"), x => floor(x * s + lit(0.5d))).as(s"q$b") }: _*)
    val p3 = p2.select(Seq(dot(col("u"), col("u")).as("uu")) ++
      bits.flatMap { b => Seq(dot(col("u"), col(s"q$b")).as(s"uq$b"),
        dot(col(s"q$b"), col(s"q$b")).as(s"qq$b")) }: _*)
    val errs = p3.select(bits.map { b =>
      when(col(s"qq$b") > 0d,
        floor((lit(1.0) - col(s"uq$b") /
          (sqrt(col("uu")) * sqrt(col(s"qq$b")))) * lit(1e6) + lit(0.5))
          .cast("long"))
        .otherwise(lit(1000000L)).as(s"err$b") }: _*)
    val aggs = bits.flatMap { b =>
      Seq(sum(col(s"err$b")).as(s"se$b"), max(col(s"err$b")).as(s"mx$b"))
    } :+ count(lit(1)).as("n_vecs")
    graft.functions.EdgeLadder.stackLadder(
      errs.agg(aggs.head, aggs.tail: _*), "bits",
      bits.map(b => (b.toLong, Seq(s"se$b", s"mx$b"))),
      Seq("sum_err", "max_err_ppm"), Seq("n_vecs"))
      .select(col("bits"),
        expr("CAST(sum_err div greatest(n_vecs, 1L) AS BIGINT)")
          .as("mean_err_ppm"),
        col("max_err_ppm"), col("n_vecs"))
  }

  /** DuckDB twin of [[quantizationYield]]. */
  def quantizationYieldSql(bits: Seq[Int] = Seq(2, 3, 4, 5, 6, 8)): String = {
    val qCols = bits.map { b =>
      val s = (1 << (b - 1)) - 1
      s"list_transform(u, qy_x -> floor(qy_x * $s + 0.5)) AS q$b"
    }.mkString(",\n    ")
    val dCols = bits.map { b =>
      s"""${dotSql("u", s"q$b")} AS uq$b,
         |    ${dotSql(s"q$b", s"q$b")} AS qq$b""".stripMargin
    }.mkString(",\n    ")
    val eCols = bits.map { b =>
      s"""CASE WHEN qq$b > 0 THEN CAST(floor((1 - uq$b
         |      / (sqrt(uu) * sqrt(qq$b))) * 1e6 + 0.5) AS BIGINT)
         |      ELSE 1000000 END AS err$b""".stripMargin
    }.mkString(",\n    ")
    val aCols = bits.map { b =>
      s"""CAST(sum(err$b) AS BIGINT) AS se$b,
         |    CAST(max(err$b) AS BIGINT) AS mx$b""".stripMargin
    }.mkString(",\n    ")
    val rows = graft.functions.EdgeLadder.stackLadderSqlRows("bits",
      bits.map(b => (b.toLong, Seq(
        "mean_err_ppm" -> s"CAST(se$b // greatest(n_vecs, 1) AS BIGINT)",
        "max_err_ppm" -> s"mx$b"))),
      Seq("n_vecs"), "qy_one")
    s"""WITH qy_n AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |),
       |qy_u AS (
       |  SELECT vec_id, list_transform(ed, qy_x -> qy_x / nrm) AS u
       |  FROM qy_n WHERE nrm > 0
       |),
       |qy_q AS (
       |  SELECT vec_id, u,
       |    $qCols
       |  FROM qy_u
       |),
       |qy_d AS (
       |  SELECT ${dotSql("u", "u")} AS uu,
       |    $dCols
       |  FROM qy_q
       |),
       |qy_e AS (
       |  SELECT
       |    $eCols
       |  FROM qy_d
       |),
       |qy_one AS (
       |  SELECT
       |    $aCols,
       |    CAST(count(*) AS BIGINT) AS n_vecs
       |  FROM qy_e
       |)
       |$rows""".stripMargin
  }

  /** ANN top-K over the int8 codes of [[quantizeEmbeddings]]: since codes
    * are unit-direction scaled to 127, the norms cancel and
    * `approx_cos = Σ qa·qb / 127²` — an integer dot product (exact in
    * double: products ≤ 127², sums ≪ 2^53). 16× less data moves than the
    * float corpus; candidates can then be re-ranked exactly. */
  def quantizedTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val codes = quantizeEmbeddings(emb).select(col("vec_id"), col("qcode"))
    val q = quantizeEmbeddings(queries)
      .select(col("vec_id").as("query_id"), col("qcode").as("qq"))
    codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qq"), col("qcode")) / lit(127d * 127d)).as("approx_cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("approx_cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  def quantizedTopKSql(queryFilter: String, k: Int): String =
    s"""WITH codes AS (
       |  ${quantizeEmbeddingsSql.replace("\n", "\n  ")}
       |), q AS (
       |  SELECT vec_id AS query_id, qcode AS qq FROM codes WHERE $queryFilter
       |), scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    list_dot_product(CAST(q.qq AS DOUBLE[]), CAST(c.qcode AS DOUBLE[])) / 16129.0 AS approx_cos
       |  FROM codes c JOIN q ON c.vec_id <> q.query_id
       |)
       |SELECT query_id, neighbor_id, approx_cos,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY approx_cos DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= $k""".stripMargin

  // ---- random-hyperplane LSH (multi-table) --------------------------------

  val lshTables = 4
  val bitsPerTable = 8
  val dim = 64

  /** Deterministic ±1 hyperplane weights (lshTables × bitsPerTable planes),
    * derived from md5 so both engines embed the same literals. */
  lazy val hyperplanes: IndexedSeq[IndexedSeq[Double]] =
    (0 until lshTables * bitsPerTable).map { b =>
      (0 until dim).map { j =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$b,$j".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1.0 else -1.0
      }
    }

  private def projPositive(emb: Column, plane: Int): Column =
    dot(emb, typedlit(hyperplanes(plane))) > 0

  /** Bucket id of hash table `t`: the table's b sign-bits packed into a
    * long. Per-row projection, no shuffle. */
  def lshBucket(emb: Column, t: Int): Column =
    (0 until bitsPerTable).map { i =>
      when(projPositive(emb, t * bitsPerTable + i), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  def lshBucketSql(emb: String, t: Int): String =
    (0 until bitsPerTable).map { i =>
      val w = hyperplanes(t * bitsPerTable + i)
        .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(CAST($emb AS DOUBLE[]), $w) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** ANN near-dup pairs, multi-table LSH: candidates collide in at least
    * one of the L hash tables (union of L bucket equi-joins — recall grows
    * with L while each join stays selective), then exact-cosine verified.
    * At scale the shuffle key is (table, bucket); no cross product ever
    * forms. */
  def lshDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val n = withNorm(emb)
    val buckets = n.select(col("vec_id"), col("embedding"), col("norm"),
      explode(array((0 until lshTables).map { t =>
        struct(lit(t).as("tbl"), lshBucket(col("embedding"), t).as("bucket"))
      }: _*)).as("tb"))
      .select(col("vec_id"), col("embedding"), col("norm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.embedding").as("ea"), col("a.norm").as("na"),
        col("b.embedding").as("eb"), col("b.norm").as("nb"))
      .dropDuplicates("vec_a", "vec_b")
    cand.select(col("vec_a"), col("vec_b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 9).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  def lshDupPairsSql(threshold: Double): String = {
    val tables = (0 until lshTables).map { t =>
      s"SELECT vec_id, embedding, $t AS tbl, CAST(${lshBucketSql("embedding", t)} AS BIGINT) AS bucket FROM embeddings"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH buckets AS (
       |  $tables
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    a.embedding AS ea, b.embedding AS eb
       |  FROM buckets a JOIN buckets b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |)
       |SELECT vec_a, vec_b, round(${cosineSql("ea", "eb")}, 9) AS cos_sim
       |FROM cand
       |WHERE round(${cosineSql("ea", "eb")}, 9) >= $threshold""".stripMargin
  }

  /** x107: per-source embedding cohesion — each document's cosine to its
    * source's centroid, aggregated per source (mean + min). The
    * embedding-side diversity diagnostic: a source whose docs all sit on
    * one centroid ray is a template farm even when its TEXT dedup looks
    * clean; a low min flags outlier/garbage vectors in an otherwise
    * tight feed.
    *
    * Determinism: elements snap to 1e4 BEFORE any sum (floats have ~7
    * digits; the snap keeps every downstream integer exact), so centroid
    * element sums, dot products, and norms are exact integers — cosine
    * to the element-SUM vector equals cosine to the mean by scale
    * invariance, so no division happens until the final per-doc cosine
    * (fixed-order IEEE, micro-snapped before the per-source mean).
    * Overflow bounds, per source of n docs with |v| ≤ 3500 (0.35
    * snapped): the centroid element |s| ≤ 3500·n, so the BIGINT dot
    * Σ₆₄ v·s ≤ 64·3500²·n stays under 2^63 to n ≈ 1.2·10¹⁰; the norm
    * Σ₆₄ s² grows as n², so it is summed in exact DECIMAL(38,0) on the
    * Spark side and HUGEINT in the twin (identical integers, cast to
    * DOUBLE only for the sqrt) — exact to n ≈ 3·10¹¹ docs per source,
    * and an ANSI decimal-overflow error (never a silent wrap) past it.
    *
    * Scale: one explode to (source, dim) — the centroid relation is
    * sources×64 rows and BROADCASTS back onto the exploded matrix; one
    * doc-level re-collapse, one source-level final aggregate. No
    * pairwise anything. */
  def sourceCohesion(docs: DataFrame, emb: DataFrame): DataFrame = {
    val el = emb.join(docs.select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      .filter(col("source").isNotNull)
      .select(col("vec_id"), col("source"),
        posexplode(col("embedding")).as(Seq("pos", "ev")))
      .select(col("vec_id"), col("source"), col("pos"),
        floor(col("ev").cast("double") * lit(1e4) + lit(0.5)).cast("long")
          .as("v"))
    // centroid element as a map-side-combinable aggregate joined back
    // onto the exploded matrix: the centroid relation is |sources|×64
    // rows however big the corpus — the partials collapse a dominant
    // source before its shuffle, and AQE broadcasts the centroid side
    // when |sources| is small or skew-splits the join when a source
    // dominates. (A `sum over Window.partitionBy(source, pos)` buffered
    // the whole dominant source's exploded rows in 64 tasks with no AQE
    // mitigation — the round-11 `weak`. The second scan+explode of the
    // narrow projection is the price, and it's map-side only.)
    val centroids = el.groupBy("source", "pos").agg(sum(col("v")).as("s"))
    val withS = el.join(centroids, Seq("source", "pos"))
    // s*s is quadratic in source size — BIGINT wraps silently (non-ANSI)
    // near n ≈ 9·10⁵ docs/source; DECIMAL(38,0) keeps the norm exact to
    // ~3·10¹¹ and errors loudly beyond
    val dec = org.apache.spark.sql.types.DecimalType(19, 0)
    val doc = withS.groupBy(col("vec_id"), col("source"))
      .agg(sum(col("v") * col("s")).as("dot"),
        sum(col("v") * col("v")).as("vn"),
        sum(col("s").cast(dec) * col("s").cast(dec)).as("cn"))
    val coh = doc.select(col("source"),
      when(col("vn") > 0L && col("cn") > 0L,
        floor(col("dot").cast("double") /
          (sqrt(col("vn").cast("double")) * sqrt(col("cn").cast("double")))
          * lit(1e6) + lit(0.5)).cast("long"))
        .as("coh_micro"))
    coh.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("coh_micro")).as("sum_coh_micro"),
        min(col("coh_micro")).as("min_coh_micro"))
      .select(col("source"), col("n_docs"), col("min_coh_micro"),
        (col("sum_coh_micro").cast("double") /
          (col("n_docs").cast("double") * lit(1e6))).as("mean_coh"))
  }

  /** DuckDB twin of [[sourceCohesion]] — same snap-then-sum integer
    * pipeline; DuckDB's 1-based element index only feeds its own
    * centroid join, so the indexing convention never crosses engines. */
  def sourceCohesionSql(dim: Int = 64): String =
    s"""WITH sc_el AS (
       |  SELECT e.vec_id, d.source, ix.i,
       |    CAST(floor(CAST(e.embedding[ix.i] AS DOUBLE) * 1e4 + 0.5)
       |      AS BIGINT) AS v
       |  FROM embeddings e
       |  JOIN documents d ON d.doc_id = e.vec_id
       |  CROSS JOIN generate_series(1, $dim) AS ix(i)
       |  WHERE d.source IS NOT NULL AND ix.i <= len(e.embedding)
       |),
       |sc_ws AS (
       |  SELECT vec_id, source, v,
       |    CAST(sum(v) OVER (PARTITION BY source, i) AS BIGINT) AS s
       |  FROM sc_el
       |),
       |sc_doc AS (
       |  SELECT vec_id, source,
       |    CAST(sum(v * s) AS BIGINT) AS dot,
       |    CAST(sum(v * v) AS BIGINT) AS vn,
       |    sum(CAST(s AS HUGEINT) * s) AS cn
       |  FROM sc_ws GROUP BY vec_id, source
       |),
       |sc_coh AS (
       |  SELECT source,
       |    CASE WHEN vn > 0 AND cn > 0 THEN
       |      CAST(floor(CAST(dot AS DOUBLE)
       |        / (sqrt(CAST(vn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE)))
       |        * 1e6 + 0.5) AS BIGINT)
       |    ELSE NULL END AS coh_micro
       |  FROM sc_doc
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(min(coh_micro) AS BIGINT) AS min_coh_micro,
       |  CAST(sum(coh_micro) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e6)
       |    AS mean_coh
       |FROM sc_coh
       |GROUP BY source""".stripMargin

  /** x163: per-source embedding anisotropy — the EXACT mean pairwise dot
    * product inside each source, computed with NO pair join via the
    * sum-of-sums identity Σ_{i≠j}⟨x_i,x_j⟩ = ‖Σx_i‖² − Σ‖x_i‖². A
    * collapsed (template-farm / mode-collapsed-embedder) source has mean
    * pairwise dot ≈ mean self dot; a healthy one sits near zero. x107
    * measures distance to the source CENTROID; this is the pairwise
    * concentration — the other axis of the same diagnosis, and together
    * they decompose the source's variance.
    *
    * Per source: doc count, mean self dot and mean ordered-pair dot (both
    * on the shared 1e-4 element grid, so units are the q8 = 1e8-scaled
    * dot), and anisotropy_ppm = pair/self ratio straight from the raw
    * sums ((ssq−q)·1e6 div (q·(n−1))) — one integer rounding, not three.
    *
    * Scale shape: the O(n²·d) pair statistic costs ONE O(n·d) exploded
    * scan: per-(source, dim) sums (|sources|×d rows however big the
    * corpus, map-side partials collapse a dominant source before its
    * shuffle) then a |sources|-row rollup. Every measure is a sum — the
    * sufficient statistic streams. Exactness: elements snap to the 1e-4
    * grid as BIGINTs first; the squares/cross-multiplies ride
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB); divisions are
    * sign-magnitude integer div (Spark `div` truncates, DuckDB `//`
    * floors — numerators can be negative). */
  def sourceAnisotropy(docs: DataFrame, emb: DataFrame): DataFrame =
    anisotropyFromPanel(anisotropyPanel(docs, emb))

  /** The SUFFICIENT STATISTIC behind [[sourceAnisotropy]]: the
    * (source, dim) panel of mergeable measures — element sum, squared-
    * element sum, row count. ONE aggregation, |sources|×d rows, every
    * measure a sum — which is exactly what lets the same call maintain
    * the panel as streaming state over an embedding stream joined
    * stream-static to `docs` (replays count — exactly-once or dedup
    * upstream): the report needs ‖Σx‖², a square of a sum no streaming query can
    * maintain directly, but the panel is linear and the squaring
    * happens in the finishing read. */
  def anisotropyPanel(docs: DataFrame, emb: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    emb.join(docs.select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      .filter(col("source").isNotNull)
      .select(col("source"), posexplode(col("embedding")).as(Seq("pos", "ev")))
      .select(col("source"), col("pos"),
        floor(col("ev").cast("double") * lit(1e4) + lit(0.5)).cast("long")
          .as("v"))
      // one pass carries BOTH moments per (source, dim); n_docs rides
      // the same aggregate as the per-dim row count (every non-empty
      // embedding has a pos-0 element, so max over dims = docs with
      // embeddings)
      .groupBy("source", "pos")
      .agg(sum(col("v")).as("s"),
        sum((col("v").cast(dec) * col("v").cast(dec)).cast(dec)).as("q2"),
        count(lit(1)).as("n_rows"))
  }

  /** Finish an [[anisotropyPanel]] into the x163 report — batch and the
    * streaming live table share this read verbatim, so
    * stream-then-finish equals batch on every arrival prefix
    * (the streaming spec pins it). */
  def anisotropyFromPanel(dims: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val src = dims.groupBy("source")
      .agg(sum((col("s").cast(dec) * col("s").cast(dec)).cast(dec)).as("ssq"),
        sum(col("q2")).as("q"),
        max(col("n_rows")).as("n_docs"))
    src.select(col("source"), col("n_docs"),
      expr("CAST(q div greatest(CAST(n_docs AS DECIMAL(38,0)), 1) " +
        "AS BIGINT)").as("mean_self_q8"),
      expr("CASE WHEN n_docs >= 2 THEN CAST(CASE WHEN ssq - q < 0 " +
        "THEN -((q - ssq) div (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1))) " +
        "ELSE (ssq - q) div (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1)) " +
        "END AS BIGINT) ELSE NULL END").as("mean_pair_q8"),
      expr("CASE WHEN n_docs >= 2 AND q > 0 THEN CAST(CASE WHEN ssq - q < 0 " +
        "THEN -(((q - ssq) * 1000000) div (q * (n_docs - 1))) " +
        "ELSE ((ssq - q) * 1000000) div (q * (n_docs - 1)) " +
        "END AS BIGINT) ELSE NULL END").as("anisotropy_ppm"))
  }

  /** x176: release-pair embedding DRIFT — when the embedder (or the
    * corpus snapshot) is re-released, what moved per source: the diff
    * of two [[anisotropyPanel]]s. Per source present in BOTH releases:
    * doc counts, the exact squared CENTROID SHIFT ‖μ_A − μ_B‖² in q8
    * units (per-dim difference d = s_a·n_b − s_b·n_a summed as d² over
    * the COMMON denominator (n_a·n_b)² — one integer division per
    * source, never per dim), and the deltas of x163's self-dot and
    * anisotropy readouts. The common-denominator form is exact only
    * when every dim of a source has the SAME row count in each
    * release (fixed-length vectors); a RAGGED source — the `pos ≤
    * len(embedding)` guard admits them — reports a NULL shift instead
    * of a silently wrong one (both engines agree by construction). A hot centroid_shift is a source whose
    * content or embedder genuinely moved; a hot d_aniso_ppm with a
    * cold shift is mode collapse setting in — the re-embed / re-gate
    * decision per source.
    *
    * Scale shape: two |sources|×d panels (each ONE exploded scan with
    * map-side partials — or ZERO scans when both panels are already
    * live streaming state, [[anisotropyPanel]] on the stream; this
    * finisher works on live panels
    * verbatim, so the streaming twin is this same code), one
    * (source, pos)-keyed equi-join of the two panels, |sources|-row
    * rollups. Exactness: the shared 1e-4 element grid, cross products
    * in DECIMAL(38,0)/HUGEINT, sign-safe because d² ≥ 0. */
  def releaseDrift(docs: DataFrame, embA: DataFrame,
                   embB: DataFrame): DataFrame =
    driftFromPanels(anisotropyPanel(docs, embA), anisotropyPanel(docs, embB))

  /** Finish two (live or batch) panels into the x176 drift report. */
  def driftFromPanels(pa: DataFrame, pb: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def fin(p: DataFrame, tag: String) = anisotropyFromPanel(p)
      .select(col("source"), col("n_docs").as(s"n_docs_$tag"),
        col("mean_self_q8").as(s"self_$tag"),
        col("anisotropy_ppm").as(s"aniso_$tag"))
    val dims = pa.select(col("source"), col("pos"), col("s").as("s_a"),
        col("n_rows").as("n_a"))
      .join(pb.select(col("source"), col("pos"), col("s").as("s_b"),
        col("n_rows").as("n_b")), Seq("source", "pos"))
    val shift = dims
      .select(col("source"),
        ((col("s_a").cast(dec) * col("n_b").cast(dec)) -
          (col("s_b").cast(dec) * col("n_a").cast(dec))).as("d"),
        col("n_a"), col("n_b"))
      .groupBy("source")
      .agg(sum((col("d") * col("d")).cast(dec)).as("sd2"),
        max(col("n_a")).as("na"), max(col("n_b")).as("nb"),
        min(col("n_a")).as("na_min"), min(col("n_b")).as("nb_min"))
      .select(col("source"),
        expr("CAST(CASE WHEN na = na_min AND nb = nb_min THEN " +
          "sd2 div (CAST(na AS DECIMAL(38,0)) * nb * na * nb) " +
          "END AS BIGINT)").as("centroid_shift_q8"))
    fin(pa, "a").join(fin(pb, "b"), Seq("source"))
      .join(shift, Seq("source"))
      .select(col("source"), col("n_docs_a"), col("n_docs_b"),
        col("centroid_shift_q8"),
        (col("self_b") - col("self_a")).as("d_self_q8"),
        (col("aniso_b") - col("aniso_a")).as("d_aniso_ppm"))
  }

  /** DuckDB twin of [[releaseDrift]] for the gate's md5-hash split of
    * `embeddings` (release A = md5 hex digit 0–7, B = 8–f; a modulus
    * split would alias with the testdata's source = doc_id mod 20). */
  def releaseDriftSql(dim: Int = 64): String = {
    def panel(p: String, pred: String): String =
      s"""${p}_el AS (
         |  SELECT d.source, ix.i AS pos,
         |    CAST(floor(CAST(e.embedding[ix.i] AS DOUBLE) * 1e4 + 0.5)
         |      AS BIGINT) AS v
         |  FROM embeddings e
         |  JOIN documents d ON d.doc_id = e.vec_id
         |  CROSS JOIN generate_series(1, $dim) AS ix(i)
         |  WHERE d.source IS NOT NULL AND ix.i <= len(e.embedding)
         |    AND ($pred)
         |),
         |${p}_dim AS (
         |  SELECT source, pos, CAST(sum(v) AS BIGINT) AS s,
         |    sum(CAST(v AS HUGEINT) * v) AS q2,
         |    CAST(count(*) AS BIGINT) AS n_rows
         |  FROM ${p}_el GROUP BY source, pos
         |),
         |${p}_src AS (
         |  SELECT source, sum(CAST(s AS HUGEINT) * s) AS ssq,
         |    sum(q2) AS q, max(n_rows) AS n_docs
         |  FROM ${p}_dim GROUP BY source
         |),
         |${p}_fin AS (
         |  SELECT source, n_docs,
         |    CAST(q // greatest(n_docs, 1) AS BIGINT) AS self_q8,
         |    CASE WHEN n_docs >= 2 AND q > 0 THEN
         |      CAST(CASE WHEN ssq - q < 0
         |        THEN -(((q - ssq) * 1000000) // (q * (n_docs - 1)))
         |        ELSE ((ssq - q) * 1000000) // (q * (n_docs - 1))
         |      END AS BIGINT)
         |    ELSE NULL END AS aniso_ppm
         |  FROM ${p}_src
         |)""".stripMargin
    s"""WITH ${panel("rda",
        "substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 1) <= '7'")},
       |${panel("rdb",
        "substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 1) > '7'")},
       |rd_shift AS (
       |  SELECT a.source,
       |    CAST(CASE WHEN min(a.n_rows) = max(a.n_rows)
       |        AND min(b.n_rows) = max(b.n_rows) THEN
       |      sum((CAST(a.s AS HUGEINT) * b.n_rows
       |          - CAST(b.s AS HUGEINT) * a.n_rows)
       |        * (CAST(a.s AS HUGEINT) * b.n_rows
       |          - CAST(b.s AS HUGEINT) * a.n_rows))
       |      // (CAST(max(a.n_rows) AS HUGEINT) * max(b.n_rows)
       |          * max(a.n_rows) * max(b.n_rows)) END AS BIGINT)
       |      AS centroid_shift_q8
       |  FROM rda_dim a JOIN rdb_dim b
       |    ON a.source = b.source AND a.pos = b.pos
       |  GROUP BY a.source
       |)
       |SELECT a.source, a.n_docs AS n_docs_a, b.n_docs AS n_docs_b,
       |  s.centroid_shift_q8,
       |  b.self_q8 - a.self_q8 AS d_self_q8,
       |  b.aniso_ppm - a.aniso_ppm AS d_aniso_ppm
       |FROM rda_fin a
       |JOIN rdb_fin b ON a.source = b.source
       |JOIN rd_shift s ON a.source = s.source""".stripMargin
  }

  /** DuckDB twin of [[sourceAnisotropy]]. */
  def sourceAnisotropySql(dim: Int = 64): String =
    s"""WITH sa_el AS (
       |  SELECT d.source, ix.i AS pos,
       |    CAST(floor(CAST(e.embedding[ix.i] AS DOUBLE) * 1e4 + 0.5)
       |      AS BIGINT) AS v
       |  FROM embeddings e
       |  JOIN documents d ON d.doc_id = e.vec_id
       |  CROSS JOIN generate_series(1, $dim) AS ix(i)
       |  WHERE d.source IS NOT NULL AND ix.i <= len(e.embedding)
       |),
       |sa_dim AS (
       |  SELECT source, pos, CAST(sum(v) AS BIGINT) AS s,
       |    sum(CAST(v AS HUGEINT) * v) AS q2,
       |    CAST(count(*) AS BIGINT) AS n_rows
       |  FROM sa_el GROUP BY source, pos
       |),
       |sa_src AS (
       |  SELECT source,
       |    sum(CAST(s AS HUGEINT) * s) AS ssq,
       |    sum(q2) AS q,
       |    max(n_rows) AS n_docs
       |  FROM sa_dim GROUP BY source
       |)
       |SELECT source, n_docs,
       |  CAST(q // greatest(n_docs, 1) AS BIGINT) AS mean_self_q8,
       |  CASE WHEN n_docs >= 2 THEN
       |    CAST(CASE WHEN ssq - q < 0
       |      THEN -((q - ssq) // (CAST(n_docs AS HUGEINT) * (n_docs - 1)))
       |      ELSE (ssq - q) // (CAST(n_docs AS HUGEINT) * (n_docs - 1))
       |    END AS BIGINT)
       |  ELSE NULL END AS mean_pair_q8,
       |  CASE WHEN n_docs >= 2 AND q > 0 THEN
       |    CAST(CASE WHEN ssq - q < 0
       |      THEN -(((q - ssq) * 1000000) // (q * (n_docs - 1)))
       |      ELSE ((ssq - q) * 1000000) // (q * (n_docs - 1))
       |    END AS BIGINT)
       |  ELSE NULL END AS anisotropy_ppm
       |FROM sa_src""".stripMargin
}
