package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

/** Integer PageRank (x119): engine output must equal a driver-side
  * reference running the same floor arithmetic, hubs must rank first on
  * a known topology, and total mass must be conserved up to the floor
  * losses (≤ deg·its per node). */
class GraphOpsSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  private val unit = 1000000000000L

  /** Driver-side reference: identical integer iteration. */
  private def referenceRanks(pairs: Seq[(Long, Long)],
                             iterations: Int): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val base = 15L * unit / 100L
    var r: Map[Long, Long] = deg.map { case (n, _) => n -> unit }
    for (_ <- 1 to iterations) {
      val inc = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
      }
      r = inc.map { case (n, s) => n -> (base + 85L * s / 100L) }
    }
    r
  }

  private def pairsDf(pairs: Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    pairs.toDF("u_a", "u_b")
  }

  test("ranks equal the driver-side integer reference exactly") {
    // a hub (0) with 5 spokes, a triangle (10,11,12), a 4-chain
    val pairs = Seq[(Long, Long)](
      (0, 1), (0, 2), (0, 3), (0, 4), (0, 5),
      (10, 11), (11, 12), (10, 12),
      (20, 21), (21, 22), (22, 23))
    val got = GraphOps.pageRank(pairsDf(pairs), iterations = 6, topK = 100)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ref = referenceRanks(pairs, 6)
    assert(got.keySet === ref.keySet)
    got.foreach { case (id, (_, score)) =>
      assert(score === ref(id), s"node $id: engine $score != reference ${ref(id)}")
    }
  }

  test("the star hub out-ranks every spoke and every other component") {
    val pairs = Seq[(Long, Long)](
      (0, 1), (0, 2), (0, 3), (0, 4), (0, 5), (10, 11))
    val top = GraphOps.pageRank(pairsDf(pairs), iterations = 6, topK = 1)
      .collect().head
    assert(top.getLong(0) === 0L, "hub must rank first")
    assert(top.getLong(1) === 5L)
  }

  /** Driver-side reference: brute-force triangle enumeration. */
  private def referenceTriangles(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = pairs.map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val tris = for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      k <- (j + 1) until nodes.size
      a = nodes(i); b = nodes(j); c = nodes(k)
      if es((a, b)) && es((b, c)) && es((a, c))
    } yield (a, b, c)
    tris.flatMap { case (a, b, c) => Seq(a, b, c) }
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
  }

  test("triangle participation equals brute-force enumeration") {
    // K4 on {0..3} (4 triangles), a lone triangle, a triangle-free path,
    // and a hub whose star adds NO triangles but dominates the degrees
    val pairs = Seq[(Long, Long)](
      (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
      (10, 11), (11, 12), (10, 12),
      (20, 21), (21, 22),
      (30, 31), (30, 32), (30, 33), (30, 34), (30, 35), (30, 36))
    val got = GraphOps.triangleParticipation(pairsDf(pairs), topK = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ref = referenceTriangles(pairs)
    assert(got === ref, s"engine $got != reference $ref")
    // K4 members each sit in C(3,2)=3 triangles; triangle nodes in 1
    assert(got(0L) === 3L && got(3L) === 3L && got(10L) === 1L)
    assert(!got.contains(20L) && !got.contains(30L),
      "triangle-free nodes must not appear")
  }

  test("orientation keeps the wedge join equi-only (no BNLJ/cartesian)") {
    val pairs = (0L until 40L).flatMap(i =>
      (i + 1 until 40L).filter(j => (i + j) % 3 == 0).map(j => (i, j)))
    val plan = GraphOps.triangleParticipation(pairsDf(pairs), topK = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"wedge/closing joins must stay equi-joins:\n$plan")
  }

  /** Driver-side reference: identical synchronous mode-label rounds. */
  private def referenceLpa(pairs: Seq[(Long, Long)],
                           rounds: Int): Map[Long, Long] = {
    val adj = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .groupBy(_._2).map { case (n, es) => n -> es.map(_._1) }
    var lab: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      lab = adj.map { case (n, nbrs) =>
        val counts = nbrs.map(lab).groupBy(identity)
          .map { case (l, xs) => (l, xs.size) }
        n -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    lab
  }

  test("LPA communities equal the synchronous driver-side reference") {
    // two 4-cliques joined by a single bridge edge, plus a separate path
    val clique1 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val clique2 = for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)
    val pairs = clique1 ++ clique2 ++ Seq((3L, 10L), (20L, 21L), (21L, 22L))
    val got = GraphOps.labelCommunities(pairsDf(pairs), rounds = 4,
        topK = 100).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = referenceLpa(pairs, 4).groupBy(_._2)
      .map { case (l, xs) => l -> xs.size.toLong }
    assert(got === ref, s"engine $got != reference $ref")
    // the two cliques must not collapse into one community: the bridge
    // is outvoted by each side's internal mode
    val labelOf = referenceLpa(pairs, 4)
    assert(labelOf(0L) != labelOf(13L),
      "cliques across the bridge must keep distinct communities")
  }

  test("x170 communityCohesion: internal/external accounting matches a driver recount") {
    val clique1 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val clique2 = for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)
    val pairs = clique1 ++ clique2 ++ Seq((3L, 10L), (20L, 21L), (21L, 22L))
    val lab = GraphOps.labelAssignments(pairsDf(pairs), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = GraphOps.communityCohesion(pairsDf(pairs), rounds = 4,
        topK = 100).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_members"),
        r.getAs[Long]("n_internal"), r.getAs[Long]("n_external"),
        r.getAs[Long]("intra_ppm")))).toMap
    val members = lab.groupBy(_._2).map { case (l, xs) => l -> xs.size.toLong }
    val internal = pairs.filter(p => lab(p._1) == lab(p._2))
      .groupBy(p => lab(p._1)).map { case (l, xs) => l -> xs.size.toLong }
    val external = pairs.filter(p => lab(p._1) != lab(p._2))
      .flatMap(p => Seq(lab(p._1), lab(p._2)))
      .groupBy(identity).map { case (l, xs) => l -> xs.size.toLong }
    assert(got.keySet === members.keySet)
    members.foreach { case (l, m) =>
      val (gm, gi, gx, ppm) = got(l)
      assert(gm === m && gi === internal.getOrElse(l, 0L) &&
        gx === external.getOrElse(l, 0L), s"community $l: ${got(l)}")
      assert(ppm === gi * 1000000L / math.max(gi + gx, 1L))
    }
    // each clique is a near-island: 6 internal edges, the 1 bridge
    assert(got(lab(0L))._2 === 6L && got(lab(0L))._3 === 1L)
    assert(got(lab(13L))._2 === 6L && got(lab(13L))._3 === 1L)
  }

  /** Driver-side reference: peel to fixpoint. */
  private def referenceKCore(pairs: Seq[(Long, Long)],
                             k: Int): Map[Long, Long] = {
    var es = pairs.map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    var changed = true
    while (changed) {
      val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter(e => keep(e._1) && keep(e._2))
      changed = next != es
      es = next
    }
    es.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
  }

  test("k-core equals the peel-to-fixpoint reference (clique survives, tree and cycle peel away)") {
    // 5-clique (every node deg 4 -> 3-core), a 7-node path, a 6-cycle
    // (2-core only), and a node chained to the clique by one edge
    val clique = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val path = (10L until 16L).map(i => (i, i + 1))
    val cycle = (20L until 25L).map(i => (i, i + 1)) :+ ((25L, 20L))
    val pairs = clique ++ path ++ cycle :+ ((4L, 30L))
    val got = GraphOps.kCore(pairsDf(pairs), k = 3, rounds = 8, topK = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = referenceKCore(pairs, 3)
    assert(got === ref, s"engine $got != reference $ref")
    assert(got.keySet === (0L to 4L).toSet, "only the clique is 3-robust")
    assert(got.values.forall(_ === 4L))
    // the cycle IS a 2-core: same graph, k=2 keeps it
    val got2 = GraphOps.kCore(pairsDf(pairs), k = 2, rounds = 8, topK = 100)
      .collect().map(_.getLong(0)).toSet
    assert((20L to 25L).toSet.subsetOf(got2))
    assert(!got2.contains(30L), "the pendant node peels at k=2")
  }

  test("total mass is conserved up to floor losses") {
    val pairs = Seq[(Long, Long)](
      (0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (4, 0))
    val rows = GraphOps.pageRank(pairsDf(pairs), iterations = 6, topK = 100)
      .collect()
    val total = rows.map(_.getLong(2)).sum
    val n = rows.length
    // each round loses < deg per node to `div deg` and < 100 to `div 100`
    val maxLoss = 6L * n * (2 * pairs.length + 100)
    assert(total <= n * unit)
    assert(total >= n * unit - maxLoss,
      s"mass $total fell below ${n * unit} - $maxLoss")
  }

  test("degree cap: strict bound, subset, identity at generous cap, hubs preserved") {
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    def degrees(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = df
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.col("u_a"),
          org.apache.spark.sql.functions.col("u_b"))).as("n"))
      .groupBy("n").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = GraphOps.overlapPairs(ev)
    val fullPairs = full.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullDeg = degrees(full)
    val maxDeg = fullDeg.values.max.toInt
    assert(maxDeg > 4, s"fixture too sparse for a meaningful cap test: $maxDeg")
    // generous cap → the exact graph
    val generous = GraphOps.overlapPairs(ev, maxDegree = maxDeg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(generous === fullPairs)
    // tight cap → strict degree bound + subset (cap scaled to the
    // fixture: hubs exist at 2*cap by construction)
    val cap = math.max(2, maxDeg / 2 - 1)
    val capped = GraphOps.overlapPairs(ev, maxDegree = cap)
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedPairs.subsetOf(fullPairs))
    val cappedDeg = degrees(capped)
    assert(cappedDeg.values.forall(_ <= cap),
      s"cap violated: ${cappedDeg.filter(_._2 > cap)}")
    // hub preservation: the true top hubs saturate the cap — every node
    // whose full degree is >= 2*cap must sit in the capped graph's top
    // degree tier (uniform hash selection keeps hubs hubs)
    val trueHubs = fullDeg.filter(_._2 >= 2L * cap).keySet
    assert(trueHubs.nonEmpty, "fixture has no hubs at 2*cap — lower the cap")
    val tier = cappedDeg.filter(_._2 >= cap - 1).keySet
    assert(trueHubs.subsetOf(tier),
      s"hubs lost under the cap: ${trueHubs -- tier}")
  }
}
