package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.DedupOps.{IterState, Local}

/** Graph analytics over relations the engine already derives — here,
  * bounded-round PageRank (Brin & Page 1998) with EXACT integer
  * arithmetic so both engines (and any partition order) produce
  * bit-identical ranks.
  *
  * Scale shape: the classic Pregel-style iteration expressed as plain
  * joins — each round is ONE shuffle of (edge ⋈ rank) onto the
  * destination key plus a node-sized aggregate; the driver holds loop
  * control only (the Borůvka pattern from [[DedupOps.dupClusters]]).
  * Rounds are pinned ([[DedupOps.IterState]]) so lineage stays flat and
  * a failed round restarts from materialized state, not from round 0.
  *
  * Determinism: scores live in integer `unit`s (1e12 per node at start).
  * Each round sends `score div deg` along every out-edge and recombines
  * as `base + (85 · Σincoming) div 100` — floor division and BIGINT sums
  * only, so there is no floating-point accumulation anywhere. Total mass
  * stays ≤ n·unit, bounding every intermediate below 2^63 for corpora up
  * to ~10^6 nodes per unit of 1e12 (shrink `unit` beyond that).
  */
object GraphOps {

  /** Distinct concurrent-user pairs (u_a < u_b): users whose sessions
    * overlap in time at least once — the j17 interval-join machinery
    * reduced to its edge set. Sessions are pinned so the sessionization
    * scan runs once for both join sides.
    *
    * SIZE ENVELOPE: this edge set is quadratic in concurrency BY
    * DEFINITION — |E| ≤ Σ_buckets C(c_b, 2) where c_b is the number of
    * users with a session overlapping bucket b. At the gated SFs c is
    * tens; at 100× a hot hour with c = 10⁶ concurrent users would
    * materialize ~5·10¹¹ pairs from that hour alone. That is a property
    * of the metric, not the plan — past that envelope cap it with
    * `maxDegree`: every node keeps at most `maxDegree` incident pairs,
    * chosen by a STABLE pair hash (deterministic, replayable), and a
    * pair survives only if BOTH endpoints keep it — a strict degree
    * bound, so |E| ≤ n·maxDegree/2 regardless of concurrency. The
    * per-node rank plans as WindowGroupLimit (rank ≤ cap keeps only cap
    * rows per node map-side before the shuffle), and uniform hash
    * selection preserves the hub structure downstream consumers rank on
    * (GraphOpsSpec pins top-hub preservation on the fixture). Default
    * 0 = uncapped — the gate SFs run the exact graph.
    *
    * Round 18 (guide §2.4 remove shuffles outright): the RESULT rides
    * the session-scoped [[graft.core.Memo]] (via
    * [[DedupOps.memoPin]], so `Reliable`/`Unpinned` semantics are
    * unchanged). Every consumer references the pair relation through
    * several branches (degree aggregate + per-side joins + round
    * seeds), and without the pin each branch re-ran the WHOLE
    * sessionize→interval-join→distinct pipeline — measured at sf0.1:
    * x119 spent ~3 of its 5.5 s re-deriving edges it already had. Six
    * gate queries (x119/x123/x130/x132/x170/x175) share one
    * derivation per session — the same sign-once/probe-many shape as
    * the dedup contraction kernels, and the production posture at
    * 100 TB (the edge set is derived once, then analyzed many ways). */
  def overlapPairs(events: DataFrame, gapMinutes: Int = 30,
                   maxDegree: Int = 0,
                   state: IterState = Local): DataFrame = {
    val sess = graft.core.Memo.pinned(
      graft.streaming.EventStreams.userSessions(events, gapMinutes)
        .select(col("user_id"), col("session_start_epoch"),
          col("session_end_epoch")))
    val a = sess.select(col("user_id").as("u_a"),
      col("session_start_epoch").as("s_a"), col("session_end_epoch").as("e_a"))
    val b = sess.select(col("user_id").as("u_b"),
      col("session_start_epoch").as("s_b"), col("session_end_epoch").as("e_b"))
    val pairs0 = TemporalJoins.intervalJoin(a, b, "s_a", "e_a", "s_b", "e_b",
        3600L, col("u_a") < col("u_b"))
      .select(col("u_a"), col("u_b")).distinct()
    val pairs = DedupOps.memoPin(state)(pairs0)
    if (maxDegree <= 0) pairs
    else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("node")
        .orderBy(col("h"), col("u_a"), col("u_b"))
      pairs
        .withColumn("h", graft.functions.HashFunctions.hash60(
          concat_ws(":", col("u_a"), col("u_b"))))
        .select(col("u_a"), col("u_b"), col("h"),
          explode(array(col("u_a"), col("u_b"))).as("node"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= maxDegree)
        .groupBy("u_a", "u_b")
        // kept by BOTH endpoints → degree strictly ≤ maxDegree
        .agg(count(lit(1)).as("keeps"))
        .filter(col("keeps") === 2L)
        .select(col("u_a"), col("u_b"))
    }
  }

  /** Degree relation + degree-annotated edge relation of an undirected
    * pair set, derived from ONE pinned traversal: `deg` is pinned first
    * (node-sized), `ed` joins the pinned degrees back onto the edges —
    * so the pair relation is scanned twice but DERIVED once, and every
    * downstream branch (round seeds, final join-backs) reads pinned
    * state instead of re-deriving the edge pipeline (guide §2.4). */
  private def degreeEdges(pairs: DataFrame, state: IterState)
      : (DataFrame, DataFrame) = {
    val edges = pairs.select(col("u_a").as("src"), col("u_b").as("dst"))
      .union(pairs.select(col("u_b").as("src"), col("u_a").as("dst")))
    val deg = state.pin(edges.groupBy("src").agg(count(lit(1)).as("deg")))
    (deg, state.pin(edges.join(deg, "src")))
  }

  /** Integer PageRank over an undirected pair relation `(u_a, u_b)`;
    * returns the top-`k` hubs as (user_id, degree, pagerank).
    *
    * Every node in the pair relation has degree ≥ 1, so every node
    * receives incoming mass each round and the inner join form is total
    * — no dangling-node special case. */
  def pageRank(pairs: DataFrame, iterations: Int = 6, topK: Int = 20,
               unit: Long = 1000000000000L,
               state: IterState = Local): DataFrame = {
    require(iterations >= 1 && iterations <= 50, s"iterations=$iterations")
    // deg pinned alongside ed (round 18): r's seed and the final
    // join-back used to re-derive deg — and with it the whole edge
    // pipeline — once each; both now read the pinned relation
    val (deg, ed) = degreeEdges(pairs, state)
    val base = 15L * unit / 100L
    var r = deg.select(col("src").as("id"), lit(unit).as("score"))
    for (_ <- 1 to iterations) {
      r = state.pin(
        ed.join(r, col("src") === col("id"))
          .groupBy(col("dst"))
          .agg(sum(expr("score div deg")).as("inc"))
          .select(col("dst").as("id"),
            expr(s"${base}L + (85L * inc) div 100L").as("score")))
    }
    r.join(deg, col("id") === col("src"))
      .select(col("id").as("user_id"), col("deg").as("degree"),
        col("score").as("pagerank"))
      .orderBy(col("pagerank").desc, col("user_id"))
      .limit(topK)
  }

  /** x119 composition: PageRank hubs of the session-concurrency graph —
    * "which users sit at the center of temporal co-activity". */
  def sessionPageRank(events: DataFrame, gapMinutes: Int = 30,
                      iterations: Int = 6, topK: Int = 20,
                      state: IterState = Local): DataFrame =
    pageRank(overlapPairs(events, gapMinutes, state = state), iterations, topK,
      state = state)

  /** Degree-ordered triangle counting (Schank & Wagner 2005; the
    * Cohen/Suri-Vassilvitskii MapReduce formulation): orient every
    * undirected edge from its (degree, id)-smaller endpoint to the
    * larger, enumerate wedges as a self-join of the oriented edges on
    * their source, and close each wedge with one more equi-join back
    * into the oriented edge set. Orientation caps every node's
    * out-degree at O(√m), so the wedge fan-out is Σ outdeg² = O(m^1.5)
    * — the bound that makes triangle counting survive hub nodes that
    * would blow a naive neighbor self-join quadratically.
    *
    * Scale shape: three shuffles (degree aggregate; wedge self-join on
    * src; closing equi-join on the (v, w) pair) — no inequality join
    * anywhere past the orientation predicate, which is evaluated
    * row-local. Per-node participation is an explode of the triangle
    * list, bounded by 3·#triangles.
    *
    * Output: top-`k` users by triangle participation —
    * (user_id, degree, n_triangles), ties broken by user_id. */
  def triangleParticipation(pairs: DataFrame, topK: Int = 20,
                            state: IterState = Local): DataFrame = {
    // deg feeds three branches and oriented three (wedge build+probe,
    // closing) — pinned (round 18, guide §2.4) so each is derived once
    // instead of once per consumer branch
    val deg = state.pin(pairs.select(col("u_a").as("u")).union(
        pairs.select(col("u_b").as("u")))
      .groupBy("u").agg(count(lit(1)).as("deg")))
    // orient (a, b) from (deg, id)-smaller to larger; carry the dst's
    // rank key so the wedge ordering below is row-local
    val withDeg = pairs
      .join(deg.select(col("u").as("u_a"), col("deg").as("deg_a")), "u_a")
      .join(deg.select(col("u").as("u_b"), col("deg").as("deg_b")), "u_b")
    val oriented = state.pin(withDeg.select(
      when(col("deg_a") < col("deg_b") ||
           (col("deg_a") === col("deg_b") && col("u_a") < col("u_b")),
        col("u_a")).otherwise(col("u_b")).as("src"),
      when(col("deg_a") < col("deg_b") ||
           (col("deg_a") === col("deg_b") && col("u_a") < col("u_b")),
        col("u_b")).otherwise(col("u_a")).as("dst"),
      when(col("deg_a") < col("deg_b") ||
           (col("deg_a") === col("deg_b") && col("u_a") < col("u_b")),
        col("deg_b")).otherwise(col("deg_a")).as("dst_deg")))
    val e1 = oriented.select(col("src"), col("dst").as("v"),
      col("dst_deg").as("dv"))
    val e2 = oriented.select(col("src"), col("dst").as("w"),
      col("dst_deg").as("dw"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tri = wedges.join(closing, Seq("v", "w"))
      .select(col("src").as("a"), col("v").as("b"), col("w").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("user_id"))
      .groupBy("user_id").agg(count(lit(1)).as("n_triangles"))
      .join(deg.withColumnRenamed("u", "user_id"), "user_id")
      .select(col("user_id"), col("deg").as("degree"), col("n_triangles"))
      .orderBy(col("n_triangles").desc, col("user_id"))
      .limit(topK)
  }

  /** Synchronous label propagation (Raghavan et al. 2007), made
    * deterministic: every node starts as its own label; each round it
    * adopts its neighbors' MODE label with ties broken (count desc,
    * label asc) — no randomized visit order, so any partitioning and
    * both engines produce identical communities. Bounded rounds, driver
    * holds loop control only (the PageRank/Borůvka pattern).
    *
    * Scale shape per round: one shuffle of (edge ⋈ label) onto the
    * destination, then the (dst, label) count and the rank-1 mode window
    * SHARE that destination key — Spark plans WindowGroupLimit, so one
    * row per node survives map-side. Communities are the density read
    * beside x119's centrality and x23's connectivity: a component is one
    * island, LPA splits it along its sparse cuts. */
  def labelCommunities(pairs: DataFrame, rounds: Int = 4, topK: Int = 20,
                       state: IterState = Local): DataFrame =
    labelAssignments(pairs, rounds, state)
      .groupBy("label").agg(count(lit(1)).as("n_members"))
      .select(col("label").as("community"), col("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(topK)

  /** The per-node (id, label) table behind [[labelCommunities]] — shared
    * by the x170 cohesion readout, which needs the assignments, not the
    * size rollup. */
  def labelAssignments(pairs: DataFrame, rounds: Int = 4,
                       state: IterState = Local): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"rounds=$rounds")
    import org.apache.spark.sql.expressions.Window
    val edges = DedupOps.memoPin(state)(
      pairs.select(col("u_a").as("src"), col("u_b").as("dst"))
        .union(pairs.select(col("u_b").as("src"), col("u_a").as("dst"))))
    var lab = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    for (_ <- 1 to rounds) {
      val byDst = Window.partitionBy("dst")
        .orderBy(col("c").desc, col("label").asc)
      lab = DedupOps.memoPin(state)(
        edges.join(lab, col("src") === col("id"))
          .groupBy(col("dst"), col("label"))
          .agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(byDst))
          .filter(col("rn") === 1)
          .select(col("dst").as("id"), col("label")))
    }
    lab
  }

  /** x170: community cohesion — the quality readout for x130's labels:
    * per community (top-`topK` by size), member count, INTERNAL edge
    * count (both endpoints inside) and EXTERNAL edge count (edges it
    * shares with other communities, attributed to both sides), and
    * intra_ppm = internal/(internal+external) — the per-community
    * modularity-style statement of whether label propagation found real
    * density or just painted the graph. A community at intra_ppm ≈ 10⁶
    * is an island; one near 0 is an artifact of the tie-break.
    *
    * Scale shape: the SAME bounded-round LP as x130 (per-round lineage
    * pinned, mode via WindowGroupLimit rank-1 on the user-entity dst
    * key), then two label joins onto the undirected pair set (user-
    * keyed, AQE-splittable) and community-keyed counts — output bounded
    * by |communities|, every aggregate map-side combinable. */
  def communityCohesion(pairs: DataFrame, rounds: Int = 4, topK: Int = 20,
                        state: IterState = Local): DataFrame = {
    val lab = DedupOps.memoPin(state)(labelAssignments(pairs, rounds, state))
    val e = pairs
      .join(lab.select(col("id").as("u_a"), col("label").as("la")), Seq("u_a"))
      .join(lab.select(col("id").as("u_b"), col("label").as("lb")), Seq("u_b"))
      .select(col("la"), col("lb"))
    val members = lab.groupBy("label").agg(count(lit(1)).as("n_members"))
    val internal = e.filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("n_internal"))
    val external = e.filter(col("la") =!= col("lb"))
      .select(col("la").as("label"))
      .union(e.filter(col("la") =!= col("lb")).select(col("lb").as("label")))
      .groupBy("label").agg(count(lit(1)).as("n_external"))
    members.join(internal, Seq("label"), "left")
      .join(external, Seq("label"), "left")
      .select(col("label").as("community"), col("n_members"),
        coalesce(col("n_internal"), lit(0L)).as("n_internal"),
        coalesce(col("n_external"), lit(0L)).as("n_external"))
      .withColumn("intra_ppm", expr(
        "(n_internal * 1000000L) div greatest(n_internal + n_external, 1L)"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(topK)
  }

  /** x170 composition over the session-concurrency graph. */
  def sessionCommunityCohesion(events: DataFrame, gapMinutes: Int = 30,
                               rounds: Int = 4, topK: Int = 20,
                               state: IterState = Local): DataFrame =
    communityCohesion(overlapPairs(events, gapMinutes, state = state), rounds, topK, state)

  /** x175: inter-community TRAFFIC MATRIX — x170 says whether each
    * community is internally dense; this says WITH WHOM it talks: for
    * every unordered community pair (diagonal included), the
    * concurrent-session edge count connecting them and the distinct
    * members implicated on each side. An off-diagonal hot cell is the
    * BRIDGE x170's scalar external count aggregates away — which two
    * communities actually share their boundary traffic (the
    * load-placement / federation read); the diagonal restates x170's
    * internal density cell-wise. The x156 contamination-matrix shape
    * on the social graph: canonicalize each edge by COMMUNITY order
    * (least/greatest — members re-orient with their side) so every
    * unordered pair lands in exactly one cell.
    *
    * Scale shape: the SAME bounded-round LP as x130/x170 (lineage
    * pinned per round, WindowGroupLimit rank-1 on the user-entity dst
    * key), then two user-keyed label joins onto the pair set
    * (AQE-splittable) and ONE ≤|communities|²-row aggregate — every
    * measure map-side combinable, no window over edge mass. */
  def communityTraffic(pairs: DataFrame, rounds: Int = 4,
                       state: IterState = Local): DataFrame = {
    val lab = DedupOps.memoPin(state)(labelAssignments(pairs, rounds, state))
    val oriented = pairs
      .join(lab.select(col("id").as("u_a"), col("label").as("la")), Seq("u_a"))
      .join(lab.select(col("id").as("u_b"), col("label").as("lb")), Seq("u_b"))
      .select(least(col("la"), col("lb")).as("comm_a"),
        greatest(col("la"), col("lb")).as("comm_b"),
        when(col("la") <= col("lb"), col("u_a")).otherwise(col("u_b"))
          .as("m_a"),
        when(col("la") <= col("lb"), col("u_b")).otherwise(col("u_a"))
          .as("m_b"))
    oriented.groupBy("comm_a", "comm_b")
      .agg(count(lit(1)).as("n_edges"),
        countDistinct(col("m_a")).as("n_members_a"),
        countDistinct(col("m_b")).as("n_members_b"))
      .withColumn("cross_community",
        (col("comm_a") =!= col("comm_b")).cast("int"))
  }

  /** x175 composition over the session-concurrency graph. */
  def sessionCommunityTraffic(events: DataFrame, gapMinutes: Int = 30,
                              rounds: Int = 4,
                              state: IterState = Local): DataFrame =
    communityTraffic(overlapPairs(events, gapMinutes, state = state), rounds, state)

  /** DuckDB twin of [[sessionCommunityTraffic]] — x170's unrolled LP
    * CTEs finished through the canonicalized cell aggregate. */
  def sessionCommunityTrafficSql(gapMinutes: Int = 30,
                                 rounds: Int = 4): String = {
    val roundCtes = (1 to rounds).map { k =>
      s"""ct_r$k AS (
         |  SELECT dst AS id, label FROM (
         |    SELECT e.dst, l.label, count(*) AS c,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY count(*) DESC, l.label ASC) AS rn
         |    FROM ct_edges e JOIN ct_r${k - 1} l ON l.id = e.src
         |    GROUP BY e.dst, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ct_sess AS (
       |  SELECT user_id, session_start_epoch, session_end_epoch FROM (
       |${graft.streaming.EventStreams.userSessionsSql(gapMinutes)}
       |  ) t
       |), ct_pairs AS (
       |  SELECT DISTINCT a.user_id AS u_a, b.user_id AS u_b
       |  FROM ct_sess a JOIN ct_sess b ON a.user_id < b.user_id
       |    AND a.session_start_epoch <= b.session_end_epoch
       |    AND b.session_start_epoch <= a.session_end_epoch
       |), ct_edges AS (
       |  SELECT u_a AS src, u_b AS dst FROM ct_pairs
       |  UNION ALL
       |  SELECT u_b AS src, u_a AS dst FROM ct_pairs
       |), ct_r0 AS (
       |  SELECT DISTINCT src AS id, src AS label FROM ct_edges
       |),
       |$roundCtes,
       |ct_lab AS MATERIALIZED (SELECT id, label FROM ct_r$rounds),
       |ct_o AS (
       |  SELECT least(a.label, b.label) AS comm_a,
       |    greatest(a.label, b.label) AS comm_b,
       |    CASE WHEN a.label <= b.label THEN p.u_a ELSE p.u_b END AS m_a,
       |    CASE WHEN a.label <= b.label THEN p.u_b ELSE p.u_a END AS m_b
       |  FROM ct_pairs p
       |  JOIN ct_lab a ON a.id = p.u_a
       |  JOIN ct_lab b ON b.id = p.u_b
       |)
       |SELECT comm_a, comm_b, CAST(count(*) AS BIGINT) AS n_edges,
       |  CAST(count(DISTINCT m_a) AS BIGINT) AS n_members_a,
       |  CAST(count(DISTINCT m_b) AS BIGINT) AS n_members_b,
       |  CAST(CASE WHEN comm_a <> comm_b THEN 1 ELSE 0 END AS INTEGER)
       |    AS cross_community
       |FROM ct_o GROUP BY comm_a, comm_b""".stripMargin
  }

  /** DuckDB twin of [[sessionCommunityCohesion]] — the same unrolled LP
    * rounds as x130's twin, finished through the label joins. */
  def sessionCommunityCohesionSql(gapMinutes: Int = 30, rounds: Int = 4,
                                  topK: Int = 20): String = {
    val roundCtes = (1 to rounds).map { k =>
      s"""cc_r$k AS (
         |  SELECT dst AS id, label FROM (
         |    SELECT e.dst, l.label, count(*) AS c,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY count(*) DESC, l.label ASC) AS rn
         |    FROM cc_edges e JOIN cc_r${k - 1} l ON l.id = e.src
         |    GROUP BY e.dst, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH cc_sess AS (
       |  SELECT user_id, session_start_epoch, session_end_epoch FROM (
       |${graft.streaming.EventStreams.userSessionsSql(gapMinutes)}
       |  ) t
       |), cc_pairs AS (
       |  SELECT DISTINCT a.user_id AS u_a, b.user_id AS u_b
       |  FROM cc_sess a JOIN cc_sess b ON a.user_id < b.user_id
       |    AND a.session_start_epoch <= b.session_end_epoch
       |    AND b.session_start_epoch <= a.session_end_epoch
       |), cc_edges AS (
       |  SELECT u_a AS src, u_b AS dst FROM cc_pairs
       |  UNION ALL
       |  SELECT u_b AS src, u_a AS dst FROM cc_pairs
       |), cc_r0 AS (
       |  SELECT DISTINCT src AS id, src AS label FROM cc_edges
       |),
       |$roundCtes,
       |cc_lab AS MATERIALIZED (SELECT id, label FROM cc_r$rounds),
       |cc_e AS MATERIALIZED (
       |  SELECT a.label AS la, b.label AS lb
       |  FROM cc_pairs p
       |  JOIN cc_lab a ON a.id = p.u_a
       |  JOIN cc_lab b ON b.id = p.u_b
       |), cc_m AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS n_members
       |  FROM cc_lab GROUP BY label
       |), cc_i AS (
       |  SELECT la AS label, CAST(count(*) AS BIGINT) AS n_internal
       |  FROM cc_e WHERE la = lb GROUP BY la
       |), cc_x AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS n_external FROM (
       |    SELECT la AS label FROM cc_e WHERE la <> lb
       |    UNION ALL SELECT lb FROM cc_e WHERE la <> lb)
       |  GROUP BY label
       |)
       |SELECT m.label AS community, m.n_members,
       |  coalesce(i.n_internal, 0) AS n_internal,
       |  coalesce(x.n_external, 0) AS n_external,
       |  CAST((coalesce(i.n_internal, 0) * 1000000)
       |    // greatest(coalesce(i.n_internal, 0) + coalesce(x.n_external, 0),
       |         1) AS BIGINT) AS intra_ppm
       |FROM cc_m m
       |LEFT JOIN cc_i i USING (label)
       |LEFT JOIN cc_x x USING (label)
       |ORDER BY n_members DESC, community
       |LIMIT $topK""".stripMargin
  }

  /** Bounded-round k-core peeling (Seidman 1983; the Batagelj–Zaveršnik
    * peel expressed as joins): repeatedly drop nodes of degree < `k` and
    * their incident edges. Peeling is IDEMPOTENT at the fixpoint, so
    * both engines unroll the same fixed `rounds` — extra rounds are
    * no-ops — and the driver needs no data-dependent loop condition
    * (which would break oracle replay). `rounds` bounds the peel depth:
    * a chain of length L needs L/2 rounds, so pick rounds ≥ the graph's
    * expected degeneracy frontier; nodes the bound leaves unpeeled are
    * a SUPERSET of the true core (never an undercount).
    *
    * Scale shape per round: one degree aggregate + two semi-joins of the
    * edge relation against the |nodes|-sized survivor set — the same
    * two-shuffle Pregel budget as PageRank, lineage pinned per round.
    * The k-core is the engagement-depth read beside x119 centrality,
    * x123 cohesion, and x130 communities: a node in the 4-core has 4
    * neighbors who EACH have 4 surviving neighbors — recursively robust
    * co-activity, where raw degree is one hub away from noise. */
  def kCore(pairs: DataFrame, k: Int = 3, rounds: Int = 8, topK: Int = 20,
            state: IterState = Local): DataFrame = {
    require(k >= 2 && rounds >= 1 && rounds <= 32, s"k=$k rounds=$rounds")
    var edges = state.pin(
      pairs.select(col("u_a").as("src"), col("u_b").as("dst"))
        .union(pairs.select(col("u_b").as("src"), col("u_a").as("dst"))))
    for (_ <- 1 to rounds) {
      val survivors = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k.toLong)
        .select(col("src").as("u"))
      edges = state.pin(edges
        .join(survivors.select(col("u").as("src")), Seq("src"), "left_semi")
        .join(survivors.select(col("u").as("dst")), Seq("dst"), "left_semi"))
    }
    edges.groupBy("src").agg(count(lit(1)).as("core_degree"))
      .filter(col("core_degree") >= k.toLong)
      .select(col("src").as("user_id"), col("core_degree"))
      .orderBy(col("core_degree").desc, col("user_id"))
      .limit(topK)
  }

  /** x132 composition: the k-core of the session-concurrency graph. */
  def sessionKCore(events: DataFrame, gapMinutes: Int = 30, k: Int = 3,
                   rounds: Int = 8, topK: Int = 20,
                   state: IterState = Local): DataFrame =
    kCore(overlapPairs(events, gapMinutes, state = state), k, rounds, topK, state)

  /** DuckDB twin of [[sessionKCore]] — the peel unrolled. */
  def sessionKCoreSql(gapMinutes: Int = 30, k: Int = 3, rounds: Int = 8,
                      topK: Int = 20): String = {
    // MATERIALIZED is load-bearing: each kc_e{r} references kc_e{r-1}
    // three times (degree + both semi-joins) and DuckDB inlines plain
    // CTEs per reference — 8 unrolled rounds would expand to 3^8 scans
    // of the events file ("Too many open files", observed)
    val roundCtes = (1 to rounds).map { r =>
      s"""kc_n$r AS MATERIALIZED (
         |  SELECT src AS u FROM kc_e${r - 1}
         |  GROUP BY src HAVING count(*) >= $k),
         |kc_e$r AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM kc_e${r - 1} e
         |  JOIN kc_n$r a ON a.u = e.src
         |  JOIN kc_n$r b ON b.u = e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH kc_sess AS (
       |  SELECT user_id, session_start_epoch, session_end_epoch FROM (
       |${graft.streaming.EventStreams.userSessionsSql(gapMinutes)}
       |  ) t
       |), kc_pairs AS (
       |  SELECT DISTINCT a.user_id AS u_a, b.user_id AS u_b
       |  FROM kc_sess a JOIN kc_sess b ON a.user_id < b.user_id
       |    AND a.session_start_epoch <= b.session_end_epoch
       |    AND b.session_start_epoch <= a.session_end_epoch
       |), kc_e0 AS MATERIALIZED (
       |  SELECT u_a AS src, u_b AS dst FROM kc_pairs
       |  UNION ALL
       |  SELECT u_b AS src, u_a AS dst FROM kc_pairs
       |),
       |$roundCtes
       |SELECT src AS user_id, CAST(count(*) AS BIGINT) AS core_degree
       |FROM kc_e$rounds
       |GROUP BY src HAVING count(*) >= $k
       |ORDER BY core_degree DESC, user_id
       |LIMIT $topK""".stripMargin
  }

  /** x130 composition: communities of the session-concurrency graph. */
  def sessionCommunities(events: DataFrame, gapMinutes: Int = 30,
                         rounds: Int = 4, topK: Int = 20,
                         state: IterState = Local): DataFrame =
    labelCommunities(overlapPairs(events, gapMinutes, state = state), rounds, topK, state)

  /** DuckDB twin of [[sessionCommunities]] — rounds unrolled, the mode
    * pick as the same (count desc, label asc) rank-1. */
  def sessionCommunitiesSql(gapMinutes: Int = 30, rounds: Int = 4,
                            topK: Int = 20): String = {
    val roundCtes = (1 to rounds).map { k =>
      s"""lp_r$k AS (
         |  SELECT dst AS id, label FROM (
         |    SELECT e.dst, l.label, count(*) AS c,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY count(*) DESC, l.label ASC) AS rn
         |    FROM lp_edges e JOIN lp_r${k - 1} l ON l.id = e.src
         |    GROUP BY e.dst, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH lp_sess AS (
       |  SELECT user_id, session_start_epoch, session_end_epoch FROM (
       |${graft.streaming.EventStreams.userSessionsSql(gapMinutes)}
       |  ) t
       |), lp_pairs AS (
       |  SELECT DISTINCT a.user_id AS u_a, b.user_id AS u_b
       |  FROM lp_sess a JOIN lp_sess b ON a.user_id < b.user_id
       |    AND a.session_start_epoch <= b.session_end_epoch
       |    AND b.session_start_epoch <= a.session_end_epoch
       |), lp_edges AS (
       |  SELECT u_a AS src, u_b AS dst FROM lp_pairs
       |  UNION ALL
       |  SELECT u_b AS src, u_a AS dst FROM lp_pairs
       |), lp_r0 AS (
       |  SELECT DISTINCT src AS id, src AS label FROM lp_edges
       |),
       |$roundCtes
       |SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
       |FROM lp_r$rounds
       |GROUP BY label
       |ORDER BY n_members DESC, community
       |LIMIT $topK""".stripMargin
  }

  /** x123 composition: triangle participation in the session-concurrency
    * graph — "which user trios are repeatedly co-active", the cohesion
    * read beside x119's centrality read. */
  def sessionTriangles(events: DataFrame, gapMinutes: Int = 30,
                       topK: Int = 20,
                       state: IterState = Local): DataFrame =
    triangleParticipation(overlapPairs(events, gapMinutes, state = state),
      topK, state)

  /** DuckDB twin of [[sessionTriangles]] — same orientation and wedge
    * closure over the inequality-join edge set. */
  def sessionTrianglesSql(gapMinutes: Int = 30, topK: Int = 20): String =
    s"""WITH tr_sess AS (
       |  SELECT user_id, session_start_epoch, session_end_epoch FROM (
       |${graft.streaming.EventStreams.userSessionsSql(gapMinutes)}
       |  ) t
       |), tr_pairs AS (
       |  SELECT DISTINCT a.user_id AS u_a, b.user_id AS u_b
       |  FROM tr_sess a JOIN tr_sess b ON a.user_id < b.user_id
       |    AND a.session_start_epoch <= b.session_end_epoch
       |    AND b.session_start_epoch <= a.session_end_epoch
       |), tr_deg AS (
       |  SELECT u, count(*) AS deg FROM (
       |    SELECT u_a AS u FROM tr_pairs
       |    UNION ALL SELECT u_b FROM tr_pairs)
       |  GROUP BY u
       |), tr_oriented AS (
       |  SELECT
       |    CASE WHEN (da.deg, p.u_a) < (db.deg, p.u_b)
       |      THEN p.u_a ELSE p.u_b END AS src,
       |    CASE WHEN (da.deg, p.u_a) < (db.deg, p.u_b)
       |      THEN p.u_b ELSE p.u_a END AS dst,
       |    CASE WHEN (da.deg, p.u_a) < (db.deg, p.u_b)
       |      THEN db.deg ELSE da.deg END AS dst_deg
       |  FROM tr_pairs p
       |  JOIN tr_deg da ON da.u = p.u_a
       |  JOIN tr_deg db ON db.u = p.u_b
       |), tr_tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM tr_oriented e1
       |  JOIN tr_oriented e2 ON e1.src = e2.src
       |    AND (e1.dst_deg, e1.dst) < (e2.dst_deg, e2.dst)
       |  JOIN tr_oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst
       |)
       |SELECT user_id, CAST(d.deg AS BIGINT) AS degree,
       |  CAST(count(*) AS BIGINT) AS n_triangles
       |FROM (
       |  SELECT a AS user_id FROM tr_tri
       |  UNION ALL SELECT b FROM tr_tri
       |  UNION ALL SELECT c FROM tr_tri) m
       |JOIN tr_deg d ON d.u = m.user_id
       |GROUP BY user_id, d.deg
       |ORDER BY n_triangles DESC, user_id
       |LIMIT $topK""".stripMargin

  /** DuckDB twin of [[sessionPageRank]] — the naive inequality join for
    * the edge set (DuckDB plans an IEJoin; small-SF only) and the
    * iteration unrolled round by round with the same floor arithmetic. */
  def sessionPageRankSql(gapMinutes: Int = 30, iterations: Int = 6,
                         topK: Int = 20,
                         unit: Long = 1000000000000L): String = {
    val base = 15L * unit / 100L
    val rounds = (1 to iterations).map { k =>
      s"""pr_r$k AS (
         |  SELECT e.dst AS id,
         |    CAST($base + (85 * sum(r.score // d.deg)) // 100 AS BIGINT) AS score
         |  FROM pr_edges e
         |  JOIN pr_r${k - 1} r ON r.id = e.src
         |  JOIN pr_deg d ON d.src = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH pr_sess AS (
       |  SELECT user_id, session_start_epoch, session_end_epoch FROM (
       |${graft.streaming.EventStreams.userSessionsSql(gapMinutes)}
       |  ) t
       |), pr_pairs AS (
       |  SELECT DISTINCT a.user_id AS u_a, b.user_id AS u_b
       |  FROM pr_sess a JOIN pr_sess b ON a.user_id < b.user_id
       |    AND a.session_start_epoch <= b.session_end_epoch
       |    AND b.session_start_epoch <= a.session_end_epoch
       |), pr_edges AS (
       |  SELECT u_a AS src, u_b AS dst FROM pr_pairs
       |  UNION ALL
       |  SELECT u_b AS src, u_a AS dst FROM pr_pairs
       |), pr_deg AS (
       |  SELECT src, count(*) AS deg FROM pr_edges GROUP BY src
       |), pr_r0 AS (
       |  SELECT src AS id, CAST($unit AS BIGINT) AS score FROM pr_deg
       |),
       |$rounds
       |SELECT r.id AS user_id, CAST(d.deg AS BIGINT) AS degree,
       |  r.score AS pagerank
       |FROM pr_r$iterations r JOIN pr_deg d ON d.src = r.id
       |ORDER BY pagerank DESC, user_id
       |LIMIT $topK""".stripMargin
  }
}
