package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{Memo, Tables}
import graft.core.Tables.FsCatalog
import graft.functions.PathFunctions._
import graft.operators.{DedupOps, MergeOps, MultimodalOps, SamplingOps, ScheduleOps, SearchOps, SimilarityOps, SubstringOps, TextOps, Views}
import graft.oracle.Oracle

/** Driver contract — one `queries` entry (plus DuckDB `oracleSql` twin)
  * per implemented operator from SURVEY.md §2.
  *
  * Catalog-backed queries run over the derived filesystem catalog
  * ([[Tables.FsCatalog]]); their oracle SQL prefixes [[Oracle.cte]], which
  * constructs the same relations in DuckDB from the same parquet tables.
  *
  * Determinism rules applied throughout (the driver hash-compares values):
  *   - top-K queries carry a unique tiebreaker column in the ORDER BY;
  *   - double aggregates are cast to DECIMAL per-row before SUM so the
  *     result is order-independent and engine-exact;
  *   - no raw `events.ts` projection (ns → µs truncation in Spark).
  */
object SparkEntry {

  private val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private val mergeTs = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
  private val asOfLit = "2024-02-11 16:00:00" // t0 + 1000 h

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The derived filesystem catalog, built once per (session, sfDir). */
  final case class Cat(directory: DataFrame, file: DataFrame, hash: DataFrame,
                       fileCategory: DataFrame, directoryControl: DataFrame,
                       hashControl: DataFrame, vwLl: DataFrame, vwFileDetail: DataFrame,
                       dirDetail: DataFrame)

  // The trained IVF coarse quantizer is deterministic for a given corpus
  // (seeding + fold order fixed), so the ANN/semantic queries and the
  // generated oracles share one training per (session, corpus) — the
  // "train offline once, probe many" shape of a real deployment.
  // CORPUS-AWARE: trainBounded derives k = max(16, ceil(sqrt(n))) and
  // splits clusters above 4*ceil(sqrt(n)) members, so the cluster-scoped
  // family (x52 semDedup / x100 protoPrune / x110 leakage) carries a
  // provable per-cluster pair bound at every scale instead of riding a
  // fixed k whose clusters grow linearly with the corpus.
  // Every per-(session, corpus) model and index fixture in this object
  // is a `Memo.session` value keyed by (kind, corpus dir): built once,
  // kept across state-write invalidations, released when the session
  // stops. Fixtures that derive from another (the ledger index copies
  // ndxRoot) simply call it inside their build.
  private def ivfModel(s: SparkSession, dir: String): graft.operators.IvfOps.IvfModel =
    Memo.session(s, ("ivf", dir))(
      graft.operators.IvfOps.trainBounded(Tables.embeddings(s, dir)))
  // gated probe count is COUPLED to the model's k (constant probed
  // fraction): a fixed nProbe silently decays recall as k grows with
  // sqrt(n) — measured 0.73 -> 0.49 avg recall@8 at the sf0.1 k=45
  private[graft] def ivfNProbe(s: SparkSession, dir: String): Int =
    graft.operators.IvfOps.adaptiveNProbe(ivfModel(s, dir).centroids.length)
  // the "retrained" codebook for x173: one extra Lloyd round from the
  // SAME deterministic seed lineage — the in-place refresh an ANN
  // service ships, so old/new cell ids stay comparable
  private def ivfModel2(s: SparkSession, dir: String): graft.operators.IvfOps.IvfModel =
    Memo.session(s, ("ivf2", dir))(
      graft.operators.IvfOps.trainBounded(Tables.embeddings(s, dir),
        iterations = 3))

  // Opt-in CROSS-RUN fixture cache (`SPARK_GRAFT_FIXTURE_CACHE=<dir>`):
  // `run / fork := true` makes every `runMain graft.Verify` a fresh
  // JVM, so the per-(session, corpus) index fixtures below are rebuilt
  // on every local iteration — minutes of setup per re-run at sf0.01.
  // With the env set, a fixture builds once into
  // `<base>/<kind>_<corpus-key>` (staged + atomic move, so a killed
  // build never half-exists) and later runs reuse it. ITERATION-ONLY:
  // the driver never sets it, and a change to signing/index semantics
  // requires wiping the cache dir — which is why it is not the default.
  private def fixtureDir(kind: String, dir: String)
                        (build: String => Unit): String =
    sys.env.get("SPARK_GRAFT_FIXTURE_CACHE") match {
      case None =>
        val t = java.nio.file.Files
          .createTempDirectory(s"graft_$kind").toString
        build(t); t
      case Some(base) =>
        import java.nio.file.{Files, Paths, StandardCopyOption}
        // key by a STRONG digest of the normalized corpus path, not its
        // 32-bit hashCode: two corpora whose paths collide would silently
        // reuse the wrong cached index and corrupt every dependent result
        val norm = Paths.get(dir).toAbsolutePath.normalize.toString
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(norm.getBytes("UTF-8"))
          .take(12).map("%02x".format(_)).mkString
        val key = s"${kind}_$sha"
        val target = Paths.get(base, key)
        if (Files.exists(target)) target.toString
        else {
          Files.createDirectories(Paths.get(base))
          val stage = Files.createTempDirectory(Paths.get(base),
            s".stage-$key-")
          build(stage.toString)
          try Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileAlreadyExistsException |
                       _: java.nio.file.DirectoryNotEmptyException =>
            // lost the build race: the winner's copy is in place — drop
            // our staged duplicate instead of leaking a full index per race
            deleteTree(stage)
          }
          target.toString
        }
    }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }

  // Persisted near-dup index over the 80% partition: built once per
  // (session, corpus) like ivfModel — x174/x178 both probe it, and a
  // bench round must not re-sign the corpus (or leak a fresh temp
  // index dir) per invocation. The index is a deterministic function
  // of the partition, so reuse cannot change any result.
  private[graft] def ndxRoot(s: SparkSession, dir: String): String =
    Memo.session(s, ("ndx", dir))(fixtureDir("ndx", dir) { root =>
      graft.operators.NearDupIndex.buildIndex(
        Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0), root)
    })

  // x185's fixture: the SAME 80% build, then a tombstone epoch
  // retracting every clique whose representative doc_id % 7 == 0 (the
  // license-takedown shape) — the 20% batch then admits against the
  // retracted index, so tombstone semantics (re-admittable exact tier,
  // silenced postings) are oracle-gated, not just spec'd.
  private def ndxRetractedRoot(s: SparkSession, dir: String): String =
    Memo.session(s, ("ndx_t", dir))(
        fixtureDir("ndx_t", dir) { root =>
      val indexed = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
      graft.operators.NearDupIndex.buildIndex(indexed, root)
      val fps = indexed
        .filter(col("text").isNotNull && col("doc_id").isNotNull)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("rep"))
        .filter(col("rep") % 7 === 0).select("fp")
      graft.operators.NearDupIndex.retract(fps, root)
      ()
    })

  // x186's fixture: the SAME 80% build EXTENDED by the 20% batch as a
  // second epoch, so the rejections ledger (exact-rejected copies of
  // epoch-1 content) is populated. Derived by FILESYSTEM COPY of the
  // x174 index — the index is a deterministic function of the
  // partition, so copying skips re-signing the 80% corpus — then one
  // extendEpoch, which signs the batch only.
  private def ndxLedgerRoot(s: SparkSession, dir: String): String =
    Memo.session(s, ("ndx_l", dir))(
        fixtureDir("ndx_l", dir) { root =>
      copyTree(java.nio.file.Paths.get(ndxRoot(s, dir)),
        java.nio.file.Paths.get(root))
      graft.operators.NearDupIndex.extendEpoch(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        root, "b0")
      ()
    })

  // Persisted IVFADC index over the 80% embedding partition (frozen
  // session quantizer) — x192 admits the 20% batch against its int8
  // postings; a session value like ndxRoot.
  private[graft] def annAdmitRoot(s: SparkSession, dir: String): String =
    Memo.session(s, ("annr", dir))(
        fixtureDir("annr", dir) { root =>
      graft.operators.IvfOps.saveIndex(
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 =!= 0),
        ivfModel(s, dir), root)
    })

  // Persisted exact-substring index over the 80% partition — x189
  // admits the 20% batch span-by-span against it; a session value like
  // ndxRoot.
  private[graft] def spxRoot(s: SparkSession, dir: String): String =
    Memo.session(s, ("spx", dir))(fixtureDir("spx", dir) { root =>
      graft.operators.SpanIndex.buildIndex(
        Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0), root)
      ()
    })

  // x196's fixture: the x189 span index REBUILT WITHOUT the 80%
  // partition's doc_id % 7 == 0 documents (the takedown runbook call)
  // — derived by filesystem copy of spxRoot, then one rebuildWithout.
  private def spxRebuiltRoot(s: SparkSession, dir: String): String =
    Memo.session(s, ("spx_r", dir))(
        fixtureDir("spx_r", dir) { root =>
      copyTree(java.nio.file.Paths.get(spxRoot(s, dir)),
        java.nio.file.Paths.get(root))
      val indexed = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
      graft.operators.SpanIndex.rebuildWithout(s, root,
        indexed.filter(col("doc_id") % 7 === 0).select("doc_id"), indexed)
      ()
    })

  // Epoch-sharded ANN admission index over the 80% embeddings (same
  // frozen session quantizer as annAdmitRoot) — x195 pins the layout
  // invisible against x193's oracle.
  private def annEpochRoot(s: SparkSession, dir: String): String =
    Memo.session(s, ("anne", dir))(
        fixtureDir("anne", dir) { root =>
      graft.operators.AnnAdmitIndex.buildIndex(
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 =!= 0),
        ivfModel(s, dir), root)
      ()
    })

  // x200's fixture: the x195 epoch index taken through the FULL
  // maintenance lifecycle — two batch extensions (exact-content
  // copies of indexed vectors under fresh ids: every one rejects as
  // dup_embed, so the epochs commit EMPTY and the indexed content is
  // unchanged by construction), a tail compaction folding them, then
  // EpochStore.gc reclaiming the retired versions / folded epoch
  // dirs. Admission decisions must be bit-identical to x195's — the
  // oracle is x193's SQL verbatim, so the whole lifecycle is gated
  // invisible end-to-end (x194's compaction-invisibility doctrine
  // extended through gc).
  private def annGcRoot(s: SparkSession, dir: String): String =
    Memo.session(s, ("anng", dir))(
        fixtureDir("anng", dir) { root =>
      copyTree(java.nio.file.Paths.get(annEpochRoot(s, dir)),
        java.nio.file.Paths.get(root))
      val indexed = Tables.embeddings(s, dir)
        .filter(col("vec_id") % 5 =!= 0)
      def copies(m: Int) = indexed.filter(col("vec_id") % 11 === m)
        .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
          col("embedding"))
      graft.operators.AnnAdmitIndex.extendEpoch(copies(0), root, "b0",
        tauMicro = 400000L, nProbe = 8)
      graft.operators.AnnAdmitIndex.extendEpoch(copies(1), root, "b1",
        tauMicro = 400000L, nProbe = 8)
      graft.operators.AnnAdmitIndex.compactTail(s, root,
        targetRows = 1000000L)
      graft.operators.AnnAdmitIndex.gc(root)
      ()
    })

  // x198's fixture: the x195 epoch index RETRAINED over its own live
  // corpus — the maintenance call itself: k jumps from the session
  // model's to adaptiveK(|80% partition|), every posting recoded from
  // the floats, model + postings swapped in ONE promotion. Derived by
  // filesystem copy of annEpochRoot, then one retrain; the oracle
  // replays admission from the RETRAINED model's centroid literals
  // (trainBounded is deterministic, so the dynamic oracle trains the
  // identical model).
  private def annRetrainedRoot(s: SparkSession, dir: String): String =
    Memo.session(s, ("annt", dir))(
        fixtureDir("annt", dir) { root =>
      copyTree(java.nio.file.Paths.get(annEpochRoot(s, dir)),
        java.nio.file.Paths.get(root))
      graft.operators.AnnAdmitIndex.retrain(s, root,
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 =!= 0))
      ()
    })

  // Bucket-compacted twins of the x174/x189 indexes — x194 pins that
  // the range-bucketed compaction (parallel multi-file rewrite +
  // covered.json) is invisible to admission. targetRows are sized so
  // the sf0.01 rewrite genuinely produces multiple range partitions.
  private def compactedRoots(s: SparkSession, dir: String): (String, String) =
    Memo.session(s, ("compacted", dir))((
      fixtureDir("ndx_c", dir) { ndx =>
        copyTree(java.nio.file.Paths.get(ndxRoot(s, dir)),
          java.nio.file.Paths.get(ndx))
        graft.operators.NearDupIndex.compact(s, ndx, targetRows = 200L)
        ()
      },
      fixtureDir("spx_c", dir) { spx =>
        copyTree(java.nio.file.Paths.get(spxRoot(s, dir)),
          java.nio.file.Paths.get(spx))
        graft.operators.SpanIndex.compact(s, spx, targetRows = 5000L)
        ()
      }))

  /** Force-build every heavy per-(session, corpus) fixture the query
    * map depends on — index builds, model trainings — reporting each
    * step through `log` BEFORE it starts. [[Verify]] runs this ahead
    * of the dump sweep so (a) a driver-side timeout mid-setup leaves a
    * diagnosable progress trail (which build was running, for how
    * long) instead of an empty artifact, and (b) no query dump absorbs
    * an index build into its own wall-clock. A failing fixture is
    * logged and skipped — its dependent queries fail individually at
    * dump time with their own messages. */
  def prepareFixtures(s: SparkSession, dir: String,
                      log: (String, String) => Unit): Unit = {
    // (name, status) callback: a failed build beats as a FAILED STATUS on
    // its own step, not as a new start event named "<step> FAILED: ..."
    // — the heartbeat's reader filters on status, and a failure disguised
    // as a start would read as a build still in flight
    def step(name: String)(f: => Any): Unit = {
      log(name, "start")
      try { f; () }
      catch { case e: Throwable =>
        log(name, s"failed: ${e.getMessage}") }
    }
    step("catalog")(cat(s, dir))
    step("ivf_model")(ivfModel(s, dir))
    step("ivf_model2")(ivfModel2(s, dir))
    step("bpe_model")(bpeModel(s, dir))
    step("bpe_pruned")(prunedBpeModel(s, dir))
    step("neardup_index")(ndxRoot(s, dir))
    step("neardup_retracted")(ndxRetractedRoot(s, dir))
    step("neardup_ledger")(ndxLedgerRoot(s, dir))
    step("ann_index")(annAdmitRoot(s, dir))
    step("ann_epoch_index")(annEpochRoot(s, dir))
    step("ann_gc")(annGcRoot(s, dir))
    step("ann_retrained")(annRetrainedRoot(s, dir))
    step("span_index")(spxRoot(s, dir))
    step("span_rebuilt")(spxRebuiltRoot(s, dir))
    step("compacted_indexes")(compactedRoots(s, dir))
  }

  private def copyTree(src: java.nio.file.Path,
                       dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  // Trained BPE merge table: a session value like ivfModel; the
  // generated DuckDB twins replay training from the merge literals
  // (BpeOps.trainSql / applyCountsSql).
  private def bpeModel(s: SparkSession, dir: String): graft.operators.BpeOps.BpeModel =
    Memo.session(s, ("bpe", dir))(
      graft.operators.BpeOps.train(Tables.documents(s, dir), rounds = 32))

  // x152's pruned model: drop (at least) the 8 least-firing merges of
  // the gated 32 — the threshold is the 8th-smallest fire count + 1, a
  // pure function of the corpus, so query and oracle derive the SAME
  // pruned literal set at any SF; constructibility cascade in
  // BpeOps.pruneModel.
  private def prunedBpeModel(s: SparkSession, dir: String): graft.operators.BpeOps.BpeModel =
    Memo.session(s, ("bpe_pruned", dir)) {
      val m = bpeModel(s, dir)
      val fires = graft.operators.BpeOps
        .mergeUtilization(Tables.documents(s, dir), m).collect()
        .map(r => r.getAs[Long]("rank").toInt -> r.getAs[Long]("n_fires"))
        .toMap
      val sorted = fires.values.toSeq.sorted
      graft.operators.BpeOps.pruneModel(m, fires, sorted(7) + 1L)
    }

  // The reference keeps these tables MATERIALIZED in Postgres; deriving
  // them from the TPC-H parquet on every query would charge each query the
  // catalog-build cost. The faithful analog: derive once per (session,
  // sfDir) and cache the base tables. The catalog is immutable for that
  // key, so its three reference views are materialized views with the
  // same lifetime: cached once, next to the tables they derive from. A
  // lookup then scans one cached copy instead of re-joining
  // file ⋈ directory ⟕ hash and re-concatenating every path per query.
  def cat(s: SparkSession, dir: String): Cat =
    Memo.session(s, ("cat", dir)) {
      val d = FsCatalog.directory(s, dir).cache()
      val f = FsCatalog.file(s, dir).cache()
      val h = FsCatalog.hash(s, dir).cache()
      val fc = FsCatalog.fileCategory(s)
      // vw_ll / vw_file_detail inherit the partitions of their lineage
      // (file side plus every directory source); an AQE rebalance sizes
      // the cached copy by bytes and spark.sql.shuffle.partitions instead
      // (measured on catalog_lookup against a plain cache(): 45 -> 13 tasks
      // per lookup). The bare builder plans then do not match the cached
      // copies, which v1/v2 rely on to time the build.
      def materialized(view: DataFrame) = view.hint("rebalance").cache()
      Cat(d, f, h, fc,
        FsCatalog.directoryControl(s, dir).cache(),
        FsCatalog.hashControl(s, dir).cache(),
        materialized(Views.vwLl(d, f, h)), materialized(Views.vwFileDetail(d, f, h, fc)),
        // cached as the bare view plan, so callers that build
        // Views.dirDetail(c.directory, c.file) themselves are served from
        // this copy by the cache manager's plan matching; its aggregates
        // already end in AQE-coalesced shuffles
        Views.dirDetail(d, f).cache())
    }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: duplicates of
    * the first hashed file's path (readme.md:24-36 semantics, SURVEY J7). */
  def entry(spark: SparkSession): DataFrame = {
    val c = cat(spark, "/root/testdata/sf0.001")
    val path = c.vwFileDetail.filter(col("sha1_hash").isNotNull)
      .orderBy(col("id")).select("full_path").head().getString(0)
    SearchOps.searchDuplicateFileSimple(c.vwFileDetail, path)
  }

  // ---- Spark side --------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          // DECIMAL inside the SUM (order-independent, exact); DOUBLE in the
          // final projection (engine-portable hash — the driver canonicalizes
          // decimals differently from DuckDB, doubles identically)
          sum(col("l_extendedprice").cast(DecimalType(18, 6)))
            .cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1d) - col("l_discount")))
            .cast(DecimalType(18, 6))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // multi-join analytic shapes (engine breadth + realistic bench load)
    "q2_revenue_by_region" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val cu = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cu), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("o_orderpriority"))
        .agg(
          sum((col("l_extendedprice") * (lit(1d) - col("l_discount")))
            .cast(DecimalType(18, 6))).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    "q3_top_customers" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      // pre-aggregate revenue by l_orderkey BELOW the join: the join then
      // shuffles one row per order instead of one per lineitem (~6×
      // smaller at any scale). Decimal addition is associative-exact, so
      // the two-level sum equals the oracle's flat sum bit-for-bit.
      val perOrder = li.groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1d) - col("l_discount")))
          .cast(DecimalType(18, 6))).as("order_rev"))
      perOrder.join(o.select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("order_rev")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_custkey"))
        .limit(10)
    }),

    // q4 — the EXISTS shape (TPC-H Q4 adapted to these columns): orders
    // in a quarter with at least one slow-shipping lineitem. Plans as a
    // LEFT SEMI join — each order emitted at most once, no post-join
    // dedup, and only (o_orderkey, o_orderdate, o_orderpriority) shuffle.
    // q3 — the shipping-priority top-K (TPC-H Q3 shape): small filtered
    // customer dimension broadcasts, fact tables join on the order key,
    // and the revenue top-10 plans as TakeOrderedAndProject (per-
    // partition heaps) — never a global sort of the aggregate
    "q3_shipping_priority" -> ((s, dir) => {
      val cu = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1996-06-01"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1996-06-01"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cu), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("order_date"))
        .agg(sum((col("l_extendedprice") * (lit(1d) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    "q4_priority_exists" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-04-01"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
      o.join(li,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    // q5 — the six-way star (TPC-H Q5 shape): regional supplier volume.
    // Fact table shuffles once on the order key; every dimension
    // (customer, supplier, nation, region) broadcasts.
    "q5_region_volume" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val cu = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      val su = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cu), col("o_custkey") === col("c_custkey"))
        .join(broadcast(su),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1d) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"))
    }),

    // q6 — the pure pushdown scan (TPC-H Q6 shape): every predicate and
    // both referenced columns reach the parquet reader; the plan is a
    // single codegen'd scan-filter-partial-agg with a one-row exchange.
    "q6_revenue_pushdown" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.04 && col("l_discount") <= 0.06 &&
          col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount"))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))),

    // q7 — cross-nation shipping volume (TPC-H Q7 shape, generalized to
    // all distinct nation pairs): the fact shuffles once on the order
    // key; both nation-keyed dimensions broadcast through their joins
    "q7_nation_volume" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
          "l_shipdate")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      val cu = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      val su = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cu), col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .join(broadcast(n1), col("s_nationkey") === col("snk"))
        .join(broadcast(n2), col("c_nationkey") === col("cnk"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum((col("l_extendedprice") * (lit(1d) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"))
    }),

    // q8 — national market share (TPC-H Q8 shape): the target nation's
    // share of PROMO revenue in the ASIA customer market per year — two
    // conditional DECIMAL sums, share = one IEEE division
    "q8_market_share" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val cu = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      val su = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val p = Tables.part(s, dir).filter(col("p_type") === "PROMO")
        .select("p_partkey")
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val rev = (col("l_extendedprice") * (lit(1d) - col("l_discount")))
        .cast(DecimalType(18, 6))
      li.join(p, col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cu), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n.select(col("n_nationkey").as("cnk"),
          col("n_regionkey"))), col("c_nationkey") === col("cnk"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("snk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", rev)
            .otherwise(lit(0d).cast(DecimalType(18, 6)))).cast("double")
            .as("nation_revenue"),
          sum(rev).cast("double").as("total_revenue"))
        .select(col("o_year"), col("nation_revenue"), col("total_revenue"),
          (col("nation_revenue") / col("total_revenue")).as("mkt_share"))
    }),

    // q13 — customer order-count distribution (TPC-H Q13 shape): LEFT
    // join so zero-order customers land in the 0 bucket, then a
    // two-level aggregate (per customer, then per count)
    "q13_order_distribution" -> ((s, dir) => {
      val cu = Tables.customer(s, dir).select("c_custkey")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      cu.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // q10 — returned-item customer ranking (TPC-H Q10 shape): the
    // revenue top-20 is a TakeOrderedAndProject over the custkey
    // aggregate; nation broadcasts, the fact shuffles once
    // q12 shape — two-path CASE aggregation over the order join: one
    // fact shuffle on the order key, both priority classes counted in
    // the same pass (never two scans)
    "q12_priority_lines" -> ((s, dir) =>
      Tables.lineitem(s, dir).select("l_orderkey", "l_linestatus", "l_shipdate")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1999-01-01"))
        .join(Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_lines"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_lines"))),

    // q15 shape — revenue view + max join-back (ties kept): supplier(s)
    // with the quarter's top revenue; the 1-row max broadcasts, revenue
    // stays DECIMAL through the equality and casts to double at output
    "q15_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1997-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1d) - col("l_discount")))
          .cast(DecimalType(18, 6))).as("total_rev"))
      val mx = rev.agg(max(col("total_rev")).as("max_rev"))
      rev.join(broadcast(mx), col("total_rev") === col("max_rev"))
        .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_revenue"))
    }),

    // q17 shape — correlated per-group average, division-free: the
    // small-quantity predicate qty < avg/2 is evaluated as the exact
    // integer cross-multiplication 2·qty·cnt < sum(qty) (quantities are
    // integer-valued), so both engines compare identical BIGINTs
    "q17_small_quantity" -> ((s, dir) => {
      val p = Tables.part(s, dir).filter(col("p_brand") === "Brand#1")
        .select("p_partkey")
      val pl = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("q"),
          col("l_extendedprice"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val ag = pl.groupBy("l_partkey")
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("cnt"))
      pl.join(ag, Seq("l_partkey"))
        .filter(lit(2L) * col("q") * col("cnt") < col("sq"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 6)))
          .cast("double").as("small_qty_revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // q19 shape — disjunction of conjunctive brand/size/quantity bands:
    // one equi-join on the part key with the OR residual as the join
    // filter, never a fact-side union of three scans
    "q19_disjunctive" -> ((s, dir) => {
      val bands =
        (col("p_brand") === "Brand#1" && col("p_size") <= 10 &&
          col("l_quantity") >= 1 && col("l_quantity") <= 20) ||
        (col("p_brand") === "Brand#13" && col("p_size") <= 25 &&
          col("l_quantity") >= 10 && col("l_quantity") <= 30) ||
        (col("p_brand") === "Brand#20" && col("p_size") <= 50 &&
          col("l_quantity") >= 20 && col("l_quantity") <= 40)
      Tables.lineitem(s, dir)
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(broadcast(Tables.part(s, dir)
          .select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(bands)
        .agg(sum((col("l_extendedprice") * (lit(1d) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // q22 shape — anti-join + scalar-subquery threshold, division-free:
    // rich customers with NO RECENT order per segment (every customer in
    // this corpus has SOME order, so the classic no-orders form is
    // degenerate); bal > avg(bal⁺) compares as the exact DECIMAL
    // cross-multiplication bal·cnt > sum(bal⁺)
    "q22_idle_customers" -> ((s, dir) => {
      val cu = Tables.customer(s, dir)
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY", "HOUSEHOLD"))
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast(DecimalType(18, 2)).as("bal"))
      val st = cu.filter(col("bal") > 0)
        .agg(sum(col("bal")).as("sb"), count(lit(1)).as("cb"))
      cu.join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("2000-01-01"))
          .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(st))
        .filter(col("bal") * col("cb") > col("sb"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("bal")).cast("double").as("total_acctbal"))
    }),

    "q10_returned_items" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-07-01"))
        .select("o_orderkey", "o_custkey")
      val cu = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cu, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1d) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // q14 — promo revenue share (TPC-H Q14 shape): two conditional
    // DECIMAL sums over one join, one final IEEE division. `part` is NOT
    // force-broadcast: at warehouse scale it's a large dimension — the
    // planner picks broadcast at small SF, shuffle-hash beyond
    "q14_promo_share" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-03-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .select("l_partkey", "l_extendedprice", "l_discount")
      val p = Tables.part(s, dir).select("p_partkey", "p_type")
      val rev = (col("l_extendedprice") * (lit(1d) - col("l_discount")))
        .cast(DecimalType(18, 6))
      li.join(p, col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type").startsWith("PROMO"), rev)
            .otherwise(lit(0d).cast(DecimalType(18, 6)))).cast("double")
            .as("promo_revenue"),
          sum(rev).cast("double").as("total_revenue"))
        .select(col("promo_revenue"), col("total_revenue"),
          (lit(100d) * col("promo_revenue") / col("total_revenue"))
            .as("promo_share_pct"))
    }),

    // q18 — large-volume customers (TPC-H Q18 shape): the HAVING-sum
    // order filter. Q18's classic form re-joins lineitem for the detail
    // sum; carrying total_qty out of the qualifying aggregate makes it
    // ONE fact pass — the fact shuffles on l_orderkey once, ever
    "q18_large_orders" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
      val big = li.groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 200d)
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      val cu = Tables.customer(s, dir).select("c_custkey", "c_name")
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cu, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").cast("string").as("order_date"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // q9 — product-type profit by supplier nation × year (TPC-H Q9 shape,
    // adapted: no partsupp here, so supply cost is the deterministic
    // 0.6·p_retailprice·qty — same arithmetic profit expression class).
    // Filtered part broadcasts; the fact shuffles once on the order key;
    // per-row profit snaps to DECIMAL before SUM (order-independent exact)
    "q9_profit" -> ((s, dir) => {
      val p = Tables.part(s, dir).filter(col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderdate")
      val su = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
      val profit = (col("l_extendedprice") * (lit(1d) - col("l_discount")) -
        col("p_retailprice") * lit(0.6) * col("l_quantity"))
        .cast(DecimalType(18, 6))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(profit).cast("double").as("profit"),
          count(lit(1)).as("n_lines"))
    }),

    // q11 — important stock (TPC-H Q11 shape, adapted: no partsupp, so
    // "stock value" is shipped qty × retail price for one nation's
    // suppliers). The signature move survives intact: a groupwise HAVING
    // against a scalar fraction-of-global-total subquery, evaluated
    // division-free as the exact DECIMAL cross-multiply val·np > 2·total
    // — "above 2× the average part's share", which unlike TPC-H's fixed
    // 0.0001/SF fraction stays non-degenerate at every corpus size.
    // The per-part aggregate is |part|-bounded; the 1-row total broadcasts
    "q11_important_stock" -> ((s, dir) => {
      val su = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val n = Tables.nation(s, dir).filter(col("n_name") === "NATION_3")
        .select("n_nationkey")
      val p = Tables.part(s, dir).select("p_partkey", "p_retailprice")
      val valExpr = (col("p_retailprice").cast(DecimalType(18, 2)) *
        col("l_quantity").cast("long")).as("v")
      val vals = Tables.lineitem(s, dir)
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), valExpr)
        .groupBy("l_partkey").agg(sum(col("v")).as("value"))
      val tot = vals.agg(sum(col("value")).as("tot"), count(lit(1)).as("np"))
      vals.crossJoin(broadcast(tot))
        .filter(col("value") * col("np") > lit(2L) * col("tot"))
        .select(col("l_partkey"), col("value").cast("double").as("stock_value"))
    }),

    // q16 — supplier count per part attribute (TPC-H Q16 shape, adapted:
    // the part↔supplier relationship is the distinct (partkey, suppkey)
    // pairs actually shipped; the NOT-IN "complaints" supplier exclusion
    // becomes an anti-join against negative-balance suppliers — suppkey is
    // non-null so anti-join ≡ NOT IN). One fact-pair aggregate, every
    // dimension broadcast, then a |part|-bounded count-distinct
    "q16_supplier_cnt" -> ((s, dir) => {
      val rel = Tables.lineitem(s, dir).select("l_partkey", "l_suppkey").distinct()
      val badSupp = Tables.supplier(s, dir).filter(col("s_acctbal") < 0)
        .select("s_suppkey")
      val p = Tables.part(s, dir)
        .filter(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      rel.join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // q20 — dominant promo suppliers (TPC-H Q20 shape, adapted: no
    // partsupp availqty, so the correlated half-of-volume threshold is
    // "supplier shipped > half of the part's 1997 volume"). The fact
    // shuffles once onto the (part, supplier) aggregate; the per-part
    // total is a WINDOW over that |part×supp|-bounded aggregate — never a
    // join-back (aggregate join-back can't reuse the exchange; the window
    // re-shuffles only the aggregate). Threshold is the exact integer
    // cross-multiply 2·sq > tot
    "q20_dominant_suppliers" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val promo = Tables.part(s, dir).filter(col("p_type") === "PROMO")
        .select("p_partkey")
      val ps = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast("long")).as("sq"))
      val w = Window.partitionBy(col("l_partkey"))
      val dominated = ps
        .withColumn("tot", sum(col("sq")).over(w))
        .filter(lit(2L) * col("sq") > col("tot"))
        .select("l_suppkey", "l_partkey")
      val su = Tables.supplier(s, dir).select("s_suppkey", "s_name", "s_nationkey")
      val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
      dominated.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_parts_dominated"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name", "n_parts_dominated")
    }),

    // q21 — suppliers who kept orders waiting (TPC-H Q21 shape, adapted:
    // no receipt/commit dates, so "late" = shipped >60 days after the
    // order date, on failed orders). The classic quadruple self-join
    // (EXISTS other supplier ∧ NOT EXISTS other late supplier) collapses
    // to ONE pass: dedup to (order, supplier, was_late) via max(late),
    // then per-order supplier/late counts as WINDOWs sharing one orderkey
    // shuffle — a row qualifies iff it is late, the order has ≥2 suppliers,
    // and exactly 1 late one. Top-10 plans as TakeOrderedAndProject
    "q21_waiting_suppliers" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val pairs = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(when(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1L).otherwise(0L))
          .as("late"))
      val w = Window.partitionBy(col("l_orderkey"))
      val culprits = pairs
        .withColumn("n_supps", count(lit(1)).over(w))
        .withColumn("n_late", sum(col("late")).over(w))
        .filter(col("late") === 1L && col("n_supps") >= 2L && col("n_late") === 1L)
      culprits.groupBy("l_suppkey")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("l_suppkey"))
        .limit(10)
        .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
    }),

    "f1_search_name" -> ((s, dir) => SearchOps.searchName(cat(s, dir).vwLl, "%a%")),

    "f2_search_name_file" -> ((s, dir) =>
      SearchOps.searchNameFile(cat(s, dir).vwLl, "order_4%.log")),

    "f3_search_name_dir" -> ((s, dir) =>
      SearchOps.searchNameDir(cat(s, dir).directory, "%_1%")),

    "f4_search_hash" -> ((s, dir) =>
      SearchOps.searchHash(cat(s, dir).vwLl, md5Hex("2-HIGH#2"), None)),

    "f8_path_exists" -> ((s, dir) => {
      // existence probes hit the base tables with pushed filters — never
      // build the full vw_ll catalog to answer a LIMIT 1 probe
      val d = FsCatalog.directory(s, dir)
      val foundDir = SearchOps.dirPathExists(d, "/AFRICA/NATION_0/")
      val foundFile = SearchOps.filePathExists(d, FsCatalog.file(s, dir), "/NOPE/f.txt")
      import s.implicits._
      Seq((foundDir, foundFile)).toDF("found_dir", "found_file")
    }),

    "f9_filter_category" -> ((s, dir) => {
      val c = cat(s, dir)
      c.vwFileDetail.filter(col("dir_path").like("/A%") &&
        col("size") > 2 && extension(col("name")).isin("txt", "dat"))
        .select("full_path", "name", "size", "category")
    }),

    // v1/v2 time the views' BUILD (the BASELINE materialization gate), so
    // they run the uncached builders: the catalog's cached copies carry a
    // rebalance on top, so these plans do not match them
    "v1_vw_ll" -> ((s, dir) => {
      val c = cat(s, dir)
      Views.vwLl(c.directory, c.file, c.hash)
    }),

    "v2_vw_file_detail" -> ((s, dir) => {
      val c = cat(s, dir)
      Views.vwFileDetail(c.directory, c.file, c.hash, c.fileCategory)
    }),

    "v3_dir_detail" -> ((s, dir) => {
      val c = cat(s, dir)
      Views.dirDetail(c.directory, c.file)
    }),

    "v3b_dir_detail_faithful" -> ((s, dir) => {
      val c = cat(s, dir)
      Views.dirDetailFaithful(c.directory, c.file)
    }),

    "a2_dir_activity" -> ((s, dir) => {
      cat(s, dir).vwLl.groupBy(col("dir_id")).agg(
        count(lit(1)).as("n_items"),
        min(col("ctime")).as("first_ctime"), max(col("ctime")).as("last_ctime"),
        min(col("mtime")).as("first_mtime"), max(col("mtime")).as("last_mtime"))
    }),

    "a3_dup_hash_groups" -> ((s, dir) => {
      cat(s, dir).vwFileDetail
        .filter(col("sha1_hash").isNotNull)
        .groupBy(col("sha1_hash"), col("size"))
        .agg(count(lit(1)).as("duplicate_count"))
        .filter(col("duplicate_count") > 1)
    }),

    "j5_duplicate_file" -> ((s, dir) => {
      val c = cat(s, dir)
      val needle = c.vwLl.filter(col("file_id").isin(100L, 102L))
      SearchOps.duplicatesOf(c.vwLl, needle, hashMatch = true, nameMatch = false)
    }),

    "j7_duplicate_simple" -> ((s, dir) =>
      SearchOps.duplicatesSimpleWhere(cat(s, dir).vwFileDetail, col("id") === 100L)),

    "j8_search_full_path" -> ((s, dir) =>
      SearchOps.searchFullPath(cat(s, dir).vwLl,
        Seq("/AFRICA/NATION_0", "/ASIA/NATION_2/archive", "/NOPE/x"))),

    "j9_unscheduled_drives" -> ((s, dir) => {
      val c = cat(s, dir)
      import s.implicits._
      val drive = Tables.region(s, dir)
        .select(concat(lit("/"), col("r_name")).as("dir_path"))
        .unionByName(Seq("/TMP").toDF("dir_path"))
      ScheduleOps.unscheduledDrives(drive, c.directoryControl)
    }),

    "j12_files_not_hashed" -> ((s, dir) => {
      val c = cat(s, dir)
      c.file.join(c.hash.select(col("file_id")), col("id") === col("file_id"), "left_anti")
        .select(col("id"), col("name"), col("dir_id"), col("size").cast("double").as("size"))
    }),

    "j14_descendant_dirs" -> ((s, dir) =>
      SearchOps.descendantDirs(cat(s, dir).directory, Seq("/EUROPE"))),

    "j15_asof_join" -> ((s, dir) =>
      graft.operators.TemporalJoins.purchaseClickAsOf(Tables.events(s, dir))),

    // round 18: the gate's output is the per-type aggregate, so the plan
    // is the O(n log n) window form (valueBandPairsAgg) — bit-identical
    // to the pair join it replaces (argument at the operator; the DuckDB
    // oracle STAYS the pair join, proving it on every driver SF). The
    // pair-materializing valueBandPairs remains the operator for pair
    // consumers, spec-covered by TemporalJoinsSpec.
    "j16_band_join" -> ((s, dir) =>
      graft.operators.TemporalJoins.valueBandPairsAgg(Tables.events(s, dir))),

    "t1_dirs_to_crawl" -> ((s, dir) =>
      ScheduleOps.dirsToCrawl(cat(s, dir).directoryControl,
        lit(java.sql.Timestamp.valueOf(asOfLit)), 20)),

    "t2_files_to_hash" -> ((s, dir) => {
      val c = cat(s, dir)
      ScheduleOps.filesToHash(c.hashControl, c.vwFileDetail, 50)
        .withColumn("file_size", col("file_size").cast("double"))
    }),

    "t6_view_scrape_schedule" -> ((s, dir) =>
      ScheduleOps.viewScrapeSchedule(cat(s, dir).directoryControl, "/A*",
        recursive = true,
        orderBy = Seq(("file_count", false), ("no_such_col", true), ("dir_path", true)),
        rowLimit = 25)),

    "p1_path_scalars" -> ((s, dir) => {
      cat(s, dir).vwLl.filter(col("type") === "dir" || col("file_id") % 50 === 0)
        .select(col("full_path"),
          basepath(col("full_path")).as("parent"),
          basename(col("full_path")).as("base"),
          extension(col("name")).as("ext"),
          stripTrailingSlashes(concat(col("full_path"), lit("///"))).as("stripped"),
          pathOs(col("full_path")).as("os"),
          (col("size").cast("double") * math.pow(1024, -1)).as("size_kb"))
    }),

    "m1_upsert_files" -> ((s, dir) => {
      val c = cat(s, dir)
      MergeOps.upsertFiles(c.file, m1Staged(s, dir, c), mergeTs).drop("id")
        .withColumn("size", col("size").cast("double"))
    }),

    "m1_missing_files" -> ((s, dir) => {
      val c = cat(s, dir)
      // staged snapshot: files of dirs 200..204 minus those with id%10=9 —
      // the anti-join must surface exactly the vanished ones (SURVEY J10).
      val staged = c.file.filter(col("dir_id").between(200L, 204L) && col("id") % 10 =!= 9)
      MergeOps.missingFiles(c.file, staged).select("id", "name", "dir_id")
    }),

    "m6_delete_dir_archive" -> ((s, dir) => {
      val c = cat(s, dir)
      val (_, _, dirArchive, _) = MergeOps.deleteDirectories(
        c.directory, c.file, Seq("/EUROPE/NATION_3"), deleteSubdirs = true, mergeTs)
      dirArchive
    }),

    "m6_delete_file_archive" -> ((s, dir) => {
      val c = cat(s, dir)
      val (_, _, _, fileArchive) = MergeOps.deleteDirectories(
        c.directory, c.file, Seq("/EUROPE/NATION_3"), deleteSubdirs = true, mergeTs)
      fileArchive.withColumn("size", col("size").cast("double"))
    }),

    "m7_crawl_frequency" -> ((s, dir) => {
      val c = cat(s, dir)
      val activity = c.vwLl.groupBy(col("dir_id")).agg(max(col("ctime")).as("last_ctime"))
        .join(c.directory.select(col("id"), col("inserted_on")),
          col("dir_id") === col("id")).drop("id")
      ScheduleOps.crawlFrequency(activity,
          lit(java.sql.Timestamp.valueOf(asOfLit)))
        .select("dir_id", "last_ctime", "crawl_frequency")
    }),

    "v4_dir_contents" -> ((s, dir) => {
      val c = cat(s, dir)
      Views.vwfDirContents(c.directory, c.file, c.hash, Seq(201L, 202L, 302L))
    }),

    "m6_delete_files" -> ((s, dir) => {
      val c = cat(s, dir)
      val (_, _, _, archive) = MergeOps.deleteFilesById(
        c.file, c.hash, c.hashControl, Seq(100L, 105L, 110L), mergeTs)
      archive.withColumn("size", col("size").cast("double"))
    }),

    "f5_wildcard_search" -> ((s, dir) =>
      SearchOps.searchNameFile(cat(s, dir).vwLl,
        parseWildcardSearch("order_1*2?.txt"))),

    "f7_ilike_filter" -> ((s, dir) =>
      cat(s, dir).directoryControl
        .filter(lower(col("dir_path")).like("/africa%"))
        .select("dir_path", "dir_id", "file_count")),

    "j13_staging_gate" -> ((s, dir) => {
      val c = cat(s, dir)
      // dirs are finalizable only when no staged rows remain outstanding;
      // synthetic outstanding set = files with id % 97 = 0
      val outstanding = c.file.filter(col("id") % 97 === 0).select("dir_id")
      c.directoryControl.join(outstanding, Seq("dir_id"), "left_anti")
        .select("dir_path", "dir_id")
    }),

    "t5_result_paging" -> ((s, dir) =>
      SearchOps.resultPage(cat(s, dir).vwFileDetail,
        Seq(("size", false), ("id", true), ("no_such_column", true)), 100)
        .select("id", "full_path", "size")),

    "u3_union_distinct" -> ((s, dir) => {
      val c = cat(s, dir)
      c.file.filter(col("dir_id") === 200L).select("id")
        .union(c.file.filter(col("size") > 5).select("id")).distinct()
    }),

    "a4_distinct" -> ((s, dir) =>
      cat(s, dir).file.select(col("dir_id"), extension(col("name")).as("ext")).distinct()),

    // A6-adjacent (reference has none): rollup = GROUPING SETS twin,
    // subtotal rows carry NULL group keys in both engines
    "a6_rollup" -> ((s, dir) =>
      cat(s, dir).file
        .select(extension(col("name")).as("ext"), (col("dir_id") % 10).as("dir_mod"))
        .rollup(col("ext"), col("dir_mod"))
        .agg(count(lit(1)).as("n"))),

    // U4 (reference has none): set intersection / difference over id sets
    "u4_intersect_except" -> ((s, dir) => {
      val c = cat(s, dir)
      val big = c.file.filter(col("size") > 5).select("id")
      val hashed = c.hash.select(col("file_id").as("id"))
      big.intersect(hashed).withColumn("op", lit("intersect"))
        .unionByName(big.except(hashed).withColumn("op", lit("except")))
    }),

    "m10_rescrape" -> ((s, dir) =>
      cat(s, dir).directoryControl.select(
        col("dir_path"),
        when(lower(col("dir_path")).like("/europe%"),
          lit(java.sql.Timestamp.valueOf(asOfLit)))
          .otherwise(col("next_crawl")).as("next_crawl"))),

    // J6 — the reference's second flagship (`Search.py:297-345`): needle =
    // every vw_ll row of one directory, same one-pass existence-join core as j5
    "j6_duplicate_dir" -> ((s, dir) =>
      SearchOps.searchDuplicateDir(cat(s, dir).vwLl, "/AFRICA/NATION_0")),

    // M2 — dir upsert over a deterministic staged snapshot (change-only
    // updates; new dirs inserted with fresh audit stamps). `id` is dropped:
    // new-row ids come from xxhash64, which DuckDB lacks.
    "m2_upsert_dirs" -> ((s, dir) => {
      val c = cat(s, dir)
      MergeOps.upsertDirs(c.directory, m2Staged(s, dir, c), mergeTs).drop("id")
    }),

    // M3 — mark_dirs_crawled finalize: one crawl round over dirs 200..299
    // (counts + activity from the catalog itself, frequency from M7, every
    // 17th dir came back missing), folded into directory_control
    "m3_mark_crawled" -> ((s, dir) => {
      val c = cat(s, dir)
      val asOfTs = lit(java.sql.Timestamp.valueOf(asOfLit))
      val counts = c.vwLl.groupBy(col("dir_id"))
        .agg(sum(when(col("type") === "file", 1L).otherwise(0L)).as("fc"),
          sum(when(col("type") === "dir", 1L).otherwise(0L)).as("sc"),
          max(col("ctime")).as("last_ctime"))
      val crawled = ScheduleOps.crawlFrequency(
          c.directoryControl.filter(col("dir_id").between(200L, 299L))
            .select(col("dir_path"), col("dir_id"), col("inserted_on"))
            .join(counts, Seq("dir_id"), "left"),
          asOfTs)
        .select(col("dir_path"), coalesce(col("fc"), lit(0L)).as("fc"),
          coalesce(col("sc"), lit(0L)).as("sc"),
          col("crawl_frequency").as("new_freq"))
      val missing = c.directoryControl
        .filter(col("dir_id").between(200L, 299L) && col("dir_id") % 17 === 0)
        .select("dir_path")
      ScheduleOps.markDirsCrawled(c.directoryControl, crawled, missing, asOfTs)
    }),

    // ---- training-data pipeline operators (documents / embeddings) ------

    "x1_token_stats" -> ((s, dir) => TextOps.tokenCounts(Tables.documents(s, dir))),

    // whitespace-hostile tokenization fixture: 'o'→tab, 'x'→newline turns
    // the single-space corpus into mixed-whitespace text; ws_tokens (robust
    // regex split) vs sp_tokens (naive single-space split) must both match
    // DuckDB exactly — the regex-dialect parity gate for wordsRe
    "x31_ws_tokens" -> ((s, dir) => {
      val hostile = translate(col("text"), "ox", "\t\n")
      Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.TextExpressions.wsTokenCountFast(hostile).as("ws_tokens"),
        size(TextOps.words(hostile)).as("sp_tokens"))
    }),

    "x2_lang_id" -> ((s, dir) => TextOps.langId(Tables.documents(s, dir))),

    "x3_quality_score" -> ((s, dir) => TextOps.qualityScore(Tables.documents(s, dir))),

    "x4_fingerprints" -> ((s, dir) => TextOps.fingerprints(Tables.documents(s, dir))),

    "x5_exact_dedup" -> ((s, dir) => DedupOps.exactDupGroups(Tables.documents(s, dir))),

    "x6_normalized_dedup" -> ((s, dir) =>
      DedupOps.normalizedDupGroups(Tables.documents(s, dir))),

    "x7_minhash_signatures" -> ((s, dir) =>
      DedupOps.minhashSignatures(
        Tables.documents(s, dir)
          .filter(size(TextOps.wordsRe(col("text"))) >= DedupOps.shingleWords))),

    // the kernel's hot-bucket refusal audit rides every gated consumer
    // (x78 max-df discipline): n_hot_buckets + the candidate mass the
    // cap declined to enumerate, never silent
    "x8_lsh_dup_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.lshDupPairs(docs, 0.5)
        .crossJoin(broadcast(DedupOps.lshGuardAudit(docs)))
    }),

    // x158 — dedup threshold-sweep yield curve: verified LSH pairs in 20
    // Jaccard bands with pair/victim/token accounting — what each cutoff
    // would remove, priced in ONE LSH pass; where x89 calibrates recall,
    // this prices the decision
    "x158_dedup_yield" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.dedupYieldCurve(docs)
        .crossJoin(broadcast(DedupOps.lshGuardAudit(docs)))
    }),

    // x156 — cross-source contamination matrix: x8's verified near-dup
    // pairs attributed to unordered source pairs — which feed mirrors
    // which; two doc-keyed source joins + a |sources|²-bounded aggregate
    // on top of the banded-LSH pair set
    "x156_contamination_matrix" -> ((s, dir) =>
      DedupOps.contaminationMatrix(Tables.documents(s, dir), 0.5)),

    "x9_simhash" -> ((s, dir) => DedupOps.simhash(Tables.documents(s, dir))),

    "x10_simhash_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.simhashDupPairs(docs, 3)
        .crossJoin(broadcast(DedupOps.simhashGuardAudit(docs)))
    }),

    "x23_dup_clusters" -> ((s, dir) => {
      // fused contraction: Borůvka over rep pairs, members attach by
      // fingerprint — a viral clique is ONE node, never C(k,2) edges
      val docs = Tables.documents(s, dir)
      DedupOps.simhashClusters(docs, 3)
        .crossJoin(broadcast(DedupOps.simhashGuardAudit(docs)))
    }),

    "x11_cosine_dup_pairs" -> ((s, dir) =>
      SimilarityOps.cosineDupPairsTiled(Tables.embeddings(s, dir), 0.40)),

    "x12_ann_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.bruteForceTopK(emb, emb.filter(col("vec_id") % 100 === 0), 8)
    }),

    "x13_ann_lsh_pairs" -> ((s, dir) =>
      SimilarityOps.lshDupPairs(Tables.embeddings(s, dir), 0.30)),

    // oracle twin is generated at runtime (the deterministic centroids
    // embed as SQL literals) — see [[dynamicOracleSql]]. joinProbes: the
    // distributed probe-assignment path (no driver collect) is the one
    // the gate exercises; x24 keeps the collected path so both are gated
    "x18_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.IvfOps.topK(emb,
        emb.filter(col("vec_id") % 100 === 0), ivfModel(s, dir), k = 8,
        nProbe = ivfNProbe(s, dir), joinProbes = true)
    }),

    // x35 — IVF cluster-health report (balance + tightness per inverted
    // list); oracle generated from the trained centroids like x18/x24
    "x35_cluster_stats" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.IvfOps.clusterStats(emb, ivfModel(s, dir))
    }),

    // x38 — semantic-cluster × language contingency over the aligned
    // documents/embeddings corpora (language-skew diagnostic)
    "x38_cluster_lang_mix" -> ((s, dir) =>
      graft.operators.IvfOps.clusterLangMix(
        Tables.documents(s, dir), Tables.embeddings(s, dir), ivfModel(s, dir))),

    // payloads carry GENUINE PNG/JPEG/GIF headers (dims doc_id-derived, so
    // the oracle can predict them) and the codec really parses the bytes
    "x14_media_meta" -> ((s, dir) =>
      MultimodalOps.extractMediaMeta(
        MultimodalOps.synthMediaFixture(
          Tables.documents(s, dir).select(col("doc_id"), col("text"))))),

    // x59 — audio twin of x14: genuine RIFF/WAVE containers, real
    // chunk-walking decode (rate/channels/bits/duration)
    "x59_audio_meta" -> ((s, dir) =>
      MultimodalOps.extractAudioMeta(
        MultimodalOps.synthAudioFixture(
          Tables.documents(s, dir).select(col("doc_id"), col("text"))))),

    // x60 — video: genuine ISO BMFF containers, real moov/mvhd box walk
    "x60_video_meta" -> ((s, dir) =>
      MultimodalOps.extractVideoMeta(
        MultimodalOps.synthVideoFixture(
          Tables.documents(s, dir).select(col("doc_id"), col("text"))))),

    // x61 — image perceptual hashes over REAL decoded pixels: genuine
    // ImageIO PNG encode → genuine decode → dHash/aHash; the oracle
    // predicts the hashes from the pixel formula (PNG is lossless), so a
    // green row certifies the whole codec round-trip
    "x61_image_hashes" -> ((s, dir) =>
      MultimodalOps.imageHashes(
        MultimodalOps.synthImageFixture(Tables.documents(s, dir)))),

    // x104 — image thumbnails: decode → nearest-neighbor resize → real
    // PNG re-encode, round-trip certified; the resize member of the
    // multimodal transform family (thumb payload dropped from the gate)
    "x104_image_thumbnail" -> ((s, dir) =>
      MultimodalOps.imageThumbnails(
        MultimodalOps.synthImageFixture(Tables.documents(s, dir)))
        .drop("thumb")),

    // x105 — PCM frame sampling: every 13th decoded sample as the
    // fixed-rate waveform thumbnail; the frame-sample member
    "x105_audio_decimate" -> ((s, dir) =>
      MultimodalOps.audioSamples(
        MultimodalOps.synthAudioFpFixture(Tables.documents(s, dir)))),

    // x62 — image near-dup pairs: the multimodal analog of the x5–x10
    // text dedup family; pigeonhole byte-blocked dHash pairing, no
    // all-pairs product
    "x62_image_dup_pairs" -> ((s, dir) =>
      MultimodalOps.imageDupPairs(
        MultimodalOps.imageHashes(
          MultimodalOps.synthImageFixture(Tables.documents(s, dir))))),

    // x63 — image duplicate CLUSTERS: the same Borůvka hook/jump/contract
    // as x23, over the dHash pair graph — pairs → components → canonical
    // representative, completing the multimodal dedup family
    "x63_image_dup_clusters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.dupClusters(docs,
        MultimodalOps.imageDupPairs(
          MultimodalOps.imageHashes(MultimodalOps.synthImageFixture(docs))))
    }),

    // x182 — video near-dup by sampled frames: the REAL 4 Hz schedule
    // off the parsed stts frame rate, per-frame dHash over the x62
    // PNG encode→decode→hash path (pixels synthesized per (group,
    // tick) — the codec stand-in; hashing is real), then time-aligned
    // fingerprint pairing with the x78 max-df guard (n_viral_frames
    // rides every row) — completes the dedup family's video member
    "x182_video_frame_dup" -> ((s, dir) => {
      val meta = MultimodalOps.extractVideoMeta(
        MultimodalOps.synthVideoFixture(Tables.documents(s, dir)))
      MultimodalOps.frameDupPairs(MultimodalOps.frameFingerprints(
        MultimodalOps.videoFrameSchedule(meta)))
    }),

    // x183 — cross-kernel verdict confusion: the x179 confusion-matrix
    // pattern between the two near-dup kernels — over the union of
    // both kernels' guarded candidate rep pairs, exact Jaccard verdict
    // × exact Hamming verdict, 4 cells with rep-pair count and
    // member-pair mass — which kernel is lying on this corpus
    "x183_kernel_confusion" -> ((s, dir) =>
      DedupOps.kernelConfusion(Tables.documents(s, dir))),

    // x184 — hot-bucket contents report: WHAT the hot-bucket guard
    // refused (x184 names it, simhashGuardAudit only counts it) — per
    // hot block bucket, distinct contents, copy mass, exemplar rep.
    // Gate runs maxDf=16 so the report is non-vacuous at sf0.01; the
    // kernels' production default stays bucketMaxDf=128
    "x184_hot_buckets" -> ((s, dir) =>
      DedupOps.hotBucketReport(Tables.documents(s, dir), maxDf = 16L)),

    // x185 — admission against a RETRACTED index: build on the 80%
    // partition, tombstone every clique whose rep doc_id % 7 == 0
    // (license takedown), then admit the 20% batch — retracted
    // content is re-admittable and its postings stop near-rejecting,
    // and the oracle models both by admission over surviving cliques
    "x185_retracted_admission" -> ((s, dir) =>
      graft.operators.NearDupIndex.admit(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        ndxRetractedRoot(s, dir))),

    // x64 — audio fingerprints over REAL decoded PCM: genuine WAV encode
    // → genuine 16-bit LE sample decode → 65-window energy-envelope
    // 64-bit hash; the oracle predicts the fingerprints from the sample
    // formula (PCM is lossless), certifying the codec round-trip
    "x64_audio_fp" -> ((s, dir) =>
      MultimodalOps.audioFingerprints(
        MultimodalOps.synthAudioFpFixture(Tables.documents(s, dir)))),

    // x65 — audio near-dup pairs: the audio member of the dedup family
    // (text x5–x10, image x62); same pigeonhole byte-block pairing
    "x65_audio_dup_pairs" -> ((s, dir) =>
      MultimodalOps.audioDupPairs(
        MultimodalOps.audioFingerprints(
          MultimodalOps.synthAudioFpFixture(Tables.documents(s, dir))))),

    // x66 — audio duplicate CLUSTERS: Borůvka components over the
    // fingerprint pair graph, completing the audio dedup family like
    // x63 does for images
    "x66_audio_dup_clusters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.dupClusters(docs,
        MultimodalOps.audioDupPairs(
          MultimodalOps.audioFingerprints(
            MultimodalOps.synthAudioFpFixture(docs))))
    }),

    "x17_ngram_jaccard" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // standalone n-gram Jaccard over a deterministic candidate set
      // (adjacent doc ids); zero-overlap pairs drop out (inner joins)
      val cand = docs.select(col("doc_id").as("doc_a"),
        (col("doc_id") + 1).as("doc_b"))
      DedupOps.jaccardFor(docs, cand)
    }),

    "x19_training_selection" -> ((s, dir) =>
      TextOps.trainingSelection(Tables.documents(s, dir), "en", 0.5)),

    // x67 — corpus-trained unigram LM NLL score (CCNet-style perplexity
    // filtering): count tokens once, broadcast the cost table back,
    // exact micro-nat BIGINT sums per doc
    "x67_lm_score" -> ((s, dir) =>
      TextOps.lmScore(Tables.documents(s, dir))),

    // x68 — bigram LM score: second-order conditionals with add-one
    // smoothing; context totals and vocab derive from the one bigram
    // relation, same exact micro-nat arithmetic as x67
    "x68_bigram_lm_score" -> ((s, dir) =>
      TextOps.bigramLmScore(Tables.documents(s, dir))),

    // x69 — stupid-backoff scoring over a held-out split: model trains
    // on 90% of docs, every doc scored; unseen bigrams genuinely back
    // off to penalty + continuation unigram (OOV-priced)
    "x69_backoff_lm" -> ((s, dir) =>
      TextOps.backoffLmScore(Tables.documents(s, dir),
        col("doc_id") % 10 =!= 0)),

    // x70 — per-source KL divergence from the corpus token distribution:
    // the mixture-drift diagnostic; corpus tokenized once, vocab and
    // totals broadcast back
    "x70_source_kl" -> ((s, dir) =>
      TextOps.sourceKl(Tables.documents(s, dir))),

    // x71 — CCNet perplexity-band curation: middle-band survivors,
    // exact-dedup'd; the capstone composition of the LM family
    "x71_perplexity_band" -> ((s, dir) =>
      TextOps.perplexityBand(Tables.documents(s, dir), 3.39, 3.42)),

    // x78 — shingle-containment pairs: the excerpt detector symmetric
    // Jaccard misses; shared-shingle candidates under a max-df guard,
    // exact containment over full shingle sets
    "x78_containment_pairs" -> ((s, dir) =>
      DedupOps.containmentPairs(Tables.documents(s, dir), 3, 16)),

    // x76 — per-source curation report: doc/token counts, type-token
    // ratio, micro-snapped mean quality, and the domain keep/drop gate
    "x76_source_report" -> ((s, dir) =>
      TextOps.sourceReport(Tables.documents(s, dir), 0.60)),

    // x75 — multinomial Naive Bayes language classifier: training IS a
    // pair of count aggregations; dense smoothed costs broadcast back
    // onto the occurrence matrix; rank-1 window picks the class
    "x75_nb_classifier" -> ((s, dir) =>
      graft.operators.ClassifyOps.nbLangScore(Tables.documents(s, dir))),

    // x74 — PMI collocations: phrase-mining over the bigram/unigram
    // count relations, micro-nat snapped, TakeOrderedAndProject cut
    "x74_pmi_collocations" -> ((s, dir) =>
      TextOps.pmiCollocations(Tables.documents(s, dir), 5, 50)),

    // x80 — per-doc TF-IDF keywords: exact BIGINT tf·idf_micro scores,
    // one corpus tokenization, vocab-sized idf broadcast, rank-k window
    "x80_tfidf_keywords" -> ((s, dir) =>
      TextOps.tfidfKeywords(Tables.documents(s, dir), 5)),

    // x81 — Dunning G² keyness per source: which tokens carry a
    // source's drift (x70 says how far, this says which words)
    "x81_source_keyness" -> ((s, dir) =>
      TextOps.sourceKeyness(Tables.documents(s, dir), 5, 10)),

    // x82 — priority sampling: length-weighted sample without
    // replacement, one IEEE division per row, TakeOrderedAndProject
    "x82_priority_sample" -> ((s, dir) =>
      SamplingOps.prioritySample(Tables.documents(s, dir), 100, 7)),

    // x83 — cluster-aware split: near-dup clusters are atomic across
    // train/val/test, so x39's leakage class can't exist by construction
    "x83_cluster_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      SamplingOps.clusterSplitOf(DedupOps.simhashClusters(docs, 3))
        .crossJoin(broadcast(DedupOps.simhashGuardAudit(docs)))
    }),

    // x84 — Heaps'-law vocabulary growth over id-ordered corpus tenths:
    // is another 10% of data still buying new vocabulary?
    "x84_vocab_growth" -> ((s, dir) =>
      TextOps.vocabGrowth(Tables.documents(s, dir), 10)),

    // x85 — per-doc hapax ratio: corpus-hapax occurrence share, the
    // cheap OCR-noise/gibberish signal beside the LM scores
    "x85_hapax_report" -> ((s, dir) =>
      TextOps.hapaxReport(Tables.documents(s, dir))),

    // x86 — Zipf rank–frequency fit: one-row corpus-naturalness gate,
    // snap-then-sum exact regression sums over the top vocabulary
    "x86_zipf_fit" -> ((s, dir) =>
      TextOps.zipfFit(Tables.documents(s, dir), 1000)),

    // x87 — per-source duplication rate: which domains buy little new
    // data per byte (corpus-wide normalized-key group sizes per source)
    "x87_source_dup_rate" -> ((s, dir) =>
      DedupOps.sourceDupRate(Tables.documents(s, dir))),

    // x88 — pairwise source JS divergence: the distributional twin of
    // x77's verbatim mirror matrix (same voice vs nothing in common)
    "x88_source_js" -> ((s, dir) =>
      TextOps.sourceJsMatrix(Tables.documents(s, dir))),

    // x89 — MinHash calibration: sketch estimate vs exact Jaccard on
    // the x8 candidates — the banding-threshold tuning report
    "x89_minhash_calibration" -> ((s, dir) =>
      DedupOps.minhashCalibration(Tables.documents(s, dir))),

    // x171 — signature-length yield curve: the x89 estimator priced at
    // every signature PREFIX (2/4/8/16 perms): mean + worst error ppm
    // vs exact Jaccard — how many permutations dedup actually needs
    "x171_signature_yield" -> ((s, dir) =>
      DedupOps.signatureYield(Tables.documents(s, dir))),

    // x91 — stratified priority sampling: PriorityStream's batch twin,
    // per-stratum rank-k via WindowGroupLimit
    "x91_stratified_priority" -> ((s, dir) =>
      SamplingOps.prioritySampleByStratum(Tables.documents(s, dir), 20, 7)),

    // x92 — exact Pearson length–quality correlation: is the quality
    // model just measuring length? Snapped moments, BIGINT-exact sums
    "x92_length_quality_corr" -> ((s, dir) =>
      TextOps.lengthQualityCorr(Tables.documents(s, dir))),

    // x177 — per-source length×quality Pearson: WHICH feeds' quality
    // gates are redundant with a length cut; x92's snapped moments
    // keyed by source (DECIMAL sums — one feed can be the corpus),
    // one map-side-combinable groupBy
    "x177_source_length_quality" -> ((s, dir) =>
      TextOps.sourceLengthQualityCorr(Tables.documents(s, dir))),

    // x93 — label-conflict report: duplicate content under different
    // lang labels — the noise that poisons x75 training and quotas
    "x93_label_conflicts" -> ((s, dir) =>
      DedupOps.labelConflicts(Tables.documents(s, dir))),

    // x94 — per-source curation funnel: where each domain's docs die
    // in the gate stack (quality / length band / dedup / all)
    "x94_source_funnel" -> ((s, dir) =>
      TextOps.sourceFunnel(Tables.documents(s, dir), 0.5, 10, 500)),

    // x95 — top boilerplate windows WITH text: the actionable removal
    // list behind x72's anonymous spans; hash-only shuffle, two-phase
    "x95_top_boilerplate" -> ((s, dir) =>
      SubstringOps.topBoilerplate(Tables.documents(s, dir), 8, 20)),

    // x96 — ANN recall report: per-query recall@8 of the gated IVF
    // path against the exact baseline — ANN quality as a GATED query,
    // not just a spec floor (oracle is dynamic: centroids embed)
    // x162 — probe-depth yield curve: recall@nprobe for EVERY nprobe in
    // one pass (first-hit probe rank of each query's exact top-1
    // neighbor); x96 measures the one configured nprobe, this prices
    // the whole knob — oracle is model-dependent, see dynamicOracleSql
    "x162_probe_yield" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.IvfOps.probeYieldCurve(emb,
        emb.filter(col("vec_id") % 100 === 0), ivfModel(s, dir))
    }),

    // x173 — codebook churn: per (old_cell, new_cell) vector flows
    // between the gated model and its one-more-Lloyd-round refresh —
    // off-diagonal mass IS the reindexing bill; churn_ppm prices the
    // retrain cadence (oracle: both codebooks as literal CTEs)
    "x173_codebook_churn" -> ((s, dir) =>
      graft.operators.IvfOps.codebookChurn(Tables.embeddings(s, dir),
        ivfModel(s, dir), ivfModel2(s, dir))),

    // x174 — persisted near-dup signature index: build on the 80%
    // partition (rep cliques/sigs/band postings under the AtomicDir
    // epoch-manifest protocol), then ADMIT the 20% against the
    // on-disk index — exact anti-join + band-collision estimate,
    // O(|incoming| + collisions), the existing corpus never re-signed
    "x174_neardup_admission" -> ((s, dir) =>
      graft.operators.NearDupIndex.admit(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        ndxRoot(s, dir))),

    // x178 — admission-threshold yield curve: per best-estimate value,
    // the non-exact incoming contents/copies a minMatches cutoff there
    // would near-reject — every threshold priced from x174's one probe
    "x178_admission_yield" -> ((s, dir) =>
      graft.operators.NearDupIndex.admissionYield(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        ndxRoot(s, dir))),

    // x180 — index bucket-skew profile: per LSH band, posting buckets
    // by size class with their Σ C(m,2) collision mass — the probe
    // fan-out read (max-bucket guard / wider banding evidence) before
    // a large ingest trusts the index
    "x180_index_skew" -> ((s, dir) =>
      graft.operators.NearDupIndex.indexSkew(s, ndxRoot(s, dir))),

    // x179 — admission-sketch audit: estimate-based near-reject vs the
    // exact-Jaccard verdict on the same collided pairs — the (1,0)
    // cell is good data the sketch throws away, (0,1) near-dup mass it
    // lets in; the x96-style confusion read before a 100TB ingest
    // trusts the estimator
    "x179_admission_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.NearDupIndex.admissionAudit(
        docs.filter(col("doc_id") % 5 === 0), docs, ndxRoot(s, dir))
    }),

    // x186 — corpus-wide virality off the index's rejections LEDGER:
    // per live content, admitting-epoch copies + later exact-rejected
    // copies; the oracle computes the DIRECT whole-corpus md5 count,
    // so hash equality IS the ledger-loses-nothing proof (the x136
    // refresh-equals-recompute discipline, applied to the index)
    "x186_index_virality" -> ((s, dir) =>
      graft.operators.NearDupIndex.virality(s, ndxLedgerRoot(s, dir))),

    // x187 — GUARDED admission: index posting buckets holding more
    // than maxBucket distinct contents (the template-family shape
    // x180 profiles and x184 reports) drop out of the probe; the cap
    // is never silent — n_hot_buckets rides every verdict row. The
    // cap is deliberately at the gate corpus's own collision scale
    // (x180: bucket sizes 1-3) so BOTH branches fire at both SFs.
    "x187_guarded_admission" -> ((s, dir) =>
      graft.operators.NearDupIndex.admitGuarded(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        ndxRoot(s, dir), maxBucket = 1L)),

    // x188 — banding-scheme yield sweep: x171 prices signature LENGTH
    // for the estimator, this prices how the same 16 components cut
    // into LSH bands — per (b×r) scheme, probe candidate pairs vs
    // near-rejects at the shipped threshold; the index side comes off
    // the persisted sigs table, never re-signed
    "x188_banding_yield" -> ((s, dir) =>
      graft.operators.NearDupIndex.bandingYield(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        ndxRoot(s, dir))),

    // x189 — span-level admission against the persisted exact-substring
    // index: the 20% batch billed keep-first against the 80% corpus's
    // window hashes (index precedence, in-batch min-doc_id), the x181
    // bill made incremental — the indexed corpus text is never re-read
    "x189_span_admission" -> ((s, dir) =>
      graft.operators.SpanIndex.admitBill(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        spxRoot(s, dir))),

    // x190 — cross-TIER admission confusion (the x183 pattern applied
    // between the near-dup signature tier and the exact-span tier):
    // per distinct incoming content, x174's verdict × whether x189
    // bills ≥ half its tokens as already-seen spans. The
    // (admitted, span_heavy) cell is remix/copy-paste content the
    // signature tier admits whole — the population only span-level
    // admission catches; (dup_near, !span_heavy) is paraphrase-shaped
    // similarity without literal span reuse. One rep-keyed join of the
    // two admission relations, ≤6-row aggregate.
    "x190_admission_confusion" -> ((s, dir) => {
      val batch = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
      val near = graft.operators.NearDupIndex
        .admit(batch, ndxRoot(s, dir))
        .select(col("doc_id"), col("verdict"))
      val span = graft.operators.SpanIndex
        .admitBill(batch, spxRoot(s, dir))
        .select(col("doc_id"), col("n_tokens"), col("tokens_cut"))
      near.join(span, Seq("doc_id"), "left")
        .select(col("verdict"),
          when(coalesce(col("n_tokens"), lit(0L)) > 0L &&
            col("tokens_cut") * 2 >= col("n_tokens"), 1).otherwise(0)
            .as("span_heavy"),
          coalesce(col("n_tokens"), lit(0L)).as("t"),
          coalesce(col("tokens_cut"), lit(0L)).as("c"))
        .groupBy("verdict", "span_heavy")
        .agg(count(lit(1)).as("n_contents"), sum(col("t")).as("tokens"),
          sum(col("c")).as("tokens_cut"))
    }),

    // x191 — the shard-admission MANIFEST: the production entry point
    // composing both persisted indexes in precedence order per distinct
    // incoming content — reject_exact / reject_near / trim_spans /
    // admit — the per-content decision a 100 TB ingest acts on
    "x191_shard_admission" -> ((s, dir) =>
      graft.operators.ShardAdmission.report(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        ndxRoot(s, dir), spxRoot(s, dir))),

    // x194 — the x191 manifest against BUCKET-COMPACTED twins of both
    // text indexes: the range-bucketed parallel compaction rewrite
    // (covered.json, multi-file probe-key layout — the 100 TB
    // maintenance shape) pinned invisible to admission by sharing
    // x191's oracle verbatim
    "x194_compacted_admission" -> ((s, dir) => {
      val (ndx, spx) = compactedRoots(s, dir)
      graft.operators.ShardAdmission.report(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        ndx, spx)
    }),

    // x192 — embedding-tier admission (incremental SemDeDup): the 20%
    // embedding batch admitted against the persisted IVFADC index built
    // on the 80% — per vector, best ADC neighbor among the probed
    // lists, dup_embed at τ = the x52 semantic-dup working point; the
    // fourth axis of the admission stack (content/signature/span/
    // embedding), oracle = the trained-centroid dynamic replay
    "x192_embed_admission" -> ((s, dir) =>
      graft.operators.IvfOps.admitVectors(s, annAdmitRoot(s, dir),
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        tauMicro = 400000L, nProbe = ivfNProbe(s, dir))),

    // x199 — x192's admission FORCED through the DISTRIBUTED probe
    // form (IvfOps.ProbeDistributed: probes built on the executors,
    // only the ≤K distinct probed cids reach the driver, probe
    // relation shuffle-joined) — the batch-scale path a production
    // micro-batch takes above ProbeAuto's threshold, gated against
    // the SAME oracle as x192: both forms must answer bit-identically
    "x199_distributed_admission" -> ((s, dir) =>
      graft.operators.IvfOps.admitVectors(s, annAdmitRoot(s, dir),
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        tauMicro = 400000L, nProbe = ivfNProbe(s, dir),
        mode = graft.operators.IvfOps.ProbeDistributed)),

    // x193 — the FULL four-tier admission manifest: exact content /
    // near-dup signature / semantic embedding / exact spans composed
    // per distinct incoming content with precedence reject_exact >
    // reject_near > reject_embed > trim_spans > admit — every
    // persisted index touched exactly once
    "x193_full_admission" -> ((s, dir) =>
      graft.operators.ShardAdmission.reportFull(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        ndxRoot(s, dir), spxRoot(s, dir), annAdmitRoot(s, dir),
        tauMicro = 400000L, nProbe = ivfNProbe(s, dir))),

    // x197 — admission DASHBOARD: the x193 manifest rolled up per
    // decision (contents, copy mass, token economics) — the ≤5-row
    // readout an operator watches per arriving shard; Σ retained over
    // admit+trim IS what the shard adds to the post-dedup corpus
    "x197_admission_summary" -> ((s, dir) =>
      graft.operators.ShardAdmission.summary(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        ndxRoot(s, dir), spxRoot(s, dir), annAdmitRoot(s, dir),
        tauMicro = 400000L, nProbe = ivfNProbe(s, dir))),

    // x196 — span-tier TAKEDOWN: the x189 bill against an index
    // rebuilt WITHOUT the % 7 == 0 documents (SpanIndex.rebuildWithout,
    // the license-takedown runbook's one call on this tier). Windows
    // held only by taken-down docs are re-admittable; windows other
    // docs still carry stay seen, re-attributed to the next-earliest
    // surviving holder — oracle = the admission replay over the
    // surviving partition
    "x196_span_takedown" -> ((s, dir) =>
      graft.operators.SpanIndex.admitBill(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        spxRebuiltRoot(s, dir))),

    // x195 — x193's manifest with the embedding tier served by the
    // EPOCH-SHARDED ANN admission index (AnnAdmitIndex: the text
    // tiers' manifest lifecycle — b<id> epochs, covered.json,
    // protected-base tail compaction — on the embedding tier, what
    // the four-tier streaming loop composes). Oracle shared with x193
    // verbatim: layout must be invisible to every decision
    // x198 — QUANTIZER RETRAIN, end-to-end: the 20% batch admitted
    // against the x195 index after retrain-on-compact (k re-grown to
    // adaptiveK(N), postings recoded, model+postings swapped in one
    // promotion). Probe depth is the FIXED admission contract (8):
    // probed mass nProbe·N/k = nProbe·√N under the maintained k. The
    // oracle replays admission from the retrained model's literals —
    // decisions legitimately differ from x192's (new quantizer, by
    // design), and the twin must agree bit-for-bit on the new ones.
    "x198_retrained_admission" -> ((s, dir) =>
      graft.operators.AnnAdmitIndex.admit(
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        annRetrainedRoot(s, dir), tauMicro = 400000L, nProbe = 8)),

    "x195_epoch_ann_admission" -> ((s, dir) =>
      graft.operators.ShardAdmission.reportFullEpoch(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        ndxRoot(s, dir), spxRoot(s, dir), annEpochRoot(s, dir),
        tauMicro = 400000L, nProbe = ivfNProbe(s, dir))),

    // x200 — x195's manifest against the ANN index AFTER the full
    // maintenance lifecycle: two all-duplicate batch extensions
    // (empty epochs — indexed content unchanged by construction), a
    // tail compaction folding them, and EpochStore.gc reclaiming the
    // retired versions + folded dirs. Oracle shared with x193/x195
    // verbatim: extend → compact → gc must be invisible to every
    // admission decision.
    "x200_gc_admission" -> ((s, dir) =>
      graft.operators.ShardAdmission.reportFullEpoch(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        ndxRoot(s, dir), spxRoot(s, dir), annGcRoot(s, dir),
        tauMicro = 400000L, nProbe = ivfNProbe(s, dir))),

    "x96_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") % 100 === 0)
      val ivf = graft.operators.IvfOps
        .topK(emb, q, ivfModel(s, dir), k = 8, nProbe = ivfNProbe(s, dir),
          joinProbes = true)
        .select(col("query_id"), col("neighbor_id"))
      val exact = SimilarityOps.bruteForceTopK(emb, q, 8)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(ivf, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double")
            / col("n_exact").cast("double")).as("recall"))
    }),

    // x155 — kNN label-consistency: per label, neighbor purity and
    // majority-vote accuracy of the sampled exact top-k — whether the
    // true neighbors MEAN anything, where x96 asks whether the index
    // finds them; label-keyed joins + aggregates after the x96 kernel
    "x155_label_consistency" -> ((s, dir) =>
      SimilarityOps.labelConsistency(Tables.embeddings(s, dir))),

    // x100 — SSL-prototype pruning (Sorscher et al. 2022): per-cluster
    // prototypicality rank over micro-snapped cosines; drop the easy
    // fraction (oracle is dynamic: centroids embed)
    "x100_proto_prune" -> ((s, dir) =>
      graft.operators.IvfOps.protoPrune(
        Tables.embeddings(s, dir), ivfModel(s, dir), fraction = 0.25)),

    // x101 — hybrid lexical+vector retrieval: BM25 top-n ∪ cosine top-n
    // fused by reciprocal-rank fusion (Cormack et al. 2009)
    "x101_hybrid_rrf" -> ((s, dir) =>
      graft.operators.RetrievalOps.hybridRrf(
        Tables.documents(s, dir), Tables.embeddings(s, dir))),

    // x106 — NB classifier confusion matrix: per (true, predicted) lang
    // counts + row share — which languages leak into which (x75's eval)
    "x106_nb_confusion" -> ((s, dir) =>
      graft.operators.ClassifyOps.nbConfusion(Tables.documents(s, dir))),

    // x107 — per-source embedding cohesion: cosine to the source
    // centroid, snap-then-sum exact; template-farm / outlier detector
    "x107_source_cohesion" -> ((s, dir) =>
      SimilarityOps.sourceCohesion(
        Tables.documents(s, dir), Tables.embeddings(s, dir))),

    // x163 — per-source anisotropy: EXACT mean pairwise dot with no pair
    // join (sum-of-sums identity) — the pairwise-concentration axis x107's
    // to-centroid cohesion can't see; O(n·d) scan for an O(n²·d) statistic
    "x163_source_anisotropy" -> ((s, dir) =>
      SimilarityOps.sourceAnisotropy(
        Tables.documents(s, dir), Tables.embeddings(s, dir))),

    // x176 — release-pair embedding drift: the diff of two x163 panels
    // (md5-hash split as the release pair — the testdata assigns
    // source = doc_id mod 20, so ANY modulus split would alias with
    // source and empty the per-source join) — per source, exact squared
    // centroid shift + self-dot/anisotropy deltas; two O(n·d) panel
    // scans (or zero, off live streaming panels), never a pair join
    "x176_release_drift" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val h = substring(md5(col("vec_id").cast("string")), 1, 1)
      SimilarityOps.releaseDrift(Tables.documents(s, dir),
        emb.filter(h <= "7"), emb.filter(h > "7"))
    }),

    // x110 — semantic split leakage: embedding-space near-dup pairs
    // straddling a train/val/test boundary — the paraphrase-leak class
    // exact-match decontamination can't see (oracle: dynamic centroids)
    "x110_semantic_leakage" -> ((s, dir) =>
      graft.operators.IvfOps.semanticLeakage(
        Tables.embeddings(s, dir), ivfModel(s, dir), tau = 0.40)),

    // x109 — quality-score calibration: fixed-width score bins × (dup
    // rate, gate-pass rate) — is the score worth thresholding on?
    "x109_quality_calibration" -> ((s, dir) =>
      graft.operators.CurationOps.qualityCalibration(Tables.documents(s, dir))),

    // x117 — semi-structured props extraction: the events table's JSON
    // payload parsed in the scan projection (get_json_object — one
    // codegen'd parse per row, no UDF), banded, and rolled up per
    // (event_type, band) with a distinct-user count. One shuffle on the
    // tiny band key; the JSON never leaves the map side
    "x117_props_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k").isNotNull)
        .withColumn("k_band", expr("k div 10"))
        .groupBy("event_type", "k_band")
        .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
          countDistinct(col("user_id")).as("n_users"))),

    // x118 — HyperLogLog distinct-estimate calibration: per (event_type,
    // day) distinct users via 256 single-byte mergeable registers beside
    // the exact count and relative error — the count(distinct)
    // replacement whose state stays 256 bytes per group at any corpus
    // size. Exercises BOTH estimator branches across SFs (linear
    // counting ≤2.5m at sf0.01, raw harmonic at sf0.1); register sums
    // are exact BIGINT so the estimate is engine-identical
    "x118_hll_calibration" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val grp = concat(col("event_type"), lit(":"),
        expr("cast(unix_micros(ts) div 86400000000 as string)"))
      graft.operators.SketchOps.hllCalibration(ev, grp, col("user_id"))
    }),

    // x120 — join-key skew report: lineitem's part-key rows projected
    // onto 32 portable hash partitions — per-partition load, key count,
    // exact-ppm load ratio vs mean, heaviest key. The pre-join read that
    // decides salting/AQE; |keys|-sized after the first aggregate, the
    // window and per-partition aggregate share one exchange
    "x120_key_skew" -> ((s, dir) =>
      graft.operators.SketchOps.keySkewReport(
        Tables.lineitem(s, dir), col("l_partkey"))),

    // x121 — Count-Min heavy-hitter calibration: the true top-20 part
    // keys beside their CMS point estimates from a 4×512 counter table —
    // counters are sums, so the sketch merges across partitions/days by
    // ADDING; over_cnt ≥ 0 is the sketch's structural guarantee and its
    // size is the collision cost actually paid at this (d, w)
    "x121_cms_calibration" -> ((s, dir) =>
      graft.operators.SketchOps.cmsCalibration(
        Tables.lineitem(s, dir), col("l_partkey"))),

    // x124 — hourly burst detection per event type: counts on a DENSIFIED
    // per-type hour grid (quiet hours are real zeros — a ROWS frame over
    // the raw aggregate would telescope past them), trailing-24h baseline,
    // exact integer cross-multiply test; |types|×|hours|-sized after the
    // first aggregate. Gated at thresholdX=1 (top hours ABOVE their
    // trailing mean) so the ranking exercises at every SF — the uniform
    // synthetic stream never produces a sustained 2× spike at sf0.1;
    // production alerting raises the multiplier
    "x124_event_bursts" -> ((s, dir) =>
      graft.operators.AnomalyOps.burstReport(Tables.events(s, dir),
        thresholdX = 1)),

    // x166 — CUSUM changepoint per event type: x124 finds which hour
    // spiked; this finds where the LEVEL shifted — argmax |T·prefix −
    // t·total| over the densified hour grid, with before/after rates
    "x166_changepoint" -> ((s, dir) =>
      graft.operators.AnomalyOps.changepointReport(Tables.events(s, dir))),

    // x157 — per-user behavioral profile: volume, type diversity,
    // dominant type + share, active span, mean gap, population-relative
    // burst flag — WHO misbehaves where x124 says WHEN; user-keyed
    // aggregates meeting at |users| granularity, dominant type by the
    // x155 (max count, alphabetical) vote, burst test integer
    // cross-multiply. burstFactor=2 so the flag exercises on the
    // near-uniform synthetic stream; production raises it
    "x157_user_profiles" -> ((s, dir) =>
      graft.operators.AnomalyOps.userProfiles(Tables.events(s, dir),
        burstFactor = 2L)),

    // x125 — margin-calibration table of the x75 classifier: accuracy by
    // best-vs-second NLL gap (exact integer micro-nats — no softmax
    // float sum), the read that justifies margin-thresholded
    // auto-labeling; rank-≤2 WindowGroupLimit then a bins-sized aggregate
    "x125_margin_calibration" -> ((s, dir) =>
      graft.operators.ClassifyOps.nbMarginCalibration(
        Tables.documents(s, dir))),

    // x127 — top spectral direction of the embedding matrix: 4 rounds of
    // exact-integer power iteration (two equi-join shuffles per round,
    // IterState-pinned lineage); a dominant λ says the space is
    // anisotropic — the read that justifies mean-centering before
    // cosine-threshold dedup (x11/x52)
    "x127_top_component" -> ((s, dir) =>
      graft.operators.SpectralOps.topComponent(Tables.embeddings(s, dir))),

    // x129 — sample-quantile calibration: per-lang length quantiles from
    // a deterministic 1/16 hash sample beside the exact rank-based
    // values, error in exact ppm — the read that picks the sample rate
    // for 100 TB percentile jobs by MEASURING the DKW error; one scan,
    // one exchange (sample rank is a conditional running count over the
    // same lang window)
    "x129_sample_quantiles" -> ((s, dir) =>
      TextOps.sampleQuantileCalibration(Tables.documents(s, dir))),

    // x128 — anisotropy-corrected near-dup audit: every x11 candidate
    // pair re-scored with x127's top direction projected out (rank-1
    // all-but-the-top, fully expanded — no corrected vector is ever
    // materialized); pairs whose similarity collapses were near-dups
    // only in the shared anisotropic direction
    "x128_corrected_pairs" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.SpectralOps.correctedDupPairs(emb,
        graft.operators.SpectralOps.topComponent(emb), 0.40)
    }),

    // x126 — zone-map layout audit: linear-vs-Z-order layouts of lineitem
    // on (part, supp) simulated by the same range-sort an OPTIMIZE write
    // performs; per-file zone maps + exact-ppm span coverage quantify the
    // file-skipping each layout buys per dimension (linear: one dim
    // perfect, other unpruned; Morton: both ~√(1/files))
    "x126_zone_map_audit" -> ((s, dir) =>
      graft.operators.LayoutOps.zoneMapAudit(Tables.lineitem(s, dir),
        col("l_partkey"), col("l_suppkey"),
        Seq(col("l_orderkey"), col("l_linenumber")))),

    // x122 — CMS join-size estimation: |orders ⋈ lineitem| on the order
    // key from the INNER PRODUCT of two 4×1024 counter tables (min over
    // rows), beside the exact Σ fA·fB — the planner read that decides
    // broadcast/shuffle/salt BEFORE paying the shuffle; the sketch never
    // undercounts, so a fits-in-broadcast verdict is safe
    "x122_join_size" -> ((s, dir) =>
      graft.operators.SketchOps.joinSizeCalibration(
        Tables.orders(s, dir), col("o_orderkey"),
        Tables.lineitem(s, dir), col("l_orderkey"))),

    // x119 — PageRank hubs of the session-concurrency graph: j17's
    // interval-join machinery reduced to an edge set, then 6 Pregel-style
    // rounds of one dst-key shuffle each, EXACT integer mass (floor
    // division, BIGINT sums — no float accumulation, no partition-order
    // sensitivity); driver holds loop control only
    "x119_session_pagerank" -> ((s, dir) =>
      graft.operators.GraphOps.sessionPageRank(Tables.events(s, dir))),

    // x139 — corpus content manifest: per-source doc/token counts plus an
    // ORDER-INDEPENDENT bit_xor content digest (any partition order, any
    // shard layout, same fingerprint) — the reproducibility row a release
    // pins; equal manifests ⇒ content-identical per source
    "x139_corpus_manifest" -> ((s, dir) =>
      graft.operators.CurationOps.corpusManifest(Tables.documents(s, dir))),

    // x138 — water-filling token allocation: budget spread at a common
    // level with every language capped at availability, exact to the
    // token (sorted-prefix closed form + lexicographic remainder);
    // the no-oversubscription complement of x103/x133
    "x138_water_fill" -> ((s, dir) =>
      graft.operators.CurationOps.waterFill(Tables.documents(s, dir))),

    // x140 — exact value quantiles by histogram refinement: exact
    // rank-based percentiles of a HIGH-CARDINALITY column (micro-unit
    // event values) with no sort, no per-group task, and the driver
    // holding only histograms — ≤6 narrow bucket-count scans resolve a
    // full 64-bit domain; the exactness x32's count-compression cannot
    // give when values barely repeat, at a cost approx_percentile's
    // sketch never pays
    "x140_value_quantiles" -> ((s, dir) =>
      graft.operators.QuantileOps.eventValueQuantiles(Tables.events(s, dir))),

    // x141 — corpus release diff: per source, docs added / removed /
    // content-changed, token delta, digest drift — HOW a release moved
    // where the x139 manifest only says THAT it moved; one id-keyed
    // full-outer join, then a source-sized aggregate
    "x141_release_diff" -> ((s, dir) =>
      graft.operators.CurationOps.releaseDiffDemo(Tables.documents(s, dir))),

    // x153 — cross-source quantile normalization: map each doc's
    // within-source percentile onto the GLOBAL score scale (quantile
    // mapping) — a global threshold then applies uniformly to every
    // feed; both grids from ONE count aggregate, grid as-of by
    // union+carry-forward window, docs joined back on the grid key
    "x153_quantile_normalize" -> ((s, dir) =>
      TextOps.quantileNormalize(Tables.documents(s, dir))),

    // x152 — vocab-pruning round-trip: re-price every doc under the
    // pruned model (x145's read turned into its action) — what cutting
    // idle merges costs in tokens a training run pays for; exact
    // integer inflation, two vocab-sized apply passes, one doc join
    "x152_prune_reprice" -> ((s, dir) =>
      graft.operators.BpeOps.pruneRepriceCounts(Tables.documents(s, dir),
        bpeModel(s, dir), prunedBpeModel(s, dir))),

    // x151 — dictionary hit localization: first `cap` character-exact
    // positions per (doc, term) from the same single automaton pass —
    // WHERE to redact where x143 says how much; explode bounded at
    // |D|·cap per doc
    "x151_dictionary_spans" -> ((s, dir) =>
      graft.operators.DictTagOps.dictionarySpans(Tables.documents(s, dir))),

    // x150 — numeric moments profile per event type: n/nulls/min/max,
    // integer-micro mean and floor-division population variance — the
    // ANALYZE read beside x140's quantiles; one scan, one |types|-keyed
    // map-side-combined aggregate, DECIMAL/HUGEINT sums
    "x150_value_moments" -> ((s, dir) =>
      graft.operators.QuantileOps.valueMoments(Tables.events(s, dir))),

    // x149 — code-switching profile: x2's language ID re-voted over
    // 32-token windows — window/lang counts, majority share, adjacent-
    // window SWITCHES; one corpus pass, language axis pivoted into six
    // fixed conditional sums (no (doc,lang) relation, no join)
    "x149_lang_mix" -> ((s, dir) =>
      TextOps.langMixProfile(Tables.documents(s, dir))),

    // x148 — per-doc quality percentile within source: percent_rank
    // stamped on every row (the cross-feed-comparable quality feature),
    // via x129's count-compression — windows only over the
    // (source, q_micro) grid aggregate, rank joined back on the grid key
    "x148_quality_percentile" -> ((s, dir) =>
      TextOps.qualityPercentile(Tables.documents(s, dir))),

    // x147 — referential-integrity audit: per declared FK edge, child
    // rows/keys and how many DANGLE (what inner joins will silently
    // drop); child key-compressed before any join, dims broadcast, one
    // row per edge before the union
    "x147_fk_audit" -> ((s, dir) =>
      graft.operators.IntegrityOps.fkAudit(s, dir)),

    // x146 — incremental n-gram novelty: per doc, distinct shingles that
    // appear here FIRST vs all — the memorization-pressure read; n_grams
    // is row-local (no matrix shuffle), first-occurrence is a map-side-
    // combined gram aggregate (viral grams absorbed by partials, never a
    // gram-partitioned window), novel counts off the first-occurrence
    // relation alone
    "x146_novelty" -> ((s, dir) =>
      graft.operators.DedupOps.noveltyScore(Tables.documents(s, dir))),

    // x145 — BPE merge utilization: per-merge corpus fire counts (true
    // applications, not selection-time pair counts) + the running
    // subword compression curve — the read that sizes a production
    // vocabulary; vocab-sized throughout, R output rows explode from ONE
    // aggregate row
    "x145_merge_utilization" -> ((s, dir) =>
      graft.operators.BpeOps.mergeUtilization(
        Tables.documents(s, dir), bpeModel(s, dir))),

    // x144 — balanced training-shard manifest: snake-deal docs over a
    // global (tokens desc, doc_id) rank so per-shard TOKEN MASS is
    // near-equal (x26's hash sharding equalizes doc counts only); the
    // rank comes from TwoPhase over token-count buckets — no global sort
    "x144_shard_manifest" -> ((s, dir) =>
      graft.operators.SamplingOps.shardManifest(Tables.documents(s, dir))),

    // x143 — dictionary tagging: per-term corpus tally (docs containing,
    // total occurrences incl. overlapping) for a fixed lexicon via ONE
    // native Aho-Corasick pass per document — the blocklist/PII-keyword
    // audit; dense per-term vectors keep the explode |D|-bounded per doc,
    // zeros preserved without a terms join-back
    "x143_dictionary_tags" -> ((s, dir) =>
      graft.operators.DictTagOps.dictionaryTags(Tables.documents(s, dir))),

    // x142 — tokenizer compression audit by source: chars/subword and
    // fertility under the trained BPE model — the per-feed read that
    // catches wrong-script or gibberish sources (cps → character-level)
    // before they reach training loss; n_chars off the table column,
    // numerators in DECIMAL, one doc-keyed join + source aggregate
    "x142_bpe_compression" -> ((s, dir) =>
      graft.operators.BpeOps.compressionBySource(
        Tables.documents(s, dir), bpeModel(s, dir))),

    // x154 — per-source tokenizer/novelty drift between the x141
    // releases: x142's fertility and the x146 novelty rate computed on
    // prev AND curr, signed relative drift in ppm, flags past the
    // threshold — "which feed went bad THIS release"; word/shingle
    // aggregates meet at |sources| granularity, first-occurrence stays
    // a min-aggregate, drift divisions are sign-magnitude
    "x154_source_drift" -> ((s, dir) =>
      graft.operators.CurationOps.sourceDriftDemo(
        Tables.documents(s, dir), bpeModel(s, dir))),

    // x136 — incremental aggregate refresh: base (90%) and late-batch
    // (10%) partials aggregated separately and MERGED by summing — the
    // materialized-view maintenance pattern; the oracle computes the
    // direct aggregate, so the gate's hash equality IS the
    // refresh-equals-recompute proof
    "x136_incremental_refresh" -> ((s, dir) =>
      graft.streaming.EventStreams.incrementalRefresh(Tables.events(s, dir))),

    // x137 — event-time disorder profile: per type, late arrivals vs the
    // running event-time max in ingest order and the worst lateness —
    // the read that SIZES withWatermark instead of guessing it
    "x137_disorder_profile" -> ((s, dir) =>
      graft.streaming.EventStreams.disorderProfile(Tables.events(s, dir))),

    // x168 — watermark-delay yield curve: x137 sizes the disorder, this
    // prices the knob — per (type, lateness band), the events a
    // withWatermark(d) stream would DROP at every candidate delay d
    "x168_watermark_yield" -> ((s, dir) =>
      graft.streaming.EventStreams.watermarkYieldCurve(Tables.events(s, dir))),

    // x135 — session transition matrix: within-session consecutive event
    // pairs with conditional probability and LIFT vs the base rate (is
    // "B after A" a dependency or just B's popularity); one user window
    // shuffle, |types|²-sized after, margins as windows not join-backs
    "x135_session_transitions" -> ((s, dir) =>
      graft.streaming.EventStreams.sessionTransitions(Tables.events(s, dir))),

    // x133 — temperature-scaled mixture weights: natural vs α=1/2 vs
    // α=1/4 allocation per language; half-integer temperatures = IEEE
    // sqrt (correctly rounded both engines — never libm pow), micro-snap
    // per row then exact integer ppm; one lang-sized aggregate
    "x133_mixture_temperature" -> ((s, dir) =>
      graft.operators.CurationOps.mixtureTemperature(
        Tables.documents(s, dir))),

    // x134 — A/B readout on the event stream: deterministic hash-split
    // arms, conversion = any 'purchase', G² on the 2×2 with the x81
    // double-ratio contract; one user_id shuffle then a 1-row aggregate
    "x134_ab_readout" -> ((s, dir) =>
      graft.operators.ExperimentOps.abReadout(Tables.events(s, dir))),

    // x132 — k-core of the session graph: bounded peel rounds (idempotent
    // at fixpoint so both engines unroll the same 8), degree aggregate +
    // two semi-joins per round; the engagement-depth read beside x119
    // centrality / x123 cohesion / x130 communities
    "x132_session_kcore" -> ((s, dir) =>
      graft.operators.GraphOps.sessionKCore(Tables.events(s, dir))),

    // x131 — batch self-retrieval evaluation: MRR@10 / hit rates of BM25
    // over a query fleet derived from the corpus (first-3-token queries,
    // relevance oracle = the doc itself); the batch-of-queries shape —
    // df/dl as window counts on the matrix, query terms broadcast onto
    // the postings (map-side probe), per-term micros summed exactly
    // nTerms=16: the synthetic corpus draws docs from a small SHARED
    // vocabulary (every token df≈0.75N — no rare terms exist), so short
    // queries carry almost no lexical identity; 16 terms recover
    // MRR≈0.3 and the eval's value is exactly that it MEASURES this
    "x131_retrieval_eval" -> ((s, dir) =>
      graft.operators.RetrievalOps.selfRetrievalEval(
        Tables.documents(s, dir), col("doc_id") % 50 === 0, nTerms = 16)),

    // x130 — label-propagation communities of the session graph:
    // deterministic synchronous LPA (mode label, ties (count desc, label
    // asc) — no randomized visit order), 4 rounds of one dst shuffle
    // each, count + rank-1 mode window sharing it; the density read
    // beside x119 centrality and x23 connectivity. Gated at gap=10 min:
    // the 30-min graph is one dense blob (LPA correctly reports a single
    // community — probed 1389 pairs → 1 label), the 10-min graph has
    // real cut structure (153 pairs → 34 communities at sf0.01)
    "x130_session_communities" -> ((s, dir) =>
      graft.operators.GraphOps.sessionCommunities(Tables.events(s, dir),
        gapMinutes = 10)),

    // x170 — community cohesion: per x130 community, internal vs
    // external edge mass and intra_ppm — did label propagation find
    // real density or paint the graph; same 10-min graph as x130
    "x170_community_cohesion" -> ((s, dir) =>
      graft.operators.GraphOps.sessionCommunityCohesion(
        Tables.events(s, dir), gapMinutes = 10)),

    // x175 — inter-community traffic matrix: per unordered community
    // pair, concurrent-session edges and distinct members per side —
    // the bridge x170's external scalar aggregates away; one label
    // join + ≤|comm|²-row aggregate on the same 10-min graph
    "x175_community_traffic" -> ((s, dir) =>
      graft.operators.GraphOps.sessionCommunityTraffic(
        Tables.events(s, dir), gapMinutes = 10)),

    // x123 — triangle participation in the session-concurrency graph:
    // degree-ordered orientation caps out-degree at O(√m), so the wedge
    // self-join is O(m^1.5) instead of quadratic-in-hub-degree; three
    // equi-join shuffles, no inequality join past the edge set
    "x123_session_triangles" -> ((s, dir) =>
      graft.operators.GraphOps.sessionTriangles(Tables.events(s, dir))),

    // x116 — hard-negative mining: per query, top-8 most-similar corpus
    // vectors with a DIFFERENT label (contrastive-training candidates);
    // IVF probe economics, label inequality before the rank
    "x116_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.IvfOps.hardNegatives(emb,
        emb.filter(col("vec_id") % 100 === 0), ivfModel(s, dir),
        k = 8, nProbe = ivfNProbe(s, dir))
    }),

    // x115 — two-level inverted-list assignment: rank k1=ceil(sqrt(k))
    // super-groups first, then only the centroids inside the p1 nearest
    // groups — O(sqrt(k)·d) per vector, the piece that keeps the
    // corpus-aware k = sqrt(n) rule assignable at 100 TB (flat nearest
    // would be O(sqrt(n)·d)). Hierarchy trained on the CODEBOOK (k×dim,
    // driver-side), never a corpus rescan; oracle replays both ranking
    // levels from super/centroid literals
    "x115_two_level_assign" -> ((s, dir) =>
      graft.operators.IvfOps.assignTwoLevel(Tables.embeddings(s, dir),
        graft.operators.IvfOps.trainTwoLevel(ivfModel(s, dir)))),

    // x113 — semantic-dedup ship manifest: x52's embedding-space drop
    // verdicts composed with x47's best-quality representative rule per
    // semantic duplicate group — the "what actually ships" relation,
    // disagreements between the two rules surfaced per row
    "x113_semdedup_manifest" -> ((s, dir) =>
      graft.operators.IvfOps.semDedupManifest(
        Tables.documents(s, dir), Tables.embeddings(s, dir),
        ivfModel(s, dir), tau = 0.40)),

    // x114 — token-budget selection priced in true subwords: the x37
    // greedy-fill with the cost column upgraded to the trained BPE
    // model's counts — what a training run actually pays per doc
    "x114_subword_budget" -> ((s, dir) =>
      graft.operators.BpeOps.subwordBudgetSample(
        Tables.documents(s, dir), bpeModel(s, dir), budgetSubwords = 20000L)),

    // x111 — in-engine BPE training: the learned merge table (32 rounds
    // over the corpus vocabulary). Oracle: unrolled relational replay of
    // every round from the merge literals (BpeOps.trainSql)
    "x111_bpe_merges" -> ((s, dir) =>
      graft.operators.BpeOps.mergesDf(s, bpeModel(s, dir))),

    // x112 — true per-doc subword counts under the trained BPE model:
    // distinct-word lexicon segmented once, broadcast back onto the
    // corpus — the real tokenizer fertility x102 approximates by regex
    "x112_bpe_subwords" -> ((s, dir) =>
      graft.operators.BpeOps.applyCounts(
        Tables.documents(s, dir), bpeModel(s, dir))),

    // x108 — release audit: ONE verdict per candidate doc — the first
    // failing stage in eval → gate → dup → contamination → ppl-band
    // order, or kept; the composed capstone of the curation stack
    "x108_release_audit" -> ((s, dir) =>
      graft.operators.CurationOps.releaseAudit(Tables.documents(s, dir))),

    // x97 — DSIR hashed n-gram importance weights (Xie et al. 2023):
    // target/raw bucket models over ONE tokenization, broadcast back
    "x97_dsir_weights" -> ((s, dir) =>
      graft.operators.CurationOps.dsirWeights(Tables.documents(s, dir))),

    // x159 — cluster-corrected DSIR sampling mass: x23's simhash
    // components weight each doc 1e6 div cluster_size before the x97
    // importance readout — per source, raw vs soft-dedup-corrected mass
    "x159_cluster_dsir" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.CurationOps.clusterCorrectedDsir(docs)
        .crossJoin(broadcast(DedupOps.simhashGuardAudit(docs)))
    }),

    // x160 — quality-weighted dedup policy delta: per Jaccard band, the
    // victim token/quality mass under keep-lowest-id vs
    // keep-highest-quality — x158 prices the threshold, this prices
    // WHICH copy survives; same single LSH pass + one doc-keyed join
    "x160_policy_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.dedupPolicyDelta(docs)
        .crossJoin(broadcast(DedupOps.lshGuardAudit(docs)))
    }),

    // x161 — cluster-transitive survivor policy delta: per cluster-size
    // band, the victims' token/quality mass under keep-lowest-id vs
    // x47's keep-highest-quality — x160 per pair, this after closure
    "x161_cluster_policy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.clusterPolicyDeltaOf(docs, DedupOps.simhashClusters(docs, 3))
        .crossJoin(broadcast(DedupOps.simhashGuardAudit(docs)))
    }),

    // x98 — Gopher quality-rule battery (Rae et al. 2021 §A1.1): the
    // five single-line-corpus rules as 0/1 gates, pure projection
    "x98_gopher_gates" -> ((s, dir) =>
      graft.operators.CurationOps.gopherGates(Tables.documents(s, dir))),

    // x164 — gate-attribution matrix: per Gopher gate, total vs SOLE
    // kills (docs + token mass) — the 2⁵-combination ablation answered
    // in one pass; zero sole kills = the rule is redundant
    "x164_gate_attribution" -> ((s, dir) =>
      graft.operators.CurationOps.gateAttribution(Tables.documents(s, dir))),

    // x169 — truncation-cap yield curve: per (source, cap) on a 2^k
    // ladder, docs over the cap and the token mass a hard truncation
    // throws away — the max_seq_len decision priced per source
    "x169_truncation_yield" -> ((s, dir) =>
      graft.operators.CurationOps.truncationYield(Tables.documents(s, dir))),

    // x99 — per-source Kolmogorov–Smirnov length drift: exact CDF grid
    // from ONE corpus aggregate, micro-snapped max gap
    "x99_length_ks" -> ((s, dir) =>
      graft.operators.CurationOps.lengthKs(Tables.documents(s, dir))),

    // x102 — tokenizer fertility per source × lang: BPE-ish tokens per
    // word and chars per token, two native byte-scan counters
    "x102_token_fertility" -> ((s, dir) =>
      graft.operators.CurationOps.tokenFertility(Tables.documents(s, dir))),

    // x103 — mixture/epoch planning: available vs budgeted tokens per
    // lang, the epochs>1 oversubscription flag (DoReMi planning half)
    "x103_mixture_plan" -> ((s, dir) =>
      graft.operators.CurationOps.mixturePlan(Tables.documents(s, dir))),

    // x72 — exact duplicated-substring spans (Lee et al. ExactSubstr,
    // re-shaped for Spark): stride-1 window hashing, cross-doc shared
    // windows, gaps-and-islands span merge per doc
    "x72_dup_spans" -> ((s, dir) =>
      SubstringOps.dupSpans(Tables.documents(s, dir), 8)),

    // x73 — the span-cut corpus: per-doc token accounting plus the md5
    // of the text with every duplicated span removed
    "x73_substring_clean" -> ((s, dir) =>
      SubstringOps.substringClean(Tables.documents(s, dir), 8)),

    // x181 — keep-first span-dedup bill: the first document to carry a
    // window's content keeps it, later holders pay the union of their
    // dup spans (ordered-sweep marginal contributions); Σ retained IS
    // the post-dedup corpus size under the production keep-one policy
    "x181_keepfirst_span_bill" -> ((s, dir) =>
      SubstringOps.keepFirstSpanBill(Tables.documents(s, dir), 8)),

    // x77 — cross-source window-overlap matrix: mirror/syndication
    // detection with a max-df guard bounding the self-join fan-out
    "x77_source_overlap" -> ((s, dir) =>
      SubstringOps.sourceOverlap(Tables.documents(s, dir), 8, 64)),

    // x79 — n-gram eval-overlap decontamination (the GPT-3/PaLM exact
    // collision check): broadcast eval windows, one map-side train pass
    "x79_ngram_decontamination" -> ((s, dir) =>
      SubstringOps.ngramDecontamination(Tables.documents(s, dir),
        col("doc_id") % 10 === 0, 8)),

    // x165 — decontamination yield curve: x79's strict any-overlap flag
    // priced per contamination-SHARE band — cumulative from the top is
    // each share threshold's removal bill (docs/tokens/hit windows)
    "x165_decontamination_yield" -> ((s, dir) =>
      SubstringOps.decontaminationYield(Tables.documents(s, dir),
        col("doc_id") % 10 === 0, 8)),

    // x90 — contamination run profile: longest contiguous eval-covered
    // token run per training doc — drop-the-doc vs cut-the-span (x73)
    "x90_contamination_runs" -> ((s, dir) =>
      SubstringOps.contaminationRuns(Tables.documents(s, dir),
        col("doc_id") % 10 === 0, 8)),

    // driver projection stringifies the code array — every hitherto-green
    // query emits scalars only, so list canonicalization in the driver's
    // hasher is unproven; the operator itself returns the array form
    "x20_quantize_embeddings" -> ((s, dir) =>
      SimilarityOps.quantizeEmbeddings(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("norm"),
          concat_ws(",", col("qcode")).as("qcode_str"))),

    // x172 — quantization-bits yield curve: angular error (1−cos)·1e6 of
    // the unit direction quantized at every bit width 2..8 — the
    // ANN-tier storage knob priced in one scan (8 bits IS x20's code)
    "x172_quantization_yield" -> ((s, dir) =>
      SimilarityOps.quantizationYield(Tables.embeddings(s, dir))),

    "x22_ann_quantized" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.quantizedTopK(emb, emb.filter(col("vec_id") % 100 === 0), 8)
    }),

    // IVFADC: inverted-list probe + asymmetric int8-code scoring; oracle
    // generated from the trained centroids — see [[dynamicOracleSql]]
    "x24_ann_adc" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.IvfOps.adcTopK(emb,
        emb.filter(col("vec_id") % 100 === 0), ivfModel(s, dir), k = 8,
        nProbe = ivfNProbe(s, dir))
    }),

    // salted two-stage aggregation equals the plain GROUP BY — the oracle
    // proves the skew-mitigation path is semantics-preserving
    "x21_salted_counts" -> ((s, dir) =>
      graft.operators.SkewOps.saltedCount(
        Tables.events(s, dir), Seq("event_type"), "user_id", buckets = 16)),

    "x25_split_report" -> ((s, dir) =>
      graft.operators.SamplingOps.splitReport(Tables.documents(s, dir))),

    "x26_pack_chunks" -> ((s, dir) =>
      graft.operators.SamplingOps.packChunks(Tables.documents(s, dir))),

    "x27_mixture_rebalance" -> ((s, dir) =>
      graft.operators.SamplingOps.mixtureRebalance(Tables.documents(s, dir))),

    "x28_decontamination" -> ((s, dir) =>
      DedupOps.contaminationReport(Tables.documents(s, dir),
        col("doc_id") % 50 === 0, n = 3)),

    "x29_quota_sample" -> ((s, dir) =>
      graft.operators.SamplingOps.quotaSample(Tables.documents(s, dir),
        col("lang"), 30)),

    "x30_training_pipeline" -> ((s, dir) =>
      graft.operators.SamplingOps.trainingPipeline(Tables.documents(s, dir))),

    "x15_events_hourly" -> ((s, dir) =>
      graft.streaming.EventStreams.hourlyByType(Tables.events(s, dir))),

    // x32 — per-language length-quantile corpus profile (rank-based,
    // engine-exact; the approx_percentile swap is spec-pinned)
    "x32_length_quantiles" -> ((s, dir) =>
      TextOps.lengthQuantiles(Tables.documents(s, dir))),

    // x33 — identifier redaction over an injected-PII fixture (the
    // synthetic corpus carries no emails, so each doc gets a
    // doc_id-varying email + long number prepended on both engines)
    "x33_redaction" -> ((s, dir) =>
      TextOps.redactionReport(Tables.documents(s, dir), x33Hostile)),

    // x34 — word/2-gram repetition ratios (Gopher-style quality signal)
    "x34_repetition" -> ((s, dir) =>
      TextOps.repetitionReport(Tables.documents(s, dir))),

    // x36 — distinctive top terms per language (log-free tf/df score)
    "x36_top_terms" -> ((s, dir) =>
      TextOps.topTerms(Tables.documents(s, dir))),

    // x37 — token-budget sampling (mixtures are specified in tokens)
    "x37_token_budget" -> ((s, dir) =>
      graft.operators.SamplingOps.tokenBudgetSample(
        Tables.documents(s, dir), col("lang"), budgetTokens = 4000L)),

    // x39 — split-leakage audit: n-gram overlap between the train and
    // val buckets of the deterministic hash split (the INTERNAL-leakage
    // complement to x28's external benchmark decontamination)
    "x39_split_leakage" -> ((s, dir) => {
      val b = graft.operators.SamplingOps.hashBucket(col("doc_id"))
      DedupOps.contaminationReport(
        Tables.documents(s, dir).filter(b < 95), b >= 90, n = 3, minShared = 3)
    }),

    // j17 — interval-overlap join: concurrent-session degree per session
    "j17_concurrent_sessions" -> ((s, dir) =>
      graft.operators.TemporalJoins.concurrentSessions(Tables.events(s, dir))),

    "x16_user_sessions" -> ((s, dir) =>
      graft.streaming.EventStreams.userSessions(Tables.events(s, dir), 30)),

    // x167 — sessionization gap-threshold yield curve: the inter-event
    // gap histogram IS the knob — sessions(g) = users + gaps above g;
    // every cutoff priced in one per-user pass
    "x167_session_yield" -> ((s, dir) =>
      graft.streaming.EventStreams.sessionYieldCurve(Tables.events(s, dir))),

    // x40 — Bloom-prefiltered decontamination: bit-identical result to
    // the exact broadcast form (the oracle is the same exact SQL), but
    // the corpus side is pruned map-side by a broadcast Bloom sketch —
    // the 100 TB shape. Different params than x28 so the two gates
    // exercise different shingle widths.
    "x40_bloom_decontamination" -> ((s, dir) =>
      DedupOps.bloomContaminationReport(Tables.documents(s, dir),
        col("doc_id") % 40 === 1, n = 4, minShared = 2)),

    // x41 — sliding-window token chunking (RAG/context-window chunker)
    "x41_doc_chunks" -> ((s, dir) =>
      TextOps.slidingChunks(Tables.documents(s, dir))),

    // x42 — passage-level duplication report (boilerplate detector)
    "x42_passage_dedup" -> ((s, dir) =>
      TextOps.passageDupReport(Tables.documents(s, dir))),

    // x43 — corpus bigram top-K (n-gram LM statistics)
    "x43_bigram_top" -> ((s, dir) =>
      TextOps.bigramTop(Tables.documents(s, dir))),

    // x44 — length gate by the corpus's own per-language quantile band
    "x44_length_gate" -> ((s, dir) =>
      TextOps.lengthGate(Tables.documents(s, dir))),

    // x45 — dedup'd chunk index (x41 composed with global chunk dedup —
    // the RAG-ingest build)
    "x45_chunk_index" -> ((s, dir) =>
      TextOps.chunkIndex(Tables.documents(s, dir))),

    // j18 — j16's aggregate via the range-frame window rewrite: the
    // 10M-pair band join collapses to one sort + one window pass
    // (O(n log n), not O(pairs)); spec-pinned equal to the join form
    "j18_band_stats" -> ((s, dir) =>
      graft.operators.TemporalJoins.valueBandStats(Tables.events(s, dir))),

    // x46 — vocab induction (df >= 3) + per-doc OOV coverage
    "x46_vocab_coverage" -> ((s, dir) =>
      TextOps.vocabCoverage(Tables.documents(s, dir), minDf = 3)),

    // x47 — near-dup cluster collapse to the best-quality representative
    // (LSH/Jaccard pairs at 0.5, x8's generator): the dedup'd manifest
    "x47_cluster_reps" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.clusterRepresentativesOf(docs, DedupOps.lshClusters(docs, 0.5))
    }),

    // x48 — MOSS winnowing fingerprints (windowed k-gram minima)
    "x48_winnowing" -> ((s, dir) =>
      TextOps.winnowingFingerprints(Tables.documents(s, dir))),

    // x49 — BM25 ranked retrieval (fixed query, one scalar-agg broadcast)
    "x49_bm25" -> ((s, dir) =>
      graft.operators.RetrievalOps.bm25TopK(Tables.documents(s, dir))),

    // x50 — LSH candidates verified by Levenshtein edit similarity
    "x50_edit_dup_pairs" -> ((s, dir) =>
      DedupOps.editDistancePairs(Tables.documents(s, dir))),

    // x51 — record linkage: best fuzzy name match per file inside its
    // duplicate-hash group, scored by the native codegen Jaro-Winkler
    // expression (bit-compatible with DuckDB's jaro_winkler_similarity).
    // Group key (md5, dir) bounds pair fan-out; one equi-join shuffle +
    // one window shuffle.
    "x51_name_link" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val v = cat(s, dir).vwFileDetail
        .filter(col("md5_hash").isNotNull)
        .select(col("id"), col("name"), col("md5_hash"), col("dir_id"))
      val jw = graft.functions.SimilarityFunctions
        .jaroWinkler(col("a.name"), col("b.name"))
      val pairs = v.as("a").join(v.as("b"),
          col("a.md5_hash") === col("b.md5_hash") &&
            col("a.dir_id") === col("b.dir_id") && col("a.id") < col("b.id"))
        .select(col("a.id").as("file_a"), col("b.id").as("file_b"),
          floor(jw * lit(1e6) + lit(0.5)).cast("long").as("jw_micro"))
      val w = Window.partitionBy(col("file_a"))
        .orderBy(col("jw_micro").desc, col("file_b"))
      pairs.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
    }),

    // x52 — SemDeDup: cluster-scoped semantic dedup (drops + anchors);
    // same tau as x11's exact global kernel, so recall is inspectable
    "x52_semdedup" -> ((s, dir) =>
      graft.operators.IvfOps.semDedup(
        Tables.embeddings(s, dir), ivfModel(s, dir), tau = 0.40)),

    // x53 — quota sample via the custom bottom-k heap aggregate (no
    // sort; map-side partial aggregation; oracle = the window form)
    "x53_bottomk_sample" -> ((s, dir) =>
      graft.operators.SamplingOps.bottomKSampleAgg(
        Tables.documents(s, dir), k = 25)),

    // x54 — incremental corpus refresh: admit only new content from an
    // incoming batch (anti-join on the normalized key; corpus scanned once)
    "x54_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.incrementalDedup(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0))
    }),

    // x55 — MOSS match report: unaligned cross-doc passage matches via
    // shared winnowing fingerprints (fp equi-join + max-df guard)
    "x55_winnowing_matches" -> ((s, dir) =>
      TextOps.winnowingMatches(Tables.documents(s, dir))),

    // x56 — ordered funnel (view → click → purchase, each step within
    // 1 day of the previous): per-user conditional-min stages, every
    // shuffle on user_id. No raw ts projected (ns rule).
    "x56_funnel" -> ((s, dir) =>
      graft.operators.TemporalJoins.orderedFunnel(
        Tables.events(s, dir), Seq("view", "click", "purchase"), "1 DAY")),

    // x57 — weekly cohort retention matrix: day indices (all-integer
    // epoch-day arithmetic — no engine-specific week definitions), one
    // groupBy for first-seen + one distinct + one matrix agg, all keyed
    // on user_id then the (cohort, offset) pair.
    "x57_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("day"))
      val first = ev.groupBy("user_id").agg(min(col("day")).as("first_day"))
      ev.join(first, Seq("user_id"))
        .select(col("user_id"),
          floor(col("first_day") / 7).cast("long").as("cohort_week"),
          floor((col("day") - col("first_day")) / 7).cast("long").as("week_offset"))
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_users"))
    }),

    // x58 — data-profile audit (per-column rows/nulls/distincts): the
    // validation gate a pipeline runs before training on a new drop.
    // ONE scan, one agg computing every column's triple side by side,
    // unpivoted to rows afterward — at 100 TB the difference between
    // this and a scan per column is the whole job.
    "x58_profile" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val aggs = cols.flatMap { c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        count_distinct(col(c)).as(s"${c}__distinct"))
      }
      docs.agg(count(lit(1)).as("n_rows"), aggs: _*)
        .select(explode(array(cols.map { c =>
          struct(lit(c).as("col_name"), col("n_rows"),
            col(s"${c}__nulls").as("n_nulls"),
            col(s"${c}__distinct").as("n_distinct"))
        }: _*)).as("p"))
        .select(col("p.col_name"), col("p.n_rows"),
          col("p.n_nulls"), col("p.n_distinct"))
    })
  )

  // deterministic staged batch for the M1 verify query: every 4th file
  // changed (size+1, mtime+1h), every 97th orderkey appears as a new file.
  private def m1Staged(s: SparkSession, dir: String, c: Cat): DataFrame = {
    val changed = c.file.filter(col("id") % 4 === 0)
      .select(col("name"), col("dir_id"),
        (col("size") + 1).cast(DecimalType(18, 6)).as("size"),
        col("ctime"),
        (col("mtime") + expr("INTERVAL 1 HOUR")).as("mtime"),
        col("atime"))
    val fresh = Tables.orders(s, dir).filter(col("o_orderkey") % 97 === 0)
      .select(concat(lit("new_"), col("o_orderkey").cast("string")).as("name"),
        (lit(200L) + col("o_orderkey") % 25).as("dir_id"),
        lit(1.5).cast(DecimalType(18, 6)).as("size"),
        lit(t0).as("ctime"), lit(t0).as("mtime"),
        lit(null).cast("timestamp").as("atime"))
    changed.unionByName(fresh)
  }

  // per-doc synthetic PII for the x33 fixture. ONE spec renders BOTH the
  // Spark Column and the DuckDB SQL (like the shared IVF centroid CTE
  // fragments), so the two sides cannot silently desynchronize: a literal
  // string part concatenates as-is, an Int part as `doc_id % m`, and the
  // trailing None as the document text column.
  private val x33Parts: Seq[Either[String, Int]] = Seq(
    Left("reach u"), Right(50), Left("@ex"), Right(3),
    Left(".com or 555123456"), Right(10), Left(" "))

  private def x33Hostile: Column =
    concat(x33Parts.map {
      case Left(s)  => lit(s)
      case Right(m) => (col("doc_id") % m).cast("string")
    } :+ col("text"): _*)

  private val x33HostileSql = (x33Parts.map {
    case Left(s)  => "'" + s.replace("'", "''") + "'"
    case Right(m) => s"CAST(doc_id % $m AS VARCHAR)"
  } :+ "text").mkString(" || ")

  // deterministic staged batch for the M2 verify query: every 4th dir
  // touched (mtime+1h), one new dir per nation under /STAGE.
  private def m2Staged(s: SparkSession, dir: String, c: Cat): DataFrame = {
    val changed = c.directory.filter(col("id") % 4 === 0)
      .select(col("dir_path"), col("ctime"),
        (col("mtime") + expr("INTERVAL 1 HOUR")).as("mtime"))
    val fresh = Tables.nation(s, dir)
      .select(concat(lit("/STAGE/"), col("n_name")).as("dir_path"),
        lit(t0).as("ctime"), lit(t0).as("mtime"))
    changed.unionByName(fresh)
  }

  // ---- DuckDB oracle side ------------------------------------------------

  private val C = Oracle.cte
  private val asOf = s"TIMESTAMP '$asOfLit'"
  private val mTs = "TIMESTAMP '2024-06-01 00:00:00'"

  // the M1 change predicate, null-safe, shared across the m1 oracle columns
  private val m1Changed =
    "(f.size IS DISTINCT FROM s.size OR f.ctime IS DISTINCT FROM s.ctime " +
      "OR f.mtime IS DISTINCT FROM s.mtime OR f.atime IS DISTINCT FROM s.atime)"
  private def m1PickExpr(c: String) =
    s"CASE WHEN s.name IS NOT NULL AND (f.id IS NULL OR $m1Changed) THEN s.$c ELSE f.$c END"
  private def m1Pick(c: String) = s"${m1PickExpr(c)} AS $c"

  // the M2 change predicate (dirs carry only ctime/mtime)
  private val m2Changed =
    "(d.ctime IS DISTINCT FROM s.ctime OR d.mtime IS DISTINCT FROM s.mtime)"

  private val pathOsSql =
    """CASE WHEN starts_with(trim(full_path), '/') AND NOT contains(trim(full_path), '\') THEN 'nix'
      |     WHEN regexp_matches(trim(full_path), '^[A-Za-z]:') AND NOT contains(trim(full_path), '/') THEN 'win'
      |     WHEN contains(trim(full_path), '/') AND NOT contains(trim(full_path), '\') THEN 'nix?'
      |     WHEN contains(trim(full_path), '\') AND NOT contains(trim(full_path), '/') THEN 'win?'
      |     ELSE '' END""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q2_revenue_by_region" ->
      """SELECT r_name, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, o_orderpriority""".stripMargin,

    "q3_top_customers" ->
      """SELECT o_custkey,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_custkey
        |ORDER BY revenue DESC, o_custkey LIMIT 10""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-06-01 00:00:00'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE s_nationkey <> c_nationkey
        |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS nation_revenue,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue,
        |  CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        |GROUP BY year(o_orderdate)""".stripMargin,

    "q13_order_distribution" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |      GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q14_promo_share" ->
      """WITH pr AS (
        |  SELECT
        |    CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_revenue,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |)
        |SELECT promo_revenue, total_revenue,
        |  100.0 * promo_revenue / total_revenue AS promo_share_pct
        |FROM pr""".stripMargin,

    "q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
        |  o_totalprice, total_qty
        |FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING sum(l_quantity) > 200) big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority""".stripMargin,

    "q5_region_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,

    "q6_revenue_pushdown" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.04 AND l_discount <= 0.06
        |  AND l_quantity < 24""".stripMargin,

    "x117_props_extract" ->
      """SELECT event_type, CAST(k // 10 AS BIGINT) AS k_band,
        |  count(*) AS n_events, CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM (SELECT event_type, user_id,
        |        CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |WHERE k IS NOT NULL
        |GROUP BY event_type, k // 10""".stripMargin,

    "x118_hll_calibration" -> graft.operators.SketchOps.hllCalibrationSql(
      "event_type || ':' || CAST(epoch_us(ts) // 86400000000 AS VARCHAR)",
      "user_id"),

    "x119_session_pagerank" -> graft.operators.GraphOps.sessionPageRankSql(),

    "x123_session_triangles" ->
      graft.operators.GraphOps.sessionTrianglesSql(),

    "x130_session_communities" ->
      graft.operators.GraphOps.sessionCommunitiesSql(gapMinutes = 10),
    "x170_community_cohesion" ->
      graft.operators.GraphOps.sessionCommunityCohesionSql(gapMinutes = 10),
    "x175_community_traffic" ->
      graft.operators.GraphOps.sessionCommunityTrafficSql(gapMinutes = 10),

    "x131_retrieval_eval" -> graft.operators.RetrievalOps
      .selfRetrievalEvalSql("doc_id % 50 = 0", nTerms = 16),

    "x132_session_kcore" -> graft.operators.GraphOps.sessionKCoreSql(),

    "x133_mixture_temperature" ->
      graft.operators.CurationOps.mixtureTemperatureSql(),

    "x134_ab_readout" -> graft.operators.ExperimentOps.abReadoutSql(),

    "x135_session_transitions" ->
      graft.streaming.EventStreams.sessionTransitionsSql(),

    "x136_incremental_refresh" ->
      graft.streaming.EventStreams.incrementalRefreshSql(),

    "x137_disorder_profile" ->
      graft.streaming.EventStreams.disorderProfileSql,
    "x168_watermark_yield" ->
      graft.streaming.EventStreams.watermarkYieldCurveSql,

    "x138_water_fill" -> graft.operators.CurationOps.waterFillSql(),
    "x140_value_quantiles" -> graft.operators.QuantileOps
      .eventValueQuantilesSql(Seq("p50" -> 0.50, "p90" -> 0.90, "p99" -> 0.99)),
    "x141_release_diff" -> graft.operators.CurationOps.releaseDiffDemoSql,
    "x143_dictionary_tags" -> graft.operators.DictTagOps.dictionaryTagsSql(),
    "x144_shard_manifest" -> graft.operators.SamplingOps.shardManifestSql(),
    "x146_novelty" -> graft.operators.DedupOps.noveltyScoreSql(),
    "x155_label_consistency" -> SimilarityOps.labelConsistencySql(),
    "x147_fk_audit" -> graft.operators.IntegrityOps.fkAuditSql,
    "x148_quality_percentile" -> TextOps.qualityPercentileSql,
    "x149_lang_mix" -> TextOps.langMixProfileSql(),
    "x150_value_moments" -> graft.operators.QuantileOps.valueMomentsSql,
    "x153_quantile_normalize" -> TextOps.quantileNormalizeSql,
    "x151_dictionary_spans" -> graft.operators.DictTagOps.dictionarySpansSql(),

    "x139_corpus_manifest" ->
      graft.operators.CurationOps.corpusManifestSql,

    "x120_key_skew" ->
      graft.operators.SketchOps.keySkewReportSql("lineitem", "l_partkey"),

    "x121_cms_calibration" ->
      graft.operators.SketchOps.cmsCalibrationSql("lineitem", "l_partkey"),

    "x122_join_size" -> graft.operators.SketchOps.joinSizeCalibrationSql(
      "orders", "o_orderkey", "lineitem", "l_orderkey"),

    "x124_event_bursts" ->
      graft.operators.AnomalyOps.burstReportSql(thresholdX = 1),
    "x166_changepoint" ->
      graft.operators.AnomalyOps.changepointReportSql,
    "x157_user_profiles" ->
      graft.operators.AnomalyOps.userProfilesSql(burstFactor = 2L),

    "x125_margin_calibration" ->
      graft.operators.ClassifyOps.nbMarginCalibrationSql(),

    "x126_zone_map_audit" -> graft.operators.LayoutOps.zoneMapAuditSql(
      "lineitem", "l_partkey", "l_suppkey", "l_orderkey, l_linenumber"),

    "x127_top_component" -> graft.operators.SpectralOps.topComponentSql(),

    "x128_corrected_pairs" ->
      graft.operators.SpectralOps.correctedDupPairsSql(0.40),

    "x129_sample_quantiles" -> TextOps.sampleQuantileCalibrationSql(),

    "q12_priority_lines" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY l_linestatus""".stripMargin,

    "q15_top_supplier" ->
      """WITH q15_rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM q15_rev JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM q15_rev)""".stripMargin,

    "q17_small_quantity" ->
      """WITH q17_pl AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q, l_extendedprice
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand = 'Brand#1'
        |), q17_ag AS (
        |  SELECT l_partkey, CAST(sum(q) AS BIGINT) AS sq, count(*) AS cnt
        |  FROM q17_pl GROUP BY l_partkey
        |)
        |SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS small_qty_revenue,
        |  count(*) AS n_lines
        |FROM q17_pl JOIN q17_ag USING (l_partkey)
        |WHERE 2 * q * cnt < sq""".stripMargin,

    "q19_disjunctive" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size <= 10
        |       AND l_quantity >= 1 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#13' AND p_size <= 25
        |       AND l_quantity >= 10 AND l_quantity <= 30)
        |   OR (p_brand = 'Brand#20' AND p_size <= 50
        |       AND l_quantity >= 20 AND l_quantity <= 40)""".stripMargin,

    "q22_idle_customers" ->
      """WITH q22_cu AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        |  FROM customer
        |  WHERE c_mktsegment IN ('BUILDING','MACHINERY','HOUSEHOLD')
        |), q22_st AS (
        |  SELECT sum(bal) AS sb, count(*) AS cb FROM q22_cu WHERE bal > 0
        |)
        |SELECT c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(bal) AS DOUBLE) AS total_acctbal
        |FROM q22_cu, q22_st
        |WHERE bal * cb > sb
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY c_mktsegment""".stripMargin,

    "q9_profit" ->
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |       - p_retailprice * 0.6 * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS profit,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, year(o_orderdate)""".stripMargin,

    "q11_important_stock" ->
      """WITH q11_val AS (
        |  SELECT l_partkey,
        |    sum(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS BIGINT)) AS value
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON n_nationkey = s_nationkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE n_name = 'NATION_3'
        |  GROUP BY l_partkey
        |)
        |SELECT l_partkey, CAST(value AS DOUBLE) AS stock_value
        |FROM q11_val, (SELECT sum(value) AS tot, count(*) AS np FROM q11_val)
        |WHERE value * np > 2 * tot""".stripMargin,

    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) q16_rel
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1,5,10,15,20,25,30,35)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin,

    "q20_dominant_suppliers" ->
      """WITH q20_ps AS (
        |  SELECT l_partkey, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_type = 'PROMO'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l_partkey, l_suppkey
        |), q20_dom AS (
        |  SELECT l_suppkey, l_partkey FROM (
        |    SELECT *, CAST(sum(sq) OVER (PARTITION BY l_partkey) AS BIGINT) AS tot
        |    FROM q20_ps) q20_w
        |  WHERE 2 * sq > tot
        |)
        |SELECT s_suppkey, s_name, n_name, count(*) AS n_parts_dominated
        |FROM q20_dom
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |GROUP BY s_suppkey, s_name, n_name""".stripMargin,

    "q21_waiting_suppliers" ->
      """WITH q21_pairs AS (
        |  SELECT l_orderkey, l_suppkey,
        |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |        THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY l_orderkey, l_suppkey
        |), q21_w AS (
        |  SELECT *,
        |    count(*) OVER (PARTITION BY l_orderkey) AS n_supps,
        |    CAST(sum(late) OVER (PARTITION BY l_orderkey) AS BIGINT) AS n_late
        |  FROM q21_pairs
        |)
        |SELECT s_suppkey, s_name, numwait FROM (
        |  SELECT l_suppkey, count(*) AS numwait
        |  FROM q21_w
        |  WHERE late = 1 AND n_supps >= 2 AND n_late = 1
        |  GROUP BY l_suppkey
        |  ORDER BY numwait DESC, l_suppkey
        |  LIMIT 10) q21_top
        |JOIN supplier ON s_suppkey = l_suppkey""".stripMargin,

    "f1_search_name" -> (C +
      s"SELECT * FROM vw_ll WHERE name LIKE '%a%' OR ${Oracle.basenameSql("dir_path")} LIKE '%a%'"),

    "f2_search_name_file" -> (C +
      "SELECT * FROM vw_ll WHERE name LIKE 'order_4%.log'"),

    "f3_search_name_dir" -> (C +
      s"SELECT * FROM directory WHERE ${Oracle.basenameSql("dir_path")} LIKE '%_1%'"),

    "f4_search_hash" -> (C +
      s"SELECT * FROM vw_ll WHERE md5_hash = '${md5Hex("2-HIGH#2")}' OR sha1_hash = '${md5Hex("2-HIGH#2")}'"),

    "f8_path_exists" -> (C +
      "SELECT EXISTS(SELECT 1 FROM directory WHERE dir_path = '/AFRICA/NATION_0') AS found_dir, " +
      "EXISTS(SELECT 1 FROM file f JOIN directory d ON f.dir_id = d.id " +
      "WHERE d.dir_path = '/NOPE' AND f.name = 'f.txt') AS found_file"),

    "f9_filter_category" -> (C +
      s"""SELECT full_path, name, size, category FROM vw_file_detail
         |WHERE dir_path LIKE '/A%' AND size > 2
         |  AND ${Oracle.extensionSql("name")} IN ('txt', 'dat')""".stripMargin),

    "v1_vw_ll" -> (C + "SELECT * FROM vw_ll"),

    "v2_vw_file_detail" -> (C + "SELECT * FROM vw_file_detail"),

    "v3_dir_detail" -> (C +
      s"""SELECT d.id AS dir_id, d.dir_path, d.ctime, d.mtime,
         |  coalesce(sd.subdirs, 0) AS subdirs, coalesce(fa.files, 0) AS files,
         |  CAST(coalesce(fa.sz, 0) AS DOUBLE) AS total_size,
         |  fa.first_file_ctime, fa.last_file_ctime, fa.first_file_mtime, fa.last_file_mtime
         |FROM directory d
         |LEFT JOIN (SELECT dir_id, count(id) AS files, sum(coalesce(size, 0)) AS sz,
         |             min(ctime) AS first_file_ctime, max(ctime) AS last_file_ctime,
         |             min(mtime) AS first_file_mtime, max(mtime) AS last_file_mtime
         |           FROM file GROUP BY dir_id) fa ON d.id = fa.dir_id
         |LEFT JOIN (SELECT ${Oracle.basepathSql("dir_path")} AS parent_path, count(*) AS subdirs
         |           FROM directory GROUP BY 1) sd ON d.dir_path = sd.parent_path""".stripMargin),

    "v3b_dir_detail_faithful" -> (C +
      s"""SELECT d.id AS dir_id, d.dir_path, d.ctime, d.mtime,
         |  count(sd.id) AS subdirs, count(f.id) AS files,
         |  CAST(sum(coalesce(f.size, 0)) AS DOUBLE) AS total_size,
         |  min(f.ctime) AS first_file_ctime, max(f.ctime) AS last_file_ctime,
         |  min(f.mtime) AS first_file_mtime, max(f.mtime) AS last_file_mtime
         |FROM directory d
         |LEFT JOIN file f ON d.id = f.dir_id
         |LEFT JOIN directory sd ON d.dir_path = ${Oracle.basepathSql("sd.dir_path")}
         |GROUP BY d.id, d.dir_path, d.ctime, d.mtime""".stripMargin),

    "a2_dir_activity" -> (C +
      """SELECT dir_id, count(*) AS n_items,
        |  min(ctime) AS first_ctime, max(ctime) AS last_ctime,
        |  min(mtime) AS first_mtime, max(mtime) AS last_mtime
        |FROM vw_ll GROUP BY dir_id""".stripMargin),

    "a3_dup_hash_groups" -> (C +
      """SELECT sha1_hash, size, count(*) AS duplicate_count FROM vw_file_detail
        |WHERE sha1_hash IS NOT NULL GROUP BY sha1_hash, size HAVING count(*) > 1""".stripMargin),

    "j5_duplicate_file" -> (C +
      """SELECT DISTINCT h.* FROM vw_ll h
        |JOIN (SELECT * FROM vw_ll WHERE file_id IN (100, 102)) n
        |  ON h.file_id = n.file_id
        |  OR (n.sha1_hash IS NOT NULL AND h.sha1_hash = n.sha1_hash AND h.size = n.size)
        |  OR ((h.sha1_hash IS NULL OR n.sha1_hash IS NULL) AND n.md5_hash IS NOT NULL
        |      AND h.md5_hash = n.md5_hash AND h.size = n.size)""".stripMargin),

    "j7_duplicate_simple" -> (C +
      """SELECT h.* FROM vw_file_detail h
        |JOIN (SELECT DISTINCT sha1_hash, size FROM vw_file_detail WHERE id = 100) n
        |  ON h.sha1_hash = n.sha1_hash AND h.size = n.size""".stripMargin),

    "j8_search_full_path" -> (C +
      """SELECT v.* FROM vw_ll v
        |JOIN (VALUES ('/AFRICA', 'NATION_0'), ('/ASIA/NATION_2', 'archive'),
        |             ('/NOPE', 'x')) AS p(d, n)
        |  ON v.dir_path = p.d AND v.name = p.n""".stripMargin),

    "j9_unscheduled_drives" -> (C +
      """, drive AS (SELECT '/' || r_name AS dir_path FROM region UNION ALL SELECT '/TMP')
        |SELECT d.dir_path FROM drive d
        |WHERE NOT EXISTS (SELECT 1 FROM directory_control c WHERE c.dir_path = d.dir_path)""".stripMargin),

    "j12_files_not_hashed" -> (C +
      """SELECT id, name, dir_id, CAST(size AS DOUBLE) AS size FROM file f
        |WHERE NOT EXISTS (SELECT 1 FROM hash h WHERE h.file_id = f.id)""".stripMargin),

    "j14_descendant_dirs" -> (C +
      "SELECT * FROM directory WHERE starts_with(dir_path, '/EUROPE/') OR starts_with(dir_path, '/EUROPE\\')"),

    "j15_asof_join" -> graft.operators.TemporalJoins.purchaseClickAsOfSql,

    "j16_band_join" -> graft.operators.TemporalJoins.valueBandPairsSql(),

    "t1_dirs_to_crawl" -> (C +
      s"""SELECT dir_path, dir_id, file_count, subdir_count,
         |  CAST(date_diff('second', next_crawl, $asOf) AS DOUBLE) / 3600
         |    + floor(file_count / 100.0) + floor(subdir_count / 100.0) AS priority
         |FROM directory_control
         |WHERE next_crawl < $asOf AND process_assigned_on IS NULL AND NOT dir_missing
         |ORDER BY priority DESC, dir_path LIMIT 20""".stripMargin),

    "t2_files_to_hash" -> (C +
      """SELECT hc.file_id, v.full_path, CAST(hc.file_size AS DOUBLE) AS file_size
        |FROM (SELECT file_id, file_size FROM hash_control
        |      WHERE process_assigned_on IS NULL AND NOT file_missing
        |      ORDER BY file_size, file_id LIMIT 50) hc
        |JOIN vw_file_detail v ON v.id = hc.file_id""".stripMargin),

    "t6_view_scrape_schedule" -> (C +
      """SELECT dir_path, dir_id, file_count, subdir_count, next_crawl,
        |  crawl_frequency, process_assigned_on, last_crawled, last_active, inserted_on
        |FROM directory_control WHERE lower(dir_path) LIKE '/a%'
        |ORDER BY file_count DESC, dir_path LIMIT 25""".stripMargin),

    "p1_path_scalars" -> (C +
      s"""SELECT full_path,
         |  ${Oracle.basepathSql("full_path")} AS parent,
         |  ${Oracle.basenameSql("full_path")} AS base,
         |  ${Oracle.extensionSql("name")} AS ext,
         |  regexp_replace(trim(full_path || '///'), '([^:])?[\\\\|/]+$$', '\\1') AS stripped,
         |  $pathOsSql AS os,
         |  CAST(size AS DOUBLE) * 0.0009765625 AS size_kb
         |FROM vw_ll WHERE type = 'dir' OR file_id % 50 = 0""".stripMargin),

    "m1_upsert_files" -> (C +
      s""", staged AS (
         |  SELECT name, dir_id, CAST(size + 1 AS DECIMAL(18,6)) AS size, ctime,
         |         mtime + INTERVAL 1 HOUR AS mtime, atime
         |  FROM file WHERE id % 4 = 0
         |  UNION ALL
         |  SELECT 'new_' || CAST(o_orderkey AS VARCHAR), CAST(200 + o_orderkey % 25 AS BIGINT),
         |         CAST(1.5 AS DECIMAL(18,6)), TIMESTAMP '2024-01-01 00:00:00',
         |         TIMESTAMP '2024-01-01 00:00:00', CAST(NULL AS TIMESTAMP)
         |  FROM orders WHERE o_orderkey % 97 = 0
         |)
         |SELECT coalesce(f.name, s.name) AS name, coalesce(f.dir_id, s.dir_id) AS dir_id,
         |  CAST(${m1PickExpr("size")} AS DOUBLE) AS size,
         |  ${m1Pick("ctime")}, ${m1Pick("mtime")}, ${m1Pick("atime")},
         |  CASE WHEN f.id IS NULL THEN $mTs ELSE f.inserted_on END AS inserted_on,
         |  CASE WHEN f.id IS NULL THEN $mTs
         |       WHEN s.name IS NOT NULL AND $m1Changed THEN $mTs
         |       ELSE f.updated_on END AS updated_on
         |FROM file f FULL OUTER JOIN staged s ON f.name = s.name AND f.dir_id = s.dir_id""".stripMargin),

    "m1_missing_files" -> (C +
      """SELECT f.id, f.name, f.dir_id FROM file f
        |WHERE f.dir_id BETWEEN 200 AND 204
        |  AND NOT EXISTS (SELECT 1 FROM file s
        |    WHERE s.dir_id BETWEEN 200 AND 204 AND s.id % 10 <> 9
        |      AND s.dir_id = f.dir_id AND s.name = f.name)""".stripMargin),

    "m6_delete_dir_archive" -> (C +
      s"""SELECT id, dir_path, ctime, mtime,
         |  inserted_on AS original_inserted_on, updated_on AS original_updated_on,
         |  $mTs AS deleted_on
         |FROM directory
         |WHERE dir_path = '/EUROPE/NATION_3' OR starts_with(dir_path, '/EUROPE/NATION_3/')
         |   OR starts_with(dir_path, '/EUROPE/NATION_3\\')""".stripMargin),

    "m6_delete_file_archive" -> (C +
      s"""SELECT f.id, f.name, f.dir_id, CAST(f.size AS DOUBLE) AS size,
         |  f.ctime, f.mtime, f.atime,
         |  f.inserted_on AS original_inserted_on, f.updated_on AS original_updated_on,
         |  $mTs AS deleted_on
         |FROM file f JOIN directory d ON f.dir_id = d.id
         |WHERE d.dir_path = '/EUROPE/NATION_3' OR starts_with(d.dir_path, '/EUROPE/NATION_3/')
         |   OR starts_with(d.dir_path, '/EUROPE/NATION_3\\')""".stripMargin),

    "m7_crawl_frequency" -> (C +
      s"""SELECT a.dir_id, a.last_ctime,
         |  CAST(greatest(900, least(604800,
         |    floor(CAST(date_diff('second', coalesce(a.last_ctime, d.inserted_on), $asOf) AS DOUBLE) / 30)
         |  )) AS BIGINT) AS crawl_frequency
         |FROM (SELECT dir_id, max(ctime) AS last_ctime FROM vw_ll GROUP BY dir_id) a
         |JOIN directory d ON d.id = a.dir_id""".stripMargin),

    "v4_dir_contents" -> (C +
      s"""SELECT 'file' AS type, d.dir_path || '/' || f.name AS full_path,
         |  f.dir_id, f.id AS item_id, f.name, CAST(f.size AS DOUBLE) AS file_size,
         |  f.ctime, f.mtime, f.atime,
         |  h.md5_hash, h.md5_hash_time, h.sha1_hash, h.sha1_hash_time
         |FROM file f
         |JOIN directory d ON d.id = f.dir_id AND f.dir_id IN (201, 202, 302)
         |LEFT JOIN hash h ON h.file_id = f.id
         |UNION ALL
         |SELECT 'dir', c.dir_path, p.id, c.id, ${Oracle.basenameSql("c.dir_path")},
         |  CAST(0 AS DOUBLE), c.ctime, c.mtime, CAST(NULL AS TIMESTAMP),
         |  CAST(NULL AS VARCHAR), CAST(NULL AS TIMESTAMP),
         |  CAST(NULL AS VARCHAR), CAST(NULL AS TIMESTAMP)
         |FROM directory c
         |JOIN directory p ON p.dir_path = ${Oracle.basepathSql("c.dir_path")}
         |  AND p.id IN (201, 202, 302)""".stripMargin),

    "m6_delete_files" -> (C +
      s"""SELECT id, name, dir_id, CAST(size AS DOUBLE) AS size, ctime, mtime, atime,
         |  inserted_on AS original_inserted_on, updated_on AS original_updated_on,
         |  $mTs AS deleted_on
         |FROM file WHERE id IN (100, 105, 110)""".stripMargin),

    "f5_wildcard_search" -> (C +
      "SELECT * FROM vw_ll WHERE name LIKE 'order_1%2_.txt'"),

    "f7_ilike_filter" -> (C +
      """SELECT dir_path, dir_id, file_count FROM directory_control
        |WHERE lower(dir_path) LIKE '/africa%'""".stripMargin),

    "j13_staging_gate" -> (C +
      """SELECT dc.dir_path, dc.dir_id FROM directory_control dc
        |WHERE NOT EXISTS (SELECT 1 FROM file s
        |  WHERE s.id % 97 = 0 AND s.dir_id = dc.dir_id)""".stripMargin),

    "t5_result_paging" -> (C +
      """SELECT id, full_path, size FROM vw_file_detail
        |ORDER BY size DESC, id LIMIT 100""".stripMargin),

    "u3_union_distinct" -> (C +
      """SELECT id FROM file WHERE dir_id = 200
        |UNION
        |SELECT id FROM file WHERE size > 5""".stripMargin),

    "a4_distinct" -> (C +
      s"SELECT DISTINCT dir_id, ${Oracle.extensionSql("name")} AS ext FROM file"),

    "a6_rollup" -> (C +
      s"""SELECT ext, dir_mod, count(*) AS n FROM (
         |  SELECT ${Oracle.extensionSql("name")} AS ext, dir_id % 10 AS dir_mod FROM file
         |) GROUP BY ROLLUP (ext, dir_mod)""".stripMargin),

    "u4_intersect_except" -> (C +
      """SELECT id, 'intersect' AS op FROM (
        |  SELECT id FROM file WHERE size > 5
        |  INTERSECT SELECT file_id FROM hash)
        |UNION ALL
        |SELECT id, 'except' FROM (
        |  SELECT id FROM file WHERE size > 5
        |  EXCEPT SELECT file_id FROM hash)""".stripMargin),

    "m10_rescrape" -> (C +
      s"""SELECT dir_path,
         |  CASE WHEN lower(dir_path) LIKE '/europe%' THEN $asOf
         |       ELSE next_crawl END AS next_crawl
         |FROM directory_control""".stripMargin),

    // J6: same OR-of-conjunctions form as j5, with the type guards the
    // mixed-type needle requires (vw_ll dir rows share file_id=0)
    "j6_duplicate_dir" -> (C +
      """SELECT DISTINCT h.* FROM vw_ll h
        |JOIN (SELECT * FROM vw_ll WHERE dir_path = '/AFRICA/NATION_0') n
        |  ON (h.type = 'file' AND n.type = 'file' AND h.file_id = n.file_id)
        |  OR (h.type = 'dir' AND n.type = 'dir' AND h.full_path = n.full_path)
        |  OR (n.sha1_hash IS NOT NULL AND h.sha1_hash = n.sha1_hash AND h.size = n.size)
        |  OR ((h.sha1_hash IS NULL OR n.sha1_hash IS NULL) AND n.md5_hash IS NOT NULL
        |      AND h.md5_hash = n.md5_hash AND h.size = n.size)""".stripMargin),

    "m2_upsert_dirs" -> (C +
      s""", staged AS (
         |  SELECT dir_path, ctime, mtime + INTERVAL 1 HOUR AS mtime
         |  FROM directory WHERE id % 4 = 0
         |  UNION ALL
         |  SELECT '/STAGE/' || n_name, TIMESTAMP '2024-01-01 00:00:00',
         |         TIMESTAMP '2024-01-01 00:00:00'
         |  FROM nation
         |)
         |SELECT coalesce(d.dir_path, s.dir_path) AS dir_path,
         |  CASE WHEN s.dir_path IS NOT NULL AND (d.id IS NULL OR $m2Changed)
         |       THEN s.ctime ELSE d.ctime END AS ctime,
         |  CASE WHEN s.dir_path IS NOT NULL AND (d.id IS NULL OR $m2Changed)
         |       THEN s.mtime ELSE d.mtime END AS mtime,
         |  CASE WHEN d.id IS NULL THEN $mTs ELSE d.inserted_on END AS inserted_on,
         |  CASE WHEN d.id IS NULL THEN $mTs
         |       WHEN s.dir_path IS NOT NULL AND $m2Changed THEN $mTs
         |       ELSE d.updated_on END AS updated_on
         |FROM directory d FULL OUTER JOIN staged s ON d.dir_path = s.dir_path""".stripMargin),

    "m3_mark_crawled" -> (C +
      s""", counts AS (
         |  SELECT dir_id,
         |    sum(CASE WHEN type = 'file' THEN 1 ELSE 0 END) AS fc,
         |    sum(CASE WHEN type = 'dir' THEN 1 ELSE 0 END) AS sc,
         |    max(ctime) AS last_ctime
         |  FROM vw_ll GROUP BY dir_id
         |), crawled AS (
         |  SELECT c.dir_path, c.dir_id,
         |    coalesce(k.fc, 0) AS fc, coalesce(k.sc, 0) AS sc,
         |    CAST(greatest(900, least(604800,
         |      floor(CAST(date_diff('second', coalesce(k.last_ctime, c.inserted_on), $asOf) AS DOUBLE) / 30)
         |    )) AS BIGINT) AS new_freq
         |  FROM directory_control c LEFT JOIN counts k ON k.dir_id = c.dir_id
         |  WHERE c.dir_id BETWEEN 200 AND 299
         |)
         |SELECT c.dir_path, c.dir_id,
         |  CASE WHEN w.dir_path IS NOT NULL THEN CAST(w.fc AS INT)
         |       ELSE c.file_count END AS file_count,
         |  CASE WHEN w.dir_path IS NOT NULL THEN CAST(w.sc AS INT)
         |       ELSE c.subdir_count END AS subdir_count,
         |  CASE WHEN w.dir_path IS NOT NULL AND w.dir_id % 17 = 0
         |         THEN $asOf + to_seconds(3600)
         |       WHEN w.dir_path IS NOT NULL THEN $asOf + to_seconds(w.new_freq)
         |       ELSE c.next_crawl END AS next_crawl,
         |  CASE WHEN w.dir_path IS NOT NULL AND NOT (w.dir_id % 17 = 0)
         |       THEN w.new_freq ELSE CAST(c.crawl_frequency AS BIGINT) END AS crawl_frequency,
         |  c.assigned_process_id,
         |  CASE WHEN w.dir_path IS NOT NULL THEN CAST(NULL AS TIMESTAMP)
         |       ELSE c.process_assigned_on END AS process_assigned_on,
         |  CASE WHEN w.dir_path IS NOT NULL THEN $asOf
         |       ELSE c.last_crawled END AS last_crawled,
         |  c.last_active,
         |  CASE WHEN w.dir_path IS NOT NULL THEN (w.dir_id % 17 = 0)
         |       ELSE c.dir_missing END AS dir_missing,
         |  c.inserted_on
         |FROM directory_control c LEFT JOIN crawled w ON w.dir_path = c.dir_path""".stripMargin),

    // ---- training-data pipeline oracles ---------------------------------

    "x1_token_stats" -> TextOps.tokenCountsSql,
    "x31_ws_tokens" -> {
      val hostile = "translate(text, 'ox', chr(9) || chr(10))"
      s"""SELECT doc_id,
         |  CAST(len(${TextOps.wordsReSql(hostile)}) AS INT) AS ws_tokens,
         |  CAST(len(string_split(trim($hostile), ' ')) AS INT) AS sp_tokens
         |FROM documents""".stripMargin
    },
    "x2_lang_id" -> TextOps.langIdSql,
    "x3_quality_score" -> TextOps.qualityScoreSql,
    "x4_fingerprints" -> TextOps.fingerprintsSql,
    "x5_exact_dedup" -> DedupOps.exactDupGroupsSql,
    "x6_normalized_dedup" -> DedupOps.normalizedDupGroupsSql,
    "x7_minhash_signatures" -> DedupOps.minhashSignaturesSql,
    "x8_lsh_dup_pairs" -> DedupOps.auditedSql(
      DedupOps.lshDupPairsSql(0.5), DedupOps.lshGuardAuditSql()),
    "x156_contamination_matrix" -> DedupOps.contaminationMatrixSql(0.5),
    "x158_dedup_yield" -> DedupOps.auditedSql(
      DedupOps.dedupYieldCurveSql(), DedupOps.lshGuardAuditSql()),
    "x160_policy_delta" -> DedupOps.auditedSql(
      DedupOps.dedupPolicyDeltaSql(), DedupOps.lshGuardAuditSql()),
    "x161_cluster_policy" -> DedupOps.auditedSql(
      DedupOps.clusterPolicyDeltaSql(DedupOps.simhashDupPairsSql(3)),
      DedupOps.simhashGuardAuditSql()),
    "x9_simhash" -> DedupOps.simhashSql,
    "x10_simhash_pairs" -> DedupOps.auditedSql(
      DedupOps.simhashDupPairsSql(3), DedupOps.simhashGuardAuditSql()),
    "x23_dup_clusters" -> DedupOps.auditedSql(
      DedupOps.dupClustersSql(DedupOps.simhashDupPairsSql(3)),
      DedupOps.simhashGuardAuditSql()),
    "x11_cosine_dup_pairs" -> SimilarityOps.cosineDupPairsSql(0.40),
    "x12_ann_topk" -> SimilarityOps.bruteForceTopKSql("vec_id % 100 = 0", 8),
    "x13_ann_lsh_pairs" -> SimilarityOps.lshDupPairsSql(0.30),
    "x14_media_meta" -> MultimodalOps.mediaFixtureSql,
    "x59_audio_meta" -> MultimodalOps.audioFixtureSql,
    "x60_video_meta" -> MultimodalOps.videoFixtureSql,
    "x182_video_frame_dup" -> MultimodalOps.videoFrameDupSql(),
    "x183_kernel_confusion" -> DedupOps.kernelConfusionSql(),
    "x184_hot_buckets" -> DedupOps.hotBucketReportSql(16L),
    "x185_retracted_admission" ->
      graft.operators.NearDupIndex.admissionSqlRetracted("rep % 7 = 0"),
    "x61_image_hashes" -> MultimodalOps.imageHashesSql,
    "x104_image_thumbnail" -> MultimodalOps.imageThumbSql,
    "x105_audio_decimate" -> MultimodalOps.audioSamplesSql(),
    "x62_image_dup_pairs" -> MultimodalOps.imageDupPairsSql(),
    "x63_image_dup_clusters" ->
      DedupOps.dupClustersSql(MultimodalOps.imageDupPairsSql()),
    "x64_audio_fp" -> MultimodalOps.audioFpSql,
    "x65_audio_dup_pairs" -> MultimodalOps.audioDupPairsSql(),
    "x66_audio_dup_clusters" ->
      DedupOps.dupClustersSql(MultimodalOps.audioDupPairsSql()),
    "x17_ngram_jaccard" -> DedupOps.jaccardForSql(
      "SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM documents"),

    "x19_training_selection" -> TextOps.trainingSelectionSql("en", 0.5),
    "x67_lm_score" -> TextOps.lmScoreSql,
    "x68_bigram_lm_score" -> TextOps.bigramLmScoreSql,
    "x69_backoff_lm" -> TextOps.backoffLmScoreSql("doc_id % 10 <> 0"),
    "x70_source_kl" -> TextOps.sourceKlSql,
    "x71_perplexity_band" -> TextOps.perplexityBandSql(3.39, 3.42),
    "x72_dup_spans" -> SubstringOps.dupSpansSql(8),
    "x74_pmi_collocations" -> TextOps.pmiCollocationsSql(5, 50),
    "x80_tfidf_keywords" -> TextOps.tfidfKeywordsSql(5),
    "x81_source_keyness" -> TextOps.sourceKeynessSql(5, 10),
    "x82_priority_sample" -> SamplingOps.prioritySampleSql(100, 7),
    "x83_cluster_split" -> DedupOps.auditedSql(
      SamplingOps.clusterSplitSql(
        DedupOps.dupClustersSql(DedupOps.simhashDupPairsSql(3))),
      DedupOps.simhashGuardAuditSql()),
    "x84_vocab_growth" -> TextOps.vocabGrowthSql(10),
    "x85_hapax_report" -> TextOps.hapaxReportSql,
    "x86_zipf_fit" -> TextOps.zipfFitSql(1000),
    "x87_source_dup_rate" -> DedupOps.sourceDupRateSql,
    "x88_source_js" -> TextOps.sourceJsMatrixSql,
    "x89_minhash_calibration" -> DedupOps.minhashCalibrationSql,
    "x171_signature_yield" -> DedupOps.signatureYieldSql,
    "x91_stratified_priority" -> SamplingOps.prioritySampleByStratumSql(20, 7),
    "x92_length_quality_corr" -> TextOps.lengthQualityCorrSql,
    "x177_source_length_quality" -> TextOps.sourceLengthQualityCorrSql,
    "x93_label_conflicts" -> DedupOps.labelConflictsSql,
    "x94_source_funnel" -> TextOps.sourceFunnelSql(0.5, 10, 500),
    "x95_top_boilerplate" -> SubstringOps.topBoilerplateSql(8, 20),
    "x101_hybrid_rrf" -> graft.operators.RetrievalOps.hybridRrfSql(),
    "x106_nb_confusion" -> graft.operators.ClassifyOps.nbConfusionSql,
    "x108_release_audit" -> graft.operators.CurationOps.releaseAuditSql(),
    "x109_quality_calibration" ->
      graft.operators.CurationOps.qualityCalibrationSql,
    "x107_source_cohesion" -> SimilarityOps.sourceCohesionSql(),
    "x163_source_anisotropy" -> SimilarityOps.sourceAnisotropySql(),
    "x176_release_drift" -> SimilarityOps.releaseDriftSql(),
    "x97_dsir_weights" -> graft.operators.CurationOps.dsirWeightsSql(),
    "x159_cluster_dsir" -> DedupOps.auditedSql(
      graft.operators.CurationOps.clusterCorrectedDsirSql(),
      DedupOps.simhashGuardAuditSql()),
    "x98_gopher_gates" -> graft.operators.CurationOps.gopherGatesSql,
    "x164_gate_attribution" -> graft.operators.CurationOps.gateAttributionSql,
    "x169_truncation_yield" -> graft.operators.CurationOps.truncationYieldSql(),
    "x99_length_ks" -> graft.operators.CurationOps.lengthKsSql,
    "x102_token_fertility" -> graft.operators.CurationOps.tokenFertilitySql,
    "x103_mixture_plan" -> graft.operators.CurationOps.mixturePlanSql(),
    "x75_nb_classifier" -> graft.operators.ClassifyOps.nbLangScoreSql,
    "x76_source_report" -> TextOps.sourceReportSql(0.60),
    "x77_source_overlap" -> SubstringOps.sourceOverlapSql(8, 64),
    "x78_containment_pairs" -> DedupOps.containmentPairsSql(3, 16),
    "x79_ngram_decontamination" ->
      SubstringOps.ngramDecontaminationSql("doc_id % 10 = 0", 8),
    "x165_decontamination_yield" ->
      SubstringOps.decontaminationYieldSql("doc_id % 10 = 0", 8),
    "x90_contamination_runs" ->
      SubstringOps.contaminationRunsSql("doc_id % 10 = 0", 8),
    "x73_substring_clean" -> SubstringOps.substringCleanSql(8),
    "x181_keepfirst_span_bill" -> SubstringOps.keepFirstSpanBillSql(8),
    "x20_quantize_embeddings" ->
      s"""SELECT vec_id, norm, array_to_string(qcode, ',') AS qcode_str
         |FROM (${SimilarityOps.quantizeEmbeddingsSql.replace("\n", "\n      ")}) t""".stripMargin,
    "x21_salted_counts" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    "x22_ann_quantized" -> SimilarityOps.quantizedTopKSql("vec_id % 100 = 0", 8),
    "x172_quantization_yield" -> SimilarityOps.quantizationYieldSql(),

    "x25_split_report" -> graft.operators.SamplingOps.splitReportSql,

    "x26_pack_chunks" -> graft.operators.SamplingOps.packChunksSql(),

    "x27_mixture_rebalance" -> graft.operators.SamplingOps.mixtureRebalanceSql(),

    "x28_decontamination" -> DedupOps.contaminationReportSql("doc_id % 50 = 0", n = 3),

    "x29_quota_sample" -> graft.operators.SamplingOps.quotaSampleSql(30),

    "x30_training_pipeline" -> graft.operators.SamplingOps.trainingPipelineSql(),

    "x15_events_hourly" -> graft.streaming.EventStreams.hourlyByTypeSql,
    "x16_user_sessions" -> graft.streaming.EventStreams.userSessionsSql(30),
    "x167_session_yield" ->
      graft.streaming.EventStreams.sessionYieldCurveSql,
    "x32_length_quantiles" -> TextOps.lengthQuantilesSql(),
    "x33_redaction" -> TextOps.redactionReportSql(s"($x33HostileSql)"),
    "x34_repetition" -> TextOps.repetitionReportSql,
    "x36_top_terms" -> TextOps.topTermsSql(),
    "x37_token_budget" ->
      graft.operators.SamplingOps.tokenBudgetSampleSql(4000L),
    "x39_split_leakage" -> DedupOps.contaminationReportSql(
      s"${graft.operators.SamplingOps.hashBucketSql("doc_id")} >= 90", n = 3,
      minShared = 3,
      rel = s"(SELECT * FROM documents WHERE ${graft.operators.SamplingOps.hashBucketSql("doc_id")} < 95)"),
    "j17_concurrent_sessions" ->
      graft.operators.TemporalJoins.concurrentSessionsSql(30),

    // x40's oracle is the EXACT decontamination SQL — the Bloom pre-filter
    // must be invisible in the result (false positives die in the exact
    // join; the sketch only prunes)
    "x40_bloom_decontamination" -> DedupOps.contaminationReportSql(
      "doc_id % 40 = 1", n = 4, minShared = 2),
    "x41_doc_chunks" -> TextOps.slidingChunksSql(),
    "x42_passage_dedup" -> TextOps.passageDupReportSql(),
    "x43_bigram_top" -> TextOps.bigramTopSql(),
    "x44_length_gate" -> TextOps.lengthGateSql(),
    "x45_chunk_index" -> TextOps.chunkIndexSql(),
    "j18_band_stats" -> graft.operators.TemporalJoins.valueBandStatsSql(),
    "x46_vocab_coverage" -> TextOps.vocabCoverageSql(minDf = 3),
    "x47_cluster_reps" ->
      DedupOps.clusterRepresentativesSql(DedupOps.lshDupPairsSql(0.5)),
    "x48_winnowing" -> TextOps.winnowingFingerprintsSql(),
    "x49_bm25" -> graft.operators.RetrievalOps.bm25TopKSql(),
    "x50_edit_dup_pairs" -> DedupOps.editDistancePairsSql(),
    "x53_bottomk_sample" -> graft.operators.SamplingOps.bottomKSampleAggSql(k = 25),
    "x54_incremental_dedup" -> DedupOps.incrementalDedupSql,
    "x174_neardup_admission" ->
      graft.operators.NearDupIndex.admissionSql(),
    "x178_admission_yield" ->
      graft.operators.NearDupIndex.admissionYieldSql,
    "x179_admission_audit" ->
      graft.operators.NearDupIndex.admissionAuditSql(),
    "x180_index_skew" ->
      graft.operators.NearDupIndex.indexSkewSql,
    "x186_index_virality" ->
      graft.operators.NearDupIndex.viralitySql(),
    "x187_guarded_admission" ->
      graft.operators.NearDupIndex.admissionGuardedSql(maxBucket = 1L),
    "x188_banding_yield" ->
      graft.operators.NearDupIndex.bandingYieldSql(),
    "x189_span_admission" ->
      graft.operators.SpanIndex.admissionSql(),
    "x196_span_takedown" -> graft.operators.SpanIndex.admissionSql(
      indexedWhere = "doc_id % 5 <> 0 AND doc_id % 7 <> 0"),
    "x191_shard_admission" ->
      graft.operators.ShardAdmission.reportSql(),
    // same oracle as x191 BY DESIGN: a bucketed compaction of both
    // indexes must be invisible to every admission decision
    "x194_compacted_admission" ->
      graft.operators.ShardAdmission.reportSql(),
    "x190_admission_confusion" ->
      s"""WITH xc_n AS (
         |${graft.operators.NearDupIndex.admissionSql()}
         |), xc_s AS (
         |${graft.operators.SpanIndex.admissionSql()}
         |)
         |SELECT n.verdict,
         |  CAST(CASE WHEN coalesce(s.n_tokens, 0) > 0
         |    AND s.tokens_cut * 2 >= s.n_tokens THEN 1 ELSE 0 END
         |    AS INTEGER) AS span_heavy,
         |  CAST(count(*) AS BIGINT) AS n_contents,
         |  CAST(sum(coalesce(s.n_tokens, 0)) AS BIGINT) AS tokens,
         |  CAST(sum(coalesce(s.tokens_cut, 0)) AS BIGINT) AS tokens_cut
         |FROM xc_n n LEFT JOIN xc_s s USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,
    "x55_winnowing_matches" -> TextOps.winnowingMatchesSql(),
    "x56_funnel" -> graft.operators.TemporalJoins.orderedFunnelSql(
      Seq("view", "click", "purchase"), "1 DAY"),
    "x57_retention" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
        |  FROM events
        |), f AS (
        |  SELECT user_id, min(day) AS first_day FROM ev GROUP BY user_id
        |), a AS (
        |  SELECT DISTINCT e.user_id,
        |    CAST(floor(f.first_day / 7) AS BIGINT) AS cohort_week,
        |    CAST(floor((e.day - f.first_day) / 7) AS BIGINT) AS week_offset
        |  FROM ev e JOIN f USING (user_id)
        |)
        |SELECT cohort_week, week_offset, count(*) AS n_users
        |FROM a GROUP BY cohort_week, week_offset""".stripMargin,
    "x58_profile" -> Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n"),
    "x51_name_link" -> (C +
      """, p AS (
        |  SELECT a.id AS file_a, b.id AS file_b,
        |    CAST(floor(jaro_winkler_similarity(a.name, b.name)
        |      * CAST('1000000.0' AS DOUBLE) + CAST('0.5' AS DOUBLE)) AS BIGINT) AS jw_micro
        |  FROM vw_file_detail a JOIN vw_file_detail b
        |    ON a.md5_hash = b.md5_hash AND a.dir_id = b.dir_id AND a.id < b.id
        |  WHERE a.md5_hash IS NOT NULL
        |)
        |SELECT file_a, file_b, jw_micro FROM (
        |  SELECT p.*, row_number() OVER (
        |    PARTITION BY file_a ORDER BY jw_micro DESC, file_b) AS rn
        |  FROM p)
        |WHERE rn = 1""".stripMargin)
  )

  /** Oracle SQL that depends on the data (trained models): k-means isn't
    * SQL-expressible, but a TRAINED model's centroids are deterministic
    * literals — so the x18 IVF twin is generated per scale factor and
    * merged into the oracle map by [[Verify]]. */
  def dynamicOracleSql(spark: SparkSession, sfDir: String): Map[String, String] = {
    val model = ivfModel(spark, sfDir)
    val np = graft.operators.IvfOps.adaptiveNProbe(model.centroids.length)
    val bpe = bpeModel(spark, sfDir)
    Map(
      "x111_bpe_merges" -> graft.operators.BpeOps.trainSql(bpe),
      "x112_bpe_subwords" -> graft.operators.BpeOps.applyCountsSql(bpe),
      "x114_subword_budget" -> graft.operators.BpeOps
        .subwordBudgetSampleSql(bpe, budgetSubwords = 20000L),
      "x142_bpe_compression" -> graft.operators.BpeOps
        .compressionBySourceSql(bpe),
      "x145_merge_utilization" -> graft.operators.BpeOps
        .mergeUtilizationSql(bpe),
      "x154_source_drift" -> graft.operators.CurationOps.sourceDriftSql(bpe),
      "x152_prune_reprice" -> graft.operators.BpeOps
        .pruneRepriceCountsSql(bpe, prunedBpeModel(spark, sfDir)),
      "x18_ann_ivf" -> graft.operators.IvfOps.topKSql(
        model, "vec_id % 100 = 0", k = 8, nProbe = np),
      "x24_ann_adc" -> graft.operators.IvfOps.adcTopKSql(
        model, "vec_id % 100 = 0", k = 8, nProbe = np),
      "x192_embed_admission" -> graft.operators.IvfOps.admitVectorsSql(
        model, "vec_id % 5 <> 0", "vec_id % 5 = 0",
        tauMicro = 400000L, nProbe = np),
      // same oracle as x192 BY DESIGN: the distributed (batch-scale)
      // probe form must answer identically to the collected form —
      // the x18/x24 both-paths-gated doctrine on the admission tier
      "x199_distributed_admission" -> graft.operators.IvfOps
        .admitVectorsSql(model, "vec_id % 5 <> 0", "vec_id % 5 = 0",
          tauMicro = 400000L, nProbe = np),
      // the RETRAINED model: trainBounded over the 80% partition is
      // deterministic, so the oracle trains the identical model the
      // fixture's retrain trained and replays admission from its
      // literals at the fixed admission depth
      "x198_retrained_admission" -> graft.operators.IvfOps.admitVectorsSql(
        graft.operators.IvfOps.trainBounded(
          Tables.embeddings(spark, sfDir).filter(col("vec_id") % 5 =!= 0)),
        "vec_id % 5 <> 0", "vec_id % 5 = 0",
        tauMicro = 400000L, nProbe = 8),
      "x193_full_admission" -> graft.operators.ShardAdmission
        .reportFullSql(graft.operators.IvfOps.admitVectorsSql(
          model, "vec_id % 5 <> 0", "vec_id % 5 = 0",
          tauMicro = 400000L, nProbe = np)),
      // same oracle as x193 BY DESIGN: the epoch-sharded ANN layout
      // must answer identically to the flat saveIndex layout
      "x195_epoch_ann_admission" -> graft.operators.ShardAdmission
        .reportFullSql(graft.operators.IvfOps.admitVectorsSql(
          model, "vec_id % 5 <> 0", "vec_id % 5 = 0",
          tauMicro = 400000L, nProbe = np)),
      // same oracle again: extend -> tail-compact -> gc must be
      // invisible to every admission decision (x194's doctrine
      // extended through space reclamation)
      "x200_gc_admission" -> graft.operators.ShardAdmission
        .reportFullSql(graft.operators.IvfOps.admitVectorsSql(
          model, "vec_id % 5 <> 0", "vec_id % 5 = 0",
          tauMicro = 400000L, nProbe = np)),
      "x197_admission_summary" -> graft.operators.ShardAdmission
        .summarySql(graft.operators.IvfOps.admitVectorsSql(
          model, "vec_id % 5 <> 0", "vec_id % 5 = 0",
          tauMicro = 400000L, nProbe = np)),
      "x35_cluster_stats" -> graft.operators.IvfOps.clusterStatsSql(model),
      "x162_probe_yield" -> graft.operators.IvfOps.probeYieldCurveSql(
        model, "vec_id % 100 = 0"),
      "x173_codebook_churn" -> graft.operators.IvfOps.codebookChurnSql(
        model, ivfModel2(spark, sfDir)),
      "x38_cluster_lang_mix" -> graft.operators.IvfOps.clusterLangMixSql(model),
      "x52_semdedup" -> graft.operators.IvfOps.semDedupSql(model, tau = 0.40),
      "x100_proto_prune" ->
        graft.operators.IvfOps.protoPruneSql(model, fraction = 0.25),
      "x110_semantic_leakage" ->
        graft.operators.IvfOps.semanticLeakageSql(model, tau = 0.40),
      "x113_semdedup_manifest" ->
        graft.operators.IvfOps.semDedupManifestSql(model, tau = 0.40),
      "x115_two_level_assign" -> graft.operators.IvfOps.assignTwoLevelSql(
        graft.operators.IvfOps.trainTwoLevel(model)),
      "x116_hard_negatives" -> graft.operators.IvfOps.hardNegativesSql(
        model, "vec_id % 100 = 0", k = 8, nProbe = np),
      "x96_ann_recall" ->
        s"""WITH ar_ex AS (
           |  SELECT query_id, neighbor_id FROM (
           |${SimilarityOps.bruteForceTopKSql("vec_id % 100 = 0", 8)}
           |  )
           |),
           |ar_iv AS (
           |  SELECT query_id, neighbor_id FROM (
           |${graft.operators.IvfOps.topKSql(model, "vec_id % 100 = 0", k = 8, nProbe = np)}
           |  )
           |),
           |ar_hits AS (
           |  SELECT e.query_id, count(*) AS n_hits
           |  FROM ar_ex e JOIN ar_iv i
           |    ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
           |  GROUP BY e.query_id
           |)
           |SELECT x.query_id, count(*) AS n_exact,
           |  CAST(coalesce(min(h.n_hits), 0) AS BIGINT) AS n_hits,
           |  CAST(coalesce(min(h.n_hits), 0) AS DOUBLE) / count(*) AS recall
           |FROM ar_ex x LEFT JOIN ar_hits h ON x.query_id = h.query_id
           |GROUP BY x.query_id""".stripMargin)
  }
}
