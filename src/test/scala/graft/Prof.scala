package graft

import org.apache.spark.sql.functions._

import graft.core.GraftSession

/** Scratch profiler for optimization rounds: times labeled sub-stages of
  * a query under the bench's exact session shape, by construction: both
  * start theirs with `GraftSession.fromEnv()` (run it with the bench's
  * `SPARK_GRAFT_CPUS`). Not part of the driver contract; keep out of
  * artifacts. */
object Prof {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv()
    def checksum(df: org.apache.spark.sql.DataFrame): Long = {
      val r = df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
        .agg(expr("bit_xor(h)"), count(lit(1))).collect()
      if (r.nonEmpty && !r(0).isNullAt(1)) r(0).getLong(1) else 0L
    }
    // per-job wall times inside each labeled block (SPARK_GRAFT_PROF_JOBS=1)
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    if (sys.env.contains("SPARK_GRAFT_PROF_JOBS"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobStarts.put(j.jobId, (System.nanoTime(),
            Option(j.properties.getProperty("callSite.short")).getOrElse("?")))
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = jobStarts.remove(j.jobId)
          if (s != null) jobLog.add((j.jobId, s._2, System.nanoTime() - s._1))
        }
      })
    // each labeled block runs in its own PinScope: its iteration
    // checkpoints are freed, after the timing, before the next block
    def t[A](label: String)(f: => A): A = graft.core.PinScope { _ =>
      jobLog.clear()
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
      if (sys.env.contains("SPARK_GRAFT_PROF_JOBS")) {
        Thread.sleep(50)
        val it = jobLog.iterator()
        while (it.hasNext) { val (id, site, ns) = it.next()
          println(f"[prof]     job $id%4d ${ns / 1e9}%7.3f s  $site") }
      }
      r
    }
    val only = sys.env.get("SPARK_GRAFT_PROF_ONLY")
    def section(name: String)(body: => Unit): Unit =
      if (only.forall(_.split(",").contains(name))) body
    val ev = graft.core.Tables.events(spark, dir)
    t("warm events scan")(ev.count())
    t("calib")(spark.range(20000000L)
      .select((col("id") % 4096L).as("k"), xxhash64(col("id")).as("h"))
      .groupBy("k").agg(expr("bit_xor(h) AS x")).agg(expr("bit_xor(x)")).collect())

    // ---- x159 decomposition ----
    val docs = graft.core.Tables.documents(spark, dir)
    t("warm docs scan")(docs.count())
    section("x159") {
    t("x23 simhashClusters")(checksum(
      graft.operators.DedupOps.simhashClusters(docs, 3)))
    t("x97 dsirWeights")(checksum(
      graft.operators.CurationOps.dsirWeights(docs)))
    t("x97 dsirWeights warm")(checksum(
      graft.operators.CurationOps.dsirWeights(docs)))
    t("x159 full")(checksum(
      graft.operators.CurationOps.clusterCorrectedDsir(docs)))
    t("x159 full warm")(checksum(
      graft.operators.CurationOps.clusterCorrectedDsir(docs)))
    // dsir sub-stages
    locally {
      val toks = graft.operators.TextOps.wordsRe(col("text"))
      val feats = concat(toks,
        graft.functions.TextExpressions.wsBigramsFast(col("text")))
      val mat = docs
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("lang").isNotNull)
        .select(col("doc_id"), (col("lang") === lit("en")).as("tgt"),
          explode(feats).as("feat"))
        .select(col("doc_id"), col("tgt"),
          coalesce(graft.functions.HashFunctions.polyHash52Fast(col("feat")) %
            lit(4096L), lit(0L)).as("bucket"))
        .groupBy("doc_id", "tgt", "bucket").agg(count(lit(1)).as("occ"))
      t("dsir mat only")(mat.groupBy().agg(count(lit(1))).collect())
      t("dsir mat only again")(mat.groupBy().agg(count(lit(1))).collect())
      t("dsir explode only")(docs
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("lang").isNotNull)
        .select(explode(feats).as("feat")).groupBy().count().collect())
    }
    }
    section("windows") {
    // windows() kernel share
    locally {
      def wins(fast: Boolean) = graft.operators.SubstringOps.windows(
        docs, 8, col("text"), fastHash = fast)
      t("windows fastHash build")(checksum(wins(true)))
      t("windows fastHash build again")(checksum(wins(true)))
      t("windows md5 build")(checksum(wins(false)))
      t("x72 dupSpans full")(checksum(
        graft.operators.SubstringOps.dupSpans(docs)))
    }
    }
    section("graph") {
    t("sessions (no pin)")(
      graft.streaming.EventStreams.userSessions(ev, 30).count())
    t("overlapPairs (includes session pin build)")(
      graft.operators.GraphOps.overlapPairs(ev).count())
    t("overlapPairs again (pin warm)")(
      graft.operators.GraphOps.overlapPairs(ev).count())
    t("x119 pageRank full")(checksum(
      graft.operators.GraphOps.sessionPageRank(ev)))
    t("x119 pageRank again")(checksum(
      graft.operators.GraphOps.sessionPageRank(ev)))
    t("x123 triangles")(checksum(
      graft.operators.GraphOps.sessionTriangles(ev)))
    t("x132 kcore")(checksum(
      graft.operators.GraphOps.sessionKCore(ev)))
    }

    section("admission") {
    // ---- admission stack sub-stages (x193 shape) ----
    val batch = graft.core.Tables.documents(spark, dir)
      .filter(col("doc_id") % 5 === 0)
    val bemb = graft.core.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 5 === 0)
    val ndx = SparkEntry.ndxRoot(spark, dir)
    val spx = SparkEntry.spxRoot(spark, dir)
    val ann = SparkEntry.annAdmitRoot(spark, dir)
    val np = SparkEntry.ivfNProbe(spark, dir)
    t("near admit (cold pins)")(checksum(
      graft.operators.NearDupIndex.admit(batch, ndx)))
    t("near admit (warm)")(checksum(
      graft.operators.NearDupIndex.admit(batch, ndx)))
    t("span bill (cold pins)")(checksum(
      graft.operators.SpanIndex.admitBill(batch, spx)))
    t("span bill (warm)")(checksum(
      graft.operators.SpanIndex.admitBill(batch, spx)))
    t("ann admitVectors")(checksum(
      graft.operators.IvfOps.admitVectors(spark, ann, bemb, 400000L, np)))
    t("ann admitVectors again")(checksum(
      graft.operators.IvfOps.admitVectors(spark, ann, bemb, 400000L, np)))
    t("report (2-tier)")(checksum(
      graft.operators.ShardAdmission.report(batch, ndx, spx)))
    t("x193 reportFull")(checksum(
      graft.operators.ShardAdmission.reportFull(batch, bemb, ndx, spx, ann,
        400000L, np)))
    t("x193 reportFull again")(checksum(
      graft.operators.ShardAdmission.reportFull(batch, bemb, ndx, spx, ann,
        400000L, np)))
    }
    spark.stop()
  }
}
