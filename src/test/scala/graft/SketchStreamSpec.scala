package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SketchOps

final case class SketchEvent(grp: String, item: String)

/** Live HLL registers (the x118 streaming twin): after every arrival
  * prefix the streamed register table equals the batch registers on the
  * same rows, estimate-on-read over the live table equals the batch
  * gate's estimate, and a replayed micro-batch moves nothing (max is
  * idempotent). */
class SketchStreamSpec extends AnyFunSuite with SparkSuite {

  private def regSnapshot(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("streamed registers == batch registers after every prefix; estimate matches on read") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batch1 = (0 until 300).map(i => SketchEvent("a", s"u$i")) ++
      (0 until 40).map(i => SketchEvent("b", s"v$i"))
    val batch2 = (250 until 700).map(i => SketchEvent("a", s"u$i")) ++
      (0 until 40).map(i => SketchEvent("b", s"v$i")) // pure replay for b

    val in = MemoryStream[SketchEvent]
    val q = SketchOps.registers(in.toDF(), col("grp"), col("item"), 256)
      .writeStream.format("memory").queryName("hll_regs")
      .outputMode("complete").start()
    try {
      for ((prefix, adds) <- Seq((batch1, batch1), (batch1 ++ batch2, batch2))) {
        in.addData(adds); q.processAllAvailable()
        val live = spark.table("hll_regs")
        assert(regSnapshot(live) === regSnapshot(
          SketchOps.registers(prefix.toDF(), col("grp"), col("item"), 256)),
          s"registers diverged at prefix of ${prefix.size}")
        val onRead = SketchOps.estimateFromRegisters(live, 256)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val gate = SketchOps.hllCalibration(prefix.toDF(), col("grp"), col("item"))
          .collect().map(r => r.getString(0) -> r.getAs[Long]("n_est")).toMap
        assert(onRead === gate,
          "estimate-on-read must equal the batch gate's estimate")
      }
      // batch2 replayed b's items verbatim: its registers must be the
      // batch1 values unchanged (idempotent max — exactly-once for free)
      val bRegs = regSnapshot(spark.table("hll_regs").filter(col("g") === "b"))
      val bBatch1 = regSnapshot(
        SketchOps.registers(batch1.toDF(), col("grp"), col("item"), 256)
          .filter(col("g") === "b"))
      assert(bRegs === bBatch1, "replayed arrivals must not move registers")
    } finally q.stop()
  }

  test("live CMS counters == batch counters after every prefix (sums merge law)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batch1 = (0 until 400).map(i => SketchEvent("x", s"k${i % 23}"))
    val batch2 = (0 until 300).map(i => SketchEvent("x", s"k${i % 57}"))

    def cmsSnap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    def batchCounters(rows: Seq[SketchEvent]) =
      SketchOps.cmsCounters(
        rows.toDF().groupBy(col("item").as("k")).agg(count(lit(1)).as("cnt"))
          .select(col("k"), col("cnt")), d = 4, w = 64)

    val in = MemoryStream[SketchEvent]
    val q = SketchOps.cmsCounters(
        in.toDF().select(col("item").cast("string").as("k"), lit(1L).as("cnt")),
        d = 4, w = 64)
      .writeStream.format("memory").queryName("cms_live")
      .outputMode("complete").start()
    try {
      for ((prefix, adds) <- Seq((batch1, batch1), (batch1 ++ batch2, batch2))) {
        in.addData(adds); q.processAllAvailable()
        assert(cmsSnap(spark.table("cms_live")) ===
          cmsSnap(batchCounters(prefix)),
          s"counters diverged at prefix of ${prefix.size}")
      }
    } finally q.stop()
  }

  test("live moments profile == batch x150 after every prefix (mergeable stats)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batch1 = (0 until 200).map(i => ("click", (i % 37) * 0.25 + 0.01)) ++
      (0 until 90).map(i => ("view", (i % 11) * 3.5))
    val batch2 = (0 until 150).map(i => ("click", (i % 53) * 1.75)) ++
      (0 until 60).map(i => ("error", i * 0.125))

    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
        .sortBy(_._1).toSeq

    val in = MemoryStream[(String, Double)]
    val q = graft.operators.QuantileOps.valueMoments(
        in.toDF().toDF("event_type", "value"))
      .writeStream.format("memory").queryName("moments_live")
      .outputMode("complete").start()
    try {
      for ((prefix, adds) <- Seq((batch1, batch1), (batch1 ++ batch2, batch2))) {
        in.addData(adds); q.processAllAvailable()
        assert(snap(spark.table("moments_live")) ===
          snap(graft.operators.QuantileOps.valueMoments(
            prefix.toDF("event_type", "value"))),
          s"moments diverged at prefix of ${prefix.size}")
      }
    } finally q.stop()
  }

  test("live profile panel -> finish == batch x157 after every prefix") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val batch1 = Seq((1L, "view", 0L), (1L, "click", 600L),
      (2L, "view", 100L), (2L, "view", 101L), (2L, "view", 102L))
    val batch2 = Seq((1L, "click", 1200L), (3L, "purchase", 50L)) ++
      (0 until 10).map(i => (2L, "view", 200L + i))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getInt(7))).sortBy(_._1).toSeq
    val in = MemoryStream[(Long, String, Long)]
    val q = graft.operators.AnomalyOps.profilePanel(
        in.toDF().toDF("user_id", "event_type", "sec")
          .withColumn("ts", col("sec").cast("timestamp")).drop("sec"))
      .writeStream.format("memory").queryName("profile_panel")
      .outputMode("complete").start()
    try {
      for ((prefix, adds) <- Seq((batch1, batch1),
          (batch1 ++ batch2, batch2))) {
        in.addData(adds); q.processAllAvailable()
        // snapshot-then-finish: the finishing read is multi-job (vote +
        // stats joins) and a complete-mode sink may rewrite between
        // jobs — any live reader should pin a consistent snapshot
        // first (localCheckpoint; a production reader would read the
        // published table version). Also the only supported shape:
        // joining derivations of the raw sink view trips Spark's
        // self-join dedup on MemoryPlan views.
        val live = graft.operators.AnomalyOps.profilesFromPanel(
          spark.table("profile_panel").localCheckpoint(true),
          burstFactor = 2L)
        val batch = graft.operators.AnomalyOps.userProfiles(
          prefix.map { case (u, t, sec) => (u, t, ts(sec)) }
            .toDF("user_id", "event_type", "ts"), burstFactor = 2L)
        assert(snap(live) === snap(batch),
          s"profiles diverged at prefix of ${prefix.size}")
      }
    } finally q.stop()
  }

  test("live anisotropy panel -> finish == batch x163 after every prefix") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (10L, "b"), (11L, "b"))
      .toDF("doc_id", "source")
    val e0 = Array(1.0f, 0.0f); val e1 = Array(0.0f, 1.0f)
    val batch1 = Seq((1L, e0), (10L, e1))
    val batch2 = Seq((2L, e0), (3L, Array(0.6f, 0.8f)), (11L, e1))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).sortBy(_._1).toSeq
    val in = MemoryStream[(Long, Array[Float])]
    val q = graft.operators.SimilarityOps.anisotropyPanel(
        docs, in.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("aniso_panel")
      .outputMode("complete").start()
    try {
      for ((prefix, adds) <- Seq((batch1, batch1),
          (batch1 ++ batch2, batch2))) {
        in.addData(adds); q.processAllAvailable()
        val live = graft.operators.SimilarityOps.anisotropyFromPanel(
          spark.table("aniso_panel").localCheckpoint(true))
        val batch = graft.operators.SimilarityOps.sourceAnisotropy(
          docs, prefix.toDF("vec_id", "embedding"))
        assert(snap(live) === snap(batch),
          s"anisotropy diverged at prefix of ${prefix.size}")
      }
    } finally q.stop()
  }

  test("two live panels -> driftFromPanels == batch x176 after every prefix") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (10L, "b"), (11L, "b"))
      .toDF("doc_id", "source")
    // release A drifts source "a" toward the y axis; B stays put
    val a1 = Seq((1L, Array(1.0f, 0.0f)), (10L, Array(0.0f, 1.0f)))
    val a2 = Seq((2L, Array(0.6f, 0.8f)), (11L, Array(0.0f, 1.0f)))
    val b1 = Seq((1L, Array(0.0f, 1.0f)), (10L, Array(0.0f, 1.0f)))
    val b2 = Seq((2L, Array(0.0f, 1.0f)), (11L, Array(1.0f, 0.0f)))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Long]))).sortBy(_._1).toSeq
    val inA = MemoryStream[(Long, Array[Float])]
    val inB = MemoryStream[(Long, Array[Float])]
    val qA = graft.operators.SimilarityOps.anisotropyPanel(
        docs, inA.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("drift_panel_a")
      .outputMode("complete").start()
    val qB = graft.operators.SimilarityOps.anisotropyPanel(
        docs, inB.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("drift_panel_b")
      .outputMode("complete").start()
    try {
      for (((pa, aa), (pb, ab)) <- Seq(((a1, a1), (b1, b1)),
          ((a1 ++ a2, a2), (b1 ++ b2, b2)))) {
        inA.addData(aa); qA.processAllAvailable()
        inB.addData(ab); qB.processAllAvailable()
        val live = graft.operators.SimilarityOps.driftFromPanels(
          spark.table("drift_panel_a").localCheckpoint(true),
          spark.table("drift_panel_b").localCheckpoint(true))
        val batch = graft.operators.SimilarityOps.releaseDrift(docs,
          pa.toDF("vec_id", "embedding"), pb.toDF("vec_id", "embedding"))
        assert(snap(live) === snap(batch),
          s"drift diverged at prefix of ${pa.size}")
        assert(snap(live).nonEmpty, "fixture must produce drift rows")
      }
    } finally { qA.stop(); qB.stop() }
  }
}
