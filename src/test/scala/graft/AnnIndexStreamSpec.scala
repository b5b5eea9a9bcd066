package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.IvfOps
import graft.streaming.AnnIndexStream

/** Incremental index maintenance: postings streamed in micro-batches
  * under a frozen quantizer must equal the offline-rebuilt index — row
  * for row AND probe for probe. */
class AnnIndexStreamSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("stream-ingested postings == offline index; probe results identical") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val emb = Tables.embeddings(spark, sfDir)
    val model = IvfOps.train(emb, k = 8, iterations = 1)

    val offline = java.nio.file.Files.createTempDirectory("graft_idx_off").toString
    IvfOps.saveIndex(emb, model, offline)

    // streamed twin: frozen centroids + postings arriving in micro-batches
    val streamed = java.nio.file.Files.createTempDirectory("graft_idx_str").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_idx_ckpt").toString
    IvfOps.saveCentroids(spark, model, streamed)
    val rows = emb.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
      .map { case (id, v) => (id, v.toSeq) }
    val in = MemoryStream[(Long, Seq[Double])]
    val q = AnnIndexStream.ingest(
      in.toDF().toDF("vec_id", "embedding"), model, streamed, ckpt)
    rows.grouped(50).foreach { chunk =>   // many micro-batches: the
      in.addData(chunk.toIndexedSeq)      // small-file accretion the
      q.processAllAvailable()             // compaction test needs
    }
    q.stop()

    def postingSet(dir: String) =
      spark.read.parquet(s"$dir/postings")
        .select(col("vec_id"), col("centroid_id"),
          col("qcode").cast("array<int>"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1),
          r.getSeq[Int](2).toList)).toSet

    val off = postingSet(offline)
    val str = postingSet(streamed)
    assert(str === off, "streamed postings must equal the offline build")
    assert(off.size === rows.length)

    // probe parity: identical ADC results from either index
    val queries = emb.filter(col("vec_id") % 100 === 0)
    def probe(dir: String) =
      IvfOps.adcTopKFromIndex(spark, dir, queries, k = 5, nProbe = 3)
        .collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_cos"),
          r.getAs[Int]("rank"))).toSet
    val a = probe(offline)
    assert(a === probe(streamed) && a.nonEmpty)

    // ---- compaction: many micro-batch files → ≤ ceil(rows/target)
    // files per inverted list, probe-identical, atomically swappable
    val rawFiles = spark.read.parquet(s"$streamed/postings")
      .select(input_file_name().as("f")).distinct().count()
    assert(rawFiles > 8, s"fixture accreted only $rawFiles files")
    val target = 100L
    val compactBase = java.nio.file.Files
      .createTempDirectory("graft_idx_cmp").toString
    val compactDir = s"$compactBase/new"
    AnnIndexStream.compactIndex(spark, streamed, compactDir, target)
    val perList = spark.read.parquet(s"$compactDir/postings")
      .select(col("centroid_id"), input_file_name().as("f"))
      .groupBy("centroid_id")
      .agg(countDistinct(col("f")).as("files"), count(lit(1)).as("rows"))
      .collect()
    perList.foreach { r =>
      val files = r.getLong(1); val n = r.getLong(2)
      val quota = (n + target - 1) / target
      assert(files <= quota,
        s"list ${r.getInt(0)}: $files files for $n rows (quota $quota)")
    }
    // content + probe parity with the uncompacted index
    assert(postingSet(compactDir) === str)
    assert(probe(compactDir) === a)
    // versioned promotion: the CURRENT pointer always resolves — two
    // compacted epochs promote as v1 then v2; at every point the live
    // name reads a fully consistent index, the superseded version
    // stays in place (rollback = pointer rewrite), and the streaming
    // sink dir never moves (its manifest pins absolute paths)
    val root = s"$compactBase/root"
    val compactDir2 = s"$compactBase/new2"
    AnnIndexStream.compactIndex(spark, streamed, compactDir2, target * 2)
    val v1 = AnnIndexStream.promoteIndex(root, compactDir)
    assert(AnnIndexStream.currentIndexDir(root) === v1)
    assert(probe(AnnIndexStream.currentIndexDir(root)) === a)
    val v2 = AnnIndexStream.promoteIndex(root, compactDir2)
    assert(AnnIndexStream.currentIndexDir(root) === v2)
    assert(probe(AnnIndexStream.currentIndexDir(root)) === a,
      "post-promotion live index must probe identically")
    assert(probe(v1) === a,
      "superseded version must stay intact for rollback")
    assert(!new java.io.File(s"$root/CURRENT.tmp").exists(),
      "pointer rewrite must leave no temp file")
    assert(new java.io.File(s"$streamed/postings/_spark_metadata").exists(),
      "the streaming sink epoch is never moved by promotion")

    // ---- retraction: the takedown path — rewrite WITHOUT the named
    // vectors (a filtered compaction), promote; probes stop seeing
    // them atomically, prior versions keep them for rollback
    val retractDir = s"$compactBase/retracted"
    AnnIndexStream.retractIndex(spark, streamed, retractDir,
      rows.map(_._1).filter(_ % 7 == 0).toIndexedSeq.toDF("vec_id"), target)
    val offlineKept = java.nio.file.Files
      .createTempDirectory("graft_idx_off2").toString
    IvfOps.saveIndex(emb.filter(col("vec_id") % 7 =!= 0), model, offlineKept)
    assert(postingSet(retractDir) === postingSet(offlineKept),
      "retracted index == offline build over the survivor corpus")
    val v3 = AnnIndexStream.promoteIndex(root, retractDir)
    assert(AnnIndexStream.currentIndexDir(root) === v3)
    val live = probe(AnnIndexStream.currentIndexDir(root))
    assert(live.nonEmpty && live.forall { case (_, nid, _, _) => nid % 7 != 0 },
      "no retracted vector may surface from the live index")
    assert(probe(v2) === a,
      "prior version keeps the retracted vectors for rollback/audit")
  }
}
