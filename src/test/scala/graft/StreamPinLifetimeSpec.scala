package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.core.PinScope
import graft.operators.NearDupIndex

/** A long-lived stream keeps no micro-batch's pins: each `foreachBatch`
  * body runs in its own [[PinScope]], so the signing pins of
  * `NearDupIndex.extendEpoch` are freed when their batch ends instead of
  * accumulating for the life of the query. */
class StreamPinLifetimeSpec extends AnyFunSuite with SparkSuite {

  test("micro-batches after the second leave no persistent RDD behind") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("pin_life").toString
    PinScope(_ => NearDupIndex.buildIndex(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text"), root))
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.NearDupStream.ingest(in.toDF().toDF("doc_id", "text"), root,
      Files.createTempDirectory("pin_life_ck").toString)
    val k = 5
    def batch(i: Int): Unit = {
      in.addData(Seq((10L * i, s"batch $i brings its own distinct words number $i"),
        (10L * i + 1, s"and a second novel document for batch $i as well")))
      q.processAllAvailable()
    }
    try {
      (1 to 2).foreach(batch)
      val afterTwo = spark.sparkContext.getPersistentRDDs.keySet
      (3 to k).foreach(batch)
      val added = spark.sparkContext.getPersistentRDDs.keySet -- afterTwo
      assert(added.isEmpty, s"batches 3..$k left ${added.size} pinned RDDs")
      assert(NearDupIndex.committedEpochs(root).size === k + 1)
    } finally q.stop()
  }
}
