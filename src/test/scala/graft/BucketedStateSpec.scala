package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BucketedState, Schemas}
import graft.operators.MergeOps

/** The partial-partition merge must (a) produce the same table a full
  * merge would, and (b) physically leave unaffected bucket directories
  * untouched — that's the O(batch) rewrite property that survives the
  * 100 TB scale-up. */
class BucketedStateSpec extends AnyFunSuite with SparkSuite {

  private val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2024-01-02 00:00:00")

  test("bucketed merge equals full merge and rewrites only affected buckets") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_bucketed").toString
    val state = new BucketedState(spark, root, "file", numBuckets = 8)

    // seed: 400 files across 40 dirs → all 8 buckets populated
    val seed = (1 to 400).map { i =>
      (i.toLong, s"f$i.txt", (i % 40).toLong, BigDecimal(1), t1, t1, t1)
    }.toDF("id", "name", "dir_id", "size", "ctime", "mtime", "atime")
      .withColumn("size", col("size").cast("decimal(18,6)"))
      .withColumn("inserted_on", lit(t1)).withColumn("updated_on", lit(t1))
    state.writeAll(seed, "dir_id")

    // snapshot the on-disk file set per bucket
    import scala.jdk.CollectionConverters._
    def bucketFiles(b: Int): Set[String] = {
      val d = Paths.get(root, "file", s"bucket=$b")
      if (!Files.exists(d)) Set.empty
      else Files.list(d).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    }
    val before = (0 until 8).map(b => b -> bucketFiles(b)).toMap

    // staged batch touches ONLY dirs 3 and 11 → buckets 3 and 3? (3%8=3, 11%8=3)
    // pick dirs 3 (bucket 3) and 12 (bucket 4)
    val staged = Seq(
      ("f3.txt", 3L, BigDecimal(9), t2, t2, t2), // change
      ("brandnew.txt", 12L, BigDecimal(5), t2, t2, t2)) // insert
      .toDF("name", "dir_id", "size", "ctime", "mtime", "atime")
      .withColumn("size", col("size").cast("decimal(18,6)"))

    val affected = state.mergeRound(staged, "dir_id",
      (cur, st) => MergeOps.upsertFiles(cur, st, t2), Schemas.file)
    assert(affected.sorted === Seq(3, 4))

    // (a) logical result equals the full-table merge
    val expected = MergeOps.upsertFiles(seed, staged, t2)
      .select("name", "dir_id", "size", "updated_on")
      .collect().map(_.toSeq).toSet
    val actual = state.read(Schemas.file)
      .select("name", "dir_id", "size", "updated_on")
      .collect().map(_.toSeq).toSet
    assert(actual === expected)

    // (b) untouched buckets are byte-identical on disk
    (0 until 8).filterNot(Seq(3, 4).contains).foreach { b =>
      assert(bucketFiles(b) === before(b), s"bucket $b must be untouched")
    }
    // affected buckets WERE rewritten
    assert(bucketFiles(3) !== before(3))
    assert(bucketFiles(4) !== before(4))
  }

  test("mergeRound physically clears a bucket the merge emptied") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_bucketed_empty").toString
    val state = new BucketedState(spark, root, "file", numBuckets = 4)
    val seed = (1 to 20).map { i =>
      (i.toLong, s"f$i.txt", (i % 4).toLong, BigDecimal(1), t1, t1, t1)
    }.toDF("id", "name", "dir_id", "size", "ctime", "mtime", "atime")
      .withColumn("size", col("size").cast("decimal(18,6)"))
      .withColumn("inserted_on", lit(t1)).withColumn("updated_on", lit(t1))
    state.writeAll(seed, "dir_id")

    // staged batch names dir 2 (bucket 2); the merge deletes every row of
    // that slice — dynamic overwrite writes no partition for it, so the
    // expected-bucket cleanup must remove the stale directory
    val staged = Seq(("whatever.txt", 2L)).toDF("name", "dir_id")
    state.mergeRound(staged, "dir_id", (cur, _) => cur.limit(0), Schemas.file)

    assert(!Files.exists(Paths.get(root, "file", "bucket=2")))
    assert(state.read(Schemas.file).filter(col("dir_id") === 2L).count() === 0)
    assert(state.read(Schemas.file).count() === 15) // other buckets intact
  }
}
