package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LayoutOps

/** Zone-map layout audit (x126): on a uniform 2-D grid the Morton layout
  * must prune BOTH dimensions at ~√(1/files) while the linear layout
  * prunes only its own sort key; accounting must be exact. */
class LayoutOpsSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  /** 64×64 uniform grid, one row per cell — the textbook Morton case. */
  private def grid() = {
    val s = spark
    import s.implicits._
    (for { a <- 0 until 64; b <- 0 until 64 } yield (a.toLong, b.toLong))
      .toDF("a", "b").withColumn("id", col("a") * 64 + col("b"))
  }

  test("exact accounting: every file holds n/files rows; spans inside the global range") {
    val rows = LayoutOps.zoneMapAudit(grid(), col("a"), col("b"),
      Seq(col("id")), files = 16).collect()
    assert(rows.length === 32) // 16 files × 2 layouts
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") === 4096L / 16L)
      assert(r.getAs[Long]("min_a") >= 0L && r.getAs[Long]("max_a") <= 63L)
      assert(r.getAs[Long]("cov_a_ppm") >= 0L &&
        r.getAs[Long]("cov_a_ppm") <= 1000000L)
    }
  }

  test("linear layout: perfect pruning on its key, none on the other dim") {
    val rows = LayoutOps.zoneMapAudit(grid(), col("a"), col("b"),
      Seq(col("id")), files = 16).collect()
      .filter(_.getAs[String]("layout") == "linear_a")
    // 64 a-values over 16 files -> 4 values per file = 62500 ppm
    rows.foreach { r =>
      assert(r.getAs[Long]("cov_a_ppm") === 4L * 1000000L / 64L)
      assert(r.getAs[Long]("cov_b_ppm") === 1000000L,
        "the unsorted dim must span the full range in every file")
    }
  }

  test("zorder layout: both dims cluster at ~sqrt(1/files)") {
    val rows = LayoutOps.zoneMapAudit(grid(), col("a"), col("b"),
      Seq(col("id")), files = 16).collect()
      .filter(_.getAs[String]("layout") == "zorder")
    // 16 files tile the 64×64 grid into 16×16 Morton quadrants:
    // each file spans exactly 16 of 64 values in BOTH dims = 250000 ppm
    rows.foreach { r =>
      assert(r.getAs[Long]("cov_a_ppm") === 250000L,
        s"file ${r.getAs[Long]("file_id")}: ${r}")
      assert(r.getAs[Long]("cov_b_ppm") === 250000L)
    }
  }

  test("writeZOrdered: physical files carry the audit's promise — both dims cluster") {
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    val v1 = LayoutOps.writeZOrdered(grid(), col("a"), col("b"),
      s"$dir/li", files = 16)
    assert(LayoutOps.currentZOrdered(s"$dir/li") === v1)
    val back = spark.read.parquet(LayoutOps.currentZOrdered(s"$dir/li"))
      .withColumn("file", input_file_name())
    assert(back.count() === 4096L, "every row survives the rewrite")
    val spans = back.groupBy("file")
      .agg(count(lit(1)).as("n"),
        (max(col("a")) - min(col("a")) + 1L).as("span_a"),
        (max(col("b")) - min(col("b")) + 1L).as("span_b"))
      .collect()
    assert(spans.length === 16, s"expected 16 physical files, got ${spans.length}")
    // a contiguous Morton interval of ~1/16 of the curve spans at most
    // half the grid in either dim (quadrant-boundary crossings), and on
    // average ~1/4 — the per-dim clustering a single-key sort cannot give
    spans.foreach { r =>
      assert(r.getAs[Long]("span_a") <= 40L && r.getAs[Long]("span_b") <= 40L,
        s"file spans too wide: $r")
    }
    val meanA = spans.map(_.getAs[Long]("span_a")).sum.toDouble / 16 / 64
    val meanB = spans.map(_.getAs[Long]("span_b")).sum.toDouble / 16 / 64
    assert(meanA < 0.40 && meanB < 0.40,
      s"mean coverage a=$meanA b=$meanB — both dims must cluster")
    // exactly-once commit (the writeShards contract): a writer that
    // dies mid-layout (staging half-written, never promoted) leaves
    // the published layout untouched and fully readable
    val stale = new java.io.File(s"$dir/li/.staging")
    stale.mkdirs()
    java.nio.file.Files.writeString(
      stale.toPath.resolve("part-garbage.parquet"), "not parquet")
    assert(LayoutOps.currentZOrdered(s"$dir/li") === v1,
      "a crashed staging write must not move the pointer")
    assert(spark.read.parquet(LayoutOps.currentZOrdered(s"$dir/li")).count()
      === 4096L, "published layout survives a crashed writer")
    // the next successful write reclaims staging and publishes v2;
    // v1 stays intact for rollback
    val v2 = LayoutOps.writeZOrdered(grid(), col("a"), col("b"),
      s"$dir/li", files = 16)
    assert(v2 !== v1)
    assert(LayoutOps.currentZOrdered(s"$dir/li") === v2)
    assert(spark.read.parquet(v1).count() === 4096L,
      "superseded layout stays intact for rollback")
  }

  test("degenerate dimension (constant) never divides by zero") {
    val s = spark
    import s.implicits._
    val df = (0 until 100).map(i => (i.toLong, 7L, i.toLong))
      .toDF("a", "b", "id")
    val rows = LayoutOps.zoneMapAudit(df, col("a"), col("b"),
      Seq(col("id")), files = 4).collect()
    assert(rows.length === 8)
    rows.filter(_.getAs[String]("layout") == "zorder").foreach { r =>
      assert(r.getAs[Long]("min_b") === 7L && r.getAs[Long]("max_b") === 7L)
      assert(r.getAs[Long]("cov_b_ppm") === 1000000L)
    }
  }
}
