package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SketchOps

/** HLL distinct-estimate calibration (x118): the estimate must equal a
  * driver-side reference computing the SAME portable arithmetic, the
  * registers must obey the sketch merge law (max-merge of split halves
  * == registers of the whole), and the error must sit inside the
  * published 1.04/√m envelope on a known-cardinality fixture. */
class SketchOpsSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  /** Driver-side reference: identical md5 hash, registers, estimator. */
  private def referenceHll(items: Seq[String], m: Int): Long = {
    val regs = new Array[Int](m)
    items.foreach { it =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(it.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.take(15), 16)
      val bucket = (h % m).toInt
      val w = h / m
      val rho = if (w == 0L) 53 else 53 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > regs(bucket)) regs(bucket) = rho
    }
    val hs = regs.map(r => 1L << (53 - r)).sum
    val zeros = regs.count(_ == 0)
    val estRaw = (0.7213 / (1.0 + 1.079 / m)) * m * m * 9007199254740992.0 / hs.toDouble
    val est = if (estRaw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
              else estRaw
    math.floor(est + 0.5).toLong
  }

  private def fixture(n: Int, dupFactor: Int) = {
    val s = spark
    import s.implicits._
    // dupFactor copies of each distinct item — HLL must be insensitive
    (0 until n).flatMap(i => Seq.fill(dupFactor)(("g1", s"user_$i")))
      .toDF("grp", "item")
  }

  test("estimate equals the driver-side reference arithmetic exactly") {
    for (n <- Seq(10, 150, 1500, 5000)) {
      val df = fixture(n, dupFactor = 3)
      val row = SketchOps.hllCalibration(df, col("grp"), col("item"))
        .collect().head
      val ref = referenceHll((0 until n).map(i => s"user_$i"), m = 256)
      assert(row.getAs[Long]("n_exact") === n.toLong)
      assert(row.getAs[Long]("n_est") === ref,
        s"n=$n: engine estimate ${row.getAs[Long]("n_est")} != reference $ref")
    }
  }

  test("error sits inside the HLL envelope on known cardinalities") {
    for (n <- Seq(150, 1500, 20000)) {
      val df = fixture(n, dupFactor = 2)
      val err = SketchOps.hllCalibration(df, col("grp"), col("item"))
        .collect().head.getAs[Double]("rel_err")
      // 1.04/sqrt(256) = 6.5% standard error; allow 3 sigma
      assert(err < 3 * 1.04 / 16.0, s"n=$n: rel_err $err outside 3σ envelope")
    }
  }

  test("registers obey the merge law: max-merge of halves == whole") {
    val df = fixture(4000, dupFactor = 1)
    val whole = SketchOps.registers(df, col("grp"), col("item"), 256)
      .collect().map(r => (r.getInt(1), r.getInt(2))).toMap
    val h1 = SketchOps.registers(df.filter(xxhash64(col("item")) % 2 === 0),
      col("grp"), col("item"), 256)
      .collect().map(r => (r.getInt(1), r.getInt(2))).toMap
    val h2 = SketchOps.registers(df.filter(xxhash64(col("item")) % 2 =!= 0),
      col("grp"), col("item"), 256)
      .collect().map(r => (r.getInt(1), r.getInt(2))).toMap
    val merged = (h1.keySet ++ h2.keySet).map { b =>
      b -> math.max(h1.getOrElse(b, 0), h2.getOrElse(b, 0))
    }.toMap
    assert(merged === whole,
      "sharded registers max-merged must equal the whole-data registers")
  }

  test("duplicates never move the estimate (the point of the sketch)") {
    val once = SketchOps.hllCalibration(fixture(800, 1), col("grp"), col("item"))
      .collect().head.getAs[Long]("n_est")
    val many = SketchOps.hllCalibration(fixture(800, 7), col("grp"), col("item"))
      .collect().head.getAs[Long]("n_est")
    assert(once === many)
  }

  test("CMS never underestimates, and is exact when a key owns its row-minimum cell") {
    val s = spark
    import s.implicits._
    val df = (Seq.fill(900)("whale") ++
      (0 until 300).flatMap(i => Seq.fill(3)(s"key_$i"))).toDF("k")
    val rows = SketchOps.cmsCalibration(df, col("k"), d = 4, w = 512, topK = 10)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("over_cnt") >= 0L,
        s"CMS must never underestimate: $r")
      assert(r.getAs[Long]("n_est") ===
        r.getAs[Long]("n_exact") + r.getAs[Long]("over_cnt"))
    }
    val whale = rows.find(_.getAs[String]("key") == "whale").get
    assert(whale.getAs[Long]("n_exact") === 900L)
    // 301 keys over 4 independent 512-cell rows: the chance every row
    // collides the whale is ~(301/512)^4 < 12% per seed family; this
    // hash family (md5, fixed seeds) is deterministic — pin the outcome
    assert(whale.getAs[Long]("n_est") === 900L,
      s"whale should own a collision-free cell in some row: $whale")
  }

  test("CMS counters obey the merge law: shard sums add to the whole") {
    val s = spark
    import s.implicits._
    val df = (0 until 2000).map(i => s"key_${i % 97}").toDF("k")
    def counts(d: org.apache.spark.sql.DataFrame) =
      d.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
    def tab(d: org.apache.spark.sql.DataFrame) =
      SketchOps.cmsCounters(counts(d), 4, 64)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val whole = tab(df)
    val h1 = tab(df.filter(xxhash64(col("k")) % 2 === 0))
    val h2 = tab(df.filter(xxhash64(col("k")) % 2 =!= 0))
    val merged = (h1.keySet ++ h2.keySet).map { c =>
      c -> (h1.getOrElse(c, 0L) + h2.getOrElse(c, 0L))
    }.toMap
    assert(merged === whole,
      "sharded counters summed must equal the whole-data counters")
  }

  test("keySkewReport surfaces a planted heavy hitter with exact accounting") {
    val s = spark
    import s.implicits._
    // 1 key with 5000 rows + 500 keys with 10 rows each
    val df = (Seq.fill(5000)("whale") ++
      (0 until 500).flatMap(i => Seq.fill(10)(s"key_$i"))).toDF("k")
    val rows = SketchOps.keySkewReport(df, col("k"), p = 8).collect()
    assert(rows.map(_.getAs[Long]("n_rows")).sum === 10000L)
    assert(rows.map(_.getAs[Long]("n_keys")).sum === 501L)
    val whalePart = rows.find(_.getAs[String]("top_key") == "whale").get
    assert(whalePart.getAs[Long]("top_key_cnt") === 5000L)
    // the whale's partition must carry > 4x the mean load (4e6 ppm)
    assert(whalePart.getAs[Long]("load_ppm") > 4000000L,
      s"planted skew must dominate its partition: $whalePart")
    // ppm accounting: each load_ppm == n_rows * p * 1e6 / total exactly
    rows.foreach { r =>
      assert(r.getAs[Long]("load_ppm") ===
        r.getAs[Long]("n_rows") * 8L * 1000000L / 10000L)
    }
  }

  test("keySkewReport: window and per-partition aggregate share one exchange") {
    val s = spark
    import s.implicits._
    val df = (0 until 1000).map(i => s"key_${i % 37}").toDF("k")
    val plan = SketchOps.keySkewReport(df, col("k"), p = 8)
      .queryExecution.executedPlan.toString
    // key-count shuffle + part shuffle; the final 1-row total broadcasts
    assert(plan.split("Exchange hash").length - 1 === 2,
      s"expected exactly 2 hash exchanges (key agg, part window+agg):\n$plan")
  }

  test("joinSizeCalibration: never undercounts, exact accounting, wide-table exactness") {
    val s = spark
    import s.implicits._
    // FK shape: 40 orders, 1-5 lines each -> exact join size = total lines
    val orders = (1 to 40).map(i => s"o$i").toDF("ok")
    val lines = (1 to 40).flatMap(i => Seq.fill(1 + i % 5)(s"o$i"))
      .toDF("lk")
    val nLines = (1 to 40).map(i => 1 + i % 5).sum.toLong
    val r = SketchOps.joinSizeCalibration(orders, col("ok"), lines,
      col("lk"), d = 4, w = 64).collect().head
    assert(r.getAs[Long]("n_rows_a") === 40L)
    assert(r.getAs[Long]("n_rows_b") === nLines)
    assert(r.getAs[Long]("n_keys_a") === 40L)
    assert(r.getAs[Long]("n_keys_b") === 40L)
    assert(r.getAs[Long]("join_exact") === nLines)
    assert(r.getAs[Long]("join_est") >= nLines,
      "CMS inner product must never undercount")
    assert(r.getAs[Long]("over_ppm") >= 0L)
    // with w far above |keys| collisions are possible but unlikely in
    // EVERY row; at d=4 the min row is collision-free here -> exact
    val wide = SketchOps.joinSizeCalibration(orders, col("ok"), lines,
      col("lk"), d = 4, w = 4096).collect().head
    assert(wide.getAs[Long]("join_est") === nLines,
      s"4096 buckets over 40 keys should leave one collision-free row")
    assert(wide.getAs[Long]("over_ppm") === 0L)
  }

  test("joinSizeCalibration: disjoint key sets give exact 0 with null over_ppm") {
    val s = spark
    import s.implicits._
    val a = (1 to 20).map(i => s"a$i").toDF("ka")
    val b = (1 to 20).map(i => s"b$i").toDF("kb")
    val r = SketchOps.joinSizeCalibration(a, col("ka"), b, col("kb"),
      d = 4, w = 64).collect().head
    assert(r.getAs[Long]("join_exact") === 0L)
    assert(r.isNullAt(r.fieldIndex("over_ppm")))
  }
}
