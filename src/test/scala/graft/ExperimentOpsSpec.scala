package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ExperimentOps

/** A/B readout (x134): the engine's 2×2 accounting and G² must equal a
  * driver-side reference sharing the hash split, and the statistic must
  * separate a planted arm effect from an arm-independent one. */
class ExperimentOpsSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  /** Driver-side twin of HashFunctions.hash60 % 2. */
  private def arm(userId: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(userId.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16) % 2
  }

  private def eventsOf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.zipWithIndex.map { case ((u, t), i) =>
      (u, t, new Timestamp(1700000000000L + i * 1000L))
    }.toDF("user_id", "event_type", "ts")
  }

  private def refG2(na: Long, ca: Long, nb: Long, cb: Long): Long = {
    val n = (na + nb).toDouble
    val (ma, mb) = (na - ca, nb - cb)
    val (ct, mt) = (ca + cb, ma + mb)
    def term(o: Long, r: Long, c: Long): Double =
      if (o > 0) o.toDouble * math.log(o.toDouble * n / (r.toDouble * c.toDouble))
      else 0.0
    math.floor(2.0 * (term(ca, na, ct) + term(ma, na, mt) +
      term(cb, nb, ct) + term(mb, nb, mt)) * 1e6 + 0.5).toLong
  }

  test("accounting and G² equal the driver-side reference exactly") {
    // conversion by user parity — independent of the hash arm
    val rows = (1L to 200L).flatMap { u =>
      Seq((u, "view")) ++ (if (u % 3 == 0) Seq((u, "purchase")) else Nil)
    }
    val r = ExperimentOps.abReadout(eventsOf(rows)).collect().head
    val users = (1L to 200L)
    val (a, b) = users.partition(arm(_) == 0)
    val (na, nb) = (a.size.toLong, b.size.toLong)
    val (ca, cb) = (a.count(_ % 3 == 0).toLong, b.count(_ % 3 == 0).toLong)
    assert(r.getAs[Long]("n_a") === na && r.getAs[Long]("n_b") === nb)
    assert(r.getAs[Long]("conv_a") === ca && r.getAs[Long]("conv_b") === cb)
    assert(r.getAs[Long]("cr_a_ppm") === ca * 1000000L / na)
    assert(r.getAs[Long]("g2_micro") === refG2(na, ca, nb, cb))
    // arm-independent conversion: G² must sit far below significance
    assert(r.getAs[Long]("g2_micro") < 3840000L,
      s"independent conversion flagged significant: ${r.getAs[Long]("g2_micro")}")
  }

  test("a planted arm effect drives G² past the significance line") {
    // conversion decided BY the arm itself: arm 1 converts 60%, arm 0 10%
    val rows = (1L to 400L).flatMap { u =>
      val converts = if (arm(u) == 1) u % 5 != 0 else u % 10 == 0
      Seq((u, "view")) ++ (if (converts) Seq((u, "purchase")) else Nil)
    }
    val r = ExperimentOps.abReadout(eventsOf(rows)).collect().head
    assert(r.getAs[Long]("g2_micro") > 3840000L,
      s"planted effect not significant: $r")
    assert(r.getAs[Long]("delta_ppm") > 0L, "arm b must convert more")
  }
}
