package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, NearDupIndex}

/** Randomized reference pins for the persisted near-dup index: on
  * seeded random corpora (dup cliques planted across the split),
  * [[NearDupIndex.admit]] — which answers through the on-disk
  * epoch-manifest index — must equal a brute-force reference computed
  * directly from the two partitions with no index anywhere: exact
  * verdicts from a plain content-hash intersection, near verdicts from
  * an ALL-PAIRS signature-estimate maximum over band-colliding pairs
  * (re-derived from the public minhash/banding kernels). Also pins the
  * EdgeLadder primitives' boundary behavior. */
class AdmissionPropertySpec extends AnyFunSuite with SparkSuite {

  private def corpus(seed: Long, n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val base = (0 until n).map { _ =>
      (0 to rnd.nextInt(9)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    val withDups = base ++ (0 until n / 2).map(_ => base(rnd.nextInt(base.size)))
    rnd.shuffle(withDups).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("admit == brute-force split reference on random corpora") {
    val s = spark
    import s.implicits._
    for (seed <- 41L to 44L) {
      val docs = corpus(seed, 30).localCheckpoint(true)
      val existing = docs.filter(col("doc_id") % 3 =!= 0)
      val incoming = docs.filter(col("doc_id") % 3 === 0)
      val root = java.nio.file.Files.createTempDirectory("adm_prop").toString
      NearDupIndex.buildIndex(existing, root)
      val got = NearDupIndex.admit(incoming, root).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("verdict"), r.getAs[Long]("n_batch_copies"),
            r.getAs[Long]("best_est_ppm")))).toMap

      // ---- brute-force reference, no index anywhere ----
      val exPairs = existing.select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val inPairs = incoming.select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      def md5hex(t: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val exFps = exPairs.map(p => md5hex(p._2)).toSet
      // in-batch contraction: min doc_id per content + copy count
      val inByFp = inPairs.groupBy(p => md5hex(p._2))
      // signatures via the public kernel (reps with >= shingleWords words)
      def sigsOf(df: DataFrame): Map[Long, Seq[Long]] =
        DedupOps.minhashSignatures(df).collect()
          .map(r => r.getLong(0) -> (1 until r.length).map(r.getLong))
          .toMap
      // existing reps = min doc_id per content among existing
      val exRepIds = exPairs.groupBy(p => md5hex(p._2))
        .values.map(_.map(_._1).min).toSet
      val exSigs = sigsOf(existing.filter(
        col("doc_id").isin(exRepIds.toSeq: _*))).toSeq
      val inRepIds = inByFp.values.map(_.map(_._1).min).toSet
      val inSigs = sigsOf(incoming.filter(
        col("doc_id").isin(inRepIds.toSeq: _*)))
      def bandKeys(sig: Seq[Long]): Set[(Int, Seq[Long])] =
        (0 until DedupOps.numBands).map(b =>
          (b, sig.slice(b * DedupOps.rowsPerBand,
            (b + 1) * DedupOps.rowsPerBand))).toSet
      val want = inByFp.map { case (fp, members) =>
        val rep = members.map(_._1).min
        val verdict =
          if (exFps.contains(fp)) "dup_exact"
          else inSigs.get(rep) match {
            case Some(sig) =>
              val best = exSigs.collect {
                case (_, es) if bandKeys(sig).intersect(bandKeys(es)).nonEmpty =>
                  sig.zip(es).count { case (a, b) => a == b }.toLong
              }
              if (best.nonEmpty && best.max >= 8) "dup_near" else "admitted"
            case None => "admitted"
          }
        val best = inSigs.get(rep).map { sig =>
          val cs = exSigs.collect {
            case (_, es) if bandKeys(sig).intersect(bandKeys(es)).nonEmpty =>
              sig.zip(es).count { case (a, b) => a == b }.toLong
          }
          if (cs.isEmpty) 0L else cs.max * 62500L
        }.getOrElse(0L)
        rep -> ((verdict, members.size.toLong, best))
      }
      assert(got === want, s"seed=$seed")
    }
  }

  test("EdgeLadder boundaries: band edges are (lo, hi] and hiEdge reads back") {
    val s = spark
    import s.implicits._
    import graft.functions.EdgeLadder
    val edges = Seq(0L, 10L, 100L)
    val xs = Seq(-5L, 0L, 1L, 10L, 11L, 100L, 101L)
    val got = xs.toDF("x")
      .select(col("x"), EdgeLadder.band(col("x"), edges).as("band"))
      .withColumn("hi", EdgeLadder.hiEdge("band", edges))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    // band k = #edges strictly below x: x<=0 -> 0, (0,10] -> 1,
    // (10,100] -> 2, >100 -> 3 (hi = NULL above the last edge)
    assert(got === Map(
      -5L -> ((0L, Some(0L))), 0L -> ((0L, Some(0L))),
      1L -> ((1L, Some(10L))), 10L -> ((1L, Some(10L))),
      11L -> ((2L, Some(100L))), 100L -> ((2L, Some(100L))),
      101L -> ((3L, None))), s"$got")
  }
}
