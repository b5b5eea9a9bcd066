package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.NearDupIndex

/** Persisted near-dup signature index: admission semantics on a closed
  * fixture, epoch extension, and the crash-anywhere promotion states
  * (an epoch written but never promoted must be invisible; old versions
  * must survive promotion for rollback). */
class NearDupIndexSpec extends AnyFunSuite with SparkSuite {

  private val a12 =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  // one appended word: 11 shared shingles of 12 — near-dup territory
  private val a12near = a12 + " nu"
  private val b12 =
    "one two three four five six seven eight nine ten eleven twelve"
  private val tiny = "hi yo" // under shingleWords: clique row, no postings

  private def freshRoot(): String =
    Files.createTempDirectory("ndx_spec").toString

  test("admit: exact/near/novel/unsignable verdicts, in-batch collapse") {
    val s = spark
    import s.implicits._
    val existing = Seq((2L, a12), (4L, a12), (6L, b12), (8L, tiny))
      .toDF("doc_id", "text")
    val root = freshRoot()
    NearDupIndex.buildIndex(existing, root)
    val incoming = Seq(
      (5L, a12), (25L, a12), // exact dups of indexed, in-batch pair
      (10L, a12near),        // near-dup of indexed content
      (15L, tiny),           // exact dup of UNSIGNABLE indexed content
      (20L, "totally different words nobody used before in this corpus " +
        "with plenty of fresh trigrams to shingle")
    ).toDF("doc_id", "text")
    val got = NearDupIndex.admit(incoming, root).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"), r.getAs[Long]("n_batch_copies"),
          r.getAs[Long]("best_est_ppm")))).toMap
    assert(got.size === 4, s"in-batch dups must collapse: $got")
    assert(got(5L) === (("dup_exact", 2L, 1000000L)),
      s"exact dup of signed content: full-match estimate: $got")
    assert(got(15L) === (("dup_exact", 1L, 0L)),
      s"unsignable exact dup rejected via the cliques table: $got")
    assert(got(10L)._1 === "dup_near" && got(10L)._3 >= 500000L,
      s"one-word append must band-collide and estimate high: $got")
    assert(got(20L)._1 === "admitted" && got(20L)._3 < 500000L,
      s"novel content admits: $got")
  }

  test("extend commits admitted contents as a new epoch; next batch sees them") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    NearDupIndex.buildIndex(Seq((1L, a12)).toDF("doc_id", "text"), root)
    NearDupIndex.extend(Seq((10L, b12), (12L, a12)).toDF("doc_id", "text"),
      root)
    assert(NearDupIndex.committedEpochs(root).size === 2)
    val got = NearDupIndex.admit(
      Seq((20L, b12), (22L, a12)).toDF("doc_id", "text"), root).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(got === Map(20L -> "dup_exact", 22L -> "dup_exact"),
      s"batch-1 admissions (b12) and originals (a12) both reject now: $got")
    // the rejected a12 copy (12L) must NOT have been re-indexed: still
    // exactly one clique row per content across the committed epochs
    val eps = NearDupIndex.committedEpochs(root)
    val cl = spark.read.parquet(eps.map(e => s"$root/$e/cliques"): _*)
    assert(cl.groupBy("fp").count().filter(col("count") > 1).isEmpty,
      "no content may be indexed twice across epochs")
  }

  test("compact collapses epochs to one; admissions are unchanged") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    NearDupIndex.buildIndex(Seq((1L, a12)).toDF("doc_id", "text"), root)
    NearDupIndex.extend(Seq((10L, b12)).toDF("doc_id", "text"), root)
    val probe = Seq((20L, a12), (21L, b12), (22L, a12near),
      (23L, "entirely new words that shingle into nothing seen before " +
        "anywhere in this corpus")).toDF("doc_id", "text")
    val before = NearDupIndex.admit(probe, root).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"), r.getAs[Long]("best_est_ppm")))).toMap
    NearDupIndex.compact(spark, root)
    assert(NearDupIndex.committedEpochs(root).size === 1)
    val after = NearDupIndex.admit(probe, root).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"), r.getAs[Long]("best_est_ppm")))).toMap
    assert(after === before, "compaction must not change any admission")
    assert(after(20L)._1 === "dup_exact" && after(21L)._1 === "dup_exact" &&
      after(22L)._1 === "dup_near" && after(23L)._1 === "admitted", s"$after")
  }

  test("admissionYield bands every non-exact content; indexSkew masses add up") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    NearDupIndex.buildIndex(
      Seq((1L, a12), (2L, b12)).toDF("doc_id", "text"), root)
    val incoming = Seq((10L, a12), (11L, a12near),
      (12L, "none of these words ever appeared in the index corpus " +
        "so the probe collides with nothing at all")).toDF("doc_id", "text")
    val y = NearDupIndex.admissionYield(incoming, root).collect()
      .map(r => r.getAs[Long]("best_matches") ->
        ((r.getAs[Long]("est_ppm"), r.getAs[Long]("n_contents")))).toMap
    // the exact dup (10) is excluded; the near-dup (11) estimates high,
    // the novel doc (12) sits in band 0 — the curve is total
    assert(y.values.map(_._2).sum === 2L, s"two non-exact contents: $y")
    assert(y.contains(0L) && y(0L)._1 === 0L, s"zero-collision band: $y")
    assert(y.keys.max >= 8L, s"near-dup must estimate >= 8/16: $y")
    val sk = NearDupIndex.indexSkew(spark, root).collect()
    // 2 signed reps x 4 bands = 8 postings, all in singleton buckets
    assert(sk.map(_.getAs[Long]("n_postings")).sum === 8L, s"${sk.toSeq}")
    assert(sk.forall(_.getAs[Long]("collision_mass") === 0L),
      s"distinct contents, singleton buckets: ${sk.toSeq}")
  }

  test("crash-anywhere: unpromoted epochs are invisible; old versions survive") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    NearDupIndex.buildIndex(Seq((1L, a12)).toDF("doc_id", "text"), root)
    val before = NearDupIndex.committedEpochs(root)
    // crash between epoch write and manifest promotion: an orphan epoch
    // dir exists but nothing names it
    Files.createDirectories(Paths.get(root, "epochs", "eORPHAN", "cliques"))
    assert(NearDupIndex.committedEpochs(root) === before,
      "an unpromoted epoch must stay invisible")
    val got = NearDupIndex.admit(
      Seq((9L, b12)).toDF("doc_id", "text"), root).collect()
    assert(got.length === 1 && got.head.getAs[String]("verdict") === "admitted",
      "admission reads committed epochs only — the orphan cannot break it")
    // promotion keeps prior versions for rollback: v1's manifest is
    // untouched after an extend promotes v2
    val v1 = Files.readString(Paths.get(root, "v1", "manifest.json"))
    NearDupIndex.extend(Seq((9L, b12)).toDF("doc_id", "text"), root)
    assert(Files.readString(Paths.get(root, "CURRENT")).trim === "v2")
    assert(Files.readString(Paths.get(root, "v1", "manifest.json")) === v1,
      "prior version must survive promotion for rollback/audit")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("retract: content becomes re-admittable and stops near-rejecting") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    NearDupIndex.buildIndex(
      Seq((1L, a12), (2L, b12)).toDF("doc_id", "text"), root)
    val probe = Seq((10L, a12), (11L, a12near), (12L, b12))
      .toDF("doc_id", "text")
    val before = NearDupIndex.admit(probe, root).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(before === Map(10L -> "dup_exact", 11L -> "dup_near",
      12L -> "dup_exact"), s"$before")
    NearDupIndex.retract(Seq(md5hex(a12)).toDF("fp"), root)
    val after = NearDupIndex.admit(probe, root).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(after(10L) === "admitted", "retracted content is re-admittable")
    assert(after(11L) === "admitted",
      "the retracted rep's band postings must stop near-rejecting")
    assert(after(12L) === "dup_exact", "untouched content keeps rejecting")
  }

  test("re-admission after retraction is live — even under doc_id replay") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    NearDupIndex.buildIndex(Seq((1L, a12)).toDF("doc_id", "text"), root)
    NearDupIndex.retract(Seq(md5hex(a12)).toDF("fp"), root)
    // re-admit the SAME content under the ORIGINAL doc_id (replay shape):
    // the tombstone applies to epochs before it only
    assert(NearDupIndex.extendEpoch(
      Seq((1L, a12)).toDF("doc_id", "text"), root, "readmit1"))
    val got = NearDupIndex.admit(
      Seq((30L, a12), (31L, a12near)).toDF("doc_id", "text"), root).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(got === Map(30L -> "dup_exact", 31L -> "dup_near"),
      s"re-admitted content must reject again: $got")
  }

  test("compact folds tombstones physically; surviving admissions bit-identical") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    NearDupIndex.buildIndex(
      Seq((1L, a12), (2L, b12)).toDF("doc_id", "text"), root)
    NearDupIndex.retract(Seq(md5hex(a12)).toDF("fp"), root)
    val probe = Seq((20L, a12), (21L, b12), (22L, a12near))
      .toDF("doc_id", "text")
    val before = NearDupIndex.admit(probe, root).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"), r.getAs[Long]("best_est_ppm")))).toMap
    NearDupIndex.compact(spark, root)
    val eps = NearDupIndex.committedEpochs(root)
    assert(eps.size === 1 && !eps.head.startsWith("tomb:"),
      s"tombstones must fold away at compaction: $eps")
    val cl = spark.read.parquet(s"$root/${eps.head}/cliques")
    assert(cl.filter(col("fp") === md5hex(a12)).isEmpty,
      "the retracted content's row must leave the disk")
    assert(cl.count() === 1L, "the survivor stays")
    val after = NearDupIndex.admit(probe, root).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"), r.getAs[Long]("best_est_ppm")))).toMap
    assert(after === before, "compaction must not change any admission")
  }

  test("virality ledger: corpus-wide copy counts reconstruct across epochs") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    // epoch 1: a12 twice, b12 once
    NearDupIndex.buildIndex(
      Seq((1L, a12), (2L, a12), (3L, b12)).toDF("doc_id", "text"), root)
    // epoch 2: three more a12 copies (exact-rejected -> ledger),
    // one fresh admitted content
    val fresh = "totally different words nobody used before in this " +
      "corpus with plenty of fresh trigrams to shingle"
    NearDupIndex.extend(
      Seq((10L, a12), (11L, a12), (12L, a12), (13L, fresh))
        .toDF("doc_id", "text"), root)
    // epoch 3: one more a12, one more b12, one more fresh copy
    NearDupIndex.extend(
      Seq((20L, a12), (21L, b12), (22L, fresh)).toDF("doc_id", "text"), root)
    val got = NearDupIndex.virality(spark, root).collect()
      .map(r => r.getAs[Long]("rep") ->
        ((r.getAs[Long]("n_epoch_copies"), r.getAs[Long]("n_rejected_later"),
          r.getAs[Long]("n_copies")))).toMap
    assert(got === Map(
      1L -> ((2L, 4L, 6L)),   // a12: 2 in epoch 1, 3 + 1 rejected later
      3L -> ((1L, 1L, 2L)),   // b12: 1 in epoch 1, 1 rejected in epoch 3
      13L -> ((1L, 1L, 2L))), // fresh: admitted epoch 2, rejected epoch 3
      s"ledger must reconstruct the direct corpus count: $got")
    // compaction folds the ledger without losing a copy
    NearDupIndex.compact(spark, root)
    val after = NearDupIndex.virality(spark, root).collect()
      .map(r => r.getAs[Long]("rep") -> r.getAs[Long]("n_copies")).toMap
    assert(after === Map(1L -> 6L, 3L -> 2L, 13L -> 2L),
      s"compaction must preserve corpus-wide counts: $after")
  }

  test("virality ledger respects retraction: taken-down copies leave the count") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    NearDupIndex.buildIndex(Seq((1L, a12)).toDF("doc_id", "text"), root)
    NearDupIndex.extend(Seq((10L, a12)).toDF("doc_id", "text"), root) // ledgered
    NearDupIndex.retract(Seq(md5hex(a12)).toDF("fp"), root)
    // re-admit after the takedown; one more copy rejected on top
    assert(NearDupIndex.extendEpoch(
      Seq((20L, a12)).toDF("doc_id", "text"), root, "readmit"))
    NearDupIndex.extend(Seq((30L, a12)).toDF("doc_id", "text"), root)
    val got = NearDupIndex.virality(spark, root).collect()
      .map(r => r.getAs[Long]("rep") ->
        ((r.getAs[Long]("n_epoch_copies"), r.getAs[Long]("n_rejected_later"),
          r.getAs[Long]("n_copies")))).toMap
    // pre-takedown copies (doc 1's epoch weight AND doc 10's ledger row)
    // are dead; the live lineage is the re-admission + one rejection
    assert(got === Map(20L -> ((1L, 1L, 2L))),
      s"tombstoned ledger rows must die with their cliques: $got")
  }

  test("compactTail merges only the post-tombstone tail; base epochs untouched") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    NearDupIndex.buildIndex(
      Seq((1L, a12), (2L, b12)).toDF("doc_id", "text"), root)
    NearDupIndex.retract(Seq(md5hex(b12)).toDF("fp"), root)
    val fresh1 = "completely novel wording streak number one with enough " +
      "distinct trigram material to shingle and sign"
    val fresh2 = "second unrelated batch of words also long enough to " +
      "shingle into brand new signature territory here"
    NearDupIndex.extend(Seq((10L, fresh1), (11L, a12))
      .toDF("doc_id", "text"), root) // a12 copy -> ledger row in the tail
    NearDupIndex.extend(Seq((20L, fresh2)).toDF("doc_id", "text"), root)
    val epsBefore = NearDupIndex.committedEpochs(root)
    assert(epsBefore.size === 4, s"base + tomb + 2 tail epochs: $epsBefore")
    val baseDir = java.nio.file.Paths.get(root, epsBefore.head)
    val baseListing = Files.walk(baseDir).map(_.toString).sorted().toArray
    val probe = Seq((30L, a12), (31L, b12), (32L, fresh1), (33L, fresh2),
      (34L, a12near)).toDF("doc_id", "text")
    val before = NearDupIndex.admit(probe, root).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"), r.getAs[Long]("best_est_ppm")))).toMap
    val virBefore = NearDupIndex.virality(spark, root).collect()
      .map(r => r.getAs[Long]("rep") -> r.getAs[Long]("n_copies")).toMap
    NearDupIndex.compactTail(spark, root)
    val epsAfter = NearDupIndex.committedEpochs(root)
    assert(epsAfter.size === 3 && epsAfter.take(2) === epsBefore.take(2),
      s"tail merged to one epoch, prefix (base + tombstone) intact: $epsAfter")
    assert(Files.walk(baseDir).map(_.toString).sorted().toArray
      .sameElements(baseListing), "the base epoch's files must not move")
    val after = NearDupIndex.admit(probe, root).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"), r.getAs[Long]("best_est_ppm")))).toMap
    assert(after === before, "tail compaction must not change any admission")
    assert(before(31L)._1 === "admitted", "the retraction stays effective")
    val virAfter = NearDupIndex.virality(spark, root).collect()
      .map(r => r.getAs[Long]("rep") -> r.getAs[Long]("n_copies")).toMap
    assert(virAfter === virBefore,
      "tail compaction must preserve the ledger")
    // idempotent no-op: one data epoch after the last tombstone remains
    // un-mergeable... but here the tail IS one epoch now, so a second
    // call must promote nothing
    val cur = Files.readString(Paths.get(root, "CURRENT")).trim
    NearDupIndex.compactTail(spark, root)
    assert(Files.readString(Paths.get(root, "CURRENT")).trim === cur,
      "a tail shorter than 2 epochs is a no-op")
    // the ops inventory reads the same manifest: base, tombstone, merged
    val st = NearDupIndex.stats(spark, root).collect()
      .map(r => (r.getAs[Int]("position"), r.getAs[String]("kind")))
    assert(st.toSeq === Seq((0, "data"), (1, "tombstone"), (2, "data")),
      s"stats must mirror the manifest: ${st.toSeq}")
  }

  test("bucketed compaction: parallel rewrite, admissions bit-identical, " +
      "covered batch names survive the fold") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    NearDupIndex.buildIndex(
      Seq((1L, a12), (2L, b12)).toDF("doc_id", "text"), root)
    val fresh1 = "completely novel wording streak number one with enough " +
      "distinct trigram material to shingle and sign"
    val fresh2 = "second unrelated batch of words also long enough to " +
      "shingle into brand new signature territory here"
    assert(NearDupIndex.extendEpoch(
      Seq((10L, fresh1), (11L, a12)).toDF("doc_id", "text"), root, "b0"))
    assert(NearDupIndex.extendEpoch(
      Seq((20L, fresh2)).toDF("doc_id", "text"), root, "b1"))
    val probe = Seq((30L, a12), (31L, fresh1), (32L, fresh2),
      (33L, a12near)).toDF("doc_id", "text")
    def admits() = NearDupIndex.admit(probe, root).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"), r.getAs[Long]("best_est_ppm")))).toMap
    def vir() = NearDupIndex.virality(spark, root).collect()
      .map(r => r.getAs[Long]("rep") -> r.getAs[Long]("n_copies")).toMap
    val (before, virBefore) = (admits(), vir())
    // targetRows=1 forces one range-partition per row: the rewrite is
    // genuinely parallel (multiple output files), the 100 TB shape
    NearDupIndex.compactTail(spark, root, targetRows = 1L)
    val eps = NearDupIndex.committedEpochs(root)
    assert(eps.size === 2, s"base + merged tail: $eps")
    def partFiles(tbl: String): Long =
      Files.list(Paths.get(root, eps(1), tbl)).filter(
        p => p.toString.endsWith(".parquet")).count()
    assert(partFiles("bands") >= 2,
      "a bucketed rewrite must produce multiple range-partition files")
    assert(admits() === before && vir() === virBefore,
      "bucketed tail compaction must not change admissions or the ledger")
    // the merged epoch COVERS the folded batch names: replay idempotency
    // survives the fold (the crash-between-compaction-and-checkpoint walk)
    assert(NearDupIndex.hasEpoch(root, "b0") &&
      NearDupIndex.hasEpoch(root, "b1"), "covered.json must name b0/b1")
    assert(!NearDupIndex.extendEpoch(
      Seq((10L, fresh1), (11L, a12)).toDF("doc_id", "text"), root, "b0"),
      "a replayed folded batch must be a no-op")
    assert(NearDupIndex.committedEpochs(root) === eps)
    // a FULL compact carries coverage transitively through the merge
    NearDupIndex.compact(spark, root, targetRows = 1L)
    assert(NearDupIndex.committedEpochs(root).size === 1)
    assert(NearDupIndex.hasEpoch(root, "b0") &&
      NearDupIndex.hasEpoch(root, "b1"),
      "full compaction must union its inputs' covered lists")
    assert(admits() === before && vir() === virBefore,
      "full bucketed compaction must not change admissions or the ledger")
  }

  test("admitGuarded: hot buckets stop pairing, audibly; exact tier untouched") {
    val s = spark
    import s.implicits._
    // a template FAMILY: distinct contents sharing band values — the
    // population the guard must refuse to pair against
    val template = (0 until 16).map(i =>
      (100L + i, a12 + " suffix" + i)) // one-word variants: near-dups
    val root = freshRoot()
    NearDupIndex.buildIndex(
      (template :+ ((1L, b12))).toDF("doc_id", "text"), root)
    val probe = Seq((200L, a12 + " suffix0"), // exact dup of family member
      (201L, a12 + " suffixX"),               // near-dup of the family
      (202L, b12 + " thirteen")               // near-dup of cold content
    ).toDF("doc_id", "text")
    val unguarded = NearDupIndex.admit(probe, root).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(unguarded(201L) === "dup_near" && unguarded(202L) === "dup_near",
      s"both near-dups reject unguarded: $unguarded")
    val guarded = NearDupIndex.admitGuarded(probe, root, maxBucket = 2L)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"), r.getAs[Long]("n_hot_buckets")))).toMap
    assert(guarded(200L)._1 === "dup_exact",
      s"the exact tier must reject whatever buckets burn: $guarded")
    assert(guarded(201L)._1 === "admitted" && guarded(201L)._2 > 0L,
      s"family collisions suppressed — and AUDITED via n_hot_buckets: $guarded")
    assert(guarded(202L)._1 === "dup_near" && guarded(202L)._2 === 0L,
      s"cold-bucket near-rejection still fires: $guarded")
  }

  test("epoch names are fenced to a manifest-safe charset") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    NearDupIndex.buildIndex(Seq((1L, a12)).toDF("doc_id", "text"), root)
    val bad = Seq("a,b", "a\"b", "", ".hidden", "a/b")
    bad.foreach { name =>
      intercept[IllegalArgumentException] {
        NearDupIndex.extendEpoch(
          Seq((9L, b12)).toDF("doc_id", "text"), root, name)
      }
    }
  }

  test("a probe taken before another commit is never committed stale") {
    val s = spark
    import s.implicits._
    def built(): String = {
      val r = freshRoot()
      NearDupIndex.buildIndex(Seq((1L, b12)).toDF("doc_id", "text"), r)
      r
    }
    val batch = Seq((10L, a12), (11L, a12near), (12L, tiny))
      .toDF("doc_id", "text")
    // colliding content under another name: an exact copy of a12 (and so
    // a near-dup of a12near) and of the unsignable tiny
    val other = Seq((5L, a12), (6L, tiny)).toDF("doc_id", "text")
    val root = built()
    val stale = NearDupIndex.probe(batch, root)
    assert(stale.verdicts.filter(col("verdict") === "admitted").count() === 3,
      "the probe read the index before the colliding commit")
    assert(NearDupIndex.extendEpoch(other, root, "other"))
    assert(NearDupIndex.commitEpoch(root, "b0", stale))
    val fresh = built()
    assert(NearDupIndex.extendEpoch(other, fresh, "other"))
    assert(NearDupIndex.extendEpoch(batch, fresh, "b0"))
    def rows(r: String, t: String) =
      spark.read.parquet(s"$r/epochs/b0/$t").collect().map(_.toString).sorted
        .toSeq
    Seq("cliques", "sigs", "bands", "rejections").foreach { t =>
      assert(rows(root, t) === rows(fresh, t), s"b0 $t differs")
    }
    assert(rows(fresh, "cliques").isEmpty && rows(fresh, "rejections").size === 2,
      "the colliding commit turns the batch into rejections")
  }
}
