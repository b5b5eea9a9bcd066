package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Memo, StateStore}
import graft.operators.{AnnAdmitIndex, DedupOps, IvfOps}

/** The session memo's lifetime contract. Pins: one checkpoint per
  * semantic plan — and NO stale pins across state mutations. A parquet
  * read canonicalizes by its root path, so a re-read after a StateStore
  * swap is semantically "equal" to the pre-swap plan; the store's write
  * paths must invalidate plan-keyed values or a pinned search scans
  * pre-swap rows. Session values (catalog, models, index fixtures)
  * survive invalidation, nest, and are released with their session. */
class MemoSpec extends AnyFunSuite with SparkSuite {

  test("same semantic plan pins once; different data pins separately") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val p1 = Memo.pinned(df.filter("id > 0"))
    val p2 = Memo.pinned(df.filter("id > 0"))
    assert(p1 eq p2, "semantically equal plans must share one pin")
    val p3 = Memo.pinned(df.filter("id > 1"))
    assert(!(p1 eq p3))
    assert(p3.count() === 1L)
  }

  test("StateStore.write invalidates pins — no stale reads after a swap") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("pin_inval").toString
    val store = new StateStore(s, root)
    store.write("directory",
      Seq((1L, "/a", null, null, new java.sql.Timestamp(0), new java.sql.Timestamp(0)))
        .toDF("id", "dir_path", "ctime", "mtime", "inserted_on", "updated_on")
        .selectExpr("id", "dir_path", "CAST(ctime AS TIMESTAMP) ctime",
          "CAST(mtime AS TIMESTAMP) mtime", "inserted_on", "updated_on"))
    val before = Memo.pinned(store.read("directory"))
    assert(before.count() === 1L)
    // swap in a 2-row version; the re-read has the SAME root path, so
    // without invalidation the cache would serve the 1-row pin
    store.write("directory",
      Seq((1L, "/a"), (2L, "/b")).toDF("id", "dir_path")
        .selectExpr("id", "dir_path", "CAST(NULL AS TIMESTAMP) ctime",
          "CAST(NULL AS TIMESTAMP) mtime",
          "CAST(NULL AS TIMESTAMP) inserted_on", "CAST(NULL AS TIMESTAMP) updated_on"))
    val after = Memo.pinned(store.read("directory"))
    assert(after.count() === 2L, "post-swap pin must see the new version")
  }

  test("invalidate drops byPlan values (pins and the Bloom sketch) but " +
      "keeps session values") {
    val s = spark
    import s.implicits._
    val builds = new AtomicInteger
    val v = Memo.session(s, "inval-fixture") { builds.incrementAndGet(); new Object }
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog again"),
      (3L, "an unrelated sentence about something else entirely here"))
      .toDF("doc_id", "text")
    val (_, plansBefore) = Memo.entries(s)
    // eager: pins the eval shingles and builds their Bloom sketch
    DedupOps.bloomContaminationReport(docs, col("doc_id") === 1L, minShared = 1)
    val (sessionVals, plansAfter) = Memo.entries(s)
    assert(plansAfter - plansBefore === 2, "the eval pin and its sketch")
    Memo.invalidate(s)
    assert(Memo.entries(s) === ((sessionVals, 0)))
    assert(Memo.session(s, "inval-fixture")(new Object) eq v)
    assert(builds.get === 1, "a session value must survive invalidate")
  }

  test("a nested session build (a fixture built from another) returns") {
    val inner = new AtomicInteger
    def base() = Memo.session(spark, "nested-base") { inner.incrementAndGet(); 20 }
    val derived = Memo.session(spark, "nested-derived")(base() + 1)
    assert(derived === 21)
    assert(base() === 20 && inner.get === 1, "the inner fixture is memoized too")
    assert(Memo.session(spark, "nested-derived")(-1) === 21)
  }

  test("two threads building one key get the same instance") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val s = spark
      import s.implicits._
      val df = Seq(1L, 2L, 3L).toDF("id").filter("id > 1")
      // both builds must be in flight at once: builds run outside any lock
      def race[T](build: (() => Boolean) => T): Seq[(T, Boolean)] = {
        val bothIn = new CountDownLatch(2)
        def overlap() = { bothIn.countDown(); bothIn.await(30, TimeUnit.SECONDS) }
        Await.result(Future.sequence(Seq.fill(2)(Future {
          var overlapped = false
          val v = build(() => { overlapped = overlap(); overlapped })
          (v, overlapped)
        })), 60.seconds)
      }
      val bySession = race(enter => Memo.session(s, "race") { enter(); new Object })
      assert(bySession.forall(_._2), "both session builds overlapped")
      assert(bySession(0)._1 eq bySession(1)._1)
      val byPlan = race(enter => Memo.byPlan(df, "race") { enter(); new Object })
      assert(byPlan.forall(_._2), "both plan builds overlapped")
      assert(byPlan(0)._1 eq byPlan(1)._1)
    } finally pool.shutdown()
  }

  // the last two tests stop the suite's session: keep them last
  test("a stopped session's session and byPlan values are released " +
      "(AnnAdmitIndex.loadModel)") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("memo_ann").toString
    val model = IvfOps.IvfModel(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    AnnAdmitIndex.buildIndex(
      Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0))).toDF("vec_id", "embedding"),
      model, root)
    val m1 = AnnAdmitIndex.loadModel(s, root)
    assert(AnnAdmitIndex.loadModel(s, root) eq m1, "one collect per session")
    Memo.pinned(Seq(1L, 2L).toDF("id"))
    val (sessionVals, planVals) = Memo.entries(s)
    assert(sessionVals >= 1 && planVals >= 1)
    s.stop()
    spark = startSession()
    assert(!(spark eq s))
    val m2 = AnnAdmitIndex.loadModel(spark, root)
    assert(Memo.entries(s) === ((0, 0)), "the stopped session's values are swept")
    assert(!(m2 eq m1) && m2.centroids.map(_.toSeq).toSeq === m1.centroids.map(_.toSeq).toSeq)
    assert(Memo.entries(spark)._1 === 1)
  }

  // no other session may be live here: getOrCreate would return it
  test("GraftSession(cores) sizes master and shuffle partitions from one " +
      "cores value, in UTC, with the graft SQL functions") {
    spark.stop()
    spark = GraftSession(3)
    assert(spark.sparkContext.master === sys.env.getOrElse("SPARK_MASTER", "local[3]"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "3")
    val conf = spark.sparkContext.getConf
    assert(conf.getOption("spark.sql.session.timeZone") === Some("UTC"))
    assert(conf.getOption("spark.ui.enabled") === Some("false"))
    assert(spark.sql("SELECT basename_fast('/a/b.txt')").head().getString(0) === "b.txt")
  }
}
