package graft

import java.lang.ref.WeakReference
import java.util.concurrent.CountDownLatch

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.PinScope

/** Per-invocation pins belong to the scope that was open when they were
  * made and live exactly until it closes — never tied to the thread that
  * made them. */
class PinScopeSpec extends AnyFunSuite with SparkSuite {

  private def rows(n: Int): DataFrame = spark.range(n).toDF("id")

  private def pinnedRdd(df: DataFrame): RDD[_] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.head

  private def isPinned(rdd: RDD[_]) = rdd.getStorageLevel != StorageLevel.NONE

  test("closing a scope releases its pins") {
    var eager: RDD[_] = null
    var lazyDf: DataFrame = null
    PinScope { scope =>
      eager = pinnedRdd(PinScope.pin(rows(100))) // the innermost scope owns it
      lazyDf = scope.persist(rows(50))
      assert(lazyDf.count() === 50)
      assert(isPinned(eager))
      assert(lazyDf.storageLevel != StorageLevel.NONE)
    }
    assert(!isPinned(eager))
    assert(lazyDf.storageLevel === StorageLevel.NONE)
  }

  test("scopes on two live threads do not touch each other's pins") {
    val pinned = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var theirs: RDD[_] = null
    val t = new Thread(() => PinScope { _ =>
      theirs = pinnedRdd(PinScope.pin(rows(100)))
      pinned.countDown()
      release.await()
    })
    t.start()
    pinned.await()
    val mine = PinScope(_ => pinnedRdd(PinScope.pin(rows(100))))
    assert(!isPinned(mine))
    assert(isPinned(theirs), "closing my scope freed another live thread's pin")
    release.countDown(); t.join()
    assert(!isPinned(theirs))
  }

  test("a pin handed off by a worker thread lives until its own scope closes") {
    var rdd: RDD[_] = null
    PinScope { scope =>
      @volatile var df: DataFrame = null
      val worker = new Thread(() => df = scope(rows(100)))
      worker.start(); worker.join() // the worker that made the pin has exited
      val other = new Thread(() => PinScope(o => o(rows(10)).count()))
      other.start(); other.join() // another thread closed a different scope
      rdd = pinnedRdd(df)
      assert(df.count() === 100)
      assert(isPinned(rdd))
    }
    assert(!isPinned(rdd))
  }

  test("an inner scope frees only its own pins") {
    PinScope { _ =>
      val outer = pinnedRdd(PinScope.pin(rows(100)))
      val inner = PinScope(_ => pinnedRdd(PinScope.pin(rows(100))))
      assert(!isPinned(inner))
      assert(isPinned(outer))
      // the outer scope is innermost again
      val later = pinnedRdd(PinScope.pin(rows(100)))
      PinScope(_ => ())
      assert(isPinned(outer) && isPinned(later))
    }
  }

  test("a pin made with no open scope is kept by no registry") {
    def unowned(): (WeakReference[RDD[_]], Int) = {
      val rdd = pinnedRdd(PinScope.pin(rows(100)))
      PinScope(_ => ()) // a later scope on this thread does not adopt it
      assert(isPinned(rdd))
      (new WeakReference[RDD[_]](rdd), rdd.id)
    }
    val (ref, id) = unowned()
    var tries = 0
    while (ref.get() != null && tries < 50) { System.gc(); Thread.sleep(20); tries += 1 }
    assert(ref.get() === null, s"pin rdd $id is still strongly reachable")
  }
}
