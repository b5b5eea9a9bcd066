package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry of PER-INVOCATION `localCheckpoint` RDDs, so a long-lived
  * driver loop (bench sweep, verify sweep, server loop) can release them
  * the moment the consuming action finishes.
  *
  * Why this exists (measured, round 18): every iterative operator pins
  * its round state ([[graft.operators.DedupOps.IterState]] `Local` =
  * `localCheckpoint`), and a checkpoint's blocks stay in the unified
  * memory pool until the JVM garbage-collects the RDD object and the
  * async ContextCleaner notices — which under a 268-query bench sweep is
  * far too late: storage squeezed execution and the sweep degraded ITSELF
  * (x45_chunk_index read 4.12 s mid-sweep vs 0.35 s isolated; the bench's
  * own mid-sweep calibration detached 2.3× from its warm reading). The
  * fix is deterministic release, not a bigger heap: operators register
  * each transient pin here, and the sweep drains the registry between
  * timed actions.
  *
  * What does NOT go through here: [[Memo]] pins (session-scoped
  * BY DESIGN — the sign-once/probe-many contract) and catalog-cached
  * tables. Draining is therefore safe by construction: everything in the
  * queue is an RDD whose only consumers are plans from an invocation
  * that has already finished its action. Unpersisting is idempotent and
  * non-blocking; an RDD drained "too early" (a caller holding the
  * DataFrame across a drain and re-executing it) would fail loudly —
  * localCheckpoint lineage is truncated — which is why only the
  * per-invocation sites register, never the session-scoped ones. */
object TransientPins {
  // Keyed by (context, REGISTERING THREAD): a sweep that runs queries on
  // a thread pool (Verify's 4 dump threads) must not let one thread's
  // drain release another thread's IN-FLIGHT round state — unpersisting
  // a localCheckpoint mid-execution is fatal (lineage is truncated; the
  // blocks cannot be recomputed). Eager checkpoints run on the thread
  // that constructs the query, so per-thread scoping makes drain-on-my-
  // own-thread exact.
  private val queues = TrieMap
    .empty[(SparkContext, Long), ConcurrentLinkedQueue[RDD[_]]]
  // weak owner handles so drain can tell a live pool thread's queue
  // (must not touch: in-flight state) from a DEAD thread's (safe to
  // release: its invocations ended with it) — without pinning Thread
  // objects alive ourselves. Round-19 ADVICE fix: queues keyed by
  // threads that died while the context lived used to leak both the
  // map entry and any pins registered after that thread's last drain.
  private val owners = TrieMap
    .empty[(SparkContext, Long), java.lang.ref.WeakReference[Thread]]

  /** Register `df`'s checkpoint RDD(s) as transient; returns `df`.
    * Call on the RESULT of `localCheckpoint(true)` — the analyzed plan
    * is then the `LogicalRDD` leaf wrapping the persisted RDD. */
  def track(df: DataFrame): DataFrame = {
    val rdds = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    if (rdds.nonEmpty) {
      val key = (df.sparkSession.sparkContext, Thread.currentThread().getId)
      val q = queues.getOrElseUpdate(key, new ConcurrentLinkedQueue[RDD[_]])
      owners.putIfAbsent(key,
        new java.lang.ref.WeakReference(Thread.currentThread()))
      rdds.foreach(q.add)
    }
    df
  }

  /** Unpersist every transient pin the CALLING THREAD registered for
    * `spark`'s context since its last drain; returns how many were
    * released. Non-blocking unpersist: block removal proceeds async,
    * the memory accounting is released immediately. */
  def drain(spark: SparkSession): Int = {
    val key = (spark.sparkContext, Thread.currentThread().getId)
    val n = queues.get(key) match {
      case None => 0
      case Some(q) =>
        var k = 0
        var rdd = q.poll()
        while (rdd != null) {
          try rdd.unpersist(blocking = false)
          catch { case _: Throwable => () } // a stopped context: nothing to free
          k += 1
          rdd = q.poll()
        }
        k
    }
    // drop queues owned by stopped contexts so a JVM creating many
    // sessions doesn't accumulate empty queues; release queues owned by
    // DEAD threads too (a pool thread that registered pins and exited
    // without a final drain — its invocations ended with it, so nothing
    // drained here can be in flight)
    queues.keys.filter(_._1.isStopped).foreach { k =>
      queues.remove(k); owners.remove(k)
    }
    queues.keys.filterNot(k => k._2 == key._2).foreach { k =>
      // dead ONLY when an owner handle exists and its thread is gone —
      // a queue seen in the instant between creation and owner
      // registration must read as live (draining a live thread's
      // in-flight pins is fatal; leaking one sweep is free)
      val dead = owners.get(k).exists(r =>
        Option(r.get()).forall(!_.isAlive))
      if (dead) queues.remove(k).foreach { q =>
        var rdd = q.poll()
        while (rdd != null) {
          try rdd.unpersist(blocking = false)
          catch { case _: Throwable => () }
          rdd = q.poll()
        }
        owners.remove(k)
      }
    }
    n
  }
}
