package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one lifetime mechanism for session-scoped memoized state.
  *
  * Two lifetimes, both bounded by the session — entries of a session
  * whose `SparkContext` has stopped are swept on the next call, so a
  * long-lived JVM that creates sessions repeatedly (a forked test run,
  * a server restarting its session) never holds dead sessions or the
  * state built under them:
  *
  *  - [[session]]: a value that lives as long as the session — the
  *    derived catalog, trained models, persisted index fixtures. Keyed
  *    by (session, caller key), and NOT dropped by [[invalidate]]:
  *    crawl and merge writes invalidate on every swap, and these values
  *    are deterministic functions of inputs those writes never touch.
  *  - [[byPlan]]: a value derived from a DataFrame's plan — eager pins,
  *    the Bloom sketch over a pinned relation. Keyed by (session, tag,
  *    canonicalized analyzed plan), and dropped by [[invalidate]]: a
  *    parquet read canonicalizes by its ROOT PATH, so after a state
  *    swap a re-read is semantically "equal" to the pre-swap plan and
  *    must not be served the pre-swap value.
  *
  * Builds run OUTSIDE the monitor, so concurrent callers building
  * different entries don't serialize on each other's Spark jobs and a
  * build may itself call back into the memo (fixtures nest: the ledger
  * index copies the near-dup index, the gc'd ANN index copies the epoch
  * index which needs the IVF model). When two callers race on one key,
  * the first insert wins and both get its value — a lost race costs one
  * redundant, GC-reclaimed build, never a wrong answer.
  *
  * What does NOT go through here: per-invocation pins — a crawl round's
  * or micro-batch's staged relations, an iterative operator's round
  * state, a duplicate search's needle. Nothing reuses them after their
  * invocation, so they belong to the caller's [[PinScope]], which frees
  * them when the invocation ends; a memo entry would hold them for the
  * life of the session.
  *
  * At 100 TB a pin would be a reliable checkpoint / temp table instead
  * of executor-memory localCheckpoint (same caveat as
  * DedupOps.IterState); the memo contract is unchanged. */
object Memo {
  // Plain HashMaps: every access runs under this object's monitor (the
  // generation protocol requires it), so a concurrent map would only
  // suggest lock-free paths that don't exist.
  private val values = scala.collection.mutable.HashMap.empty[(SparkSession, Any), Any]
  // semanticHash is a 32-bit digest — a collision between two DISTINCT
  // plans must not serve the wrong value, so each hash bucket holds
  // (analyzed plan, value) pairs and a hit requires sameResult(), exactly
  // how Spark's own plan caches pair the hash with plan equality.
  private val plans = scala.collection.mutable.HashMap
    .empty[(SparkSession, Any, Int), List[(LogicalPlan, Any)]]
  // per-session invalidation generation: a value built from a plan
  // captured BEFORE an invalidation must not be stored AFTER it (it may
  // hold pre-mutation rows); bumping the generation under the same
  // monitor as the insert closes that window
  private val generations = scala.collection.mutable.HashMap.empty[SparkSession, Long]

  // a stopped session's DataFrames can't run and its values are
  // unreachable — drop them. Called under the monitor by every entry point.
  private def sweepStopped(): Unit = {
    def dead(s: SparkSession) = s.sparkContext.isStopped
    values.keys.filter(k => dead(k._1)).toList.foreach(values.remove)
    plans.keys.filter(k => dead(k._1)).toList.foreach(plans.remove)
    generations.keys.filter(dead).toList.foreach(generations.remove)
  }

  /** The value for `key` in session `s`, built once per session. */
  def session[T](s: SparkSession, key: Any)(build: => T): T = {
    val k = (s, key)
    synchronized { sweepStopped(); values.get(k) } match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val built = build // may run Spark jobs or nest — no lock held
        synchronized(values.getOrElseUpdate(k, built)).asInstanceOf[T]
    }
  }

  /** The value for `df`'s semantic plan under `tag`, built once per
    * (session, tag, plan) until the session's next [[invalidate]]. A
    * value whose build straddled an invalidation is returned to this
    * caller but never stored. */
  def byPlan[T](df: DataFrame, tag: Any)(build: => T): T = {
    val s = df.sparkSession
    val plan = df.queryExecution.analyzed
    val key = (s, tag, plan.semanticHash())
    def lookup() = plans.getOrElse(key, Nil).find(_._1.sameResult(plan)).map(_._2)
    val (hit, genBefore) = synchronized {
      sweepStopped()
      (lookup(), generations.getOrElse(s, 0L))
    }
    hit.getOrElse {
      val built = build
      synchronized {
        if (generations.getOrElse(s, 0L) != genBefore) built
        else lookup().getOrElse {
          plans.update(key, (plan, built) :: plans.getOrElse(key, Nil))
          built
        }
      }
    }.asInstanceOf[T]
  }

  /** The pinned twin of `df`: localCheckpoint'd once per (session,
    * semantic plan). The pin is eager by necessity — a lazy checkpoint
    * only persists after the first job, so that job would still rebuild
    * the view — and memoized so N invocations over the same view (bench
    * rounds, explain tooling, plan-shape specs) pay the checkpoint once. */
  def pinned(df: DataFrame): DataFrame = byPlan(df, "pin")(df.localCheckpoint(true))

  /** Drop every [[byPlan]] value held for `session` (called by the
    * state-store write paths on mutation; also test isolation). Session
    * values survive. */
  def invalidate(session: SparkSession): Unit = synchronized {
    sweepStopped()
    generations.update(session, generations.getOrElse(session, 0L) + 1L)
    plans.keys.filter(_._1 eq session).toList.foreach(plans.remove)
  }

  /** (session values, byPlan values) held for `s` — for lifetime specs. */
  private[graft] def entries(s: SparkSession): (Int, Int) = synchronized {
    (values.keys.count(_._1 eq s), plans.iterator.filter(_._1._1 eq s).map(_._2.size).sum)
  }
}
