package graft.core

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of PER-INVOCATION pins.
  *
  * A scope is opened around one invocation — a timed bench run, one
  * verify dump, a crawl or hash round, a streaming micro-batch, a shell
  * command — as `PinScope { scope => … }`. It owns the pins made under
  * it: eager `localCheckpoint`s ([[apply]], or [[PinScope.pin]] from
  * inside an operator) and DataFrames it persists lazily ([[persist]]).
  * Closing it, in a `finally`, unpersists them without blocking, so a
  * long-lived loop frees an invocation's blocks when the invocation ends
  * rather than when GC and the ContextCleaner notice (measured, round
  * 18: dead round state left to GC squeezed execution memory and the
  * 268-query sweep degraded itself — x45 read 4.12 s mid-sweep for
  * 0.35 s isolated).
  *
  * Operators deep inside a query pin through [[PinScope.pin]], which
  * registers with the innermost scope the calling code opened on its own
  * thread. That stack is a plain, non-inheritable `ThreadLocal`: a Spark
  * or stream thread started inside a scope does not capture it. With no
  * open scope, the pin is a plain `localCheckpoint` that no registry
  * holds, so GC and the ContextCleaner reclaim it. Release is never
  * inferred from thread liveness: a scope's pins live until it closes,
  * whichever thread made them and whichever threads end meanwhile.
  *
  * A scope's pins must not escape it. A DataFrame over a pin, read after
  * the pin's scope closed, fails (a `localCheckpoint`'s lineage is
  * truncated; its blocks cannot be recomputed). State that outlives an
  * invocation — pins reused across invocations, the cached catalog —
  * goes through [[Memo]] instead. */
final class PinScope private () {
  private val releases = ArrayBuffer.empty[() => Unit]
  private var closed = false

  /** `df` checkpointed eagerly (`localCheckpoint`), owned by this scope;
    * after the scope closed, a plain pin nothing owns. */
  def apply(df: DataFrame): DataFrame = {
    val pinned = df.localCheckpoint(true)
    pinned.queryExecution.analyzed.foreach {
      case l: LogicalRDD => own(l.rdd.unpersist(blocking = false))
      case _ => ()
    }
    pinned
  }

  /** `df` persisted lazily (its first action fills the cache), owned by
    * this scope; after the scope closed, `df` itself, left unpersisted. */
  def persist(df: DataFrame): DataFrame = synchronized {
    if (closed) df
    else { own(df.unpersist(blocking = false)); df.persist() }
  }

  // a closed scope adopts nothing
  private def own(release: => Any): Unit = synchronized {
    if (!closed) releases += (() => { release; () })
  }

  private def close(): Unit = {
    val rs = synchronized { closed = true; val rs = releases.toList; releases.clear(); rs }
    rs.foreach(r => try r() catch { case NonFatal(_) => () }) // a stopped context: nothing to free
  }
}

object PinScope {
  // the scopes the calling code opened on this thread, innermost first
  private val open = ThreadLocal.withInitial[List[PinScope]](() => Nil)

  /** Run `body` under a new scope and release its pins when it returns
    * or throws. */
  def apply[T](body: PinScope => T): T = {
    val scope = new PinScope
    val outer = open.get
    open.set(scope :: outer)
    try body(scope)
    finally { open.set(outer); scope.close() }
  }

  /** `df` checkpointed eagerly, owned by the innermost scope open on the
    * calling thread; with none open, a plain pin nothing owns. */
  def pin(df: DataFrame): DataFrame = open.get match {
    case scope :: _ => scope(df)
    case Nil => df.localCheckpoint(true)
  }
}
