package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark execution counters, summed over every job the session runs.
  * Read them with [[snapshot]], which first waits for the listener bus, so
  * a snapshot taken right after an action includes that action's tasks.
  *
  * Jobs do not name the module that ran them, and inside a streaming query
  * every SQL execution carries the query's start call site. A tail
  * compaction is recognised by what it writes: a merged epoch, staged as
  * `epochs/.stage-m<id>` by every index. Those executions are counted, and
  * the time they cover (the union of their intervals) is summed. */
final class ExecCounters extends SparkListener {
  private val jobs, stages, tasks, runMs, cpuNs, shRead, shWrite, spill,
    compactions, compactionMs = new AtomicLong()
  // open compaction executions, and the end of the last covered interval
  private val open = mutable.Map.empty[Long, Long]
  private var coveredUntil = 0L

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.physicalPlanDescription.contains("/epochs/.stage-m") =>
      compactions.incrementAndGet()
      open(s.executionId) = s.time
    case end: SparkListenerSQLExecutionEnd =>
      open.remove(end.executionId).foreach { start =>
        val from = math.max(start, coveredUntil)
        if (end.time > from) compactionMs.addAndGet(end.time - from)
        coveredUntil = math.max(coveredUntil, end.time)
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(spark: SparkSession): Exec = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    Exec(jobs.get, stages.get, tasks.get, runMs.get / 1e3, cpuNs.get / 1e9,
      shRead.get, shWrite.get, spill.get, compactions.get, compactionMs.get / 1e3)
  }
}

/** One reading (or difference of readings) of [[ExecCounters]]. */
final case class Exec(jobs: Long, stages: Long, tasks: Long, taskRunS: Double,
                      taskCpuS: Double, shuffleRead: Long, shuffleWrite: Long,
                      spill: Long, compactionQueries: Long, compactionS: Double) {
  def -(o: Exec): Exec = Exec(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunS - o.taskRunS, taskCpuS - o.taskCpuS, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill,
    compactionQueries - o.compactionQueries, compactionS - o.compactionS)
  def +(o: Exec): Exec = Exec(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskRunS + o.taskRunS, taskCpuS + o.taskCpuS, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill,
    compactionQueries + o.compactionQueries, compactionS + o.compactionS)
}
object Exec { val zero: Exec = Exec(0, 0, 0, 0, 0, 0, 0, 0, 0, 0) }

/** A timed call: name, parent, owning operation, start and end. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the traced run. Spans nest by call order on
  * the calling thread; [[selfMs]] subtracts each span's children from it.
  * Disabled, [[span]] only runs the body. */
final class Tracer(val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var op = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += null // reserve the slot so children get later ids
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** The root span of one timed operation; its id tags every span inside. */
  def operation[T](name: String)(body: => T): T = {
    op += 1
    span(name)(body)
  }

  /** A span measured elsewhere (e.g. a streaming progress phase), recorded
    * as a child of the innermost open span. */
  def record(name: String, startNs: Long, durNs: Long): Unit =
    if (enabled) {
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(spans.size, parent, op, name, startNs, startNs + durNs)
    }

  /** Self time per span id: its duration minus its children's. */
  def selfMs: Map[Int, Double] = {
    val child = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.ms)
    spans.map(s => s.id -> (s.ms - child(s.id))).toMap
  }
}

object Probe {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Storage memory held by cached or checkpointed blocks, in MB. */
  def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

  /** Bytes of every regular file under `root`. */
  def dirBytes(root: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally s.close()
    }

  /** Whole-stage codegen compiles so far, and their summed time in ms. The
    * histogram keeps up to 1028 samples: the sum is exact until then and
    * scaled from the kept samples beyond. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val kept = h.getSnapshot.getValues
    (h.getCount, if (kept.isEmpty) 0.0 else kept.sum.toDouble * h.getCount / kept.length)
  }
}
