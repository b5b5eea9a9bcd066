package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts on the calling thread. The block's
  * jobs carry a thread-local tag (Spark SQL hands local properties on to
  * the threads that run broadcasts and AQE stages), so no job of another
  * thread is counted; AQE submits each shuffle stage and each broadcast as
  * its own job. */
object SparkJobCount {
  private val tag = "graft.spec.jobs"

  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) == "1")) jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    val out = try body
      finally {
        sc.setLocalProperty(tag, null)
        org.apache.spark.graftbridge.ListenerBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    (out, jobs.get())
  }
}
