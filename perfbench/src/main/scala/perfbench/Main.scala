package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s.JsonAST._
import org.json4s.jackson.JsonMethods.{compact, render}

/** What one timed operation handled, and how to check its output. The
  * check runs after the clock stops. `None` from it means correct. */
final case class Done(kind: String, items: Long, check: () => Option[String])

/** One workload: set up from the seed, then timed operations in a closed
  * loop with one client. */
trait Workload {
  /** Generates the inputs, sets up the engine's state over them and checks
    * it. Only the engine's calls, wrapped in `clock`, count as `setup_s`;
    * input generation, reference answers and checks do not. */
  def setup(clock: SetupClock): Unit
  /** The loop stops only after a whole number of this many operations, so
    * every run times the same mix. */
  def cycle: Int = 1
  /** The workload's own untimed step before operation `i` (for example
    * changing the inputs the operation will read). */
  def before(i: Int): Unit = ()
  def run(i: Int, t: Tracer): Done
  /** On-disk bytes of the workload's state at the end of the run. */
  def storedBytes: Long
  /** Workload-specific per-layer readings over the timed operations. */
  def layers: Map[String, Double] = Map.empty
  /** Stops anything the workload started (streams, threads). */
  def close(): Unit = ()
}

/** Sums the time, and the whole-stage codegen compiles, of the set-up
  * calls it wraps. */
final class SetupClock {
  var ns = 0L
  var compiles = 0L
  var compileMs = 0.0

  def apply[T](body: => T): T = {
    val (cg0, ms0) = Probe.codegen()
    val t0 = System.nanoTime()
    try body
    finally {
      ns += System.nanoTime() - t0
      val (cg1, ms1) = Probe.codegen()
      compiles += cg1 - cg0
      compileMs += ms1 - ms0
    }
  }
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path, out: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("out")))
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, spark: SparkSession, a: Args): Workload = name match {
    case "catalog_lookup" => new CatalogLookup(spark, a.seed, a.work)
    case "crawl_merge" => new CrawlMerge(spark, a.seed, a.work)
    case "admission_stream" => new AdmissionLoop(spark, a.seed, a.work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Job-floor calibration: the median wall of a trivial one-stage job and
    * of a one-shuffle job, after a warm-up each. */
  def calibrate(spark: SparkSession): (Double, Double) = {
    val sc = spark.sparkContext
    def floor(job: => Long): Double = {
      job
      Probe.median((1 to 5).map { _ =>
        val t0 = System.nanoTime(); job; (System.nanoTime() - t0) / 1e6 })
    }
    (floor(sc.parallelize(Seq(1), 1).count()),
      floor(sc.parallelize(1 to 8, 4).map(i => (i % 2, i)).reduceByKey(_ + _, 4).count()))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    Files.deleteIfExists(a.out)
    val spark = session(a.work)
    val counters = new ExecCounters
    if (a.trace) spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(a.trace)
    val w = workload(a.workload, spark, a)
    try {
      val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val clock = new SetupClock
      val setupStart = System.nanoTime()
      w.setup(clock)
      val setupS = clock.ns / 1e9
      // after set-up, so the floors are read on a warm JVM like the operations
      val calibStart = System.nanoTime()
      val (jobFloor, shuffleFloor) = calibrate(spark)
      val loopStart = System.nanoTime()

      val okMs = mutable.ArrayBuffer.empty[Double]
      val byKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
      val errors = mutable.ArrayBuffer.empty[String]
      var exec = Exec.zero
      var attempted, failed, items = 0L
      var busyNs = 0L
      val budgetNs = a.seconds * 1000000000L
      while (busyNs < budgetNs || attempted % w.cycle != 0) {
        w.before(attempted.toInt)
        val before = if (a.trace) counters.snapshot(spark) else Exec.zero
        val t0 = System.nanoTime()
        val res = try Right(tracer.operation("op")(w.run(attempted.toInt, tracer)))
          catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val ns = System.nanoTime() - t0
        busyNs += ns
        attempted += 1
        if (a.trace) exec = exec + (counters.snapshot(spark) - before)
        val verdict = res.flatMap(d =>
          (try d.check() catch { case NonFatal(e) => Some(s"check threw: $e") })
            .toLeft(d))
        verdict match {
          case Right(d) =>
            okMs += ns / 1e6
            byKind.getOrElseUpdate(d.kind, mutable.ArrayBuffer.empty) += ns / 1e6
            items += d.items
          case Left(msg) =>
            failed += 1
            if (errors.size < 5) errors += msg.take(300)
        }
      }
      val ops = attempted.toInt
      val loopS = (System.nanoTime() - loopStart) / 1e9
      val layers = mutable.LinkedHashMap[String, Double](
        "calib.job_floor_ms" -> jobFloor,
        "calib.shuffle_job_floor_ms" -> shuffleFloor,
        "spark.codegen_compiles" -> clock.compiles.toDouble,
        "spark.codegen_ms" -> clock.compileMs)
      if (a.trace) {
        val wallS = busyNs / 1e9
        layers ++= Seq(
          "spark.jobs" -> exec.jobs.toDouble / ops,
          "spark.stages" -> exec.stages.toDouble / ops,
          "spark.tasks" -> exec.tasks.toDouble / ops,
          "spark.task_run_s" -> exec.taskRunS / ops,
          "spark.task_cpu_s" -> exec.taskCpuS / ops,
          "spark.shuffle_read_bytes" -> exec.shuffleRead.toDouble / ops,
          "spark.shuffle_write_bytes" -> exec.shuffleWrite.toDouble / ops,
          "spark.spill_bytes" -> exec.spill.toDouble / ops,
          "streaming.compaction_queries" -> exec.compactionQueries.toDouble / ops,
          "streaming.compaction_ms" -> exec.compactionS * 1e3 / ops,
          "spark.slot_util" -> exec.taskRunS / (wallS * spark.sparkContext.defaultParallelism))
        layers ++= selfTimes(tracer, ops)
        // compare with the untraced runs' op_p50_ms: the tracing overhead
        layers += "trace.op_p50_ms" -> Probe.median(okMs.toSeq)
        layers ++= byKind.map { case (k, v) => s"$k.p50_ms" -> Probe.median(v.toSeq) }
        Files.writeString(a.work.resolve("spans.json"), spansJson(tracer))
      }
      layers ++= w.layers
      layers += "core.pinned_mb" -> Probe.pinnedMb(spark)
      val result = JObject(
        "workload" -> JString(a.workload),
        "attempted" -> JInt(attempted), "failed" -> JInt(failed),
        "errors" -> JArray(errors.map(JString(_)).toList),
        "setup_s" -> JDouble(setupS),
        "op_ms" -> JArray(okMs.map(JDouble(_)).toList),
        "items" -> JInt(items),
        "busy_s" -> JDouble(okMs.sum / 1e3),
        "stored_mb" -> JDouble(w.storedBytes / 1e6),
        // where the run's wall time went: JVM and session start, the whole
        // set-up (its engine calls are `setup_s`), the calibration, and the
        // timed loop with its untimed steps and output checks
        "phase_s" -> JObject("start" -> JDouble(sessionS),
          "setup" -> JDouble((calibStart - setupStart) / 1e9),
          "setup_engine" -> JDouble(setupS),
          "calib" -> JDouble((loopStart - calibStart) / 1e9), "loop" -> JDouble(loopS)),
        "layers" -> JObject(layers.toList.map { case (k, v) => k -> JDouble(v) }))
      Files.writeString(a.out, compact(render(result)))
    } finally {
      w.close()
      spark.stop()
    }
  }

  /** Per operation: the wall of each traced call (`<name>_ms`) and the self
    * time of each layer (`self.<layer>_ms`), where a span named
    * `<layer>.<call>` belongs to its layer; the operation root's own self
    * time, outside every traced call, is `self.unattributed_ms`.
    * `trace.accounted_share` is the share of operation wall that traced
    * calls explain. */
  def selfTimes(t: Tracer, ops: Int): Map[String, Double] = {
    val self = t.selfMs
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var opWall, rootSelf = 0.0
    t.spans.foreach { s =>
      if (s.parent < 0) { opWall += s.ms; rootSelf += self(s.id) }
      else {
        out(s.name + "_ms") += s.ms
        out("self." + s.name.takeWhile(_ != '.') + "_ms") += self(s.id)
      }
    }
    out.view.mapValues(_ / ops).toMap ++ Map(
      "self.unattributed_ms" -> rootSelf / ops,
      "trace.op_ms" -> opWall / ops,
      "trace.accounted_share" -> (if (opWall > 0) 1 - rootSelf / opWall else 0.0),
      "trace.spans" -> t.spans.size.toDouble)
  }

  def spansJson(t: Tracer): String = {
    val self = t.selfMs
    compact(render(JArray(t.spans.toList.map(s => JObject(
      "id" -> JInt(s.id), "parent" -> JInt(s.parent), "op" -> JInt(s.op),
      "name" -> JString(s.name), "start_ns" -> JLong(s.startNs),
      "end_ns" -> JLong(s.endNs), "self_ms" -> JDouble(self(s.id)))))))
  }
}
