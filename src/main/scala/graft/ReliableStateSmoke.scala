package graft

import graft.core.GraftSession
import graft.operators.DedupOps.{IterState, Local, Reliable}

/** Prices [[graft.operators.DedupOps.IterState]]'s Local-vs-Reliable
  * choice on the heaviest iterative consumers (VERDICT r17 item 5):
  * x119's session PageRank (6 Pregel rounds, two shuffles each) and
  * x127's spectral power iteration (4 rounds, two equi-join shuffles
  * each), each run with `localCheckpoint` (the bench/single-app
  * default — state dies with an executor) and with `checkpoint` to a
  * reliable dir (the 100 TB posture — survives executor preemption).
  *
  * The delta is the INSURANCE PREMIUM of cluster-safe iteration:
  * reliable checkpointing re-materializes each round through the
  * checkpoint store (here a local disk dir standing in for HDFS/S3),
  * so the ratio read off this smoke is what a cluster operator pays
  * per round to make a 1000-executor run preemption-proof. Doctrine
  * (also in the IterState scaladoc): Local for single-app/bench runs
  * and anything re-runnable in minutes; Reliable whenever the job's
  * restart cost exceeds the premium — long CC/PageRank chains on
  * preemptible fleets.
  *
  * Usage: `runMain graft.ReliableStateSmoke <sfDir>` — prints one
  * JSON line `{"x119_local_s":…,"x119_reliable_s":…,"x127_local_s":…,
  * "x127_reliable_s":…}` (best of 2 each).
  */
object ReliableStateSmoke {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: ReliableStateSmoke <sfDir>")
    val sfDir = args(0)
    val spark = GraftSession.fromEnv()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_reliable_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .localCheckpoint(true)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .localCheckpoint(true)
    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def best2(f: => Long): Double = math.min(time(f), time(f))
    def row(st: IterState): (Double, Double) = (
      best2(graft.operators.GraphOps
        .sessionPageRank(events, state = st).count()),
      best2(graft.operators.SpectralOps
        .topComponent(emb, state = st).count()))
    val (pgL, tcL) = row(Local)
    val (pgR, tcR) = row(Reliable)
    println(f"""{"x119_local_s":$pgL%.3f,"x119_reliable_s":$pgR%.3f,""" +
      f""""x127_local_s":$tcL%.3f,"x127_reliable_s":$tcR%.3f}""")
    spark.stop()
  }
}
