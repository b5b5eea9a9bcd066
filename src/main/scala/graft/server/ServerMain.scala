package graft.server

import java.sql.Timestamp

import graft.core.{GraftSession, StateStore}

/** Continuous server loop (§3.2/§3.3 parity with the reference's
  * `Server/__init__.py` process fabric): seed drives, then run
  * crawl + hash rounds on the reference's 5 s flush cadence until
  * interrupted, printing each round as one JSON line ([[roundJson]]).
  * All stage pools collapse into Spark jobs inside one
  * driver loop; scheduling state lives in `directory_control` exactly as
  * in the reference, so restarts resume where the schedule says.
  *
  * Usage: `runMain graft.server.ServerMain <stateDir> <root> [<root> ...]`
  */
object ServerMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ServerMain <stateDir> <root> [<root>...]")
    val stateDir = args.head
    val roots = args.tail.toSeq
    val spark = GraftSession.fromEnv()

    val state = new StateStore(spark, stateDir)
    val now = () => new Timestamp(System.currentTimeMillis())
    CrawlPipeline.seedDrives(state, roots, now())
    println(s"[server] seeded ${roots.size} roots; entering crawl/hash loop (ctrl-c to stop)")

    val cadenceMs = 5000L // reference queue_timers: Server/__init__.py:48-56
    while (true) {
      val t0 = System.currentTimeMillis()
      val stats = CrawlPipeline.crawlRound(state, now())
      val t1 = System.currentTimeMillis()
      val hashed = CrawlPipeline.hashRound(state, now())
      val t2 = System.currentTimeMillis()
      println(roundJson(stats, hashed, t1 - t0, t2 - t1))
      val elapsed = t2 - t0
      if (stats.dueDirs == 0 && hashed == 0 && elapsed < cadenceMs)
        Thread.sleep(cadenceMs - elapsed)
    }
  }

  /** One server round as a JSON line: the crawl round's stats, the files
    * hashed, and each half's wall time. */
  def roundJson(stats: CrawlPipeline.RoundStats, hashed: Long,
                crawlMs: Long, hashMs: Long): String =
    Seq("due" -> stats.dueDirs, "staged_files" -> stats.stagedFiles,
      "new_dirs" -> stats.stagedDirs, "missing" -> stats.missingDirs,
      "removed" -> stats.removedFiles, "hashed" -> hashed,
      "crawl_ms" -> crawlMs, "hash_ms" -> hashMs)
      .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
}
