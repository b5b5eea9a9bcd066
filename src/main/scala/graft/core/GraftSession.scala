package graft.core

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The only code that builds a graft Spark session. Every main and every
  * test suite starts its session here, so a session-wide decision (a
  * static conf only a builder can set, an extension) is one edit.
  *
  * One `cores` value sizes both the local master and the shuffle
  * partitions. `SPARK_MASTER` overrides the master (a cluster URL or an
  * explicit `local[n]`). The session runs in UTC without the web UI, has
  * `GraftExtensions`' SQL functions, and logs at WARN.
  *
  * `getOrCreate` semantics: while a session is live in this JVM, this
  * returns it, and static settings (master, extensions) keep the values
  * it was started with. */
object GraftSession {
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The mains' session: cores from `SPARK_GRAFT_CPUS`, default 4. */
  def fromEnv(): SparkSession = apply(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
}
