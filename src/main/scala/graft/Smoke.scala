package graft

import graft.core.GraftSession

/** Dev smoke runner mirroring the driver's entry check: `entry(spark)`
  * must return >0 rows on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.fromEnv()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = $n")
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
