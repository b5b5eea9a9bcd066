package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.core.GraftSession

/** One graft session per suite: `beforeAll` starts it through
  * `GraftSession` with `cores` local cores, `afterAll` stops it. A suite
  * with more set-up calls `super.beforeAll()` first and `super.afterAll()`
  * last. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>

  /** Local cores, and shuffle partitions, of the suite's session. */
  protected def cores: Int = 2

  protected var spark: SparkSession = _

  /** A session from the factory that logs errors only. */
  protected def startSession(): SparkSession = {
    val s = GraftSession(cores)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark = startSession()
  }

  override protected def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()
}
