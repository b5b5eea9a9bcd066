package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, row,
  * salt), so the same seed always writes the same tables. */
object Gen {
  /** Uniform double in [0, 1) for the row `id`. */
  def u(seed: Long, salt: Int): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(1L << 40)).cast("double") /
      lit((1L << 40).toDouble)

  /** Uniform long in [0, n). */
  def below(seed: Long, salt: Int, n: Long): Column =
    floor(u(seed, salt) * n).cast("long")

  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** The four TPC-H-shaped tables the file catalog derives from
    * (`graft.core.Tables.FsCatalog`): 5 regions, 25 nations, `customers`
    * customers, `orders` orders (one catalog file per order). Column names
    * and types follow the engine's test data. */
  def catalogTables(spark: SparkSession, seed: Long, dir: String,
                    customers: Long, orders: Long): Unit = {
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE_EAST")
    spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(typedLit(regions), col("id").cast("int") + 1).as("r_name"))
      .write.parquet(s"$dir/region.parquet")
    spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
      .write.parquet(s"$dir/nation.parquet")
    spark.range(customers).select(col("id").as("c_custkey"),
      below(seed, 1, 25).cast("int").as("c_nationkey"))
      .write.parquet(s"$dir/customer.parquet")
    spark.range(orders).select(col("id").as("o_orderkey"),
      below(seed, 2, customers).as("o_custkey"),
      element_at(typedLit(Seq("O", "F", "P")), below(seed, 3, 3).cast("int") + 1)
        .as("o_orderstatus"),
      (floor(u(seed, 4) * 49900000L + 100000L) / 100).as("o_totalprice"),
      // 1995-01-01 UTC plus a whole number of days
      timestamp_seconds(lit(788918400L) + below(seed, 5, 2404) * 86400L)
        .as("o_orderdate"),
      element_at(typedLit(priorities), below(seed, 6, 5).cast("int") + 1)
        .as("o_orderpriority"))
      .repartition(4)
      .write.parquet(s"$dir/orders.parquet")
  }

  /** A java.util.Random for decisions made in the harness (which lookup,
    * which files to mutate), seeded from the run seed and a stream id. */
  def rng(seed: Long, stream: Long): java.util.Random =
    new java.util.Random(seed * 1000003L + stream)
}
