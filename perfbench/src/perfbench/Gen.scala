package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded lineitem-shaped rows. Every column is a hash of the row id and
  * the seed, so the same seed gives the same rows however Spark splits
  * the range into tasks. Money columns carry two decimals and
  * quantities are whole numbers, so exact-decimal sums compare bit for
  * bit; `l_shipdate` is a UTC timestamp at midnight. */
object Gen {
  val Days = 2400

  private def h(id: Column, seed: Long, salt: Int, mod: Int): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(mod.toLong))

  def lineitem(spark: SparkSession, rows: Long, seed: Long, parts: Int): DataFrame = {
    val id = col("id")
    spark.range(0L, rows, 1L, parts).select(
      (id.divide(4).cast("long") + 1).as("l_orderkey"),
      (h(id, seed, 1, 20000) + 1).as("l_partkey"),
      (h(id, seed, 2, 1000) + 1).as("l_suppkey"),
      (pmod(id, lit(4L)) + 1).cast("int").as("l_linenumber"),
      (h(id, seed, 3, 50) + 1).cast("double").as("l_quantity"),
      ((h(id, seed, 4, 9000000) + 100000) / 100.0).cast("decimal(12,2)").cast("double")
        .as("l_extendedprice"),
      (h(id, seed, 5, 11) / 100.0).cast("decimal(4,2)").cast("double").as("l_discount"),
      (h(id, seed, 6, 9) / 100.0).cast("decimal(4,2)").cast("double").as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(id, seed, 7, 3) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (h(id, seed, 8, 2) + 1).cast("int"))
        .as("l_linestatus"),
      timestamp_seconds((h(id, seed, 9, Days) + 8036) * 86400L).as("l_shipdate"))
  }
}
