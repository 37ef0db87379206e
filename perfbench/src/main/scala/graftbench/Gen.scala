package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. The tables have the shape of the sf0.1
  * `lineitem` and `events` test tables at a tenth and a fifth of their
  * size, small enough to build inside every run; every value is a hash
  * of (seed, column salt, row id), so one seed always yields the same
  * rows and another seed other rows.
  */
object Gen {
  val LineitemRows = 60000L
  val EventRows = 20000L
  val Orders: Long = LineitemRows / 4
  val Users = 1000L
  val Parts = 4000L

  private def u(seed: Long, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(n))

  def lineitem(spark: SparkSession, seed: Long): DataFrame =
    spark.range(0, LineitemRows, 1, 4).select(
      (col("id") / 4).cast("long").plus(1).as("l_orderkey"),
      (u(seed, 1, Parts) + 1).as("l_partkey"),
      (u(seed, 2, 1000) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (u(seed, 3, 50) + 1).cast("double").as("l_quantity"),
      round((u(seed, 3, 50) + 1) * (lit(900.0) + u(seed, 4, 100000) / 100.0), 2)
        .as("l_extendedprice"),
      (u(seed, 5, 11) / 100.0).as("l_discount"),
      (u(seed, 6, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (u(seed, 7, 3) + 1).cast("int"))
        .as("l_returnflag"),
      when(u(seed, 8, 2) === 0, "O").otherwise("F").as("l_linestatus"),
      date_add(lit("1996-01-01").cast("date"), u(seed, 9, 365).cast("int")).as("l_shipdate"))
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))

  def events(spark: SparkSession, seed: Long): DataFrame =
    spark.range(0, EventRows, 1, 4).select(
      (col("id") + 1).as("event_id"),
      timestamp_seconds(lit(1704067200L) + u(seed, 11, 90L * 86400)).as("ts"),
      (u(seed, 12, Users) + 1).as("user_id"),
      element_at(array(lit("view"), lit("click"), lit("cart"), lit("buy")),
        (u(seed, 13, 4) + 1).cast("int")).as("event_type"),
      (u(seed, 14, 100000) / 100.0).as("value"),
      concat(lit("p"), u(seed, 15, 100).cast("string")).as("props"))
}
