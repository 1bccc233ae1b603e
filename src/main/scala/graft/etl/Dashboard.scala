package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's five analytics queries (sql/Dashboard.sql), over the
  * mart built by [[WeatherMart]]. All aggregate outputs are rounded to 4
  * decimals and deterministically ordered (ties broken by group key).
  *
  * Scale notes: q1/q5 group by date and q2/q3/q4 by low-cardinality
  * categories — all benefit from partial (map-side) aggregation, so the
  * exchange carries one row per (partition, group), not the fact table.
  * The dim joins in q1/q2 are broadcasts.
  */
object Dashboard {

  /** Exact average of a 2-decimal measure, reproducible across engines.
    *
    * A plain `round(avg(x), 4)` is tie-prone: sums of 2-decimal values
    * divided by small group counts frequently terminate exactly on a
    * 4th-decimal rounding boundary, where Spark's and DuckDB's
    * double-rounding disagree. Summing in integer cents first
    * (`round(sum*100)` snaps FP noise to the exact integer) makes both
    * engines perform the identical IEEE division — bit-equal results
    * with no rounding step at all.
    */
  private def exactAvg(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(sum(c) * 100, 0) / count(lit(1)) / lit(100.0)

  // Each query has a storage-agnostic core over DataFrames — the same
  // code runs against the inline-derived mart (driver contract) or the
  // materialized tables written by [[Mart]] — plus a thin (spark, dir)
  // wrapper for the driver contract.
  //
  // The inline wrappers deliberately build on WeatherMart.factFrame —
  // the fact WITHOUT its window metrics. When the metrics came from a
  // Window node Catalyst pruned the unused metrics AND their exchange
  // out of every dashboard plan automatically; the single-pass
  // RunningWindow node has no column-pruning rule that removes it when
  // its metrics go unused (it would still shuffle and sort by
  // location_key), so the pruning that used to be implicit is this
  // explicit call-site choice (PlanAuditSpec still pins that no
  // dashboard pays the location_key shuffle). The materialized-mart
  // twins read the metrics from parquet, where column pruning applies
  // as before.

  /** q1: average measure over time (Dashboard.sql:1-9). */
  def avgByDate(fact: DataFrame, dimDate: DataFrame): DataFrame =
    fact
      .join(broadcast(dimDate.select("date_key", "full_date")), "date_key")
      .groupBy("full_date")
      .agg(exactAvg(col("avg_temp_f")).as("avg_temp_f"))
      .orderBy("full_date")

  def avgByDate(spark: SparkSession, dir: String): DataFrame =
    avgByDate(WeatherMart.factFrame(spark, dir), WeatherMart.dimDate(spark, dir))

  /** q2: top-15 locations by average measure (Dashboard.sql:11-21). */
  def topNByLocation(fact: DataFrame, dimLocation: DataFrame, n: Int): DataFrame =
    fact
      .join(broadcast(dimLocation.select("location_key", "city_name")),
        "location_key")
      .groupBy("city_name")
      .agg(exactAvg(col("avg_temp_f")).as("avg_temp_f"))
      .orderBy(col("avg_temp_f").desc, col("city_name"))
      .limit(n)

  def topNByLocation(spark: SparkSession, dir: String, n: Int = 15): DataFrame =
    topNByLocation(WeatherMart.factFrame(spark, dir),
      WeatherMart.dimLocation(spark, dir), n)

  /** q3: average measure by precipitation class (Dashboard.sql:23-29). */
  def avgByClass(fact: DataFrame): DataFrame =
    fact
      .groupBy("precipitation_type")
      .agg(exactAvg(col("avg_temp_f")).as("avg_temp_f"))
      .orderBy(col("avg_temp_f").desc, col("precipitation_type"))

  def avgByClass(spark: SparkSession, dir: String): DataFrame =
    avgByClass(WeatherMart.factFrame(spark, dir))

  /** q4: band frequency distribution (Dashboard.sql:31-37). */
  def bandCounts(fact: DataFrame): DataFrame =
    fact
      .groupBy("weather_band")
      .agg(count(lit(1)).as("days_count"))
      .orderBy(col("days_count").desc, col("weather_band"))

  def bandCounts(spark: SparkSession, dir: String): DataFrame =
    bandCounts(WeatherMart.factFrame(spark, dir))

  /** q5: percentage of locations with positive precipitation per day
    * (Dashboard.sql:39-45, COUNT_IF re-expressed as a conditional SUM).
    */
  def pctPositiveByDate(fact: DataFrame): DataFrame =
    fact
      .groupBy("date_key")
      .agg(round(
        lit(100.0) * sum(when(col("precipitation_in") > 0, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 4)
        .as("pct_locations_with_rain"))
      .orderBy("date_key")

  def pctPositiveByDate(spark: SparkSession, dir: String): DataFrame =
    pctPositiveByDate(WeatherMart.factFrame(spark, dir))
}
