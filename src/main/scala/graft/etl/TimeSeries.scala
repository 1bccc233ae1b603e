package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series completion over the measurement table: the warehouse op the
  * reference's daily weather feed implies but Snowflake left to the BI
  * layer — a gap-free calendar per location with missing days forward-
  * filled from the last observation.
  *
  * Scale shape: ONE fact-sized shuffle (the daily pre-aggregate on
  * (location, day) — map-side partial aggs shrink it first). Everything
  * after runs on the dimension-sized daily table: the per-location
  * calendar spine comes from a 100-row min/max aggregate, and the
  * forward-fill window partitions by location (bounded cardinality, no
  * global window). At 100 TB the fact scan dominates; densification cost
  * is proportional to locations × days, which is mart-sized.
  *
  * Determinism: daily means are computed as BIGINT cent-sums divided
  * per-row (one correctly-rounded IEEE division — engine-independent),
  * so the forward-filled series hash-matches the DuckDB oracle exactly.
  */
object TimeSeries {

  /** Densify (loc, day) to a gap-free calendar and forward-fill the daily
    * mean temperature. `is_gap` marks synthesized days.
    *
    * No calendar-spine join: each observed day OWNS the gap days up to
    * the next observation (`lead` + `sequence` explode), which carries
    * the forward-filled value with it for free. The fact pays one
    * well-distributed (loc, day) aggregate shuffle; the lead window
    * then re-shuffles only the mart-sized daily table by loc. (Keying
    * the fact shuffle by loc alone would merge the two exchanges but
    * funnel each location's entire history through one task — wrong
    * trade at 100 TB with bounded location cardinality.)
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = WeatherMart.staging(spark, dir)
      .groupBy(col("loc_ref"), col("date_valid"))
      .agg(
        sum(round(col("avg_temp_f") * 100, 0).cast("long")).as("temp_c"),
        count(lit(1)).as("n_obs"))
    // unsorted: a materialized calendar table does not pay a global
    // sort; the verify dump sorts (the gap_fill QuerySpec)
    fillDaily(daily)
  }

  /** Densify + forward-fill a (loc_ref, date_valid, temp_c, n_obs)
    * daily table.
    *
    * Skew guard: a single `sequence(date, next_date)` explode would let
    * one dormant location (say a 10-year gap) own a task-sized row. The
    * explode is two-level instead — gap → ≤`chunkDays`-day chunks →
    * days — so no single row fans out more than
    * max(⌈gap/chunkDays⌉, chunkDays) ≈ √gap at the default, and the
    * chunk rows redistribute across tasks before the day-level expand.
    * Output rows are identical to the single-explode form
    * (spec-asserted in LifecycleSpec; the oracle hash pins it too).
    */
  private[graft] def fillDaily(daily: DataFrame,
                               chunkDays: Int = 128): DataFrame = {
    val w = Window.partitionBy("loc_ref").orderBy("date_valid")
    daily
      .withColumn("next_d", lead(col("date_valid"), 1).over(w))
      .select(col("loc_ref"), col("date_valid"),
        (col("temp_c").cast("double") / (col("n_obs") * 100)).as("day_temp"),
        coalesce(date_sub(col("next_d"), 1), col("date_valid")).as("gap_end"))
      .select(col("loc_ref"), col("date_valid"), col("day_temp"), col("gap_end"),
        explode(sequence(col("date_valid"), col("gap_end"),
          expr(s"interval $chunkDays day"))).as("chunk_start"))
      .select(col("loc_ref"), col("date_valid"), col("day_temp"),
        explode(sequence(col("chunk_start"),
          least(date_add(col("chunk_start"), chunkDays - 1), col("gap_end")),
          expr("interval 1 day"))).as("cal_date"))
      .select(col("loc_ref"), col("cal_date"),
        round(col("day_temp"), 4).as("temp_filled"),
        (col("cal_date") =!= col("date_valid")).as("is_gap"))
  }

  /** Open-interval backlog over time — the sweep-line analytic (how
    * many orders were open on each day an order opened or closed):
    * every interval becomes a +1 at its start and a −1 the day after
    * its close, the ±1s aggregate to day grain, and the running count
    * is a GLOBAL prefix sum over days.
    *
    * Scale shape: the interval build is the only fact-sized work —
    * lineitem aggregates to per-order close dates and joins orders ON
    * the aggregate's own o_orderkey partitioning (co-partitioned
    * big⋈big, no extra exchange); the ±1 table aggregates to day
    * grain (map-side combined) BEFORE any ordering, so the sweep runs
    * on thousands of rows however large the fact; and the running sum
    * is [[StarSchema.globalPrefixSum]] — a range-partitioned running
    * total, never an unpartitioned window. A naive
    * per-day interval-stabbing join (days × open intervals) would be
    * quadratic at 100 TB; the sweep is one fact pass.
    *
    * Orders with no lineitems have no close date and are excluded by
    * the inner join (the oracle mirrors this).
    */
  def orderBacklog(spark: SparkSession, dir: String): DataFrame =
    StarSchema.globalPrefixSum(
      backlogDeltas(spark, dir), Seq("__day"), "net_change", "n_open")
      .select(col("d").cast("string").as("day"),
        col("net_change").cast("long").as("net_change"), col("n_open"))
      .orderBy("day")

  /** The fact-sized half of [[orderBacklog]] (everything before the
    * day-grain prefix sum) — exposed so the plan audit can check it
    * alone.
    */
  private[graft] def backlogDeltas(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.core.Tables(spark, dir, "orders")
      .select("o_orderkey", "o_orderdate")
    val closes = graft.core.Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(max("l_shipdate").as("close_date"))
    // each interval emits its ±1 pair from ONE join pass (a union of
    // two projections would consume — and largely recompute — the
    // join subtree twice)
    orders.join(closes, col("o_orderkey") === col("l_orderkey"))
      .select(explode(array(
        struct(col("o_orderdate").cast("date").as("d"), lit(1L).as("delta")),
        struct(date_add(col("close_date").cast("date"), 1).as("d"),
          lit(-1L).as("delta")))).as("e"))
      .select(col("e.d").as("d"), col("e.delta").as("delta"))
      .groupBy("d").agg(sum("delta").as("net_change"))
      .withColumn("__day",
        datediff(col("d"), to_date(lit("1970-01-01"))).cast("long"))
  }

  /** OHLC downsampling: per (series, day) bars with open / high / low /
    * close / volume — the canonical time-series compaction (a year of
    * tick-grain events becomes 365 rows per series). open and close
    * ride struct-min/max aggregates under the total order
    * (ts, event_id) — ONE map-side-combinable hash aggregate, where
    * the textbook two-window form (row_number asc + desc) costs a
    * full per-series sort. No float arithmetic anywhere: every output
    * is an input value carried through min/max, so the bars replay
    * exactly in any engine.
    */
  def ohlcBars(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("ts"), col("event_id"), col("value"))
      .groupBy("event_type", "day")
      .agg(
        min(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("close"),
        max("value").as("high"), min("value").as("low"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type", "day")
}
