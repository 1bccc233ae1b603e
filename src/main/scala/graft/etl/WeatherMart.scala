package graft.etl

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference warehouse (GlobalWeather-ETL) re-expressed on the driver
  * test tables. Role mapping (README.md §2, sql/ETL_GlobalWeather_DB.sql):
  *
  *   weather_day measurement  -> lineitem row
  *   DATE_VALID_STD           -> l_shipdate (as DATE)
  *   location (postal/city/country) -> supplier ⋈ nation ⋈ region
  *   AVG_TEMPERATURE_AIR_2M_F -> l_extendedprice   ("avg_temp_f")
  *   TOT_PRECIPITATION_IN     -> l_discount        ("precipitation_in")
  *   TOT_SNOWFALL_IN          -> l_tax             ("snowfall_in")
  *   band measure             -> l_quantity (integral, so the reference's
  *                               inclusive BETWEEN banding stays gap-free)
  *
  * Star-join strategy at scale: the fact (lineitem) side never shuffles
  * for a join. The location dimension is broadcast; the date and source
  * dimensions are not joined: their keys are the staging date and a
  * constant (see [[factFrame]]). The only wide exchange in the fact build
  * is the window partition by location_key, which both window metrics share.
  *
  * Builders that [[Mart.materialize]] shares take their upstream frames
  * (a frame-taking core) plus a thin `(spark, dir)` wrapper that derives
  * them inline — the shape [[Dashboard]] uses.
  */
object WeatherMart {

  val BandBounds: Seq[Double] = Seq(9, 20, 35, 45)
  val BandLabels: Seq[String] = Seq("Freezing", "Cold", "Mild", "Warm", "Hot")
  val SnowThreshold = 0.06
  val RainThreshold = 0.05
  val ValidFrom = "2026-01-01"
  val SourceKey = 1L

  /** Extract/Load: staging projection of the measurement table
    * (reference STG_FORECAST_DAY, ETL_GlobalWeather_DB.sql:24-27).
    * Column pruning reaches the parquet scan: only 8 of 11 lineitem
    * columns are read.
    */
  def staging(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem").select(
      to_date(col("l_shipdate")).as("date_valid"),
      col("l_suppkey").as("loc_ref"),
      col("l_extendedprice").as("avg_temp_f"),
      col("l_discount").as("precipitation_in"),
      col("l_tax").as("snowfall_in"),
      col("l_quantity").as("band_q"),
      col("l_orderkey"),
      col("l_linenumber").cast("long").as("l_linenumber"))

  /** Reference DIM_WEATHER_BAND classification, computed inline. */
  def weatherBand(c: Column): Column = StarSchema.banded(c, BandBounds, BandLabels)

  /** Reference DIM_PRECIPITATION_TYPE classification
    * (ETL_GlobalWeather_DB.sql:96-103): Snow beats Rain beats None.
    */
  def precipitationType(snow: Column, precip: Column): Column =
    when(snow > SnowThreshold, "Snow")
      .when(precip > RainThreshold, "Rain")
      .otherwise("None")

  def dimDate(staging: DataFrame): DataFrame = StarSchema.dimDate(staging, col("date_valid"))

  def dimDate(spark: SparkSession, dir: String): DataFrame = dimDate(staging(spark, dir))

  /** Location dimension: supplier enriched with nation/region names
    * (reference DIM_LOCATION postal/city/country). Nation and region are
    * tiny → broadcast.
    */
  def dimLocation(spark: SparkSession, dir: String): DataFrame =
    StarSchema.scd1(locationNatural(spark, dir),
      naturalKey = Seq("postal_code", "city_name", "country", "region_name"),
      orderBy = Seq("postal_code"),
      keyName = "location_key", validFrom = ValidFrom)

  /** Natural location rows (the scd1 input): supplier ⋈ nation ⋈ region. */
  def locationNatural(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select(
        col("s_suppkey").as("postal_code"),
        col("s_name").as("city_name"),
        col("n_name").as("country"),
        col("r_name").as("region_name"))

  /** Deterministic "day 2" location snapshot for the SCD2 merge query:
    * every 7th postal code relocates (country change), every 13th
    * disappears from the feed (its dim row must survive untouched), and
    * one brand-new key arrives.
    */
  def locationSnapshot(spark: SparkSession, dir: String): DataFrame =
    locationNatural(spark, dir)
      .filter(pmod(col("postal_code"), lit(13)) =!= 0)
      .withColumn("country",
        when(pmod(col("postal_code"), lit(7)) === 0, lit("RELOCATED"))
          .otherwise(col("country")))
      .unionByName(spark.range(1).select(
        lit(999999L).as("postal_code"), lit("new_city").as("city_name"),
        lit("XX").as("country"), lit("YY").as("region_name")))

  /** SCD2 incremental merge of [[locationSnapshot]] into [[dimLocation]]
    * — see [[StarSchema.scd2Merge]].
    */
  def dimLocationMerged(spark: SparkSession, dir: String): DataFrame =
    StarSchema.scd2Merge(dimLocation(spark, dir), locationSnapshot(spark, dir),
      businessKey = Seq("postal_code"),
      attrs = Seq("city_name", "country", "region_name"),
      keyName = "location_key", asOf = "2026-02-01")

  /** Deterministic "day 2" CDC feed over the location naturals — the
    * delta-stream twin of [[locationSnapshot]]'s full extract. Full
    * current state as inserts (seq 1); every 7th postal relocates
    * (U, seq 2); every 13th retires (D, seq 2 — its dim row must
    * survive untouched after compaction drops the key); every 21st is
    * relocated AGAIN at seq 3 (latest-wins must supersede the seq-2
    * update, and at postal codes divisible by both 13 and 21 a late
    * update legitimately resurrects a deleted key); one brand-new key
    * arrives mid-feed.
    */
  private def locationFeed(spark: SparkSession, dir: String): DataFrame = {
    val nat = locationNatural(spark, dir)
    val inserts = nat.withColumn("seq", lit(1L)).withColumn("op", lit("I"))
    val relocated = nat.filter(pmod(col("postal_code"), lit(7)) === 0)
      .withColumn("country", lit("RELOCATED"))
      .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
    val retired = nat.filter(pmod(col("postal_code"), lit(13)) === 0)
      .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
    val rezoned = nat.filter(pmod(col("postal_code"), lit(21)) === 0)
      .withColumn("country", lit("REZONED"))
      .withColumn("seq", lit(3L)).withColumn("op", lit("U"))
    val arrived = spark.range(1).select(
      lit(999998L).as("postal_code"), lit("cdc_city").as("city_name"),
      lit("NN").as("country"), lit("MM").as("region_name"),
      lit(2L).as("seq"), lit("I").as("op"))
    inserts.unionByName(relocated).unionByName(retired)
      .unionByName(rezoned).unionByName(arrived)
  }

  /** The full incremental-warehouse path the reference's VALID_FROM/
    * VALID_TO schema implies, composed end-to-end: the CDC delta feed
    * is compacted to the day's snapshot ([[Cdc.applyChanges]] — one
    * shuffle on the business key), which then folds into the versioned
    * dimension ([[StarSchema.scd2Merge]]). Keys the compactor dropped
    * (deletes) simply vanish from the snapshot, so their dim rows ride
    * the untouched branch — CDC delete semantics and SCD2 "absent
    * keys survive" semantics compose without special cases.
    */
  def dimLocationCdcMerged(spark: SparkSession, dir: String): DataFrame =
    StarSchema.scd2Merge(dimLocation(spark, dir),
      Cdc.applyChanges(locationFeed(spark, dir), Seq("postal_code")),
      businessKey = Seq("postal_code"),
      attrs = Seq("city_name", "country", "region_name"),
      keyName = "location_key", asOf = "2026-03-01")

  def dimBand(staging: DataFrame): DataFrame =
    staging.select(weatherBand(col("band_q")).as("weather_band")).distinct()

  def dimBand(spark: SparkSession, dir: String): DataFrame = dimBand(staging(spark, dir))

  def dimPrecipType(staging: DataFrame): DataFrame =
    staging.select(precipitationType(col("snowfall_in"), col("precipitation_in"))
      .as("precipitation_type")).distinct()

  def dimPrecipType(spark: SparkSession, dir: String): DataFrame =
    dimPrecipType(staging(spark, dir))

  /** Static single-row source dimension (reference DIM_SOURCE,
    * ETL_GlobalWeather_DB.sql:108-113).
    */
  def dimSource(spark: SparkSession): DataFrame =
    spark.range(1).select(
      lit(SourceKey).as("source_key"),
      lit("graft").as("provider"),
      lit("testdata").as("dataset_name"),
      lit("parquet").as("ingest_method"))

  /** Normalized 3NF location table (reference NORMALIZED.LOCATION,
    * ETL_GlobalWeather_DB.sql:150-152).
    */
  def normalizedLocation(dimLocation: DataFrame): DataFrame =
    dimLocation.select("postal_code", "city_name", "country", "region_name")

  def normalizedLocation(spark: SparkSession, dir: String): DataFrame =
    normalizedLocation(dimLocation(spark, dir))

  /** The fact frame BEFORE the window metrics: star join + inline
    * classifications. Shared by [[fact]] (single-pass metrics),
    * [[factWindowForm]] (the declarative Window twin the parity spec
    * pins the single-pass operator against), [[validateFact]] and the
    * inline dashboards (neither reads the metrics — when the metrics
    * were a Window node Catalyst pruned them implicitly; the
    * RunningWindow node has no rule that drops it when its metrics go
    * unused, so that pruning is an explicit call-site choice, see
    * Dashboard's note).
    *
    * The date dimension is not joined: `date_key = date_valid` for
    * every row with a non-null date. This is exact, not an
    * approximation. [[dimDate]] is `distinct(to_date(date_valid))` over
    * the same staging rows and `date_valid` is already a DATE, so each
    * non-null date matches exactly one dimension row (no fan-out, no
    * loss) and the inner join could only drop NULL dates. The join
    * would cost a second lineitem scan and a distinct per build, and
    * Catalyst cannot prove it a no-op itself. The source dimension is one
    * static row, so `source_key` is the constant [[SourceKey]]. The DuckDB
    * `factSql` oracle states the fact the same way, with neither join.
    */
  private[graft] def factFrame(staging: DataFrame, dimLocation: DataFrame): DataFrame = {
    val dl = dimLocation
      .filter(col("is_current"))
      .select("location_key", "postal_code")
    staging
      .filter(col("date_valid").isNotNull)
      .join(broadcast(dl), staging("loc_ref") === dl("postal_code"))
      .select(
        col("date_valid").as("date_key"), col("location_key"),
        weatherBand(col("band_q")).as("weather_band"),
        precipitationType(col("snowfall_in"), col("precipitation_in"))
          .as("precipitation_type"),
        lit(SourceKey).as("source_key"),
        col("l_orderkey"), col("l_linenumber"),
        col("avg_temp_f"), col("precipitation_in"), col("snowfall_in"))
  }

  private[graft] def factFrame(spark: SparkSession, dir: String): DataFrame =
    factFrame(staging(spark, dir), dimLocation(spark, dir))

  /** (date, orderkey, linenumber) alone is NOT total: the generator can
    * emit two lines with the same order/line number for one supplier+day
    * (1 such pair at sf0.1), and a window-order tie makes LAG and the
    * rolling SUM engine-dependent. Tiebreak by every column the window
    * outputs depend on — rows still tied are then full duplicates, which
    * are interchangeable (identical outputs under any permutation).
    */
  private[graft] val factOrder = Seq(col("date_key"), col("l_orderkey"),
    col("l_linenumber"), col("avg_temp_f"), col("precipitation_in"),
    col("snowfall_in"), col("weather_band"))

  /** Fact build (reference FACT_WEATHER_DAY, ETL_GlobalWeather_DB.sql
    * §3.4): star join + LAG day-delta + 7-row rolling sum.
    *
    * Differences from the reference, by design:
    *  - band/precip classifications are inlined CASE expressions
    *    (codegen) rather than joins back to 5-row dimensions;
    *  - the date dimension join is the equivalent not-null filter
    *    (see [[factFrame]]);
    *  - window order is total (date, orderkey, linenumber) — the
    *    reference orders by date alone, which is nondeterministic when a
    *    location has several rows per day.
    */
  def fact(staging: DataFrame, dimLocation: DataFrame): DataFrame =
    graft.plans.RunningWindow.lagDeltaAndRollingSum(
      factFrame(staging, dimLocation), "location_key", factOrder,
      lagCol = "avg_temp_f", sumCol = "precipitation_in", n = 7,
      deltaName = "temp_day_delta", sumName = "precipitation_7d_sum")

  def fact(spark: SparkSession, dir: String): DataFrame =
    fact(staging(spark, dir), dimLocation(spark, dir))

  /** The declarative Window twin of [[fact]] — WindowExec's sliding
    * frame re-aggregates all 7 frame rows per output row and measured
    * 4× the single-pass form at sf10 (RunningWindow scaladoc), so this
    * form exists only as the parity oracle RunningWindowSpec pins
    * [[fact]] against.
    */
  private[graft] def factWindowForm(spark: SparkSession, dir: String): DataFrame = {
    val part = Seq(col("location_key"))
    factFrame(spark, dir)
      .withColumn("temp_day_delta",
        StarSchema.dayDelta(col("avg_temp_f"), part, factOrder))
      .withColumn("precipitation_7d_sum",
        StarSchema.rollingSum(col("precipitation_in"), 7, part, factOrder))
  }

  /** Calendar-aware 7-DAY rolling precipitation via a RANGE frame.
    *
    * The ROWS frame in [[fact]] mirrors the reference's
    * `ROWS BETWEEN 6 PRECEDING` literally; this variant reads the
    * reference's "7d" as calendar days: gap days shrink the window and
    * same-day rows are RANGE peers (always all included), so the result
    * is order-independent within a day. Daily sums snap to integer
    * cents before the rolling re-sum, so the window arithmetic is exact
    * integer math — immune to engine summation order.
    *
    * Scale shape: one partial-aggregating shuffle to (location, day),
    * then the window re-sorts only the dimension-sized daily table.
    */
  def rolling7Day(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = staging(spark, dir)
      .groupBy("loc_ref", "date_valid")
      .agg(round(sum("precipitation_in") * 100, 0).as("__c"))
    val dayNum = datediff(col("date_valid"), to_date(lit("1970-01-01")))
    val w = Window.partitionBy("loc_ref").orderBy(dayNum).rangeBetween(-6, 0)
    daily.select(col("loc_ref"), col("date_valid"),
      (col("__c") / 100.0).as("day_precip"),
      (sum("__c").over(w) / 100.0).as("precip_7day"))
  }

  /** Validation (reference §3.6): FK null count + measure range, one
    * row. Reads no window metric, so it aggregates [[factFrame]]
    * directly and never pays the window's exchange and sort (the
    * RunningWindow node is not pruned when unused; see Dashboard).
    */
  def validateFact(spark: SparkSession, dir: String): DataFrame =
    factFrame(spark, dir).agg(
      sum(when(col("location_key").isNull || col("date_key").isNull, 1L)
        .otherwise(0L)).as("null_fk_count"),
      round(min("avg_temp_f"), 4).as("min_temp"),
      round(max("avg_temp_f"), 4).as("max_temp"))
}
