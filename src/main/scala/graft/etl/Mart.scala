package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized-mart lifecycle — the Spark equivalent of the
  * reference's `CREATE TABLE ... AS SELECT` layer
  * (ETL_GlobalWeather_DB.sql §3.2-3.5): build once, then dashboards
  * read tables instead of re-deriving the star schema per query.
  *
  * Scale design: the fact is written partitioned by `year` (derived
  * from the date key) so date-ranged queries prune whole partitions at
  * the file-listing level — at 100 TB that is the difference between
  * scanning a year and scanning a decade. Dimensions are tiny and land
  * as single unpartitioned tables. Writes are idempotent (overwrite).
  */
object Mart {

  val FactTable = "fact_weather_day"
  val DimTables: Seq[String] =
    Seq("dim_date", "dim_location", "dim_band", "dim_precip_type",
      "dim_source", "normalized_location")

  /** Write the six dimension tables and the year-partitioned fact.
    *
    * The location dimension is built once and pinned ([[graft.core.Pin]],
    * the [[StarSchema.scd2Merge]] idiom): `dim_location`,
    * `normalized_location` and the fact's surrogate-key join all read
    * that one frame. Each write is a separate query, so Catalyst cannot
    * share the subtree across them; unpinned, each consumer would re-run
    * the surrogate rank's range exchange, sort and two passes. One build also gives referential
    * integrity by construction: every fact `location_key` is a key of
    * the written `dim_location`. The date, band and precipitation dims
    * and the fact share one staging frame (one schema read, not four).
    */
  def materialize(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name")
    val staging = WeatherMart.staging(spark, srcDir)
    val dimLocation = graft.core.Pin.pin(WeatherMart.dimLocation(spark, srcDir))
    write(WeatherMart.dimDate(staging), "dim_date")
    write(dimLocation, "dim_location")
    write(WeatherMart.dimBand(staging), "dim_band")
    write(WeatherMart.dimPrecipType(staging), "dim_precip_type")
    write(WeatherMart.dimSource(spark), "dim_source")
    write(WeatherMart.normalizedLocation(dimLocation), "normalized_location")
    // REBALANCE by the partition column before the write (guide §6):
    // without it every upstream task writes its own sliver into every
    // year directory — 112 files of ~116 KB at sf0.1 — and the read
    // twins (q1m..q5m) pay per-file listing/open overhead that made 32
    // cores measurably SLOWER than 8. The AQE rebalance sizes output
    // partitions by advisoryPartitionSizeInBytes, so at small SF each
    // year lands as one well-sized file while at 100 TB a skewed year
    // is SPLIT into advisory-sized chunks — scale-adaptive in both
    // directions, no constant tuned for either regime.
    WeatherMart.fact(staging, dimLocation)
      .withColumn("year", year(col("date_key")))
      .hint("rebalance", col("year"))
      .write.mode("overwrite").partitionBy("year")
      .parquet(s"$outDir/$FactTable")
  }

  def table(spark: SparkSession, outDir: String, name: String): DataFrame =
    spark.read.parquet(s"$outDir/$name")

  /** Bucketed materialization: pays the shuffle ONCE at write time.
    *
    * A table bucketed (and sorted) by its join/grouping key satisfies
    * the hash-distribution requirement at read time, so every later
    * join between tables bucketed the same way — and every aggregation
    * on the bucket key — runs with ZERO exchanges. At 100 TB this turns
    * the recurring fact⋈fact or fact-groupBy shuffle into a one-time
    * write cost; bucket count should be sized to cluster parallelism
    * (and is pinned in the table metadata, so both join sides always
    * agree). Requires `saveAsTable` (bucket metadata lives in the
    * catalog, not the parquet files).
    */
  def writeBucketed(df: DataFrame, tableName: String, bucketCols: Seq[String],
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)

  /** Incremental refresh: rewrite ONLY the year partitions present in
    * `updates` — dynamic partition overwrite leaves every other year's
    * files untouched. This is the daily-load path at 100 TB: a day of
    * late-arriving data rewrites one year directory (typically one),
    * not the decade-sized table. `updates` must have the fact schema
    * (the year partition column is derived here, like [[materialize]]).
    */
  def refreshFact(spark: SparkSession, outDir: String, updates: DataFrame): Unit =
    updates
      .withColumn("year", year(col("date_key")))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("year")
      .parquet(s"$outDir/$FactTable")

  /** KEY-level copy-on-write merge — the Delta-MERGE shape on plain
    * parquet, for feeds that touch individual rows rather than whole
    * partitions ([[refreshFact]]'s unit of work). An update row
    * REPLACES the stored row with its key; a new key INSERTS.
    *
    * Only the feed's year partitions are read or written: the stored
    * side is scanned with a partition filter on those years, and
    * stored∖feed-keys ∪ feed goes to [[refreshFact]]. Untouched years'
    * files stay byte-identical (spec-pinned). Re-running the same merge
    * converges: replayed feed keys anti-join their own previous
    * application away.
    *
    * The scan, anti-join, union and write are one query that reads the
    * directories it replaces. Dynamic overwrite makes that safe: tasks
    * write below `.spark-staging-<job>`, and the touched years are
    * swapped in only at job commit, after every task has read them; a
    * failed job leaves the stored files as they were. Only the feed is
    * pinned (three consumers read it).
    */
  def mergeFact(spark: SparkSession, outDir: String, updates: DataFrame,
                keys: Seq[String] = Seq("date_key", "l_orderkey",
                  "l_linenumber")): Unit = {
    val up = updates.withColumn("year", year(col("date_key")))
      .transform(graft.core.Pin.pin(_))
    val touchedRows = up.select("year").distinct().collect()
    // year(NULL) is NULL: without this check a NULL date_key in the
    // feed surfaced as an opaque NPE on getInt below — name the
    // violated contract instead (date_key is the partition column;
    // a row without one has no home partition).
    require(!touchedRows.exists(_.isNullAt(0)),
      "mergeFact: updates contain NULL date_key — every feed row " +
        "must carry a non-null date_key (the year partition column)")
    val touched = touchedRows.map(_.getInt(0)).toSeq
    if (touched.isEmpty) return
    val stored = table(spark, outDir, FactTable)
      .filter(col("year").isin(touched: _*))
    refreshFact(spark, outDir, stored
      .join(up.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(up.select(stored.columns.map(col): _*)))
  }

  /** Fact for a date range — the filter on the partition column prunes
    * non-matching year directories before any file is opened.
    */
  def factBetween(spark: SparkSession, outDir: String,
                  from: String, to: String): DataFrame =
    table(spark, outDir, FactTable)
      .filter(col("year").between(year(lit(from).cast("date")),
        year(lit(to).cast("date"))))
      .filter(col("date_key").between(lit(from).cast("date"), lit(to).cast("date")))
}
