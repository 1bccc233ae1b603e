package graft.etl

import graft.plans.GlobalPrefix
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic star-schema ELT building blocks.
  *
  * Re-expresses the dimensional-modelling surface of the reference
  * (MatejMedvec/GlobalWeather-ETL, sql/ETL_GlobalWeather_DB.sql §3.3–3.6)
  * as composable, Catalyst-friendly DataFrame transforms. Nothing here
  * collects to the driver; every builder returns a lazy plan.
  */
object StarSchema {

  /** SCD Type-0 date dimension with derived calendar attributes
    * (ISO day-of-week and ISO week, like the reference's
    * DAYOFWEEKISO/WEEKISO — ETL_GlobalWeather_DB.sql:47-49).
    *
    * Scale note: the DISTINCT is a shuffle over a tiny key space
    * (one row per calendar day) — partial aggregation makes it a
    * map-side dedup followed by a near-empty exchange.
    */
  def dimDate(src: DataFrame, dateCol: Column): DataFrame =
    src.select(to_date(dateCol).as("date_key")).distinct().select(
      col("date_key"),
      col("date_key").as("full_date"),
      year(col("date_key")).cast("long").as("year"),
      month(col("date_key")).cast("long").as("month"),
      dayofmonth(col("date_key")).cast("long").as("day"),
      (weekday(col("date_key")) + lit(1)).cast("long").as("day_of_week"),
      weekofyear(col("date_key")).cast("long").as("week_of_year"),
      dayofyear(col("date_key")).cast("long").as("day_of_year"))

  /** Global row numbering: `ROW_NUMBER() OVER (ORDER BY orderBy)` as
    * long `keyName`, without an unpartitioned window — a billion-row
    * entity table never funnels through one task. One planner node
    * ([[graft.plans.GlobalPrefix]]): a range exchange, a sort, a
    * per-partition count and a pass that adds each partition's offset.
    * NULL order keys rank first, as ROW_NUMBER's default ordering puts
    * them.
    */
  def globalRank(src: DataFrame, orderBy: Seq[String], keyName: String): DataFrame =
    GlobalPrefix.rank(src, orderBy, keyName)

  /** Global INCLUSIVE prefix sum of `valueCol` (long) under the total
    * order `orderBy` — the running-total twin of [[globalRank]], on the
    * same node. `orderBy` must be a total order (unique key tuple) or
    * tied rows split their running totals arbitrarily.
    */
  def globalPrefixSum(src: DataFrame, orderBy: Seq[String], valueCol: String,
                      outName: String): DataFrame =
    GlobalPrefix.sum(src, orderBy, valueCol, outName)

  /** Global EXCLUSIVE prefix MAX of `valueCol` under the total order
    * `orderBy` — the running-max sibling of [[globalPrefixSum]]
    * (sweep-line algorithms like the skyline need "best seen among
    * STRICTLY earlier rows"). NULL where no earlier row exists. Never an
    * unpartitioned window, whatever the row count.
    */
  def globalPrefixMax(src: DataFrame, orderBy: Seq[String], valueCol: String,
                      outName: String): DataFrame =
    GlobalPrefix.priorMax(src, orderBy, valueCol, outName)

  /** Point-in-time (temporal) join against an SCD2 dimension: each
    * observation row picks the dimension VERSION whose validity
    * interval covers its date — the query the VALID_FROM/VALID_TO
    * schema exists to answer ("which city was this postal code in
    * when the event happened?").
    *
    * Scale shape: an equi-join on the business key (hash-partitioned,
    * the dim usually broadcast) with the validity range as a
    * post-filter — the pre-filter fan-out is versions-per-key, which
    * is bounded by update cadence, not by data size, so this is NOT a
    * range join needing bucket expansion. NULL `validTo` is the
    * open-ended current version. ISO date STRINGS order
    * lexicographically, so string validity columns compare correctly.
    */
  def pitJoin(obs: DataFrame, dim: DataFrame, keys: Seq[String],
              obsDate: String, validFrom: String = "valid_from",
              validTo: String = "valid_to"): DataFrame =
    obs.join(dim, keys)
      .filter(col(obsDate) >= col(validFrom) &&
        (col(validTo).isNull || col(obsDate) < col(validTo)))

  /** SCD Type-1 dimension: ROW_NUMBER surrogate key over the distinct
    * natural key plus validity metadata (reference DIM_LOCATION,
    * ETL_GlobalWeather_DB.sql:60-74). `validFrom` is a caller-supplied
    * fixed date: the reference uses CURRENT_DATE(), which is not
    * reproducible across runs.
    *
    * Surrogate keys come from [[globalRank]], so even a billion-row
    * entity dimension never funnels through one task.
    */
  def scd1(src: DataFrame, naturalKey: Seq[String], orderBy: Seq[String],
           keyName: String, validFrom: String): DataFrame =
    globalRank(src.select(naturalKey.map(col): _*).distinct(), orderBy, keyName)
      .withColumn("valid_from", to_date(lit(validFrom)))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
      .select((keyName +: naturalKey) ++
        Seq("valid_from", "valid_to", "is_current") map col: _*)

  /** SCD Type-2 incremental merge: fold a new snapshot into an existing
    * dimension, versioning changed rows instead of rebuilding wholesale.
    *
    * The reference's dim schema carries VALID_FROM/VALID_TO/IS_CURRENT
    * (ETL_GlobalWeather_DB.sql:41-44) but only ever rebuilds with
    * CREATE OR REPLACE; this is the incremental path those columns
    * imply, and the only viable one at 100 TB — touch the changed keys,
    * not the table.
    *
    * Given the current dimension (schema as produced by [[scd1]]: one
    * surrogate `keyName`, `businessKey` columns, `attrs` columns,
    * valid_from/valid_to/is_current) and an incoming snapshot
    * (businessKey + attrs), produces the merged dimension:
    *  - unchanged / untouched rows pass through;
    *  - rows whose attrs changed are closed out (valid_to = asOf,
    *    is_current = false) and a new current version is inserted;
    *  - brand-new business keys are inserted as current rows;
    *  - new surrogate keys continue after the existing maximum, assigned
    *    by ROW_NUMBER over the business key (total order → deterministic).
    *
    * Scale: one shuffle joins the whole dim (history included) to the
    * snapshot on the business key; the `is_current` join residual
    * leaves historical rows unmatched, so they exit verbatim through
    * the untouched branch of a 3-way union over that one joined frame.
    * The 1-row max-key aggregate reads that joined frame and
    * broadcasts; the surrogate rank runs
    * only over NEW rows (a dimension-sized, not fact-sized, set).
    */
  def scd2Merge(dim: DataFrame, snapshot: DataFrame, businessKey: Seq[String],
                attrs: Seq[String], keyName: String, asOf: String): DataFrame = {
    val outCols = (keyName +: (businessKey ++ attrs)) ++
      Seq("valid_from", "valid_to", "is_current")
    val snap = snapshot.select((businessKey ++ attrs).map(col): _*).distinct()

    val attrDiffers: Column = attrs
      .map(a => !(col(s"cur.$a") <=> col(s"snap.$a")))
      .reduceOption(_ || _).getOrElse(lit(false))
    // The merge delta is dimension-sized by contract, and every output
    // branch (untouched / closed / inserted) plus the insert-rank pass
    // reads it. Materialize it ONCE: without this, each branch re-runs
    // the dim build and the dim⋈snapshot join (4-5× the work), and at
    // cluster scale an incremental merge chained daily would replay its
    // whole lineage. This is the one place the ELT layer trades plan
    // purity for a bounded, dimension-sized materialization.
    //
    // The WHOLE dim joins (r16 branch fusion, guide §5 latency /
    // §2.4): the `is_current` residual keeps history rows unmatched,
    // so they surface as (hist, null-snap) rows and ride the untouched
    // branch below — history needs no separate union branch re-reading
    // the dim, the final plan is a 3-way union over ONE pinned frame, and
    // the snapshot side still matches only current versions exactly as
    // before (Scd2MergeSpec pins the twice-merged history behavior).
    val joined = dim.as("cur").join(snap.as("snap"),
      businessKey.map(k => col(s"cur.$k") <=> col(s"snap.$k")).reduce(_ && _) &&
        col("cur.is_current"),
      "full_outer")
      .transform(graft.core.Pin.pin(_, eager = false))

    // history rows, current rows absent from the snapshot, and current
    // rows with identical attrs: keep verbatim
    val untouched = joined
      .filter(col(s"snap.${businessKey.head}").isNull ||
        (col(s"cur.$keyName").isNotNull && !attrDiffers))
      .select(outCols.map(c => col(s"cur.$c")): _*)
    // current rows superseded by a changed snapshot version: close out
    val closed = joined
      .filter(col(s"cur.$keyName").isNotNull &&
        col(s"snap.${businessKey.head}").isNotNull && attrDiffers)
      .select(outCols.map {
        case "valid_to"   => to_date(lit(asOf)).as("valid_to")
        case "is_current" => lit(false).as("is_current")
        case c            => col(s"cur.$c")
      }: _*)
    // changed or brand-new snapshot rows become the new current versions
    val incoming = joined
      .filter(col(s"snap.${businessKey.head}").isNotNull &&
        (col(s"cur.$keyName").isNull || attrDiffers))
      .select((businessKey ++ attrs).map(c => col(s"snap.$c").as(c)): _*)
    // every dim row sits on the cur side of the full outer join, so
    // the pinned frame also yields the max key (duplicate matches do
    // not move a max), and the dim has one consumer
    val maxKey = joined.filter(col("cur.is_current")).agg(
      coalesce(max(col(s"cur.$keyName")), lit(0L)).as("__max_key"))
    val inserted = globalRank(incoming, businessKey, "__new_rank")
      .crossJoin(broadcast(maxKey))
      .withColumn(keyName, (col("__max_key") + col("__new_rank")).cast("long"))
      .drop("__new_rank")
      .withColumn("valid_from", to_date(lit(asOf)))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
      .select(outCols.map(col): _*)

    untouched.unionByName(closed).unionByName(inserted)
  }

  /** CASE banding of a continuous measure into labeled buckets
    * (reference DIM_WEATHER_BAND, ETL_GlobalWeather_DB.sql:80-90).
    * `bounds` are inclusive upper bounds for all labels but the last.
    * Pure expression — codegen'd inline, never a join at fact scale.
    */
  def banded(measure: Column, bounds: Seq[Double], labels: Seq[String]): Column = {
    require(labels.length == bounds.length + 1, "need one more label than bound")
    val base: Column = lit(labels.last)
    bounds.zip(labels).foldRight(base) { case ((b, l), rest) =>
      when(measure <= b, l).otherwise(rest)
    }
  }

  /** Day-over-day delta of `value` (reference TEMP_DAY_DELTA via LAG,
    * ETL_GlobalWeather_DB.sql:120-124). The order columns must form a
    * total order inside each partition or the result is nondeterministic.
    */
  def dayDelta(value: Column, partition: Seq[Column], order: Seq[Column]): Column =
    round(value - lag(value, 1).over(Window.partitionBy(partition: _*).orderBy(order: _*)), 4)

  /** N-row rolling sum (reference PRECIPITATION_7D_SUM,
    * ETL_GlobalWeather_DB.sql:125-130). Shares partition+order with
    * [[dayDelta]] so Catalyst evaluates both in a single Window node —
    * one shuffle, one sort, two metrics.
    */
  def rollingSum(value: Column, n: Int, partition: Seq[Column], order: Seq[Column]): Column =
    round(sum(value).over(
      Window.partitionBy(partition: _*).orderBy(order: _*).rowsBetween(-(n - 1), 0)), 4)
}
