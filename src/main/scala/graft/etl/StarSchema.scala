package graft.etl

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

  /** Order-preserving deterministic bucketing on the first order column
    * (shared by [[globalRank]] and [[globalPrefixSum]]): numeric →
    * fixed-width buckets from exact min/max; string → first-character
    * bucket. No sampling (unlike `repartitionByRange`), so every
    * subtree that recomputes the bucketing agrees on it.
    */
  private def orderBucket(src: DataFrame, orderKey: String,
                          buckets: Int): DataFrame => DataFrame = {
    import org.apache.spark.sql.types.{DateType, NumericType, StringType,
      TimestampType}
    val k = col(orderKey)
    // numeric image of the key, order-preserving (dates/timestamps map
    // to their epoch offset): anything here gets exact-min/max range
    // buckets; the constant fallback below is a single-partition funnel
    // AND Catalyst folds the literal partition key away, leaving an
    // unpartitioned WindowExec
    val numericKey = src.schema(orderKey).dataType match {
      case _: NumericType => Some(k.cast("double"))
      case DateType => Some(unix_date(k).cast("double"))
      case TimestampType => Some(unix_micros(k).cast("double"))
      case _ => None
    }
    numericKey match {
      case Some(nk) =>
        // exact min/max (deterministic, unlike range-partitioner sampling)
        val stats = src.agg(min(nk).as("__lo"), max(nk).as("__hi"))
        (df: DataFrame) => df.crossJoin(broadcast(stats))
          .withColumn("__bkt", least(lit(buckets - 1),
            floor((nk - col("__lo")) * buckets /
              (col("__hi") - col("__lo") + 1d)).cast("int")))
          .drop("__lo", "__hi")
      case None if src.schema(orderKey).dataType == StringType =>
        (df: DataFrame) => df.withColumn("__bkt",
          coalesce(ascii(substring(k, 1, 1)), lit(0)))
      case None =>
        (df: DataFrame) => df.withColumn("__bkt", lit(0))
    }
  }

  /** The bucketed two-phase scaffold every global ordered aggregate
    * here shares ([[globalRank]] / [[globalPrefixSum]] /
    * [[globalPrefixMax]]): order-preserving buckets → a per-bucket
    * windowed local value → per-bucket totals → triangular offsets of
    * the PRIOR buckets' totals → broadcast join back and combine. The
    * locally-windowed frame feeds BOTH the totals and the final join;
    * without pinning, each consumer replays the whole upstream lineage
    * (source scan + distinct + the min/max stats subtree), so it is
    * pinned ([[graft.core.Pin]]) once — one pass of the input plus two
    * small columns, and the offsets pass cannot start before it anyway.
    */
  private def bucketedTwoPhase(src: DataFrame, orderBy: Seq[String],
                               buckets: Int, outName: String)(
      localOver: org.apache.spark.sql.expressions.WindowSpec => Column,
      bucketTotal: Column,
      offsetOf: Column => Column,
      combine: (Column, Column) => Column): DataFrame = {
    val bucket = orderBucket(src, orderBy.head, buckets)
    val w = Window.partitionBy("__bkt").orderBy(orderBy.map(col): _*)
    val local = bucket(src).withColumn("__loc", localOver(w))
      .transform(graft.core.Pin.pin(_, eager = false))
    val totals = local.groupBy("__bkt").agg(bucketTotal.as("__tot"))
    val offsets = totals.as("a")
      .join(totals.as("b"), col("b.__bkt") < col("a.__bkt"), "left")
      .groupBy(col("a.__bkt").as("__bkt"))
      .agg(offsetOf(col("b.__tot")).as("__off"))
    local.join(broadcast(offsets), "__bkt")
      .withColumn(outName, combine(col("__off"), col("__loc")))
      .drop("__bkt", "__loc", "__off")
  }

  /** Global dense row numbering WITHOUT an unpartitioned window.
    *
    * `ROW_NUMBER() OVER (ORDER BY …)` funnels the whole input through a
    * single task — fine for a 5-row dim, fatal for a billion-row entity
    * table. This produces bit-identical ranks scalably:
    *
    *  1. bucket each row by an order-preserving, DETERMINISTIC function
    *     of the first order column (numeric → fixed-width buckets from
    *     exact min/max; string → first-character bucket). No sampling
    *     (unlike `repartitionByRange`), so every subtree that recomputes
    *     the bucketing agrees on it;
    *  2. ROW_NUMBER within each bucket (a partitioned window — parallel);
    *  3. per-bucket counts → cumulative offsets via a tiny
    *     buckets×buckets self-join (≤ a few hundred rows — broadcast);
    *  4. rank = offset + local row number.
    *
    * Buckets are order-preserving, so offset+local == the global
    * ROW_NUMBER under the same total order. Width buckets can skew
    * (bounded by buckets× the average for id-like keys); that trades a
    * bounded imbalance for determinism and zero driver collection.
    */
  def globalRank(src: DataFrame, orderBy: Seq[String], keyName: String,
                 buckets: Int = 64): DataFrame =
    bucketedTwoPhase(src, orderBy, buckets, keyName)(
      w => row_number().over(w),
      count(lit(1)),
      t => coalesce(sum(t), lit(0L)),
      (off, rn) => (off + rn).cast("long"))

  /** Global INCLUSIVE prefix sum of `valueCol` under the total order
    * `orderBy` — the running-total twin of [[globalRank]], with the
    * same two-phase shape: partitioned running sums within
    * order-preserving buckets, then a broadcast of per-bucket totals'
    * cumulative offsets. `orderBy` must be a total order (unique key
    * tuple); the window frame is ROWS-based so peers never collapse.
    */
  def globalPrefixSum(src: DataFrame, orderBy: Seq[String], valueCol: String,
                      outName: String, buckets: Int = 64): DataFrame =
    bucketedTwoPhase(src, orderBy, buckets, outName)(
      w => sum(col(valueCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
      sum(col(valueCol)),
      t => coalesce(sum(t), lit(0L)),
      (off, ps) => (off + ps).cast("long"))

  /** Global EXCLUSIVE prefix MAX of `valueCol` under the total order
    * `orderBy` — the running-max sibling of [[globalPrefixSum]]
    * (sweep-line algorithms like the skyline need "best seen among
    * STRICTLY earlier rows"): per-bucket exclusive running max within
    * order-preserving buckets, then a broadcast of prior buckets'
    * maxes. NULL where no earlier row exists. Never an unpartitioned
    * window, whatever the row count.
    */
  def globalPrefixMax(src: DataFrame, orderBy: Seq[String], valueCol: String,
                      outName: String, buckets: Int = 64): DataFrame =
    bucketedTwoPhase(src, orderBy, buckets, outName)(
      w => max(col(valueCol)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)),
      max(col(valueCol)),
      t => max(t),
      (off, pm) => greatest(off, pm))

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
    * The 1-row max-key aggregate broadcasts; the surrogate window runs
    * only over NEW rows (a dimension-sized, not fact-sized, set).
    */
  def scd2Merge(dim: DataFrame, snapshot: DataFrame, businessKey: Seq[String],
                attrs: Seq[String], keyName: String, asOf: String): DataFrame = {
    val outCols = (keyName +: (businessKey ++ attrs)) ++
      Seq("valid_from", "valid_to", "is_current")
    // The dim side is read by two otherwise-independent jobs — the
    // merge join and the 1-row max-key aggregate. When the caller
    // derives it inline (rather than reading a stored table) each of
    // those replays the whole dim-build lineage; pin it once — it is
    // dimension-sized by definition.
    val dimM = graft.core.Pin.pin(dim, eager = false)
    val current = dimM.filter(col("is_current"))
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
    // dimM, the final plan is a 3-way union over ONE pinned frame, and
    // the snapshot side still matches only current versions exactly as
    // before (Scd2MergeSpec pins the twice-merged history behavior).
    val joined = dimM.as("cur").join(snap.as("snap"),
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
    val maxKey = current.agg(
      coalesce(max(col(keyName)), lit(0L)).as("__max_key"))
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
