package graft.queries

import graft.core.Tables
import graft.etl.{Cube, Dashboard, Ingest, Mart, WeatherMart}
import graft.operators.RangeJoin
import graft.queries.QuerySpec.{by, sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The warehouse surface: staging, the six dimensions and SCD2
  * variants, the windowed fact and its validation, the q1–q5
  * dashboards (inline, and re-read from the materialized mart), and the
  * TPC-H-shaped ELT and analytics over lineitem/orders/customer/part
  * (ingest, CDC, gap fill, cubes, joins, segmentation).
  */
object EtlQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    QuerySpec("stg_load", (s, d) => WeatherMart.staging(s, d),
      sql(s"SELECT * FROM ($stgSql) ORDER BY l_orderkey, l_linenumber"),
      sortKeys = by("l_orderkey", "l_linenumber"), bigSort = true),
    // file-drop Extract: parquet truth → CSV/JSON → explicit-schema
    // quarantining read; oracle reads the parquet, so a hash match
    // proves the ingest is lossless and quarantine stayed empty
    QuerySpec("csv_ingest", (s, d) => Ingest.csvRoundTrip(s, d),
      sql("SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"),
      sortKeys = by("doc_id")),
    QuerySpec("json_ingest", (s, d) => Ingest.jsonRoundTrip(s, d),
      sql("SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"),
      sortKeys = by("doc_id")),
    // classic pricing-summary shape (TPC-H Q1 analog): one wide partial
    // aggregate over the fact scan, grouped by two low-cardinality flags
    QuerySpec("pricing_summary", (s, d) => Tables(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        // money sums accumulate in exact cent BIGINTs: a double sum over
        // 10^8+ rows drifts past the half-cent and the rounded output
        // flips between engines; a long sum of exact per-row cents cannot
        (sum(round(col("l_extendedprice") * 100, 0).cast("long")).cast("double")
          / 100.0).as("sum_price"),
        (round(sum("l_quantity") * 100, 0) / count(lit(1)) / 100.0).as("avg_qty"),
        (sum(round(col("l_extendedprice") * 100, 0).cast("long")).cast("double")
          / count(lit(1)) / 100.0).as("avg_price"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus"),
      sql("""SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS sum_price,
        |  ROUND(SUM(l_quantity) * 100, 0) / COUNT(*) / 100.0 AS avg_qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / COUNT(*) / 100.0 AS avg_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    // generic data-profiling (etl.Profile): the oracle checks the EXACT
    // variant; the scale default is approx_count_distinct (no Expand,
    // fixed-size HLL++ state), spec-bounded against exact in ProfileSpec
    QuerySpec("table_profile", (s, d) => graft.etl.Profile.tableProfile(
      Tables(s, d, "lineitem"),
      Seq("l_suppkey", "l_quantity", "l_discount", "l_returnflag"),
      exact = true),
      sql("""SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_suppkey,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS distinct_l_suppkey,
        |  CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_quantity,
        |  CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS distinct_l_quantity,
        |  CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_discount,
        |  CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS distinct_l_discount,
        |  CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_returnflag,
        |  CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS distinct_l_returnflag
        |FROM lineitem""".stripMargin)),
    QuerySpec("dim_date", (s, d) => WeatherMart.dimDate(s, d).orderBy("date_key"),
      sql("""SELECT CAST(dk AS VARCHAR) AS date_key, CAST(dk AS VARCHAR) AS full_date,
        |  CAST(year(dk) AS BIGINT) AS year,
        |  CAST(month(dk) AS BIGINT) AS month,
        |  CAST(day(dk) AS BIGINT) AS day,
        |  CAST(isodow(dk) AS BIGINT) AS day_of_week,
        |  CAST(weekofyear(dk) AS BIGINT) AS week_of_year,
        |  CAST(dayofyear(dk) AS BIGINT) AS day_of_year
        |FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) AS dk FROM lineitem)
        |ORDER BY date_key""".stripMargin)),
    QuerySpec("dim_location", (s, d) => WeatherMart.dimLocation(s, d).orderBy("location_key"),
      sql(s"SELECT * FROM ($dimLocationSql) ORDER BY location_key")),
    QuerySpec("dim_scd2_merge", (s, d) => WeatherMart.dimLocationMerged(s, d)
      .orderBy("location_key"),
      // Mirrors WeatherMart.dimLocationMerged (StarSchema.scd2Merge with
      // businessKey=postal_code, asOf=2026-02-01): full-outer dim↔snapshot,
      // untouched/closed/inserted branches, new keys continue after max.
      sql(s"$scd2MergedSql\nORDER BY location_key")),
    // temporal (point-in-time) lookup against the versioned dimension:
    // each observation date resolves to the ONE version valid then
    QuerySpec("scd2_pit_join", (s, d) => {
      val obs = WeatherMart.locationNatural(s, d).select("postal_code")
        .withColumn("obs_date",
          explode(array(lit("2026-01-15"), lit("2026-02-15"))))
      graft.etl.StarSchema
        .pitJoin(obs, WeatherMart.dimLocationMerged(s, d), Seq("postal_code"),
          "obs_date")
        .select("postal_code", "obs_date", "location_key", "city_name",
          "country", "region_name", "is_current")
        .orderBy("postal_code", "obs_date")
    },
      // Mirrors StarSchema.pitJoin over the merged dimension: one date
      // inside the closed versions' window, one in the current window —
      // every observation resolves to exactly one version.
      sql(s"""WITH m AS ($scd2MergedSql),
         |obs AS (
         |  SELECT postal_code, obs_date
         |  FROM ($locNaturalSql)
         |  CROSS JOIN (VALUES ('2026-01-15'), ('2026-02-15')) v(obs_date))
         |SELECT obs.postal_code, obs.obs_date, m.location_key, m.city_name,
         |  m.country, m.region_name, m.is_current
         |FROM obs JOIN m ON obs.postal_code = m.postal_code
         |WHERE obs.obs_date >= m.valid_from
         |  AND (m.valid_to IS NULL OR obs.obs_date < m.valid_to)
         |ORDER BY obs.postal_code, obs.obs_date""".stripMargin)),
    // the composed incremental path: CDC delta feed → compacted
    // snapshot → SCD2 versioned dimension (WeatherMart.dimLocationCdcMerged)
    QuerySpec("cdc_scd2", (s, d) => WeatherMart.dimLocationCdcMerged(s, d)
      .orderBy("location_key"),
      // Mirrors WeatherMart.dimLocationCdcMerged: the CDC feed compacted
      // latest-seq-wins (D > U > I on ties, deletes dropped) becomes the
      // snapshot folded into the dim by the same merge as dim_scd2_merge.
      sql(s"""WITH dim AS ($dimLocationSql),
         |nat AS ($locNaturalSql),
         |feed AS (
         |  SELECT postal_code, city_name, country, region_name, 1 AS seq, 'I' AS op FROM nat
         |  UNION ALL SELECT postal_code, city_name, 'RELOCATED', region_name, 2, 'U'
         |  FROM nat WHERE postal_code % 7 = 0
         |  UNION ALL SELECT postal_code, city_name, country, region_name, 2, 'D'
         |  FROM nat WHERE postal_code % 13 = 0
         |  UNION ALL SELECT postal_code, city_name, 'REZONED', region_name, 3, 'U'
         |  FROM nat WHERE postal_code % 21 = 0
         |  UNION ALL SELECT 999998, 'cdc_city', 'NN', 'MM', 2, 'I'),
         |snap AS (
         |  SELECT postal_code, city_name, country, region_name FROM (
         |    SELECT *, row_number() OVER (PARTITION BY postal_code
         |      ORDER BY seq DESC,
         |        CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END DESC) AS rn
         |    FROM feed)
         |  WHERE rn = 1 AND op <> 'D'),
         |j AS (
         |  SELECT d.location_key, d.postal_code AS d_pc, d.city_name AS d_city,
         |    d.country AS d_ctry, d.region_name AS d_reg, d.valid_from,
         |    s.postal_code AS s_pc, s.city_name AS s_city, s.country AS s_ctry,
         |    s.region_name AS s_reg,
         |    (s.postal_code IS NOT NULL AND d.location_key IS NOT NULL AND
         |     (d.city_name <> s.city_name OR d.country <> s.country
         |      OR d.region_name <> s.region_name)) AS changed
         |  FROM dim d FULL OUTER JOIN snap s ON d.postal_code = s.postal_code),
         |merged AS (
         |  SELECT location_key, d_pc AS postal_code, d_city AS city_name,
         |    d_ctry AS country, d_reg AS region_name, valid_from,
         |    CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
         |  FROM j WHERE location_key IS NOT NULL AND (s_pc IS NULL OR NOT changed)
         |  UNION ALL
         |  SELECT location_key, d_pc, d_city, d_ctry, d_reg, valid_from,
         |    '2026-03-01', FALSE
         |  FROM j WHERE changed
         |  UNION ALL
         |  SELECT (SELECT MAX(location_key) FROM dim)
         |      + ROW_NUMBER() OVER (ORDER BY s_pc),
         |    s_pc, s_city, s_ctry, s_reg, '2026-03-01',
         |    CAST(NULL AS VARCHAR), TRUE
         |  FROM j WHERE s_pc IS NOT NULL AND (location_key IS NULL OR changed))
         |SELECT CAST(location_key AS BIGINT) AS location_key, postal_code,
         |  city_name, country, region_name, valid_from, valid_to, is_current
         |FROM merged ORDER BY location_key""".stripMargin)),
    QuerySpec("dim_band", (s, d) => WeatherMart.dimBand(s, d),
      sql(s"""SELECT DISTINCT $bandCase AS weather_band
         |FROM (SELECT l_quantity AS band_q FROM lineitem)
         |ORDER BY weather_band""".stripMargin)),
    QuerySpec("dim_precip_type", (s, d) => WeatherMart.dimPrecipType(s, d),
      sql(s"""SELECT DISTINCT $precipCase AS precipitation_type
         |FROM (SELECT l_tax AS snowfall_in, l_discount AS precipitation_in FROM lineitem)
         |ORDER BY precipitation_type""".stripMargin)),
    QuerySpec("dim_source", (s, _) => WeatherMart.dimSource(s),
      sql("""SELECT CAST(1 AS BIGINT) AS source_key, 'graft' AS provider,
        |  'testdata' AS dataset_name, 'parquet' AS ingest_method""".stripMargin)),
    QuerySpec("normalized_3nf", (s, d) => WeatherMart.normalizedLocation(s, d),
      sql(s"SELECT * FROM ($locNaturalSql) ORDER BY postal_code")),
    // the reference's other two 3NF tables (NORMALIZED.DATE /
    // NORMALIZED.WEATHER_DAY, ETL_GlobalWeather_DB.sql:148-175):
    // surrogate-free date attributes and the natural-key measure table
    QuerySpec("normalized_date", (s, d) => WeatherMart.dimDate(s, d)
      .select(col("full_date").as("date_valid"), col("year"), col("month"),
        col("day"), col("day_of_year"), col("week_of_year"), col("day_of_week"))
      .orderBy("date_valid"),
      sql("""SELECT CAST(dk AS VARCHAR) AS date_valid,
        |  CAST(year(dk) AS BIGINT) AS year,
        |  CAST(month(dk) AS BIGINT) AS month,
        |  CAST(day(dk) AS BIGINT) AS day,
        |  CAST(dayofyear(dk) AS BIGINT) AS day_of_year,
        |  CAST(weekofyear(dk) AS BIGINT) AS week_of_year,
        |  CAST(isodow(dk) AS BIGINT) AS day_of_week
        |FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) AS dk FROM lineitem)
        |ORDER BY date_valid""".stripMargin)),
    // column-complete per ETL_GlobalWeather_DB.sql:160-175: every
    // measure the test schema maps rides along (band_q = l_quantity,
    // the banding measure; the reference's other 9 measure columns
    // have no counterpart column in the harness tables — SURVEY §1)
    QuerySpec("normalized_weather_day", (s, d) => WeatherMart.staging(s, d)
      .select(col("date_valid"), col("loc_ref").as("postal_code"),
        col("avg_temp_f"), col("precipitation_in"), col("snowfall_in"),
        col("band_q")),
      sql(s"""SELECT date_valid, loc_ref AS postal_code, avg_temp_f,
         |  precipitation_in, snowfall_in, band_q
         |FROM ($stgSql) ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin),
      sortKeys = by("date_valid", "postal_code",
        "avg_temp_f", "precipitation_in", "snowfall_in", "band_q"), bigSort = true),
    // set difference: snapshot rows not present in the current dim
    // naturals = the day's changed + brand-new locations (EXCEPT is a
    // distinct-aggregating shuffle — same cost shape as a groupBy)
    QuerySpec("location_drift", (s, d) =>
      WeatherMart.locationSnapshot(s, d)
        .except(WeatherMart.locationNatural(s, d))
        .orderBy("postal_code"),
      // Mirrors the location_drift query (snapshot EXCEPT naturals); snap
      // derivation matches WeatherMart.locationSnapshot.
      sql(s"""WITH nat AS ($locNaturalSql),
         |snap AS (
         |  SELECT postal_code, city_name,
         |    CASE WHEN postal_code % 7 = 0 THEN 'RELOCATED' ELSE country END AS country,
         |    region_name
         |  FROM nat WHERE postal_code % 13 <> 0
         |  UNION ALL SELECT 999999, 'new_city', 'XX', 'YY')
         |SELECT * FROM snap EXCEPT SELECT * FROM nat ORDER BY postal_code""".stripMargin)),
    QuerySpec("fact_build", (s, d) => WeatherMart.fact(s, d),
      sql(s"""$factSql
         |ORDER BY l.location_key, f.date_valid, f.l_orderkey, f.l_linenumber,
         |  f.avg_temp_f, f.precipitation_in, f.snowfall_in""".stripMargin),
      sortKeys = by("location_key", "date_key", "l_orderkey", "l_linenumber",
        "avg_temp_f", "precipitation_in", "snowfall_in"), bigSort = true),
    QuerySpec("fact_rolling_range", (s, d) => WeatherMart.rolling7Day(s, d),
      // Mirrors WeatherMart.rolling7Day: integer-cents daily sums, RANGE
      // frame over day numbers (gap days shrink the window).
      sql(s"""WITH stg AS ($stgSql),
         |daily AS (
         |  SELECT loc_ref, date_valid,
         |    ROUND(SUM(precipitation_in) * 100, 0) AS c,
         |    datediff('day', DATE '1970-01-01', CAST(date_valid AS DATE)) AS dn
         |  FROM stg GROUP BY loc_ref, date_valid)
         |SELECT loc_ref, date_valid, c / 100.0 AS day_precip,
         |  SUM(c) OVER (PARTITION BY loc_ref ORDER BY dn
         |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0 AS precip_7day
         |FROM daily ORDER BY loc_ref, date_valid""".stripMargin),
      sortKeys = by("loc_ref", "date_valid"), bigSort = true),
    QuerySpec("validate_fact", (s, d) => WeatherMart.validateFact(s, d),
      sql(s"""WITH fact AS ($factSql)
         |SELECT CAST(SUM(CASE WHEN location_key IS NULL OR date_key IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS null_fk_count,
         |  ROUND(MIN(avg_temp_f), 4) AS min_temp,
         |  ROUND(MAX(avg_temp_f), 4) AS max_temp
         |FROM fact""".stripMargin)),
    QuerySpec("q1_avg_by_date", (s, d) => Dashboard.avgByDate(s, d),
      sql("""SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS full_date,
        |  ROUND(SUM(l_extendedprice) * 100, 0) / COUNT(*) / 100.0 AS avg_temp_f
        |FROM lineitem GROUP BY 1 ORDER BY full_date""".stripMargin)),
    QuerySpec("q2_topn_by_location", (s, d) => Dashboard.topNByLocation(s, d),
      sql("""SELECT s_name AS city_name, ROUND(SUM(l_extendedprice) * 100, 0) / COUNT(*) / 100.0 AS avg_temp_f
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY avg_temp_f DESC, city_name LIMIT 15""".stripMargin)),
    QuerySpec("q3_avg_by_class", (s, d) => Dashboard.avgByClass(s, d),
      sql("""SELECT CASE WHEN l_tax > 0.06 THEN 'Snow'
        |    WHEN l_discount > 0.05 THEN 'Rain' ELSE 'None' END
        |    AS precipitation_type,
        |  ROUND(SUM(l_extendedprice) * 100, 0) / COUNT(*) / 100.0 AS avg_temp_f
        |FROM lineitem GROUP BY 1
        |ORDER BY avg_temp_f DESC, precipitation_type""".stripMargin)),
    QuerySpec("q4_band_counts", (s, d) => Dashboard.bandCounts(s, d),
      sql("""SELECT CASE WHEN l_quantity <= 9 THEN 'Freezing'
        |    WHEN l_quantity <= 20 THEN 'Cold' WHEN l_quantity <= 35 THEN 'Mild'
        |    WHEN l_quantity <= 45 THEN 'Warm' ELSE 'Hot' END AS weather_band,
        |  COUNT(*) AS days_count
        |FROM lineitem GROUP BY 1
        |ORDER BY days_count DESC, weather_band""".stripMargin)),
    QuerySpec("q5_pct_positive", (s, d) => Dashboard.pctPositiveByDate(s, d),
      sql("""SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS date_key,
        |  ROUND(100.0 * CAST(SUM(CASE WHEN l_discount > 0 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 4) AS pct_locations_with_rain
        |FROM lineitem GROUP BY 1 ORDER BY date_key""".stripMargin)),
    // --- skew-aware join (SURVEY.md §2) ---
    QuerySpec("skew_join_salted", (s, d) => {
      val li = Tables(s, d, "lineitem").select("l_suppkey", "l_extendedprice")
      val sup = Tables(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.operators.SkewJoin.saltedInner(li, sup, Seq("l_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("n_items"),
          (round(sum("l_extendedprice") * 100, 0) / 100.0).as("total_revenue"))
        .orderBy("s_name")
    },
      // Salting must be result-invisible: the oracle is the PLAIN join —
      // identical output proves the salt/replicate/join/drop round-trip.
      sql("""SELECT s_name, COUNT(*) AS n_items,
        |  ROUND(SUM(l_extendedprice) * 100, 0) / 100.0 AS total_revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY s_name""".stripMargin)),
    // referential-integrity audit: orphan FKs both directions via
    // anti-joins (co-partitioned at scale — no broadcast assumption on
    // the customer side, which grows with the data)
    QuerySpec("ri_check", (s, d) => {
      val o = Tables(s, d, "orders").select("o_custkey")
      val c = Tables(s, d, "customer").select("c_custkey")
      o.agg(count(lit(1)).as("n_orders")).crossJoin(
        o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_orphan_orders")))
        .crossJoin(c.agg(count(lit(1)).as("n_customers")))
        .crossJoin(c.join(o, o("o_custkey") === c("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_inactive_customers")))
    },
      sql("""SELECT (SELECT COUNT(*) FROM orders) AS n_orders,
        |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |    AS n_orphan_orders,
        |  (SELECT COUNT(*) FROM customer) AS n_customers,
        |  (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        |    AS n_inactive_customers""".stripMargin)),
    // declarative data-quality audit (etl.Expectations — the dbt-test
    // engine generalizing validate_fact/ri_check): 5 row-grain rules
    // cost ONE conditional-aggregate scan per table, unique is a
    // map-side-combined key aggregate, relationship pre-aggregates FKs
    // to distinct keys before the anti-join
    QuerySpec("expectations_check", (s, d) => {
      import graft.etl.Expectations._
      val orders = Tables(s, d, "orders")
      val li = Tables(s, d, "lineitem")
      // r16 REVERT of the r15 pinned key-count share, on a full-scale
      // measurement: the r15 composition pinned one keyCounts pass per
      // table (localCheckpoint) to feed unique + FK checks, saving two
      // fact scans — but a key-UNIQUE fact's keyCounts is FACT-sized
      // (60M rows at sf10), so the pin materializes a fact-sized frame
      // into executor block storage. Measured at sf10: 25.1 s (r14
      // standalone shape) → 114.7 s isolated with the pin, and the
      // full-surface bench run DIED to a heap OOM inside this query
      // in-run. Guide §5: cache only when recompute costs more than
      // the memory pressure — here the recompute is ONE extra
      // map-side-combined scan+exchange per table (~12 s at sf10) and
      // the pressure is a run-killer. Pins must stay dimension-sized /
      // bounded (basket arrays are order-grain and bounded; fact-key
      // grain is not). The keyCounts combinators stay in Expectations
      // for callers whose key grain IS bounded.
      report(Seq(
        checkRows(orders, "orders", Seq(
          notNull("o_custkey"),
          acceptedValues("o_orderstatus", Seq("O", "F", "P")),
          satisfies("o_totalprice_positive", col("o_totalprice") > 0))),
        checkRows(li, "lineitem", Seq(
          inRange("l_discount", 0.0, 0.1),
          satisfies("price_covers_quantity",
            col("l_extendedprice") >= col("l_quantity")))),
        checkUnique(orders, "orders", Seq("o_orderkey")),
        checkUnique(li, "lineitem", Seq("l_orderkey", "l_linenumber")),
        checkRelationship(li, "lineitem", "l_orderkey", orders, "o_orderkey"),
        checkRelationship(orders, "orders", "o_custkey",
          Tables(s, d, "customer"), "c_custkey")))
    },
      // Mirrors the Expectations audit suite rule for rule: row-grain
      // rules as conditional sums over one scan per table, unique at key
      // grain (dbt semantics: violations = keys seen >1 times),
      // relationship as NOT EXISTS over non-null FKs.
      sql("""WITH ro AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_nn,
        |    CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_av,
        |    CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_tp
        |  FROM orders),
        |rl AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN l_discount IS NOT NULL
        |      AND (l_discount < 0.0 OR l_discount > 0.1) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_ir,
        |    CAST(SUM(CASE WHEN NOT COALESCE(l_extendedprice >= l_quantity,
        |      FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_pc
        |  FROM lineitem),
        |uo AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS v
        |  FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)),
        |ul AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS v
        |  FROM (SELECT COUNT(*) AS c FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber)),
        |xl AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
        |      WHERE o.o_orderkey = l.l_orderkey) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v
        |  FROM lineitem l WHERE l_orderkey IS NOT NULL),
        |xo AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c
        |      WHERE c.c_custkey = o.o_custkey) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v
        |  FROM orders o WHERE o_custkey IS NOT NULL)
        |SELECT rule, n_checked, n_violations, n_violations = 0 AS passed
        |FROM (
        |  SELECT 'orders.o_custkey.not_null' AS rule, n AS n_checked,
        |    v_nn AS n_violations FROM ro
        |  UNION ALL SELECT 'orders.o_orderstatus.accepted_values', n, v_av
        |    FROM ro
        |  UNION ALL SELECT 'orders.o_totalprice_positive.satisfies', n, v_tp
        |    FROM ro
        |  UNION ALL SELECT 'lineitem.l_discount.in_range', n, v_ir FROM rl
        |  UNION ALL SELECT 'lineitem.price_covers_quantity.satisfies', n,
        |    v_pc FROM rl
        |  UNION ALL SELECT 'orders.o_orderkey.unique', n, v FROM uo
        |  UNION ALL SELECT 'lineitem.l_orderkey_l_linenumber.unique', n, v
        |    FROM ul
        |  UNION ALL SELECT 'lineitem.l_orderkey.relationship', n, v FROM xl
        |  UNION ALL SELECT 'orders.o_custkey.relationship', n, v FROM xo)
        |ORDER BY rule""".stripMargin)),
    // --- orders/customer analytics (big⋈big shuffle-join path) ---
    QuerySpec("orders_monthly_status", (s, d) => Tables(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"),
        col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        // exact cent BIGINT accumulation (order-independent at any
        // scale — the sales_rollup doctrine): a month-status group at
        // sf100 sums 1e11+ in doubles and drifts past the half-cent
        (sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("double")
          / 100.0).as("total_price"))
      .orderBy("month", "o_orderstatus"),
      sql("""SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month,
        |  o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total_price
        |FROM orders GROUP BY 1, 2 ORDER BY month, o_orderstatus""".stripMargin)),
    // Unlike the star joins, BOTH sides here scale with the data — the
    // aggregate's custkey partitioning is reused by the join, so only
    // the customer side pays a fresh shuffle at cluster scale.
    QuerySpec("customer_top_spenders", (s, d) => {
      val totals = Tables(s, d, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          (sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("double")
            / 100.0).as("total_spend"))
      totals
        .join(Tables(s, d, "customer").select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("n_orders"), col("total_spend"))
        .orderBy(col("total_spend").desc, col("c_custkey")).limit(20)
    },
      sql("""SELECT c_custkey, c_name, n_orders, total_spend FROM (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |      / 100.0 AS total_spend
        |  FROM orders GROUP BY 1)
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_spend DESC, c_custkey LIMIT 20""".stripMargin)),
    QuerySpec("range_join_bands", (s, d) => {
      val ranges = s.range(0, 10).select(col("id").as("tier_id"),
        (col("id") * 5).cast("double").as("lo"),
        (col("id") * 5 + 7).cast("double").as("hi"))
      RangeJoin.pointInRange(Tables(s, d, "lineitem").select("l_quantity"),
        "l_quantity", ranges, "lo", "hi", step = 5.0)
        .groupBy("tier_id", "lo", "hi")
        .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 4).as("sum_qty"))
        .orderBy("tier_id")
    },
      // Mirrors the RangeJoin query; the oracle is the plain BETWEEN theta
      // join, proving bucket expansion is result-invisible.
      sql("""SELECT CAST(i AS BIGINT) AS tier_id, CAST(5*i AS DOUBLE) AS lo,
        |  CAST(5*i+7 AS DOUBLE) AS hi, COUNT(*) AS n_rows,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM range(0, 10) t(i)
        |JOIN lineitem ON l_quantity BETWEEN 5*i AND 5*i+7
        |GROUP BY 1, 2, 3 ORDER BY tier_id""".stripMargin)),
    QuerySpec("sales_rollup", (s, d) => Cube.salesRollup(Tables(s, d, "lineitem"),
      Tables(s, d, "supplier"), Tables(s, d, "nation"), Tables(s, d, "region")),
      // Mirrors Cube.salesRollup. Null-safe ORDER via COALESCE('') because
      // Spark sorts NULLS FIRST and DuckDB NULLS LAST.
      sql("""SELECT region_name, nation_name,
        |  CAST(GROUPING(region_name) AS BIGINT) AS g_region,
        |  CAST(GROUPING(nation_name) AS BIGINT) AS g_nation,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS revenue
        |FROM (SELECT r_name AS region_name, n_name AS nation_name, l_extendedprice
        |      FROM lineitem
        |      JOIN supplier ON l_suppkey = s_suppkey
        |      JOIN nation ON s_nationkey = n_nationkey
        |      JOIN region ON n_regionkey = r_regionkey)
        |GROUP BY ROLLUP(region_name, nation_name)
        |ORDER BY g_region, g_nation, COALESCE(region_name, ''),
        |  COALESCE(nation_name, '')""".stripMargin)),
    QuerySpec("sales_cube", (s, d) => Cube.salesCube(Tables(s, d, "lineitem"),
      Tables(s, d, "supplier"), Tables(s, d, "nation"), Tables(s, d, "region")),
      // Mirrors Cube.salesCube — DuckDB GROUP BY CUBE with the same
      // grouping flags and null-safe ordering.
      sql("""SELECT region_name, nation_name,
        |  CAST(GROUPING(region_name) AS BIGINT) AS g_region,
        |  CAST(GROUPING(nation_name) AS BIGINT) AS g_nation,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS revenue
        |FROM (SELECT r_name AS region_name, n_name AS nation_name, l_extendedprice
        |      FROM lineitem
        |      JOIN supplier ON l_suppkey = s_suppkey
        |      JOIN nation ON s_nationkey = n_nationkey
        |      JOIN region ON n_regionkey = r_regionkey)
        |GROUP BY CUBE(region_name, nation_name)
        |ORDER BY g_region, g_nation, COALESCE(region_name, ''),
        |  COALESCE(nation_name, '')""".stripMargin)),
    QuerySpec("parts_by_brand", (s, d) => Tables(s, d, "part")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"),
        (round(sum("p_retailprice") * 100, 0) / count(lit(1)) / 100.0).as("avg_price"),
        round(max("p_retailprice"), 4).as("max_price"))
      .orderBy("p_brand"),
      sql("""SELECT p_brand, COUNT(*) AS n_parts,
        |  ROUND(SUM(p_retailprice) * 100, 0) / COUNT(*) / 100.0 AS avg_price,
        |  ROUND(MAX(p_retailprice), 4) AS max_price
        |FROM part GROUP BY 1 ORDER BY p_brand""".stripMargin)),
    // fuzzy entity-resolution candidate pairs: distinct-name grain,
    // lossless length-band blocking, thresholded-levenshtein verify
    QuerySpec("fuzzy_name_pairs", (s, d) => graft.operators.Segmentation
      .fuzzyNamePairs(Tables(s, d, "part"), "p_name", maxDist = 2)
      .orderBy("name_a", "name_b"),
      // Mirrors Segmentation.fuzzyNamePairs: quadratic definition over
      // DISTINCT names (the blocking the Spark side adds is lossless —
      // |len diff| <= edit distance — so definition == blocked result).
      sql("""WITH n AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin)),
    // k-anonymity release audit over (nation, segment) quasi-identifiers
    QuerySpec("k_anonymity", (s, d) => graft.operators.Redact.kAnonymity(
      Tables(s, d, "customer"), Seq("c_nationkey", "c_mktsegment")),
      // Mirrors Redact.kAnonymity: QI-grain counts, then the one-row
      // audit re-aggregate (k = 5).
      sql("""WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
        |  FROM customer GROUP BY c_nationkey, c_mktsegment)
        |SELECT COUNT(*) AS n_classes,
        |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_classes_below_k,
        |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_rows_at_risk,
        |  MIN(n) AS min_class_size,
        |  CAST(SUM(n) AS BIGINT) AS n_rows
        |FROM g""".stripMargin)),
    // grouped Pearson correlation from exact integer invariants
    QuerySpec("corr_quantity_discount", (s, d) => graft.etl.Profile.corrBy(
      Tables(s, d, "lineitem"), "l_returnflag",
      round(col("l_quantity"), 0), round(col("l_discount") * 100, 0)),
      // Mirrors Profile.corrBy: exact HUGEINT sufficient statistics,
      // float assembly (sqrt+divide, correctly rounded) once per group.
      sql("""WITH b AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS x,
        |    CAST(round(l_discount * 100, 0) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
        |a AS (
        |  SELECT l_returnflag, CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x*y) AS HUGEINT) AS sxy,
        |    CAST(SUM(x*x) AS HUGEINT) AS sxx,
        |    CAST(SUM(y*y) AS HUGEINT) AS syy
        |  FROM b GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
        |    THEN ROUND(CAST(n*sxy - sx*sy AS DOUBLE) /
        |      (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
        |       sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 4)
        |  END AS corr
        |FROM a ORDER BY l_returnflag""".stripMargin)),
    // 2-D Pareto frontier by sweep (oracle replays the quadratic
    // dominance definition — the sweep is checked against it)
    QuerySpec("parts_skyline", (s, d) => graft.operators.Segmentation.skyline(
      Tables(s, d, "part").select("p_partkey", "p_retailprice", "p_size"),
      "p_retailprice", "p_size")
      .select("p_partkey", "p_retailprice", "p_size")
      .orderBy("p_retailprice", "p_partkey"),
      // Mirrors Segmentation.skyline. Equivalent closed form of the 2D
      // dominance definition (min price, max size, ≥1 strict): a point
      // survives iff (a) its size equals its own price group's max (no
      // same-price point strictly larger) and (b) its size strictly
      // exceeds every strictly-cheaper point's size. Exhaustive case
      // split of "∃q: q.price ≤ p.price ∧ q.size ≥ p.size ∧ strict":
      // q.price < p.price → (b); q.price = p.price ∧ q.size > p.size →
      // (a). O(n log n) — the former NOT EXISTS form was O(n²) and the
      // one reason this query needed a substitute check at sf10
      // (VERDICT r11 #1); equality pinned by the three-scale gates.
      sql("""WITH f AS (
        |  SELECT p_partkey, p_retailprice, p_size FROM part
        |  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL),
        |pp AS (SELECT p_retailprice, MAX(p_size) AS gmax
        |       FROM f GROUP BY p_retailprice),
        |cm AS (SELECT p_retailprice, gmax,
        |         MAX(gmax) OVER (ORDER BY p_retailprice
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS prevmax
        |       FROM pp)
        |SELECT f.p_partkey, f.p_retailprice, f.p_size
        |FROM f JOIN cm USING (p_retailprice)
        |WHERE f.p_size = cm.gmax
        |  AND (cm.prevmax IS NULL OR f.p_size > cm.prevmax)
        |ORDER BY p_retailprice, p_partkey""".stripMargin)),
    // --- warehouse lifecycle: time-series completion + CDC compaction ---
    QuerySpec("gap_fill", (s, d) => graft.etl.TimeSeries.gapFill(s, d),
      // Mirrors TimeSeries.gapFill: BIGINT cent sums per (loc, day), a
      // generate_series calendar spine, and IGNORE NULLS forward fill.
      sql("""WITH daily AS (
        |  SELECT l_suppkey AS loc_ref, CAST(l_shipdate AS DATE) AS d,
        |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS temp_c,
        |    COUNT(*) AS n_obs
        |  FROM lineitem GROUP BY 1, 2),
        |cal AS (
        |  SELECT loc_ref,
        |    CAST(UNNEST(generate_series(MIN(d), MAX(d), INTERVAL 1 DAY)) AS DATE) AS cal_date
        |  FROM daily GROUP BY loc_ref),
        |j AS (
        |  SELECT cal.loc_ref, cal.cal_date,
        |    CAST(daily.temp_c AS DOUBLE) / (daily.n_obs * 100) AS day_temp
        |  FROM cal LEFT JOIN daily
        |    ON cal.loc_ref = daily.loc_ref AND cal.cal_date = daily.d)
        |SELECT loc_ref, CAST(cal_date AS VARCHAR) AS cal_date,
        |  ROUND(LAST_VALUE(day_temp IGNORE NULLS) OVER (
        |    PARTITION BY loc_ref ORDER BY cal_date
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS temp_filled,
        |  day_temp IS NULL AS is_gap
        |FROM j ORDER BY loc_ref, cal_date""".stripMargin),
      sortKeys = by("loc_ref", "cal_date"), bigSort = true),
    // sweep-line backlog: ±1 interval events → day-grain aggregate →
    // bucketed global prefix sum (never an unpartitioned window)
    QuerySpec("orders_backlog", (s, d) => graft.etl.TimeSeries.orderBacklog(s, d),
      // Mirrors TimeSeries.orderBacklog: ±1 sweep events at open / day
      // after close, day-grain net change, running-sum stabbing count.
      sql("""WITH cl AS (
        |  SELECT l_orderkey, MAX(l_shipdate) AS close_date
        |  FROM lineitem GROUP BY l_orderkey),
        |iv AS (
        |  SELECT o.o_orderdate, cl.close_date
        |  FROM orders o JOIN cl ON o.o_orderkey = cl.l_orderkey),
        |ev AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, 1 AS delta FROM iv
        |  UNION ALL
        |  SELECT CAST(close_date AS DATE) + 1, -1 FROM iv),
        |dd AS (
        |  SELECT d, CAST(SUM(delta) AS BIGINT) AS net_change
        |  FROM ev GROUP BY d)
        |SELECT CAST(d AS VARCHAR) AS day, net_change,
        |  CAST(SUM(net_change) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_open
        |FROM dd ORDER BY day""".stripMargin)),
    QuerySpec("cdc_apply", (s, d) => graft.etl.Cdc.ordersSnapshot(s, d),
      // Mirrors Cdc.ordersSnapshot: I/U/D feed, latest seq per key wins;
      // seq ties break on explicit op priority D > U > I (a lost delete
      // resurrects a row; a lost update is merely re-deliverable).
      sql("""WITH feed AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS seq, 'I' AS op FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, round(o_totalprice + 1.0, 2), 2, 'U'
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 3, 'D'
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |latest AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY seq DESC,
        |      CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END DESC) AS rn
        |  FROM feed)
        |SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
        |FROM latest WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey""".stripMargin),
      sortKeys = by("o_orderkey"), bigSort = true),
    QuerySpec("agg_incremental_merge", (s, d) => graft.etl.Incremental.mergedMonthlyOrders(s, d),
      // Oracle for Incremental.mergedMonthlyOrders: the DIRECT recompute
      // over the same coverage — merge(state, delta) must hash-equal it.
      sql("""SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month,
        |  o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS total_price
        |FROM orders
        |WHERE o_orderdate < TIMESTAMP '1998-06-16 00:00:00'
        |GROUP BY 1, 2 ORDER BY month, o_orderstatus""".stripMargin)),
    // market-basket affinity: co-ordered part pairs with support+lift
    QuerySpec("basket_pairs", (s, d) => graft.operators.Affinity
      .basketPairs(Tables(s, d, "lineitem")),
      // Mirrors Affinity.basketPairs (minSupport=2 — a fixed ABSOLUTE
      // threshold must stay low: the catalog grows with the corpus, so
      // per-pair support thins as both scale): distinct
      // (order, part) grain, per-order pair counts, lift = one double
      // division of exact integers, identically associated both sides.
      sql("""WITH i AS (
        |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
        |c AS (SELECT pk, COUNT(*) AS n FROM i GROUP BY pk),
        |o AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM i),
        |p AS (
        |  SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS support
        |  FROM i a JOIN i b ON a.okey = b.okey AND a.pk < b.pk
        |  GROUP BY 1, 2)
        |SELECT part_a, part_b, support,
        |  ROUND(CAST(support AS DOUBLE) * n_orders / (ca.n * cb.n), 4) AS lift
        |FROM p JOIN c ca ON p.part_a = ca.pk
        |  JOIN c cb ON p.part_b = cb.pk, o
        |WHERE support >= 2 ORDER BY part_a, part_b""".stripMargin),
      sortKeys = by("part_a", "part_b")),
    // CDC GENERATION (inverse of cdc_apply): full-outer digest diff of
    // two snapshots into the I/U/D feed; unchanged rows never leave
    // the join
    QuerySpec("snapshot_diff", (s, d) => graft.etl.Cdc.ordersDiffFeed(s, d),
      // Mirrors Cdc.ordersDiffFeed: old = raw extract, new = the
      // compacted demo snapshot; the diff DEFINITION is replayed on
      // values (the Spark side's md5 digests are an equality device,
      // not semantics).
      sql("""WITH o AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    round(o_totalprice, 2) AS p FROM orders),
        |n AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN round(o_totalprice + 1.0, 2)
        |         ELSE round(o_totalprice, 2) END AS p
        |  FROM orders WHERE o_orderkey % 10 <> 0),
        |d AS (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'I'
        |         WHEN n.o_orderkey IS NULL THEN 'D'
        |         WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |           OR o.p IS DISTINCT FROM n.p
        |           THEN 'U' END AS op
        |  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey, op FROM d WHERE op IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin),
      sortKeys = by("o_orderkey"), bigSort = true),
    // churn audit per segment (never-ordered customers count churned)
    QuerySpec("customer_churn", (s, d) => graft.operators.Segmentation
      .churnBySegment(Tables(s, d, "customer"), Tables(s, d, "orders")),
      // Mirrors Segmentation.churnBySegment (horizon 90d): last order
      // per customer, never-ordered customers churned, exact division.
      sql("""WITH l AS (
        |  SELECT o_custkey AS c_custkey, MAX(o_orderdate) AS last_o
        |  FROM orders GROUP BY 1),
        |m AS (SELECT MAX(o_orderdate) AS mx FROM orders)
        |SELECT c.c_mktsegment, COUNT(*) AS n_customers,
        |  CAST(SUM(CASE WHEN l.last_o IS NULL
        |    OR date_diff('day', CAST(l.last_o AS DATE), CAST(m.mx AS DATE)) > 90
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
        |  ROUND(CAST(SUM(CASE WHEN l.last_o IS NULL
        |    OR date_diff('day', CAST(l.last_o AS DATE), CAST(m.mx AS DATE)) > 90
        |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS churn_rate
        |FROM customer c LEFT JOIN l ON c.c_custkey = l.c_custkey, m
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)),
    // supplier fulfillment lead time (order placement → line shipment)
    QuerySpec("supplier_lead_time", (s, d) => graft.operators.Segmentation
      .supplierLeadTime(Tables(s, d, "lineitem"), Tables(s, d, "orders")),
      // Mirrors Segmentation.supplierLeadTime: integer day diffs, the
      // scaled-integer average idiom, max.
      sql("""SELECT l_suppkey, COUNT(*) AS n_lines,
        |  ROUND(CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE))) * 100 AS DOUBLE) / COUNT(*), 0)
        |    / 100.0 AS avg_lead_days,
        |  CAST(MAX(date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE))) AS BIGINT) AS max_lead_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),
    // bloom-prefiltered exact semi-join: the oracle is the PLAIN
    // semi-join — a hash match proves the bloom is result-invisible
    QuerySpec("bloom_semi", (s, d) => {
      val high = Tables(s, d, "customer")
        .filter(col("c_acctbal") > 9000).select("c_custkey")
      graft.operators.BloomJoin
        .bloomSemiJoin(Tables(s, d, "orders"), "o_custkey", high, "c_custkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          (round(sum("o_totalprice") * 100, 0) / 100.0).as("total_price"))
        .orderBy("o_orderstatus")
    },
      // Oracle for bloom_semi is the PLAIN semi-join — the bloom
      // pre-filter has no false negatives and the exact join removes its
      // false positives, so a hash match proves result-invisibility.
      sql("""SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  ROUND(SUM(o_totalprice) * 100, 0) / 100.0 AS total_price
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("customer_rfm", (s, d) =>
      graft.operators.Segmentation.rfmSegments(Tables(s, d, "orders")),
      // Mirrors Segmentation.rfmSegments (asOf 1998-08-01): integer
      // metrics, dyadic quantile cuts (exactly representable doubles in
      // both engines), value-based bands.
      sql("""WITH m AS (
        |  SELECT o_custkey,
        |    CAST(DATE '1998-08-01' - MAX(CAST(o_orderdate AS DATE)) AS BIGINT)
        |      AS recency_days,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS monetary_c
        |  FROM orders GROUP BY 1),
        |q AS (SELECT
        |    quantile_cont(recency_days, 0.25) AS r1,
        |    quantile_cont(recency_days, 0.5) AS r2,
        |    quantile_cont(recency_days, 0.75) AS r3,
        |    quantile_cont(frequency, 0.25) AS f1,
        |    quantile_cont(frequency, 0.5) AS f2,
        |    quantile_cont(frequency, 0.75) AS f3,
        |    quantile_cont(monetary_c, 0.25) AS m1,
        |    quantile_cont(monetary_c, 0.5) AS m2,
        |    quantile_cont(monetary_c, 0.75) AS m3
        |  FROM m)
        |SELECT
        |  CAST(CASE WHEN recency_days <= r1 THEN 1 WHEN recency_days <= r2 THEN 2
        |       WHEN recency_days <= r3 THEN 3 ELSE 4 END AS BIGINT) AS r_band,
        |  CAST(CASE WHEN frequency <= f1 THEN 1 WHEN frequency <= f2 THEN 2
        |       WHEN frequency <= f3 THEN 3 ELSE 4 END AS BIGINT) AS f_band,
        |  CAST(CASE WHEN monetary_c <= m1 THEN 1 WHEN monetary_c <= m2 THEN 2
        |       WHEN monetary_c <= m3 THEN 3 ELSE 4 END AS BIGINT) AS m_band,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(monetary_c) AS DOUBLE) / 100.0 AS total_monetary
        |FROM m, q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    // --- round 3b: star-join analytics, concentration, kNN graph ---
    // TPC-H Q5-shaped multi-way star join: fact filtered by pushed-down
    // date range, dims broadcast, revenue in exact cent·pct BIGINT
    // units (extprice_cents × (100 − disc_pct)) divided once at the end
    QuerySpec("revenue_by_nation", (s, d) => {
      val revU = round(col("l_extendedprice") * 100, 0).cast("long") *
        (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))
      Tables(s, d, "lineitem").select(col("l_orderkey"), revU.as("rev_u"))
        .join(Tables(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                  col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables(s, d, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables(s, d, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg((sum("rev_u").cast("double") / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      // Mirrors the revenue_by_nation star join: revenue accumulated in
      // exact cent·pct BIGINT units, one division at the end.
      sql("""WITH li AS (
        |  SELECT l_orderkey,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_u
        |  FROM lineitem),
        |o AS (SELECT o_orderkey, o_custkey FROM orders
        |      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |        AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT n_name, CAST(SUM(rev_u) AS DOUBLE) / 10000.0 AS revenue
        |FROM li
        |JOIN o ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),
    // Year-over-year monthly revenue: the lag window partitions by
    // month-of-year (12 partitions, never global) over the tiny
    // pre-aggregated series; cents stay exact until the final division
    QuerySpec("lineitem_yoy", (s, d) => {
      val monthly = Tables(s, d, "lineitem")
        .groupBy(year(col("l_shipdate")).cast("long").as("yr"),
          month(col("l_shipdate")).cast("long").as("mo"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("rev_c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("mo").orderBy("yr")
      monthly.withColumn("prev_c", lag("rev_c", 1).over(w))
        .filter(col("prev_c").isNotNull) // first year has no comparison
        .select(col("yr"), col("mo"),
          (col("rev_c").cast("double") / 100.0).as("revenue"),
          (col("prev_c").cast("double") / 100.0).as("prev_revenue"),
          round((col("rev_c") - col("prev_c")).cast("double") /
            col("prev_c").cast("double"), 4).as("yoy"))
        .orderBy("yr", "mo")
    },
      // Mirrors lineitem_yoy: monthly cents series, LAG partitioned by
      // month-of-year, one rounded division for the growth rate.
      sql("""WITH m AS (
        |  SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
        |    CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS mo,
        |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS rev_c
        |  FROM lineitem GROUP BY 1, 2),
        |l AS (SELECT yr, mo, rev_c,
        |        lag(rev_c) OVER (PARTITION BY mo ORDER BY yr) AS prev_c
        |      FROM m)
        |SELECT yr, mo, CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
        |  CAST(prev_c AS DOUBLE) / 100.0 AS prev_revenue,
        |  ROUND(CAST(rev_c - prev_c AS DOUBLE) / CAST(prev_c AS DOUBLE), 4) AS yoy
        |FROM l WHERE prev_c IS NOT NULL ORDER BY yr, mo""".stripMargin)),
    QuerySpec("orders_pareto", (s, d) =>
      graft.operators.Segmentation.paretoCoverage(Tables(s, d, "orders")),
      // Mirrors Segmentation.paretoCoverage: rank by (spend DESC,
      // custkey), running cents total, min rank clearing each threshold.
      sql("""WITH s AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS spend_c
        |  FROM orders GROUP BY 1),
        |r AS (SELECT spend_c, row_number() OVER (
        |        ORDER BY spend_c DESC, o_custkey) AS rank FROM s),
        |c AS (SELECT rank, SUM(spend_c) OVER (ORDER BY rank
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
        |      FROM r),
        |t AS (SELECT SUM(spend_c) AS tot FROM s),
        |th(threshold_pct) AS (VALUES (25), (50), (75), (90)),
        |n AS (SELECT threshold_pct, MIN(rank) AS n_customers
        |      FROM c, t, th WHERE cum_c * 100 >= tot * threshold_pct
        |      GROUP BY 1)
        |SELECT CAST(n.threshold_pct AS BIGINT) AS threshold_pct,
        |  CAST(n.n_customers AS BIGINT) AS n_customers,
        |  ROUND(CAST(c.cum_c AS DOUBLE) / CAST(t.tot AS DOUBLE), 6)
        |    AS covered_share
        |FROM n JOIN c ON c.rank = n.n_customers, t
        |ORDER BY threshold_pct""".stripMargin)))

  /** The five dashboards re-read from the MATERIALIZED mart — the read
    * path the architecture advertises (year-partitioned fact, pruned
    * scans) — vs their inline twins q1..q5 that rebuild the star schema
    * per query. Bench-only (no oracle): their shared setup writes the
    * mart from the SF directory into `SPARK_GRAFT_MART_DIR` (default
    * `<tmp>/graft_bench_mart`), untimed, and the builders read it back.
    */
  lazy val martTwins: Seq[QuerySpec] = {
    val martDir = sys.env.getOrElse("SPARK_GRAFT_MART_DIR",
      System.getProperty("java.io.tmpdir") + "/graft_bench_mart")
    val materialized =
      QuerySpec.Setup("mart", (s, d) => Mart.materialize(s, d, martDir))
    def table(s: SparkSession, name: String) = Mart.table(s, martDir, name)
    def twin(name: String, q: SparkSession => DataFrame) =
      QuerySpec(name, (s, _) => q(s), oracle = None, setup = Some(materialized))
    Seq(
      twin("q1m", s => Dashboard.avgByDate(table(s, Mart.FactTable),
        table(s, "dim_date"))),
      twin("q2m", s => Dashboard.topNByLocation(table(s, Mart.FactTable),
        table(s, "dim_location"), 15)),
      twin("q3m", s => Dashboard.avgByClass(table(s, Mart.FactTable))),
      twin("q4m", s => Dashboard.bandCounts(table(s, Mart.FactTable))),
      twin("q5m", s => Dashboard.pctPositiveByDate(table(s, Mart.FactTable))))
  }

  /** Staging CTE — mirrors WeatherMart.staging. */
  private val stgSql =
    """SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS date_valid, l_suppkey AS loc_ref,
      |  l_extendedprice AS avg_temp_f, l_discount AS precipitation_in,
      |  l_tax AS snowfall_in, l_quantity AS band_q,
      |  l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber
      |FROM lineitem""".stripMargin

  /** Mirrors WeatherMart.weatherBand (bounds 9/20/35/45). */
  private val bandCase =
    """CASE WHEN band_q <= 9 THEN 'Freezing' WHEN band_q <= 20 THEN 'Cold'
      |  WHEN band_q <= 35 THEN 'Mild' WHEN band_q <= 45 THEN 'Warm'
      |  ELSE 'Hot' END""".stripMargin

  /** Mirrors WeatherMart.precipitationType (snow 0.06 / rain 0.05). */
  private val precipCase =
    """CASE WHEN snowfall_in > 0.06 THEN 'Snow'
      |  WHEN precipitation_in > 0.05 THEN 'Rain' ELSE 'None' END""".stripMargin

  /** Location natural rows — mirrors WeatherMart.dimLocation input. */
  private val locNaturalSql =
    """SELECT DISTINCT s_suppkey AS postal_code, s_name AS city_name,
      |  n_name AS country, r_name AS region_name
      |FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey""".stripMargin

  private val dimLocationSql =
    s"""SELECT CAST(ROW_NUMBER() OVER (ORDER BY postal_code) AS BIGINT) AS location_key,
       |  postal_code, city_name, country, region_name,
       |  '${WeatherMart.ValidFrom}' AS valid_from,
       |  CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
       |FROM ($locNaturalSql)""".stripMargin

  /** The SCD2-merged location dimension (no ORDER BY) — shared by
    * `dim_scd2_merge` and the `scd2_pit_join` temporal lookup.
    */
  private val scd2MergedSql =
    s"""WITH dim AS ($dimLocationSql),
       |nat AS ($locNaturalSql),
       |snap AS (
       |  SELECT postal_code, city_name,
       |    CASE WHEN postal_code % 7 = 0 THEN 'RELOCATED' ELSE country END AS country,
       |    region_name
       |  FROM nat WHERE postal_code % 13 <> 0
       |  UNION ALL SELECT 999999, 'new_city', 'XX', 'YY'),
       |j AS (
       |  SELECT d.location_key, d.postal_code AS d_pc, d.city_name AS d_city,
       |    d.country AS d_ctry, d.region_name AS d_reg, d.valid_from,
       |    s.postal_code AS s_pc, s.city_name AS s_city, s.country AS s_ctry,
       |    s.region_name AS s_reg,
       |    (s.postal_code IS NOT NULL AND d.location_key IS NOT NULL AND
       |     (d.city_name <> s.city_name OR d.country <> s.country
       |      OR d.region_name <> s.region_name)) AS changed
       |  FROM dim d FULL OUTER JOIN snap s ON d.postal_code = s.postal_code),
       |merged AS (
       |  SELECT location_key, d_pc AS postal_code, d_city AS city_name,
       |    d_ctry AS country, d_reg AS region_name, valid_from,
       |    CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
       |  FROM j WHERE location_key IS NOT NULL AND (s_pc IS NULL OR NOT changed)
       |  UNION ALL
       |  SELECT location_key, d_pc, d_city, d_ctry, d_reg, valid_from,
       |    '2026-02-01', FALSE
       |  FROM j WHERE changed
       |  UNION ALL
       |  SELECT (SELECT MAX(location_key) FROM dim)
       |      + ROW_NUMBER() OVER (ORDER BY s_pc),
       |    s_pc, s_city, s_ctry, s_reg, '2026-02-01',
       |    CAST(NULL AS VARCHAR), TRUE
       |  FROM j WHERE s_pc IS NOT NULL AND (location_key IS NULL OR changed))
       |SELECT CAST(location_key AS BIGINT) AS location_key, postal_code,
       |  city_name, country, region_name, valid_from, valid_to, is_current
       |FROM merged""".stripMargin

  /** Fact CTE — mirrors WeatherMart.fact. */
  private val factSql =
    s"""WITH stg AS ($stgSql),
       |dim_loc AS ($dimLocationSql)
       |SELECT f.date_valid AS date_key, l.location_key,
       |  $bandCase AS weather_band,
       |  $precipCase AS precipitation_type,
       |  CAST(1 AS BIGINT) AS source_key,
       |  f.l_orderkey, f.l_linenumber,
       |  f.avg_temp_f, f.precipitation_in, f.snowfall_in,
       |  ROUND(f.avg_temp_f - LAG(f.avg_temp_f) OVER
       |    (PARTITION BY l.location_key
       |     ORDER BY f.date_valid, f.l_orderkey, f.l_linenumber,
       |       f.avg_temp_f, f.precipitation_in, f.snowfall_in,
       |       $bandCase), 4)
       |    AS temp_day_delta,
       |  ROUND(SUM(f.precipitation_in) OVER
       |    (PARTITION BY l.location_key
       |     ORDER BY f.date_valid, f.l_orderkey, f.l_linenumber,
       |       f.avg_temp_f, f.precipitation_in, f.snowfall_in,
       |       $bandCase
       |     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
       |    AS precipitation_7d_sum
       |FROM stg f JOIN dim_loc l ON f.loc_ref = l.postal_code AND l.is_current""".stripMargin
}
