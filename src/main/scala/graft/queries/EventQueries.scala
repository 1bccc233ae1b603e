package graft.queries

import graft.core.Tables
import graft.etl.Cube
import graft.operators.{AsOfJoin, Sessionize, Sketches}
import graft.queries.QuerySpec.{by, sql}
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

/** Clickstream analytics over the events table: sessions, funnels,
  * retention, top-k, quantiles and sketches, sliding windows, as-of
  * joins and drift.
  */
object EventQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    // quantile sketch (operators.Sketches.quantileSketch): the third
    // member of the sketch trio — fixed 512-row-per-group state
    // however large the stream, deterministic bottom-k-by-hash, so
    // the oracle replays the sample row-for-row. Built per MONTH and
    // merged to type grain while the oracle sketches the whole stream
    // in one pass: the hash match PROVES bottom-k mergeability, the
    // hll_monthly doctrine applied to quantiles
    QuerySpec("quantile_sketch", (s, d) => {
      val ev = Tables(s, d, "events")
      val monthly = Sketches.quantileSketch(
        ev.select(col("event_type"), col("value"), col("event_id"),
          date_trunc("month", col("ts")).as("month")),
        Seq("event_type", "month"), col("value"), col("event_id"))
      val merged = Sketches.quantileMerge(Seq("event_type"), Sketches.QsK,
        monthly.drop("month"))
      Sketches.quantileEstimate(merged, Seq("event_type"),
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95))
        .orderBy("event_type")
    },
      sql(quantileSketchSql)),
    // --- events: batch + streaming-twin (SURVEY.md §2) ---
    QuerySpec("events_sessionize", (s, d) => Sessionize.sessions(Tables(s, d, "events")),
      sql("""WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN LAG(us) OVER w IS NULL
        |      OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |  MIN(us) AS start_us, MAX(us) AS end_us,
        |  ROUND(SUM(value) * 100, 0) / 100.0 AS total_value,
        |  MAX(us) - MIN(us) AS duration_us
        |FROM sess GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin),
      sortKeys = by("user_id", "session_seq"), bigSort = true),
    QuerySpec("events_hourly", (s, d) =>
      EventStream.hourlyByType(Tables(s, d, "events"))
        .orderBy("hour_ts", "event_type"),
      sql("""SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_ts, event_type,
        |  COUNT(*) AS n_events, ROUND(SUM(value) * 100, 0) / 100.0 AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin)),
    QuerySpec("events_topk_users", (s, d) => Sessionize.topUsers(Tables(s, d, "events")),
      sql("""SELECT user_id, COUNT(*) AS n_events,
        |  ROUND(SUM(value) * 100, 0) / 100.0 AS total_value
        |FROM events GROUP BY 1
        |ORDER BY total_value DESC, user_id LIMIT 10""".stripMargin)),
    QuerySpec("events_top3_per_type", (s, d) => Sessionize.topKPerType(Tables(s, d, "events")),
      // Mirrors Sessionize.topKPerType (k=3, ties by event_id).
      sql("""SELECT event_type, event_id, user_id, value, rank FROM (
        |  SELECT event_type, event_id, user_id, value,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS BIGINT) AS rank
        |  FROM events)
        |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin)),
    QuerySpec("events_value_deciles", (s, d) => Sessionize.valueDeciles(Tables(s, d, "events")),
      // Mirrors Sessionize.valueDeciles: ntile(10) == floor((rank-1)*10/n)+1
      // under SQL-standard semantics (first n mod k buckets one larger).
      sql("""WITH t AS (
        |  SELECT user_id, ROUND(SUM(value) * 100, 0) / 100.0 AS total_value
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT total_value, CAST(ntile(10) OVER (
        |    ORDER BY total_value DESC, user_id) AS BIGINT) AS decile
        |  FROM t)
        |SELECT decile, COUNT(*) AS n_users,
        |  ROUND(SUM(total_value) * 100, 0) / 100.0 AS decile_value
        |FROM d GROUP BY 1 ORDER BY decile""".stripMargin)),
    // grouped median (operators.Sessionize.medianByType): the oracle
    // checks the EXACT sort-based form; the scale default interpolates
    // over the deterministic hash sample (spec-bounded vs exact)
    QuerySpec("events_median_by_type", (s, d) =>
      Sessionize.medianByType(Tables(s, d, "events"), exact = true),
      // Spark's exact percentile and DuckDB's quantile_cont both linearly
      // interpolate over the sorted values.
      sql("""SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS median_value,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),
    QuerySpec("events_approx_stats", (s, d) => Sessionize.approxStats(Tables(s, d, "events")),
      sql(approxStatsSql)),
    // grouped sketch-merge re-aggregation: daily HLL registers
    // max-merged to month grain; the oracle sketches the month in one
    // pass, so the hash match PROVES register mergeability
    QuerySpec("hll_monthly", (s, d) => Sessionize.monthlyActiveUsers(Tables(s, d, "events")),
      sql(hllMonthlySql)),
    QuerySpec("events_funnel", (s, d) => Sessionize.funnel(Tables(s, d, "events")),
      // Mirrors Sessionize.funnel: running stage minima over the same
      // user window, staged CTEs for the inter-stage dependencies.
      sql({
      val w = "PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING"
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
         |  FROM events),
         |w1 AS (SELECT *, MIN(CASE WHEN event_type = 'signup' THEN us END)
         |  OVER ($w) AS s_us FROM e),
         |w2 AS (SELECT *, MIN(CASE WHEN event_type = 'click'
         |    AND s_us IS NOT NULL THEN us END) OVER ($w) AS c_us FROM w1),
         |w3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase'
         |    AND c_us IS NOT NULL THEN us END) OVER ($w) AS p_us FROM w2),
         |u AS (SELECT user_id, bool_or(s_us IS NOT NULL) AS su,
         |    bool_or(c_us IS NOT NULL) AS cl, bool_or(p_us IS NOT NULL) AS pu
         |  FROM w3 GROUP BY user_id)
         |SELECT COUNT(*) AS n_users,
         |  CAST(SUM(CASE WHEN su THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
         |  CAST(SUM(CASE WHEN cl THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_click_after_signup,
         |  CAST(SUM(CASE WHEN pu THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_purchase_after_click
         |FROM u""".stripMargin
    })),
    // exact = true: the hash-checked audit form (sampled-bounds default
    // is spec-bounded against it, like table_profile)
    QuerySpec("events_winsorize", (s, d) =>
      Sessionize.winsorize(Tables(s, d, "events"), exact = true),
      // Mirrors Sessionize.winsorize. The bounds interpolate EXPLICITLY
      // with Spark's percentile algebra — v_lo + (v_hi - v_lo) * frac
      // over floor/ceil of p*(n-1) — rather than quantile_cont: the two
      // are the same definition, but quantile_cont's internal
      // (1-f)*v_lo + f*v_hi arithmetic lands an ulp BELOW the data value
      // when the rank falls inside a tie run and f is binary-inexact
      // (p=0.99 at n=200840 put DuckDB's p_hi at 227.40999999999997
      // against the tied value 227.41), and the strict value > p_hi clip
      // count then differs by the whole tie group. Spelling out the same
      // IEEE ops Spark executes makes the bound bit-identical at every
      // n — ties collapse to exactly v_lo on both sides.
      sql("""WITH nn AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) - 1
        |      AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL),
        |rk AS (
        |  SELECT event_type, value, rk,
        |    CAST(floor(0.01*(n-1)) AS BIGINT) AS lo_f,
        |    CAST(ceil(0.01*(n-1)) AS BIGINT) AS lo_c,
        |    0.01*(n-1) - floor(0.01*(n-1)) AS lo_frac,
        |    CAST(floor(0.99*(n-1)) AS BIGINT) AS hi_f,
        |    CAST(ceil(0.99*(n-1)) AS BIGINT) AS hi_c,
        |    0.99*(n-1) - floor(0.99*(n-1)) AS hi_frac
        |  FROM nn),
        |b AS (
        |  SELECT event_type,
        |    MAX(CASE WHEN rk = lo_f THEN value END)
        |      + (MAX(CASE WHEN rk = lo_c THEN value END)
        |         - MAX(CASE WHEN rk = lo_f THEN value END))
        |        * ANY_VALUE(lo_frac) AS p_lo,
        |    MAX(CASE WHEN rk = hi_f THEN value END)
        |      + (MAX(CASE WHEN rk = hi_c THEN value END)
        |         - MAX(CASE WHEN rk = hi_f THEN value END))
        |        * ANY_VALUE(hi_frac) AS p_hi
        |  FROM rk GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN value < p_lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_lo,
        |  CAST(SUM(CASE WHEN value > p_hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_hi,
        |  ROUND(SUM(least(greatest(value, p_lo), p_hi)) * 100, 0) / 100.0
        |    AS winsorized_total
        |FROM events e JOIN b ON e.event_type = b.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),
    QuerySpec("events_retention", (s, d) => Sessionize.retention(Tables(s, d, "events")),
      // Mirrors Sessionize.retention: first-activity-date cohorts,
      // distinct active users per cohort per day offset.
      sql("""WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
        |  CAST(datediff('day', cohort_day, day) AS BIGINT) AS day_k,
        |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, day_k""".stripMargin)),
    // distribution-drift monitor (etl.Profile.histDrift): two-sample
    // chi-square between month halves per event type — one bounded-
    // width conditional-aggregate scan, chi2 UNROLLED over the literal
    // bins so the float statistic is a fixed expression tree both
    // engines evaluate identically
    QuerySpec("dist_drift", (s, d) => graft.etl.Profile.histDriftBy(
      Tables(s, d, "events"), dayofmonth(col("ts")) < 16,
      "value", "event_type", Seq(10.0, 25.0, 50.0, 100.0))
      .orderBy("event_type"),
      sql(distDriftSql)),
    // --- relational extensions (SURVEY.md §2: as-of / range / pivot / rollup) ---
    QuerySpec("asof_join", (s, d) => {
      val ev = Tables(s, d, "events").select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
      AsOfJoin.backward(
        ev.filter(col("event_type") === "click").drop("event_type"),
        ev.filter(col("event_type") === "purchase").drop("event_type"),
        keys = Seq("user_id"), leftTime = "us", rightTime = "us",
        rightVals = Seq("value"), rightTiebreak = "event_id",
        prefix = "purchase_")
        .drop("event_type")
        .orderBy("event_id")
    },
      // Mirrors the AsOfJoin.backward query: latest purchase at-or-before
      // each click, ties broken by largest event_id.
      sql("""SELECT l.event_id, l.user_id, epoch_us(l.ts) AS us, l.value,
        |  r.purchase_us, r.purchase_value
        |FROM events l LEFT JOIN LATERAL (
        |  SELECT epoch_us(r.ts) AS purchase_us, r.value AS purchase_value
        |  FROM events r
        |  WHERE r.user_id = l.user_id AND r.event_type = 'purchase'
        |    AND r.ts <= l.ts
        |  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) r ON TRUE
        |WHERE l.event_type = 'click'
        |ORDER BY l.event_id""".stripMargin)),
    // forward twin of asof_join: first purchase AT OR AFTER each click
    // (next-scheduled-event lookup), same one-shuffle union+window
    QuerySpec("asof_join_forward", (s, d) => {
      val ev = Tables(s, d, "events").select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
      AsOfJoin.forward(
        ev.filter(col("event_type") === "click").drop("event_type"),
        ev.filter(col("event_type") === "purchase").drop("event_type"),
        keys = Seq("user_id"), leftTime = "us", rightTime = "us",
        rightVals = Seq("value"), rightTiebreak = "event_id",
        prefix = "purchase_")
        .drop("event_type")
        .orderBy("event_id")
    },
      // Forward twin: earliest purchase at-or-after, smallest event_id
      // breaking ties (mirrors AsOfJoin.forward's first-in-order pick).
      sql("""SELECT l.event_id, l.user_id, epoch_us(l.ts) AS us, l.value,
        |  r.purchase_us, r.purchase_value
        |FROM events l LEFT JOIN LATERAL (
        |  SELECT epoch_us(r.ts) AS purchase_us, r.value AS purchase_value
        |  FROM events r
        |  WHERE r.user_id = l.user_id AND r.event_type = 'purchase'
        |    AND r.ts >= l.ts
        |  ORDER BY r.ts ASC, r.event_id ASC LIMIT 1) r ON TRUE
        |WHERE l.event_type = 'click'
        |ORDER BY l.event_id""".stripMargin)),
    QuerySpec("events_pivot", (s, d) => Cube.eventsPivot(Tables(s, d, "events"),
      Seq("click", "error", "purchase", "signup", "view")),
      // Mirrors Cube.eventsPivot (explicit type list). COUNT(CASE…) keeps
      // the BIGINT type a SUM would widen to HUGEINT.
      sql("""SELECT user_id,
        |  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
        |  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error,
        |  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
        |  CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup,
        |  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    QuerySpec("events_anomaly", (s, d) => Sessionize.anomalies(Tables(s, d, "events")),
      // Mirrors Sessionize.anomalies: the 3-sigma cut as an exact integer
      // inequality — HUGEINT here, DECIMAL(38,0) on the Spark side.
      sql("""WITH v AS (
        |  SELECT event_id, event_type, value,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vc
        |  FROM events),
        |st AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(vc) AS s, SUM(vc * vc) AS q
        |  FROM v GROUP BY 1)
        |SELECT event_id, v.event_type, value,
        |  CASE WHEN CAST(vc AS HUGEINT) * n - s > 0 THEN 'high' ELSE 'low' END AS side
        |FROM v JOIN st ON v.event_type = st.event_type
        |WHERE (CAST(vc AS HUGEINT) * n - s) * (CAST(vc AS HUGEINT) * n - s)
        |  > (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s) * 9
        |ORDER BY event_id""".stripMargin),
      sortKeys = by("event_id")),
    QuerySpec("events_sliding", (s, d) =>
      EventStream.slidingByType(Tables(s, d, "events")),
      // Mirrors EventStream.slidingByType: 1h windows sliding 15min —
      // every event lands in exactly 4 epoch-aligned windows, replayed
      // here by exploding i in 0..3. make_timestamp(micros) builds a
      // NAIVE timestamp straight from the epoch — unlike
      // CAST(to_timestamp(..) AS TIMESTAMP), which renders through the
      // DuckDB session TZ and only matched because both engines ran UTC.
      sql("""WITH e AS (
        |  SELECT make_timestamp(CAST((FLOOR(epoch(ts) / 900) * 900 - i * 900)
        |           * 1000000 AS BIGINT)) AS win_start,
        |    event_type, value
        |  FROM events, UNNEST(generate_series(0, 3)) AS u(i))
        |SELECT CAST(win_start AS VARCHAR) AS win_start, event_type,
        |  COUNT(*) AS n_events, ROUND(SUM(value) * 100, 0) / 100.0 AS total_value
        |FROM e GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin),
      sortKeys = by("win_start", "event_type"), bigSort = true),
    QuerySpec("events_props_parse", (s, d) => Sessionize.propsBreakdown(Tables(s, d, "events")),
      // Mirrors Sessionize.propsBreakdown; the JSON field is replayed
      // with a regex so the check is independent of JSON machinery.
      sql("""WITH k AS (
        |  SELECT CAST(regexp_extract(props, '[0-9]+') AS INTEGER) AS k, value
        |  FROM events)
        |SELECT CAST(FLOOR(k / 10) AS BIGINT) AS k_band, COUNT(*) AS n_events,
        |  MIN(k) AS min_k, MAX(k) AS max_k,
        |  ROUND(SUM(value) * 100, 0) / 100.0 AS total_value
        |FROM k GROUP BY 1 ORDER BY k_band""".stripMargin)),
    // --- round 3: sequence analytics, LM prep, runtime filters,
    // segmentation, semantic dedup ---
    QuerySpec("events_streaks", (s, d) => Sessionize.activityStreaks(Tables(s, d, "events")),
      // Mirrors Sessionize.activityStreaks: gaps-and-islands, the island
      // key is day − row_number (constant within a consecutive run).
      sql("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |isl AS (
        |  SELECT user_id, d - CAST(row_number() OVER (
        |    PARTITION BY user_id ORDER BY d) AS INTEGER) AS island
        |  FROM days),
        |st AS (SELECT user_id, island, COUNT(*) AS len FROM isl GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_streaks, MAX(len) AS longest_streak,
        |  CAST(SUM(len) AS BIGINT) AS active_days
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin),
      sortKeys = by("user_id")),
    QuerySpec("events_dau_wau", (s, d) => Sessionize.dauWau(Tables(s, d, "events")),
      // Mirrors Sessionize.dauWau: distinct (day,user) exploded into the
      // 7 trailing-window days it serves, per-day distinct aggregate.
      sql("""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |dau AS (SELECT d AS day, COUNT(*) AS dau FROM du GROUP BY 1),
        |c AS (SELECT d + CAST(i AS INTEGER) AS day, user_id
        |      FROM du, UNNEST(generate_series(0, 6)) AS g(i)),
        |wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau FROM c GROUP BY 1)
        |SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau,
        |  ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 4) AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin)),
    QuerySpec("events_argmax", (s, d) => Sessionize.topEventPerUser(Tables(s, d, "events")),
      // Mirrors Sessionize.topEventPerUser: argmax row per user, ties to
      // the smallest event_id.
      sql("""WITH r AS (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_id, event_type, value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin),
      sortKeys = by("user_id")),
    // user-growth accounting: first-seen day per user + cumulative
    // base via the range-partitioned prefix sum (never an
    // unpartitioned count-distinct window)
    QuerySpec("user_growth", (s, d) => Sessionize.userGrowth(Tables(s, d, "events")),
      // Mirrors Sessionize.userGrowth: first-seen day per user, day-grain
      // new-user counts, running total (the prefix sum the Spark side
      // computes with StarSchema.globalPrefixSum).
      sql("""WITH f AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS day
        |  FROM events GROUP BY user_id),
        |d AS (SELECT day, COUNT(*) AS new_users FROM f GROUP BY day)
        |SELECT CAST(day AS VARCHAR) AS day, new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cumulative_users
        |FROM d ORDER BY day""".stripMargin)),
    // flow discovery: first-3-event paths counted across the user base
    QuerySpec("events_paths", (s, d) => Sessionize.topPaths(Tables(s, d, "events")),
      // Mirrors Sessionize.topPaths (k=3): first-3-event path per user
      // in (ts, event_id) order, counted.
      sql("""WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY user_id)
        |SELECT path, COUNT(*) AS n_users
        |FROM p GROUP BY path ORDER BY path""".stripMargin)),
    // robust (median/MAD) outliers: the heavy-tail-safe complement of
    // the 3-sigma events_anomaly — all cuts on dyadic-exact values
    QuerySpec("events_robust_outliers", (s, d) =>
      Sessionize.robustOutliers(Tables(s, d, "events")),
      // Mirrors Sessionize.robustOutliers (k=5): integer cents, two
      // exact medians (DuckDB median == sort-based interpolated
      // percentile), every compared quantity a dyadic rational.
      sql("""WITH c AS (
        |  SELECT event_id, event_type, value,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v
        |  FROM events),
        |m AS (SELECT event_type, median(v) AS med FROM c GROUP BY event_type),
        |d AS (
        |  SELECT c.event_id, c.event_type, c.value, abs(v - med) AS dev
        |  FROM c JOIN m USING (event_type)),
        |md AS (SELECT event_type, median(dev) AS mad FROM d GROUP BY event_type)
        |SELECT d.event_id, d.event_type, d.value
        |FROM d JOIN md USING (event_type)
        |WHERE dev > 5 * mad ORDER BY event_id""".stripMargin),
      sortKeys = by("event_id")),
    // OHLC downsampling bars: open/close via struct-min/max under the
    // (ts,event_id) total order — one hash aggregate, no per-series sort
    QuerySpec("events_ohlc", (s, d) =>
      graft.etl.TimeSeries.ohlcBars(Tables(s, d, "events")),
      // Mirrors TimeSeries.ohlcBars: open/close replayed via asc/desc
      // row_number windows (the definition the struct-min/max aggregate
      // optimizes); outputs are carried input values — no float math.
      sql("""WITH b AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY ts, event_id) AS rn,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY ts DESC, event_id DESC) AS rrn
        |  FROM b)
        |SELECT event_type, CAST(day AS VARCHAR) AS day,
        |  MAX(CASE WHEN rn = 1 THEN value END) AS open,
        |  MAX(CASE WHEN rrn = 1 THEN value END) AS close,
        |  MAX(value) AS high, MIN(value) AS low,
        |  COUNT(*) AS n_events
        |FROM r GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin)),
    // empirical CDF table at value grain (cume_dist as a table — the
    // window sees the value domain, never the event stream)
    QuerySpec("events_value_cdf", (s, d) =>
      Sessionize.valueCdf(Tables(s, d, "events")),
      // Mirrors Sessionize.valueCdf: value-grain counts, per-type running
      // sum, cdf = one exact-integer double division (round 4).
      sql("""WITH g AS (
        |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v,
        |    COUNT(*) AS n_at
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, v, n_at,
        |    CAST(SUM(n_at) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(SUM(n_at) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM g)
        |SELECT event_type, v, n_at, cum,
        |  ROUND(CAST(cum AS DOUBLE) / n, 4) AS cdf
        |FROM c ORDER BY event_type, v""".stripMargin),
      sortKeys = by("event_type", "v"), bigSort = true),
    // conversion latency: first signup → first at-or-after purchase
    QuerySpec("events_conversion_lag", (s, d) =>
      Sessionize.conversionLag(Tables(s, d, "events")),
      // Mirrors Sessionize.conversionLag: first signup, first purchase
      // at-or-after it; epoch-MICROS integers on both sides (timestamp
      // string rendering differs across engines on sub-second values).
      sql("""WITH s AS (
        |  SELECT user_id, MIN(ts) AS signup_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS purchase_ts
        |  FROM events e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
        |  GROUP BY e.user_id)
        |SELECT s.user_id,
        |  CAST(epoch_us(s.signup_ts) AS BIGINT) AS signup_us,
        |  CAST(epoch_us(p.purchase_ts) AS BIGINT) AS purchase_us,
        |  CAST(epoch_us(p.purchase_ts) - epoch_us(s.signup_ts) AS BIGINT)
        |    AS lag_us
        |FROM s JOIN p ON s.user_id = p.user_id
        |ORDER BY s.user_id""".stripMargin),
      sortKeys = by("user_id")),
    // session-length histogram (sessionize → two bounded re-aggregates)
    QuerySpec("session_length_hist", (s, d) =>
      Sessionize.sessionLengthHist(Tables(s, d, "events")),
      // Mirrors Sessionize.sessionLengthHist: the sessionize CTE chain
      // re-aggregated to length grain; session totals re-integerized to
      // cents before the cross-session sum (double sums are
      // partition-order-dependent; long cent sums are exact).
      sql("""WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN LAG(us) OVER w IS NULL
        |      OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged),
        |s AS (
        |  SELECT user_id, session_seq, COUNT(*) AS n_events,
        |    ROUND(SUM(value) * 100, 0) / 100.0 AS total_value
        |  FROM sess GROUP BY user_id, session_seq)
        |SELECT n_events, COUNT(*) AS n_sessions,
        |  SUM(CAST(ROUND(total_value * 100, 0) AS BIGINT)) / 100.0
        |    AS total_value
        |FROM s GROUP BY n_events ORDER BY n_events""".stripMargin)),
    QuerySpec("events_transitions", (s, d) => Sessionize.transitions(Tables(s, d, "events")),
      // Mirrors Sessionize.transitions: per-user LAG sequence, counts +
      // row-normalized probability (one long/long division, round 4).
      sql("""WITH seq AS (
        |  SELECT event_type, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, event_type AS curr_type, COUNT(*) AS n
        |      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, SUM(n) AS tot FROM c GROUP BY 1)
        |SELECT c.prev_type, c.curr_type, c.n,
        |  ROUND(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 4) AS p
        |FROM c JOIN t USING (prev_type)
        |ORDER BY prev_type, curr_type""".stripMargin)))

  /** Mirrors the quantile_sketch query in ONE pass: bottom-512 rows
    * per event_type under the (avalanche(event_id), event_id) total
    * order — the Spark side builds per-MONTH sketches and merges
    * them, so the hash match proves bottom-k mergeability (the
    * hll_monthly doctrine). quantile_cont == Spark's percentile
    * (interpolation parity verified by events_median_by_type).
    */
  private def quantileSketchSql: String = {
    import graft.operators.Sketches.QsK
    val m = graft.functions.SimHash64.Mod
    val (c1, c2) = (graft.functions.SimHash64.MixC1, graft.functions.SimHash64.MixC2)
    val mask = graft.functions.SimHash64.Mask
    def xsrMul(h: String, s: Int, c: Long) = s"(xor($h, $h >> $s) * $c) & $mask"
    def xsr(h: String, s: Int) = s"xor($h, $h >> $s)"
    s"""WITH e0 AS (
       |  SELECT event_type, value, event_id,
       |    ((event_id % $m) + $m) % $m AS he
       |  FROM events),
       |e1 AS (SELECT event_type, value, event_id,
       |         ${xsrMul("he", 15, c1)} AS he FROM e0),
       |e2 AS (SELECT event_type, value, event_id,
       |         ${xsrMul("he", 14, c2)} AS he FROM e1),
       |e3 AS (SELECT event_type, value, event_id,
       |         ${xsr("he", 15)} AS he FROM e2),
       |r AS (
       |  SELECT event_type, value,
       |    row_number() OVER (PARTITION BY event_type
       |                       ORDER BY he, event_id) AS rn
       |  FROM e3)
       |SELECT event_type, COUNT(*) AS n_sample,
       |  ROUND(quantile_cont(value, 0.25), 4) AS p25,
       |  ROUND(quantile_cont(value, 0.50), 4) AS p50,
       |  ROUND(quantile_cont(value, 0.75), 4) AS p75,
       |  ROUND(quantile_cont(value, 0.95), 4) AS p95
       |FROM r WHERE rn <= $QsK
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** Mirrors Sessionize.approxStats: graft's deterministic HLL (p=9,
    * avalanche hash, integer register sum) + hash-sampled exact
    * quantiles. The only transcendental — the linear-counting table
    * m·ln(m/V) — is computed on the JVM and embedded as 512 literals
    * (libms disagree on ln in the last ulp); everything else is BIGINT
    * arithmetic or single IEEE ops, so the estimates hash-check.
    */
  private def approxStatsSql: String = {
    import graft.functions.Hll.{P => HllP, M => HllM, ValueBits => HllValueBits,
      AlphaM2P => HllAlphaM2P, LcTable}
    import graft.operators.Sessionize.SampleMod
    val m = graft.functions.SimHash64.Mod
    val (c1, c2) = (graft.functions.SimHash64.MixC1, graft.functions.SimHash64.MixC2)
    val mask = graft.functions.SimHash64.Mask
    def xsrMul(h: String, s: Int, c: Long) = s"(xor($h, $h >> $s) * $c) & $mask"
    def xsr(h: String, s: Int) = s"xor($h, $h >> $s)"
    val rhoCase = (1 to HllValueBits).map(r =>
      s"WHEN v >= ${1L << (HllValueBits - r)} THEN $r").mkString(" ")
    val lc = (1 to 512).map(v =>
      s"($v, ${LcTable(v - 1).toString})").mkString(", ")
    val alpha = HllAlphaM2P.toString
    s"""WITH e0 AS (
       |  SELECT event_type, value,
       |    ((user_id % $m) + $m) % $m AS hu,
       |    ((event_id % $m) + $m) % $m AS he
       |  FROM events),
       |e1 AS (SELECT event_type, value, ${xsrMul("hu", 16, c1)} AS hu,
       |              ${xsrMul("he", 15, c1)} AS he FROM e0),
       |e2 AS (SELECT event_type, value, ${xsrMul("hu", 13, c2)} AS hu,
       |              ${xsrMul("he", 14, c2)} AS he FROM e1),
       |e3 AS (SELECT event_type, value, ${xsr("hu", 16)} AS hu,
       |              ${xsr("he", 15)} AS he FROM e2),
       |rws AS (
       |  SELECT event_type, value, hu & ${HllM - 1} AS bucket,
       |    CASE WHEN v = 0 THEN ${HllValueBits + 1} $rhoCase END AS rho,
       |    he % $SampleMod = 0 AS sampled
       |  FROM (SELECT *, hu >> $HllP AS v FROM e3)),
       |regs AS (
       |  SELECT event_type, bucket, MAX(rho) AS mrho
       |  FROM rws GROUP BY event_type, bucket),
       |hll AS (
       |  SELECT event_type,
       |    SUM(CAST(1 AS BIGINT) << (${HllValueBits + 1} - mrho))
       |      + ($HllM - COUNT(*)) * ${1L << (HllValueBits + 1)} AS zn,
       |    $HllM - COUNT(*) AS v_empty
       |  FROM regs GROUP BY event_type),
       |lc(v, est) AS (VALUES $lc),
       |per AS (
       |  SELECT event_type, COUNT(*) AS n_events,
       |    CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
       |    ROUND(quantile_cont(CASE WHEN sampled THEN value END, 0.5), 4) AS p50_value,
       |    ROUND(quantile_cont(CASE WHEN sampled THEN value END, 0.95), 4) AS p95_value,
       |    ROUND(quantile_cont(CASE WHEN sampled THEN value END, 0.99), 4) AS p99_value
       |  FROM rws GROUP BY event_type)
       |SELECT p.event_type, p.n_events,
       |  ROUND(CASE WHEN h.v_empty > 0 AND $alpha / h.zn <= ${2.5 * HllM}
       |        THEN l.est ELSE $alpha / h.zn END, 4) AS approx_users,
       |  p.n_sample, p.p50_value, p.p95_value, p.p99_value
       |FROM per p JOIN hll h USING (event_type)
       |LEFT JOIN lc l ON l.v = h.v_empty
       |ORDER BY p.event_type""".stripMargin
  }

  /** Mirrors Sessionize.monthlyActiveUsers — deliberately in ONE pass:
    * the Spark side max-merges DAILY registers into months, the oracle
    * sketches each month directly from the rows; max-merge
    * associativity means the registers (and therefore the estimates)
    * must agree bit-for-bit, so the hash check proves sketch
    * mergeability end-to-end.
    */
  private def hllMonthlySql: String = {
    import graft.functions.Hll.{P => HllP, M => HllM, ValueBits => HllValueBits,
      AlphaM2P => HllAlphaM2P, LcTable}
    val m = graft.functions.SimHash64.Mod
    val (c1, c2) = (graft.functions.SimHash64.MixC1, graft.functions.SimHash64.MixC2)
    val mask = graft.functions.SimHash64.Mask
    def xsrMul(h: String, s: Int, c: Long) = s"(xor($h, $h >> $s) * $c) & $mask"
    def xsr(h: String, s: Int) = s"xor($h, $h >> $s)"
    val rhoCase = (1 to HllValueBits).map(r =>
      s"WHEN v >= ${1L << (HllValueBits - r)} THEN $r").mkString(" ")
    val lc = (1 to 512).map(v =>
      s"($v, ${LcTable(v - 1).toString})").mkString(", ")
    val alpha = HllAlphaM2P.toString
    s"""WITH e0 AS (
       |  SELECT date_trunc('month', CAST(ts AS DATE)) AS month, event_type,
       |    CAST(ts AS DATE) AS day,
       |    ((user_id % $m) + $m) % $m AS hu
       |  FROM events),
       |e1 AS (SELECT month, event_type, day, ${xsrMul("hu", 16, c1)} AS hu FROM e0),
       |e2 AS (SELECT month, event_type, day, ${xsrMul("hu", 13, c2)} AS hu FROM e1),
       |e3 AS (SELECT month, event_type, day, ${xsr("hu", 16)} AS hu FROM e2),
       |rws AS (
       |  SELECT month, event_type, day, hu & ${HllM - 1} AS bucket,
       |    CASE WHEN v = 0 THEN ${HllValueBits + 1} $rhoCase END AS rho
       |  FROM (SELECT *, hu >> $HllP AS v FROM e3)),
       |regs AS (
       |  SELECT month, event_type, bucket, MAX(rho) AS mrho
       |  FROM rws GROUP BY month, event_type, bucket),
       |hll AS (
       |  SELECT month, event_type,
       |    SUM(CAST(1 AS BIGINT) << (${HllValueBits + 1} - mrho))
       |      + ($HllM - COUNT(*)) * ${1L << (HllValueBits + 1)} AS zn,
       |    $HllM - COUNT(*) AS v_empty
       |  FROM regs GROUP BY month, event_type),
       |days AS (SELECT month, event_type, COUNT(DISTINCT day) AS n_days
       |  FROM rws GROUP BY month, event_type),
       |lc(v, est) AS (VALUES $lc)
       |SELECT CAST(h.month AS VARCHAR) AS month, h.event_type, d.n_days,
       |  ROUND(CASE WHEN h.v_empty > 0 AND $alpha / h.zn <= ${2.5 * HllM}
       |        THEN l.est ELSE $alpha / h.zn END, 4) AS approx_users
       |FROM hll h JOIN days d USING (month, event_type)
       |LEFT JOIN lc l ON l.v = h.v_empty
       |ORDER BY month, event_type""".stripMargin
  }

  /** Mirrors Profile.histDrift (edges 10/25/50/100, critical 13.277)
    * term for term: the chi-square is the SAME unrolled expression
    * tree — per-bin integer counters, then left-associated double
    * arithmetic in the identical order — so the float statistic
    * hash-checks exactly (no distributive float SUM on either side).
    */
  private def distDriftSql: String = {
    val edges = Seq(10.0, 25.0, 50.0, 100.0)
    val k = edges.size + 1
    val binCase = "CASE " + edges.zipWithIndex.map { case (e, i) =>
      s"WHEN value < $e THEN $i" }.mkString(" ") + s" ELSE ${k - 1} END"
    val counters = (0 until k).flatMap(i => Seq(
      s"CAST(SUM(CASE WHEN bin = $i AND s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a$i",
      s"CAST(SUM(CASE WHEN bin = $i AND s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b$i"))
      .mkString(",\n    ")
    val naSum = (0 until k).map(i => s"a$i").mkString(" + ")
    val nbSum = (0 until k).map(i => s"b$i").mkString(" + ")
    def term(i: Int): String = {
      val ea = s"(CAST(na AS DOUBLE) * CAST(a$i + b$i AS DOUBLE) / CAST(na + nb AS DOUBLE))"
      val eb = s"(CAST(nb AS DOUBLE) * CAST(a$i + b$i AS DOUBLE) / CAST(na + nb AS DOUBLE))"
      s"""CASE WHEN a$i + b$i > 0 THEN
         |      (CAST(a$i AS DOUBLE) - $ea) * (CAST(a$i AS DOUBLE) - $ea) / $ea
         |      + (CAST(b$i AS DOUBLE) - $eb) * (CAST(b$i AS DOUBLE) - $eb) / $eb
         |    ELSE 0.0 END""".stripMargin
    }
    val chi2 = (0 until k).map(term).mkString("\n    + ")
    s"""WITH t AS (
       |  SELECT event_type,
       |    CASE WHEN day(ts) < 16 THEN 0 ELSE 1 END AS s,
       |    $binCase AS bin
       |  FROM events WHERE value IS NOT NULL),
       |c AS (
       |  SELECT event_type,
       |    $counters
       |  FROM t GROUP BY event_type),
       |e AS (SELECT *, $naSum AS na, $nbSum AS nb FROM c),
       |f AS (
       |  SELECT event_type, na, nb,
       |    CASE WHEN na > 0 AND nb > 0 THEN ROUND(
       |    $chi2, 4) END AS chi2
       |  FROM e)
       |SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       |  chi2, COALESCE(chi2 > 13.277, FALSE) AS drifted
       |FROM f ORDER BY event_type""".stripMargin
  }
}
