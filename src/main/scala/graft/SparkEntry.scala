package graft

import graft.core.Tables
import graft.etl.{Cube, Dashboard, Ingest, WeatherMart}
import graft.operators.{AsOfJoin, Corpus, Dedup, Multimodal, RangeJoin, Sampling, Sessionize, Similarity, Sketches, TextAnalysis}
import graft.streaming.EventStream
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every query is deterministically ordered and every computed double is
  * rounded to 4 decimals on BOTH the Spark side and the DuckDB oracle side
  * (SURVEY.md §5) so value hashes compare exactly.
  */
object SparkEntry {

  /** Flagship: the full mart build (star join + window metrics). */
  def entry(spark: SparkSession): DataFrame =
    WeatherMart.fact(spark, "/root/testdata/sf0.001")

  private val factOrder = Seq("location_key", "date_key", "l_orderkey",
    "l_linenumber", "avg_temp_f", "precipitation_in", "snowfall_in")

  /** Mixture-sampling rates (sample_mixture). Dyadic rationals only:
    * exactly representable as doubles, so the Spark literal and the
    * DuckDB CASE literal denote the SAME value and the u < rate cut
    * agrees bit-for-bit.
    */
  private val MixtureRates = Map(
    "src0" -> 0.25, "src3" -> 0.375, "src7" -> 0.625, "src12" -> 0.875)

  /** Epoch weights (sample_epochs). Dyadic for the same bit-replay
    * reason as [[MixtureRates]]; >1 upsamples, <1 downsamples.
    */
  private val EpochWeights = Map(
    "src0" -> 2.5, "src3" -> 0.25, "src7" -> 3.0, "src12" -> 1.75)

  /** Target mix shares (mixture_weights). Dyadic, sum to 1 — the
    * solver's divisions then replay bit-for-bit in the oracle.
    */
  private val MixtureTargets = Map(
    "src0" -> 0.5, "src3" -> 0.25, "src7" -> 0.125, "src12" -> 0.125)

  /** keyword_search query set — ONE literal source feeding both the
    * Spark call and the oracle's VALUES list, so the two sides can
    * never drift on what was searched.
    */
  private val SearchQueries = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("window", "agg"),
    3 -> Seq("vector", "stream", "scan"),
    4 -> Seq("customer", "order"))

  /** Phrase-search fixtures: consecutive-token phrases, incl. one with
    * a repeated term (the distinct-slot counting edge).
    */
  private val PhraseQueries = Seq(
    1 -> Seq("order", "fast"),
    2 -> Seq("table", "scan", "merge"),
    3 -> Seq("batch", "batch", "batch"),
    4 -> Seq("stream", "column"))

  private def phraseQueryValues: String = PhraseQueries.flatMap {
    case (qid, ts) => ts.zipWithIndex.map { case (t, i) =>
      s"($qid, '$t', $i, ${ts.length})" }
  }.mkString(", ")

  private def phraseQueryTermList: String =
    PhraseQueries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")

  private def searchQueryValues: String = SearchQueries
    .flatMap { case (qid, ts) => ts.distinct.map(t => s"($qid, '$t')") }
    .mkString(", ")

  private def searchQueryTermList: String =
    SearchQueries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")

  /** Dump DATE columns as ISO strings: pandas renders Spark's date32 and
    * DuckDB's DATE differently ("1995-01-02" vs "1995-01-02 00:00:00"),
    * which would fail a value-hash compare even though values are equal.
    * ISO strings sort identically to dates, so ordering is unaffected.
    */
  private def datesAsStrings(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    df.schema.fields
      .filter(f => f.dataType == DateType || f.dataType == TimestampType)
      .foldLeft(df) { (d, f) =>
        d.withColumn(f.name, col(f.name).cast("string"))
      }
  }

  /** Hash-stability output sorts applied to the VERIFY surface only —
    * the doctrine's central ledger (one entry per query whose operator
    * core returns unsorted). The driver's row-hash compare is order-
    * sensitive, so the dump must be totally ordered; a production
    * caller (and the bench, which measures `raw`) must not pay a
    * corpus-sized output sort the operator semantics never needed.
    * SmallSort (1-partition + local sort) keeps the expensive subtree
    * at full parallelism and executes it once — acceptable for a
    * verify dump, wrong inside an operator.
    */
  private[graft] val verifySortKeys: Map[String, Seq[Column]] = {
    def k(names: String*): Seq[Column] = names.map(col)
    Map(
      "dedup_cluster" -> k("doc_id"),
      "dedup_cluster_best" -> k("component_id"),
      "semdedup" -> k("vec_id"),
      "knn_graph" -> k("vec_id", "rank"),
      "label_noise" -> k("vec_id"),
      "dedup_embedding" -> k("vec_a", "vec_b"),
      "ngram_jaccard" -> k("doc_a", "doc_b"),
      "dedup_containment" -> k("doc_a", "doc_b"),
      "dedup_minhash_lsh" -> k("doc_a", "doc_b"),
      "dedup_simhash" -> k("doc_a", "doc_b"),
      "events_anomaly" -> k("event_id"),
      "quality_filter" -> k("doc_id"),
      "gopher_gate" -> k("doc_id"),
      "decontaminate_semantic" -> k("vec_id"),
      "decontaminate" -> k("doc_id"),
      "doc_chunk" -> k("doc_id", "chunk_id"),
      "doc_chunk_cdc" -> k("doc_id", "chunk_id"),
      // round-12 sweep: every remaining operator-embedded output sort
      // on a scale-proportional (doc/event/fact-grain) result
      "embedding_normalize" -> k("vec_id", "pos"),
      "events_sessionize" -> k("user_id", "session_seq"),
      "events_argmax" -> k("user_id"),
      "events_streaks" -> k("user_id"),
      "events_robust_outliers" -> k("event_id"),
      "events_conversion_lag" -> k("user_id"),
      "events_value_cdf" -> k("event_type", "v"),
      "events_sliding" -> k("win_start", "event_type"),
      "snapshot_diff" -> k("o_orderkey"),
      "fact_rolling_range" -> k("loc_ref", "date_valid"),
      "normalized_weather_day" -> k("date_valid", "postal_code",
        "avg_temp_f", "precipitation_in", "snowfall_in", "band_q"),
      "csv_ingest" -> k("doc_id"),
      "json_ingest" -> k("doc_id"),
      "sample_epochs" -> k("doc_id", "copy"),
      "multimodal_extract" -> k("doc_id"),
      "multimodal_frames" -> k("doc_id", "frame_idx"),
      "multimodal_dedup" -> k("format", "content_hash"),
      "multimodal_resize" -> k("doc_id"),
      "dedup_exact" -> k("content_hash"),
      "dedup_exact_best" -> k("content_hash"),
      "dedup_incremental" -> k("doc_id"),
      "dedup_substring" -> k("doc_id", "span_start"),
      "dedup_substring_scrub" -> k("doc_id"),
      "text_quality" -> k("doc_id"),
      "token_count" -> k("doc_id"),
      "lang_id" -> k("doc_id"),
      "doc_fingerprint" -> k("doc_id"),
      "doc_repetition" -> k("doc_id"),
      "doc_normalize" -> k("doc_id"),
      "doc_novelty" -> k("doc_id"),
      "paragraph_dedup" -> k("doc_id"),
      "ngram_lm" -> k("gram"),
      "basket_pairs" -> k("part_a", "part_b"),
      "tfidf_topterms" -> Seq(col("doc_id"), col("score").desc, col("term")))
  }

  /** Ledger entries whose outputs stay FACT-scale (≳10⁶ rows at the
    * sweep SFs): the verify wrapper range-sorts these in parallel —
    * SmallSort's 1-partition funnel is for small results; a 53M-row
    * dump through one task is its own bottleneck. The subtree
    * double-execution of orderBy (range-partitioner sampling) is a
    * verify-only cost the bench never pays.
    */
  private val verifyBigSort: Set[String] = Set(
    "fact_rolling_range", "normalized_weather_day", "events_sliding",
    "events_sessionize", "events_value_cdf", "snapshot_diff",
    "embedding_normalize")

  def queries: Map[String, (SparkSession, String) => DataFrame] = raw.map {
    case (name, fn) => name -> ((s: SparkSession, d: String) => {
      val df = datesAsStrings(fn(s, d))
      verifySortKeys.get(name).fold(df) { ks =>
        if (verifyBigSort(name)) df.orderBy(ks: _*)
        else graft.core.SmallSort(df, ks: _*)
      }
    })
  }

  /** Bench surface: identical operator cores, minus the global output
    * sorts that exist ONLY to make the verify dump hash-stable (a
    * warehouse CTAS does not sort its table). Semantic orderings (top-N
    * limits, per-key session order) are untouched. Currently this strips
    * the two fact-sized sorts; everything else is measured as-is.
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    raw ++ Map[String, (SparkSession, String) => DataFrame](
      "stg_load" -> ((s, d) => WeatherMart.staging(s, d)),
      "fact_build" -> ((s, d) => WeatherMart.fact(s, d)),
      "gap_fill" -> ((s, d) => graft.etl.TimeSeries.gapFill(s, d, ordered = false)),
      "cdc_apply" -> ((s, d) => graft.etl.Cdc.ordersSnapshot(s, d, ordered = false)),
      // deployment-shape ANN (bench-only, VERDICT r12 #3): the ann_ivf
      // contract entry rebuilds the whole-corpus IVF assignment inline
      // per call — a backfill convenience that dominated its sf10 time
      // (197 s, almost all assignment build). The production path
      // builds the cell-partitioned assignments + centroid table ONCE
      // and serves probes from them (ivfTopKIndexed, cell-pruned
      // scans). Here the build is memoized per JVM (first bench
      // iteration pays it; min-over-iterations reports the steady-
      // state indexed probe) — giving the sf10 bench the split
      // build-vs-probe timing the deployment shape actually has.
      "ann_ivf_probe" -> ((s, d) => {
        val (aDir, cDir) = ivfIndexFor(s, d)
        Similarity.ivfTopKIndexed(s.read.parquet(aDir), s.read.parquet(cDir),
          Tables(s, d, "embeddings").filter(col("vec_id") < 10))
      }))
      // every verifySortKeys query needs no bench override: `raw` holds
      // the sortless core and only `queries` (the verify dump) sorts

  /** Per-JVM memoized IVF index build for the `ann_ivf_probe` bench
    * entry: AutoStride (≈√n cells) centroids + cell_id-partitioned
    * assignments written to a fresh temp dir, keyed by the sf dir. A
    * fresh dir per JVM (not a stable path) so a regenerated corpus can
    * never be probed against a stale index.
    */
  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Force the memoized IVF index build NOW — the bench calls this as
    * untimed setup (alongside mart materialization) so `ann_ivf_probe`
    * times the steady-state indexed probe even on single-iteration
    * runs. Without it, a 1-iteration sf10 run silently folds the
    * whole index build into the probe's only sample (VERDICT r13 #4:
    * the artifact's 51.62 s was mostly build).
    */
  def prewarmAnnIvfProbe(s: SparkSession, d: String): Unit = {
    ivfIndexFor(s, d); ()
  }
  private def ivfIndexFor(s: SparkSession, d: String): (String, String) =
    ivfIndexCache.computeIfAbsent(d, _ => {
      val base =
        java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
      val cDir = s"$base/centroids"
      val aDir = s"$base/assignments"
      val emb = Tables(s, d, "embeddings")
      Similarity.strideCentroids(emb).write.mode("overwrite").parquet(cDir)
      Similarity.ivfAssignments(emb, s.read.parquet(cDir))
        .write.mode("overwrite").partitionBy("cell_id").parquet(aDir)
      (aDir, cDir)
    })

  private def raw: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stg_load" -> ((s, d) => WeatherMart.staging(s, d)
      .orderBy("l_orderkey", "l_linenumber")),
    // file-drop Extract: parquet truth → CSV/JSON → explicit-schema
    // quarantining read; oracle reads the parquet, so a hash match
    // proves the ingest is lossless and quarantine stayed empty
    "csv_ingest" -> ((s, d) => Ingest.csvRoundTrip(s, d)),
    "json_ingest" -> ((s, d) => Ingest.jsonRoundTrip(s, d)),
    // classic pricing-summary shape (TPC-H Q1 analog): one wide partial
    // aggregate over the fact scan, grouped by two low-cardinality flags
    "pricing_summary" -> ((s, d) => Tables(s, d, "lineitem")
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
      .orderBy("l_returnflag", "l_linestatus")),
    // generic data-profiling (etl.Profile): the oracle checks the EXACT
    // variant; the scale default is approx_count_distinct (no Expand,
    // fixed-size HLL++ state), spec-bounded against exact in ProfileSpec
    "table_profile" -> ((s, d) => graft.etl.Profile.tableProfile(
      Tables(s, d, "lineitem"),
      Seq("l_suppkey", "l_quantity", "l_discount", "l_returnflag"),
      exact = true)),
    "dim_date" -> ((s, d) => WeatherMart.dimDate(s, d).orderBy("date_key")),
    "dim_location" -> ((s, d) => WeatherMart.dimLocation(s, d).orderBy("location_key")),
    "dim_scd2_merge" -> ((s, d) => WeatherMart.dimLocationMerged(s, d)
      .orderBy("location_key")),
    // temporal (point-in-time) lookup against the versioned dimension:
    // each observation date resolves to the ONE version valid then
    "scd2_pit_join" -> ((s, d) => {
      val obs = WeatherMart.locationNatural(s, d).select("postal_code")
        .withColumn("obs_date",
          explode(array(lit("2026-01-15"), lit("2026-02-15"))))
      graft.etl.StarSchema
        .pitJoin(obs, WeatherMart.dimLocationMerged(s, d), Seq("postal_code"),
          "obs_date")
        .select("postal_code", "obs_date", "location_key", "city_name",
          "country", "region_name", "is_current")
        .orderBy("postal_code", "obs_date")
    }),
    // the composed incremental path: CDC delta feed → compacted
    // snapshot → SCD2 versioned dimension (WeatherMart.dimLocationCdcMerged)
    "cdc_scd2" -> ((s, d) => WeatherMart.dimLocationCdcMerged(s, d)
      .orderBy("location_key")),
    "dim_band" -> ((s, d) => WeatherMart.dimBand(s, d)),
    "dim_precip_type" -> ((s, d) => WeatherMart.dimPrecipType(s, d)),
    "dim_source" -> ((s, _) => WeatherMart.dimSource(s)),
    "normalized_3nf" -> ((s, d) => WeatherMart.normalizedLocation(s, d)),
    // the reference's other two 3NF tables (NORMALIZED.DATE /
    // NORMALIZED.WEATHER_DAY, ETL_GlobalWeather_DB.sql:148-175):
    // surrogate-free date attributes and the natural-key measure table
    "normalized_date" -> ((s, d) => WeatherMart.dimDate(s, d)
      .select(col("full_date").as("date_valid"), col("year"), col("month"),
        col("day"), col("day_of_year"), col("week_of_year"), col("day_of_week"))
      .orderBy("date_valid")),
    // column-complete per ETL_GlobalWeather_DB.sql:160-175: every
    // measure the test schema maps rides along (band_q = l_quantity,
    // the banding measure; the reference's other 9 measure columns
    // have no counterpart column in the harness tables — SURVEY §1)
    "normalized_weather_day" -> ((s, d) => WeatherMart.staging(s, d)
      .select(col("date_valid"), col("loc_ref").as("postal_code"),
        col("avg_temp_f"), col("precipitation_in"), col("snowfall_in"),
        col("band_q"))),
    // set difference: snapshot rows not present in the current dim
    // naturals = the day's changed + brand-new locations (EXCEPT is a
    // distinct-aggregating shuffle — same cost shape as a groupBy)
    "location_drift" -> ((s, d) =>
      WeatherMart.locationSnapshot(s, d)
        .except(WeatherMart.locationNatural(s, d))
        .orderBy("postal_code")),
    "fact_build" -> ((s, d) => WeatherMart.fact(s, d)
      .orderBy(factOrder.map(col): _*)),
    "fact_rolling_range" -> ((s, d) => WeatherMart.rolling7Day(s, d)),
    "validate_fact" -> ((s, d) => WeatherMart.validateFact(s, d)),
    "q1_avg_by_date" -> ((s, d) => Dashboard.avgByDate(s, d)),
    "q2_topn_by_location" -> ((s, d) => Dashboard.topNByLocation(s, d)),
    "q3_avg_by_class" -> ((s, d) => Dashboard.avgByClass(s, d)),
    "q4_band_counts" -> ((s, d) => Dashboard.bandCounts(s, d)),
    "q5_pct_positive" -> ((s, d) => Dashboard.pctPositiveByDate(s, d)),
    // --- skew-aware join (SURVEY.md §2) ---
    "skew_join_salted" -> ((s, d) => {
      val li = Tables(s, d, "lineitem").select("l_suppkey", "l_extendedprice")
      val sup = Tables(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.operators.SkewJoin.saltedInner(li, sup, Seq("l_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("n_items"),
          (round(sum("l_extendedprice") * 100, 0) / 100.0).as("total_revenue"))
        .orderBy("s_name")
    }),
    // --- deduplication (SURVEY.md §2) ---
    "dedup_exact" -> ((s, d) => Dedup.exact(Tables(s, d, "documents"))),
    // asymmetric near-dup: containment catches a short doc quoted
    // wholesale inside a long one (Jaccard ≈ |A|/|B| ≈ 0 there)
    "dedup_containment" -> ((s, d) =>
      Dedup.ngramContainment(Tables(s, d, "documents"))),
    // policy-keeper variant: exact duplicates tie on every content
    // score, so the keeper is chosen on provenance (trusted sources
    // first) — the min-struct carries the policy at zero extra cost
    "dedup_exact_best" -> ((s, d) => Dedup.exactByPreference(
      Tables(s, d, "documents"),
      when(col("source") === "src7", 0).when(col("source") === "src0", 1)
        .otherwise(2))),
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      Dedup.incremental(docs.filter(col("doc_id") >= 400),
        docs.filter(col("doc_id") < 400))
    }),
    "ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(Tables(s, d, "documents"))),
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(Tables(s, d, "documents"))),
    "dedup_simhash" -> ((s, d) => Dedup.simhash(Tables(s, d, "documents"))),
    // cross-doc duplicate-span mining (the passage-grain dedup): the
    // oracle replays gram-string equality where Spark joins on the
    // 64-bit gram hash — identical spans barring a 2^-64 collision
    "dedup_substring" -> ((s, d) =>
      Dedup.duplicateSpans(Tables(s, d, "documents"))),
    // the enforcement half: duplicated spans excised from every doc
    "dedup_substring_scrub" -> ((s, d) =>
      Dedup.exciseSpans(Tables(s, d, "documents"))),
    // width = the library's occupancy-resolved AutoWidth (the demo
    // r=6 pin was measured corpus-quadratic at sf10 — VERDICT r12 #1);
    // the oracle regenerates its hyperplane literals at the same
    // resolved width per SF (oracleSqlFor → embeddingOracleSqlAt), so
    // the gate and the scale-safe geometry are now the same plan.
    // bands stay 8 (the sf10 gate precedent): recall at the gate is
    // irrelevant — both engines replay identical buckets — and a
    // production miner that needs a recall floor raises bands per
    // Similarity.regimeBands (AutoBands) or routes to ivfTopKIndexed.
    "dedup_embedding" -> ((s, d) =>
      Similarity.embeddingNearDup(Tables(s, d, "embeddings"),
        bands = 8, rowsPerBand = Similarity.AutoWidth)),
    // SEMANTIC decontamination (Corpus.decontaminateSemantic): the
    // paraphrase-leak gate over embeddings — every 20th vector plays
    // the benchmark set, the rest is the train corpus; sign-bit LSH
    // candidates (hyperplane literals replayed by the oracle, the
    // dedup_embedding precedent) + exact-cosine verify, kept ids out.
    // Width resolved EXPLICITLY from the train-corpus count (the
    // operator deliberately has no AutoWidth default — see its width
    // note): the demo r=6 pin thrashed shuffle memory at sf10
    // (VERDICT r12 #1). bands stay 8, the gate trade documented at
    // dedup_embedding; a production leak gate raises bands per
    // Similarity.regimeBands to hold its leak bound.
    "decontaminate_semantic" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val train = emb.filter(pmod(col("vec_id"), lit(20)) =!= 0)
      Corpus.decontaminateSemantic(
        train,
        emb.filter(pmod(col("vec_id"), lit(20)) === 0),
        rowsPerBand = Similarity.regimeRowsPerBand(train.count()))
    }),
    // --- similarity search (SURVEY.md §2) ---
    "embedding_normalize" -> ((s, d) =>
      Similarity.normalize(Tables(s, d, "embeddings"))),
    "ann_bruteforce" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10))
    }),
    "ann_ivf" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      // stride pinned to the demo grid the oracle replays (vec_id % 50
      // centroids); the library default is Similarity.AutoStride
      // (cells ≈ √n from a corpus-count probe)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        centroidStride = 50)
    }),
    // --- text analysis (SURVEY.md §2) ---
    "text_quality" -> ((s, d) => TextAnalysis.quality(Tables(s, d, "documents"))),
    "token_count" -> ((s, d) => TextAnalysis.tokenCount(Tables(s, d, "documents"))),
    "lang_id" -> ((s, d) => TextAnalysis.langId(Tables(s, d, "documents"))),
    "doc_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(Tables(s, d, "documents"))),
    "vocab_topk" -> ((s, d) => TextAnalysis.vocabTopK(Tables(s, d, "documents"))),
    // Count-Min heavy hitters (operators.Sketches): fixed 4×2048-cell
    // executor state however large the vocabulary, cell-wise-additive
    // merge; the exact top-20 rides along to prove est >= exact — the
    // counting analog of events_approx_stats' HLL
    "heavy_hitters_cms" -> ((s, d) =>
      Sketches.heavyHitters(Tables(s, d, "documents"))),
    // quantile sketch (operators.Sketches.quantileSketch): the third
    // member of the sketch trio — fixed 512-row-per-group state
    // however large the stream, deterministic bottom-k-by-hash, so
    // the oracle replays the sample row-for-row. Built per MONTH and
    // merged to type grain while the oracle sketches the whole stream
    // in one pass: the hash match PROVES bottom-k mergeability, the
    // hll_monthly doctrine applied to quantiles
    "quantile_sketch" -> ((s, d) => {
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
    }),
    // content-defined chunking (Corpus.cdcChunks): rolling-hash
    // boundaries re-sync after edits, so chunk-grain dedup survives
    // insertions that shift every fixed-stride offset; boundaries from
    // the portable word hash, so the oracle replays every chunk.
    // maskBits=2 here: the synthetic corpus has a 31-word vocabulary
    // and the production default (4) happens to select zero of them as
    // boundary words — 2 puts real multi-chunk docs and cross-doc
    // shared chunks under the hash check
    "doc_chunk_cdc" -> ((s, d) =>
      Corpus.cdcChunks(Tables(s, d, "documents"), maskBits = 2)),
    // cross-source contamination matrix (Corpus.sourceOverlap): which
    // sources share verbatim 8-gram passages — the mixing-weight
    // diagnostic; per-gram fan-out bounded by the source label set
    "source_overlap" -> ((s, d) => Corpus.sourceOverlap(Tables(s, d, "documents"))),
    "corpus_stats" -> ((s, d) => TextAnalysis.corpusStats(Tables(s, d, "documents"))),
    "doc_repetition" -> ((s, d) => TextAnalysis.repetition(Tables(s, d, "documents"))),
    "decontaminate" -> ((s, d) => Corpus.decontaminate(Tables(s, d, "documents"))),
    "bigram_lift" -> ((s, d) => TextAnalysis.bigramLift(Tables(s, d, "documents"))),
    // --- events: batch + streaming-twin (SURVEY.md §2) ---
    "events_sessionize" -> ((s, d) => Sessionize.sessions(Tables(s, d, "events"))),
    "events_hourly" -> ((s, d) =>
      EventStream.hourlyByType(Tables(s, d, "events"))
        .orderBy("hour_ts", "event_type")),
    "events_topk_users" -> ((s, d) => Sessionize.topUsers(Tables(s, d, "events"))),
    "events_top3_per_type" -> ((s, d) => Sessionize.topKPerType(Tables(s, d, "events"))),
    "events_value_deciles" -> ((s, d) => Sessionize.valueDeciles(Tables(s, d, "events"))),
    // grouped median (operators.Sessionize.medianByType): the oracle
    // checks the EXACT sort-based form; the scale default interpolates
    // over the deterministic hash sample (spec-bounded vs exact)
    "events_median_by_type" -> ((s, d) =>
      Sessionize.medianByType(Tables(s, d, "events"), exact = true)),
    "events_approx_stats" -> ((s, d) => Sessionize.approxStats(Tables(s, d, "events"))),
    // grouped sketch-merge re-aggregation: daily HLL registers
    // max-merged to month grain; the oracle sketches the month in one
    // pass, so the hash match PROVES register mergeability
    "hll_monthly" -> ((s, d) => Sessionize.monthlyActiveUsers(Tables(s, d, "events"))),
    "events_funnel" -> ((s, d) => Sessionize.funnel(Tables(s, d, "events"))),
    // exact = true: the hash-checked audit form (sampled-bounds default
    // is spec-bounded against it, like table_profile)
    "events_winsorize" -> ((s, d) =>
      Sessionize.winsorize(Tables(s, d, "events"), exact = true)),
    // referential-integrity audit: orphan FKs both directions via
    // anti-joins (co-partitioned at scale — no broadcast assumption on
    // the customer side, which grows with the data)
    "ri_check" -> ((s, d) => {
      val o = Tables(s, d, "orders").select("o_custkey")
      val c = Tables(s, d, "customer").select("c_custkey")
      o.agg(count(lit(1)).as("n_orders")).crossJoin(
        o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_orphan_orders")))
        .crossJoin(c.agg(count(lit(1)).as("n_customers")))
        .crossJoin(c.join(o, o("o_custkey") === c("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_inactive_customers")))
    }),
    "events_retention" -> ((s, d) => Sessionize.retention(Tables(s, d, "events"))),
    // distribution-drift monitor (etl.Profile.histDrift): two-sample
    // chi-square between month halves per event type — one bounded-
    // width conditional-aggregate scan, chi2 UNROLLED over the literal
    // bins so the float statistic is a fixed expression tree both
    // engines evaluate identically
    "dist_drift" -> ((s, d) => graft.etl.Profile.histDriftBy(
      Tables(s, d, "events"), dayofmonth(col("ts")) < 16,
      "value", "event_type", Seq(10.0, 25.0, 50.0, 100.0))
      .orderBy("event_type")),
    // declarative data-quality audit (etl.Expectations — the dbt-test
    // engine generalizing validate_fact/ri_check): 5 row-grain rules
    // cost ONE conditional-aggregate scan per table, unique is a
    // map-side-combined key aggregate, relationship pre-aggregates FKs
    // to distinct keys before the anti-join
    "expectations_check" -> ((s, d) => {
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
    }),
    // --- orders/customer analytics (big⋈big shuffle-join path) ---
    "orders_monthly_status" -> ((s, d) => Tables(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"),
        col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        // exact cent BIGINT accumulation (order-independent at any
        // scale — the sales_rollup doctrine): a month-status group at
        // sf100 sums 1e11+ in doubles and drifts past the half-cent
        (sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("double")
          / 100.0).as("total_price"))
      .orderBy("month", "o_orderstatus")),
    // Unlike the star joins, BOTH sides here scale with the data — the
    // aggregate's custkey partitioning is reused by the join, so only
    // the customer side pays a fresh shuffle at cluster scale.
    "customer_top_spenders" -> ((s, d) => {
      val totals = Tables(s, d, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          (sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("double")
            / 100.0).as("total_spend"))
      totals
        .join(Tables(s, d, "customer").select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("n_orders"), col("total_spend"))
        .orderBy(col("total_spend").desc, col("c_custkey")).limit(20)
    }),
    // --- multimodal plumbing (SURVEY.md §2) ---
    "multimodal_extract" -> ((s, d) => Multimodal.extract(s, Tables(s, d, "documents"))),
    "multimodal_frames" -> ((s, d) => Multimodal.frameSample(Tables(s, d, "documents"))),
    "multimodal_dedup" -> ((s, d) => Multimodal.payloadDedup(Tables(s, d, "documents"))),
    "multimodal_resize" -> ((s, d) => Multimodal.resizePlan(Tables(s, d, "documents"))),
    // --- relational extensions (SURVEY.md §2: as-of / range / pivot / rollup) ---
    "asof_join" -> ((s, d) => {
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
    }),
    // forward twin of asof_join: first purchase AT OR AFTER each click
    // (next-scheduled-event lookup), same one-shuffle union+window
    "asof_join_forward" -> ((s, d) => {
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
    }),
    "range_join_bands" -> ((s, d) => {
      val ranges = s.range(0, 10).select(col("id").as("tier_id"),
        (col("id") * 5).cast("double").as("lo"),
        (col("id") * 5 + 7).cast("double").as("hi"))
      RangeJoin.pointInRange(Tables(s, d, "lineitem").select("l_quantity"),
        "l_quantity", ranges, "lo", "hi", step = 5.0)
        .groupBy("tier_id", "lo", "hi")
        .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 4).as("sum_qty"))
        .orderBy("tier_id")
    }),
    "events_pivot" -> ((s, d) => Cube.eventsPivot(Tables(s, d, "events"),
      Seq("click", "error", "purchase", "signup", "view"))),
    "sales_rollup" -> ((s, d) => Cube.salesRollup(Tables(s, d, "lineitem"),
      Tables(s, d, "supplier"), Tables(s, d, "nation"), Tables(s, d, "region"))),
    "sales_cube" -> ((s, d) => Cube.salesCube(Tables(s, d, "lineitem"),
      Tables(s, d, "supplier"), Tables(s, d, "nation"), Tables(s, d, "region"))),
    "parts_by_brand" -> ((s, d) => Tables(s, d, "part")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"),
        (round(sum("p_retailprice") * 100, 0) / count(lit(1)) / 100.0).as("avg_price"),
        round(max("p_retailprice"), 4).as("max_price"))
      .orderBy("p_brand")),
    // --- corpus pipelines (SURVEY.md §2) ---
    "sample_source_quota" -> ((s, d) => Sampling.sourceQuota(Tables(s, d, "documents"))),
    "sample_mixture" -> ((s, d) => Sampling.mixture(Tables(s, d, "documents"),
      MixtureRates)),
    "sample_epochs" -> ((s, d) => Sampling.epochMix(Tables(s, d, "documents"),
      EpochWeights)),
    // temperature rebalancing at α=1/2: rate = sqrt(n_min/n_s) — both
    // ops correctly rounded under IEEE, so the float policy replays
    "sample_temperature" -> ((s, d) =>
      Sampling.temperature(Tables(s, d, "documents"))),
    // mixture-weight SOLVER: largest char budget the corpus can honour
    // under the target shares + upsampling cap, and the weight per
    // source that realises it (the feasibility check a hand-written
    // mixing table skips)
    "mixture_weights" -> ((s, d) => Sampling.mixtureWeights(
      Tables(s, d, "documents"), MixtureTargets, cap = 4.0)),
    // fuzzy entity-resolution candidate pairs: distinct-name grain,
    // lossless length-band blocking, thresholded-levenshtein verify
    "fuzzy_name_pairs" -> ((s, d) => graft.operators.Segmentation
      .fuzzyNamePairs(Tables(s, d, "part"), "p_name", maxDist = 2)
      .orderBy("name_a", "name_b")),
    "shard_pack" -> ((s, d) => Sampling.shardPack(Tables(s, d, "documents"))),
    "train_test_split" -> ((s, d) => Corpus.trainTestSplit(Tables(s, d, "documents"))),
    // deterministic k-fold CV assignment profile (content-hash folds)
    "cv_folds" -> ((s, d) => Corpus.cvFolds(Tables(s, d, "documents"))),
    // per-source exact-duplication diagnostic (where the dup lives)
    "dedup_source_profile" -> ((s, d) =>
      Dedup.sourceProfile(Tables(s, d, "documents"))),
    // k-anonymity release audit over (nation, segment) quasi-identifiers
    "k_anonymity" -> ((s, d) => graft.operators.Redact.kAnonymity(
      Tables(s, d, "customer"), Seq("c_nationkey", "c_mktsegment"))),
    // grouped Pearson correlation from exact integer invariants
    "corr_quantity_discount" -> ((s, d) => graft.etl.Profile.corrBy(
      Tables(s, d, "lineitem"), "l_returnflag",
      round(col("l_quantity"), 0), round(col("l_discount") * 100, 0))),
    // 2-D Pareto frontier by sweep (oracle replays the quadratic
    // dominance definition — the sweep is checked against it)
    "parts_skyline" -> ((s, d) => graft.operators.Segmentation.skyline(
      Tables(s, d, "part").select("p_partkey", "p_retailprice", "p_size"),
      "p_retailprice", "p_size")
      .select("p_partkey", "p_retailprice", "p_size")
      .orderBy("p_retailprice", "p_partkey")),
    "quality_filter" -> ((s, d) => Corpus.qualityFilter(Tables(s, d, "documents"))),
    "gopher_gate" -> ((s, d) => Corpus.gopherGate(Tables(s, d, "documents"))),
    // one-row funnel over the whole prep pipeline: raw -> exact-unique
    // -> predicted-en -> full quality gate (each stage one aggregate;
    // 1-row frames cross-joined, all broadcast)
    "pipeline_summary" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(docs.agg(count_distinct(md5(col("text"))).as("n_exact_unique")))
        .crossJoin(docs
          .filter(TextAnalysis.predictedLangExpr(col("text")) === "en")
          .agg(count(lit(1)).as("n_predicted_en")))
        .crossJoin(Corpus.qualityFilter(docs)
          .agg(count(lit(1)).as("n_pass_quality_gate")))
    }),
    // component labelings come back UNSORTED from the operators; the
    // verifySortKeys ledger adds the hash-stability sort in `queries`
    "dedup_cluster" -> ((s, d) => Corpus.connectedComponents(
      Dedup.ngramJaccard(Tables(s, d, "documents")), "doc_a", "doc_b")),
    // keeper policy per NEAR-dup cluster: keep the most complete copy
    "dedup_cluster_best" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      Corpus.clusterKeepers(docs, Dedup.ngramJaccard(docs))
    }),
    "doc_chunk" -> ((s, d) => Corpus.chunk(Tables(s, d, "documents"))),
    "doc_novelty" -> ((s, d) => Corpus.noveltyScore(Tables(s, d, "documents"))),
    "tfidf_topterms" -> ((s, d) => TextAnalysis.tfidfTop(Tables(s, d, "documents"))),
    // keyword retrieval: top-10 docs per literal query by the log-free
    // integer tf·idf (operators.Retrieval) — one corpus scan, query
    // terms pushed into the explode, rank window WindowGroupLimit'd
    "keyword_search" -> ((s, d) => graft.operators.Retrieval.keywordSearch(
      Tables(s, d, "documents"), SearchQueries)),
    // exact phrase search (Retrieval.phraseSearch): positional
    // anchor-counting — one postings join + one aggregate per query
    // set, never a per-term self-join chain; ranked by verbatim
    // occurrence count
    "phrase_search" -> ((s, d) => graft.operators.Retrieval.phraseSearch(
      Tables(s, d, "documents"), PhraseQueries)),
    // --- warehouse lifecycle: time-series completion + CDC compaction ---
    "gap_fill" -> ((s, d) => graft.etl.TimeSeries.gapFill(s, d)),
    // sweep-line backlog: ±1 interval events → day-grain aggregate →
    // bucketed global prefix sum (never an unpartitioned window)
    "orders_backlog" -> ((s, d) => graft.etl.TimeSeries.orderBacklog(s, d)),
    "cdc_apply" -> ((s, d) => graft.etl.Cdc.ordersSnapshot(s, d)),
    "events_anomaly" -> ((s, d) => Sessionize.anomalies(Tables(s, d, "events"))),
    "events_sliding" -> ((s, d) =>
      EventStream.slidingByType(Tables(s, d, "events"))),
    "events_props_parse" -> ((s, d) => Sessionize.propsBreakdown(Tables(s, d, "events"))),
    "doc_normalize" -> ((s, d) => TextAnalysis.normalize(Tables(s, d, "documents"))),
    "agg_incremental_merge" -> ((s, d) => graft.etl.Incremental.mergedMonthlyOrders(s, d)),
    // --- round 3: sequence analytics, LM prep, runtime filters,
    // segmentation, semantic dedup ---
    "events_streaks" -> ((s, d) => Sessionize.activityStreaks(Tables(s, d, "events"))),
    "events_dau_wau" -> ((s, d) => Sessionize.dauWau(Tables(s, d, "events"))),
    "events_argmax" -> ((s, d) => Sessionize.topEventPerUser(Tables(s, d, "events"))),
    // user-growth accounting: first-seen day per user + cumulative
    // base via the bucketed two-phase prefix sum (never an
    // unpartitioned count-distinct window)
    "user_growth" -> ((s, d) => Sessionize.userGrowth(Tables(s, d, "events"))),
    // flow discovery: first-3-event paths counted across the user base
    "events_paths" -> ((s, d) => Sessionize.topPaths(Tables(s, d, "events"))),
    // market-basket affinity: co-ordered part pairs with support+lift
    "basket_pairs" -> ((s, d) => graft.operators.Affinity
      .basketPairs(Tables(s, d, "lineitem"))),
    // robust (median/MAD) outliers: the heavy-tail-safe complement of
    // the 3-sigma events_anomaly — all cuts on dyadic-exact values
    "events_robust_outliers" -> ((s, d) =>
      Sessionize.robustOutliers(Tables(s, d, "events"))),
    // CDC GENERATION (inverse of cdc_apply): full-outer digest diff of
    // two snapshots into the I/U/D feed; unchanged rows never leave
    // the join
    "snapshot_diff" -> ((s, d) => graft.etl.Cdc.ordersDiffFeed(s, d)),
    // OHLC downsampling bars: open/close via struct-min/max under the
    // (ts,event_id) total order — one hash aggregate, no per-series sort
    "events_ohlc" -> ((s, d) =>
      graft.etl.TimeSeries.ohlcBars(Tables(s, d, "events"))),
    // empirical CDF table at value grain (cume_dist as a table — the
    // window sees the value domain, never the event stream)
    "events_value_cdf" -> ((s, d) =>
      Sessionize.valueCdf(Tables(s, d, "events"))),
    // conversion latency: first signup → first at-or-after purchase
    "events_conversion_lag" -> ((s, d) =>
      Sessionize.conversionLag(Tables(s, d, "events"))),
    // per-source curation dashboard: doc/token counts, mean quality
    // (scores scaled to 10^-6 integers BEFORE the cross-doc sum — a
    // double sum is partition-order-dependent), English share
    "source_quality_profile" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      docs.select(col("source"),
          TextAnalysis.qualityScoreExpr(col("text")).as("q"),
          TextAnalysis.predictedLangExpr(col("text")).as("lang"),
          TextAnalysis.nTokensExpr(col("text")).as("t"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("t").as("total_tokens"),
          round(sum(round(col("q") * 1000000, 0).cast("long")).cast("double")
            / count(lit(1)) / 1000000.0, 4).as("avg_quality"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
        .orderBy("source")
    }),
    // session-length histogram (sessionize → two bounded re-aggregates)
    "session_length_hist" -> ((s, d) =>
      Sessionize.sessionLengthHist(Tables(s, d, "events"))),
    // churn audit per segment (never-ordered customers count churned)
    "customer_churn" -> ((s, d) => graft.operators.Segmentation
      .churnBySegment(Tables(s, d, "customer"), Tables(s, d, "orders"))),
    // supplier fulfillment lead time (order placement → line shipment)
    "supplier_lead_time" -> ((s, d) => graft.operators.Segmentation
      .supplierLeadTime(Tables(s, d, "lineitem"), Tables(s, d, "orders"))),
    "events_transitions" -> ((s, d) => Sessionize.transitions(Tables(s, d, "events"))),
    "ngram_lm" -> ((s, d) => TextAnalysis.ngramCounts(Tables(s, d, "documents"))),
    "vocab_coverage" -> ((s, d) => TextAnalysis.vocabCoverage(Tables(s, d, "documents"))),
    // bloom-prefiltered exact semi-join: the oracle is the PLAIN
    // semi-join — a hash match proves the bloom is result-invisible
    "bloom_semi" -> ((s, d) => {
      val high = Tables(s, d, "customer")
        .filter(col("c_acctbal") > 9000).select("c_custkey")
      graft.operators.BloomJoin
        .bloomSemiJoin(Tables(s, d, "orders"), "o_custkey", high, "c_custkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          (round(sum("o_totalprice") * 100, 0) / 100.0).as("total_price"))
        .orderBy("o_orderstatus")
    }),
    "customer_rfm" -> ((s, d) =>
      graft.operators.Segmentation.rfmSegments(Tables(s, d, "orders"))),
    "semdedup" -> ((s, d) => Similarity.semanticDedup(
      Tables(s, d, "embeddings"), bands = 8,
      rowsPerBand = Similarity.AutoWidth)),
    // --- round 3b: star-join analytics, concentration, kNN graph ---
    // TPC-H Q5-shaped multi-way star join: fact filtered by pushed-down
    // date range, dims broadcast, revenue in exact cent·pct BIGINT
    // units (extprice_cents × (100 − disc_pct)) divided once at the end
    "revenue_by_nation" -> ((s, d) => {
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
    }),
    // Year-over-year monthly revenue: the lag window partitions by
    // month-of-year (12 partitions, never global) over the tiny
    // pre-aggregated series; cents stay exact until the final division
    "lineitem_yoy" -> ((s, d) => {
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
    }),
    "orders_pareto" -> ((s, d) =>
      graft.operators.Segmentation.paretoCoverage(Tables(s, d, "orders"))),
    "knn_graph" -> ((s, d) => Similarity.knnGraph(
      Tables(s, d, "embeddings"), bands = 8,
      rowsPerBand = Similarity.AutoWidth)),
    "paragraph_dedup" -> ((s, d) =>
      Corpus.paragraphDedup(Tables(s, d, "documents"))),
    "label_noise" -> ((s, d) =>
      Similarity.labelAgreement(Tables(s, d, "embeddings"),
        bands = 8, rowsPerBand = Similarity.AutoWidth)),
  )

  // ---------------------------------------------------------------------
  // DuckDB oracles. Shared SQL fragments keep Spark and oracle semantics
  // aligned in one place.
  // ---------------------------------------------------------------------

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

  /** ngram-Jaccard pair list (no ORDER BY) — shared by `ngram_jaccard`
    * and the `dedup_cluster` recursive closure.
    */
  private val ngramJaccardBody =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      |       FROM toks, UNNEST(generate_series(1, greatest(len(w)-2, 0))) AS t(i)),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      |rare AS (SELECT * FROM sh WHERE shingle IN
      |         (SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) <= 100)),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |          FROM rare a JOIN rare b
      |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.6""".stripMargin

  /** lang-ID scoring (no ORDER BY) — shared by `lang_id` and the
    * `quality_filter` composition.
    */
  private val langIdBody =
    """WITH sc AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN t IN ('the','a','of','and','to') THEN 1 ELSE 0 END) AS BIGINT) AS score_en,
      |    CAST(SUM(CASE WHEN t IN ('el','la','de','que','los') THEN 1 ELSE 0 END) AS BIGINT) AS score_es,
      |    CAST(SUM(CASE WHEN t IN ('le','les','des','une','est') THEN 1 ELSE 0 END) AS BIGINT) AS score_fr,
      |    CAST(SUM(CASE WHEN t IN ('der','die','und','das','ist') THEN 1 ELSE 0 END) AS BIGINT) AS score_de
      |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents)
      |  GROUP BY doc_id)
      |SELECT doc_id, score_en, score_es, score_fr, score_de,
      |  CASE WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de AND score_en > 0 THEN 'en'
      |       WHEN score_es >= score_fr AND score_es >= score_de AND score_es > 0 THEN 'es'
      |       WHEN score_fr >= score_de AND score_fr > 0 THEN 'fr'
      |       WHEN score_de > 0 THEN 'de' ELSE 'und' END AS predicted_lang
      |FROM sc""".stripMargin

  /** text-quality scoring (no ORDER BY) — shared by `text_quality` and
    * the `quality_filter` composition.
    */
  private val textQualityBody =
    """WITH stops AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN t IN ('the','a','of','and','to') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
      |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents)
      |  GROUP BY doc_id),
      |b AS (
      |  SELECT d.doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
      |    CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS BIGINT) AS punct,
      |    stop_hits
      |  FROM documents d JOIN stops ON d.doc_id = stops.doc_id)
      |SELECT doc_id, n_chars, n_tokens,
      |  CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS avg_token_len,
      |  CAST(punct AS DOUBLE) / n_chars AS punct_ratio,
      |  CAST(stop_hits AS DOUBLE) / n_tokens AS stopword_ratio,
      |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
      |    + (1.0 - CAST(punct AS DOUBLE) / n_chars) * 0.3
      |    + least(CAST(stop_hits AS DOUBLE) / n_tokens * 5.0, 1.0) * 0.3
      |    AS quality_score
      |FROM b""".stripMargin

  /** Mirrors TextAnalysis.fingerprint (window=64): Karp–Rabin window
    * hashes replayed LINEARLY via the modular-inverse prefix trick
    * (ascii corpus: unicode(char) == utf-8 byte). With S(p) = Σ_{k≤p}
    * c[k]·B⁻ᵏ mod M (a plain windowed cumulative sum — M is prime, so
    * B⁻¹ exists), the window hash ending at position e is
    * Bᵉ·(S(e) − S(e−w)) mod M: one powers table, one char explode,
    * one window cumsum, one LAG, one group-by — no per-character
    * recursion (the previous recursive-CTE formulation cost 559 s of
    * the sf0.1 gate; this one is milliseconds at the same scale and
    * stays linear at sf10). Magnitude audit: each term c·B⁻ᵏ reduces
    * mod M < 2³¹, the raw cumsum of a million-char doc stays < 2⁵¹,
    * the w-term window difference < 2³⁷, and (diff mod M)·Bᵉ < 2⁶² —
    * every intermediate BIGINT-safe, same family as the kernel's own
    * arithmetic. All quantities non-negative, so DuckDB's
    * sign-preserving % needs no +M adjustment anywhere.
    */
  private def docFingerprintSql: String = {
    val w = 64
    val m = graft.functions.RollingFingerprint.Mod
    val b = graft.functions.RollingFingerprint.Base
    val binv = BigInt(b).modInverse(BigInt(m)).toLong // B·B⁻¹ ≡ 1 (mod M)
    // powers-table depth bounds the supported doc length; testdata max
    // doc length is ~600 chars (sf10 ScaleUp perturbs by a short
    // prefix), so 8192 has an order of magnitude of headroom. The
    // overflow mode is NOT loud by itself (chars past the table drop
    // from the cumsum but the doc still emits a MIN over its first
    // ~8129 windows — row counts match, only values can diverge), so
    // the `guard` CTE asserts the bound explicitly: a longer doc makes
    // the whole oracle error() instead of silently comparing a
    // truncated fingerprint (ADVICE r11).
    // The final CAST(MIN(hv) AS BIGINT) matters for the compare, not
    // the math: DuckDB types a windowed SUM(BIGINT) as HUGEINT, which
    // its pandas conversion widens to float64 ("6446402.0"), failing
    // the canon-path string compare against Spark's int64. hv < M
    // < 2³¹, so the cast is lossless.
    s"""WITH RECURSIVE
       |pw(k, p, pinv) AS (
       |  SELECT 0, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
       |  UNION ALL
       |  SELECT k + 1, p * $b % $m, pinv * $binv % $m FROM pw WHERE k < 8192),
       |guard AS (
       |  SELECT CASE WHEN max(length(text)) > 8192 THEN CAST(error(
       |      'doc exceeds the 8192-entry fingerprint powers table') AS BIGINT)
       |    ELSE 0 END AS ok FROM documents),
       |ch AS (
       |  SELECT doc_id, i, length(text) AS doclen,
       |    CAST(unicode(substr(text, i, 1)) AS BIGINT) AS c
       |  FROM documents,
       |    UNNEST(generate_series(1, length(text))) AS t(i)),
       |cs AS (
       |  SELECT doc_id, i, doclen,
       |    SUM(c * pp.pinv % $m)
       |      OVER (PARTITION BY doc_id ORDER BY i) AS s
       |  FROM ch JOIN pw pp ON pp.k = i),
       |wn AS (
       |  SELECT doc_id, i, doclen, s,
       |    COALESCE(LAG(s, $w) OVER (PARTITION BY doc_id ORDER BY i),
       |             CAST(0 AS BIGINT)) AS s0
       |  FROM cs),
       |h AS (
       |  SELECT wn.doc_id, ((wn.s - wn.s0) % $m) * pp.p % $m AS hv
       |  FROM wn JOIN pw pp ON pp.k = wn.i
       |  WHERE wn.i >= $w OR wn.i = wn.doclen)
       |SELECT doc_id, CAST(MIN(hv) AS BIGINT) AS fingerprint
       |FROM h, guard WHERE guard.ok = 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Mirrors Dedup.simhash (62-bit signature over word 3-gram shingle
    * features, 4 blocks, Hamming ≤ 3): replays SimHash64's two Horner
    * polynomial hashes (bases 257/263 mod 2^31-1 — BIGINT-safe by
    * construction, see SimHash64.scala) + xorshift-multiply avalanche
    * per distinct shingle via a powers table, re-votes the 62 bits,
    * re-packs the signature, and re-runs the pigeonhole block join.
    * Even the LSH candidate set is bit-identical, so the pairs
    * hash-check end to end.
    */
  private def simhashPairsSql: String = {
    val n = 3
    val m = graft.functions.SimHash64.Mod
    val ba = graft.functions.SimHash64.BaseA
    val bb = graft.functions.SimHash64.BaseB
    val (c1, c2) = (graft.functions.SimHash64.MixC1, graft.functions.SimHash64.MixC2)
    val mask = graft.functions.SimHash64.Mask
    // One xorshift-multiply finalizer round as SQL text (h must be a
    // plain column reference; each round is its own projection).
    def xsrMul(h: String, s: Int, c: Long) =
      s"(xor($h, $h >> $s) * $c) & $mask"
    def xsr(h: String, s: Int) = s"xor($h, $h >> $s)"
    val gram = (0 until n).map(j => s"tk[i + $j]").mkString(" || ' ' || ")
    s"""WITH RECURSIVE
       |pw(k, pa, pb) AS (
       |  SELECT 0, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
       |  UNION ALL
       |  SELECT k + 1, pa * $ba % $m, pb * $bb % $m FROM pw WHERE k < 4096),
       |toks AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, $gram AS tok
       |    FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |         UNNEST(generate_series(1, len(tk) - ${n - 1})) AS g(i)
       |    UNION ALL
       |    SELECT doc_id, text AS tok FROM documents
       |    WHERE len(string_split(text, ' ')) < $n)),
       |hsum AS (
       |  SELECT doc_id, tok,
       |    SUM(CAST(unicode(substr(tok, i, 1)) AS BIGINT) * p.pa) % $m AS h1,
       |    SUM(CAST(unicode(substr(tok, i, 1)) AS BIGINT) * p.pb) % $m AS h2
       |  FROM toks, UNNEST(generate_series(1, length(tok))) AS g(i)
       |  JOIN pw p ON p.k = length(tok) - i
       |  GROUP BY doc_id, tok),
       |mix1 AS (
       |  SELECT t.doc_id, COALESCE(h.h1, 0) AS h1, COALESCE(h.h2, 0) AS h2
       |  FROM toks t LEFT JOIN hsum h USING (doc_id, tok)),
       |mix2 AS (
       |  SELECT doc_id, ${xsrMul("h1", 16, c1)} AS h1,
       |                 ${xsrMul("h2", 15, c1)} AS h2 FROM mix1),
       |mix3 AS (
       |  SELECT doc_id, ${xsrMul("h1", 13, c2)} AS h1,
       |                 ${xsrMul("h2", 14, c2)} AS h2 FROM mix2),
       |th AS (
       |  SELECT doc_id, ${xsr("h1", 16)} AS h1,
       |                 ${xsr("h2", 15)} AS h2 FROM mix3),
       |votes AS (
       |  SELECT doc_id, j,
       |    SUM(CASE WHEN ((CASE WHEN j < 31 THEN h1 ELSE h2 END)
       |             >> (j % 31)) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th, UNNEST(generate_series(0, 61)) AS b(j)
       |  GROUP BY doc_id, j),
       |sigs AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS sig
       |  FROM votes GROUP BY doc_id),
       |blocked AS (
       |  SELECT doc_id, sig, blk, (sig >> (blk * 16)) & 65535 AS key
       |  FROM sigs, UNNEST(generate_series(0, 3)) AS b(blk))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.sig, b.sig)) AS hamming
       |FROM blocked a JOIN blocked b
       |  ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

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

  /** Mirrors Dedup.minhashLsh (3-shingles, k=32 affine MinHash, 8
    * bands × 4 rows, Jaccard ≥ 0.5): replays the shared Horner+
    * avalanche shingle hash, the k affine permutations (coefficients
    * embedded as literals), the Horner band buckets, the candidate
    * join, and the exact-Jaccard verification. The whole approximate
    * pipeline — including which candidate pairs LSH surfaces — is
    * bit-identical, so the result hash-checks.
    */
  private def minhashPairsSql: String = {
    val (n, k, bands, minJ) = (3, 32, 8, 0.5)
    val rows = k / bands
    val m = graft.functions.MinHashSig.Mod
    val p = graft.operators.Dedup.BucketBase
    val (c1, c2) = (graft.functions.SimHash64.MixC1, graft.functions.SimHash64.MixC2)
    val mask = graft.functions.SimHash64.Mask
    val ba = graft.functions.SimHash64.BaseA
    val gram = (0 until n).map(j => s"tk[i + $j]").mkString(" || ' ' || ")
    val cf = (0 until k).map(i =>
      s"(${i}, ${graft.functions.MinHashSig.coeffA(i)}, " +
        s"${graft.functions.MinHashSig.coeffB(i)})").mkString(", ")
    val rowCols = (0 until rows).map(r =>
      s"MAX(CASE WHEN hi % $rows = $r THEN mn END) AS m$r").mkString(",\n    ")
    val bucketFold = (1 until rows).foldLeft("m0")((acc, r) =>
      s"(($acc) * $p + m$r) % $m")
    val jac = "CAST(len(list_intersect(sa.ls, sb.ls)) AS DOUBLE)" +
      " / len(list_distinct(sa.ls || sb.ls))"
    s"""WITH RECURSIVE
       |pw(k, pa) AS (
       |  SELECT 0, CAST(1 AS BIGINT)
       |  UNION ALL SELECT k + 1, pa * $ba % $m FROM pw WHERE k < 4096),
       |sh AS (
       |  SELECT DISTINCT doc_id, $gram AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |       UNNEST(generate_series(1, len(tk) - ${n - 1})) AS g(i)),
       |hs AS (
       |  SELECT doc_id, s,
       |    SUM(CAST(unicode(substr(s, i, 1)) AS BIGINT) * p.pa) % $m AS h
       |  FROM sh, UNNEST(generate_series(1, length(s))) AS g(i)
       |  JOIN pw p ON p.k = length(s) - i
       |  GROUP BY doc_id, s),
       |x1 AS (SELECT doc_id, (xor(h, h >> 16) * $c1) & $mask AS h FROM hs),
       |x2 AS (SELECT doc_id, (xor(h, h >> 13) * $c2) & $mask AS h FROM x1),
       |xs AS (SELECT doc_id, xor(h, h >> 16) AS x FROM x2),
       |cf(hi, a, b) AS (VALUES $cf),
       |mins AS (
       |  SELECT doc_id, hi, MIN((a * x + b) % $m) AS mn
       |  FROM xs, cf GROUP BY doc_id, hi),
       |bm AS (
       |  SELECT doc_id, hi // $rows AS band,
       |    $rowCols
       |  FROM mins GROUP BY doc_id, hi // $rows),
       |banded AS (SELECT doc_id, band, $bucketFold AS bucket FROM bm),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |shl AS (SELECT doc_id, list(DISTINCT s) AS ls FROM sh GROUP BY doc_id)
       |SELECT doc_a, doc_b, $jac AS jaccard
       |FROM cand
       |JOIN shl sa ON doc_a = sa.doc_id
       |JOIN shl sb ON doc_b = sb.doc_id
       |WHERE $jac >= $minJ
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Mirrors Sketches.heavyHitters (depth 4, width 2048, k=20):
    * replays the per-word Horner+avalanche hash (the shared shingle
    * family — StringHash31), the 4 affine CMS rows, the cell counts
    * over word INSTANCES, and the min-across-rows estimates with
    * untouched cells reading 0. est >= exact by construction; the
    * hash match proves the whole sketch cell-for-cell.
    */
  private def cmsHeavyHittersSql: String = {
    val (depth, width, k) = (4, 2048, 20)
    val m = graft.functions.SimHash64.Mod
    val (c1, c2) = (graft.functions.SimHash64.MixC1, graft.functions.SimHash64.MixC2)
    val mask = graft.functions.SimHash64.Mask
    val ba = graft.functions.SimHash64.BaseA
    val cf = (0 until depth).map(i =>
      s"($i, ${graft.functions.MinHashSig.coeffA(i)}, " +
        s"${graft.functions.MinHashSig.coeffB(i)})").mkString(", ")
    s"""WITH RECURSIVE
       |pw(k, pa) AS (
       |  SELECT 0, CAST(1 AS BIGINT)
       |  UNION ALL SELECT k + 1, pa * $ba % $m FROM pw WHERE k < 256),
       |inst AS (
       |  SELECT w FROM (
       |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0),
       |vocab AS (SELECT w, COUNT(*) AS n_exact FROM inst GROUP BY w),
       |hs AS (
       |  SELECT w,
       |    SUM(CAST(unicode(substr(w, i, 1)) AS BIGINT) * p.pa) % $m AS h
       |  FROM vocab, UNNEST(generate_series(1, length(w))) AS g(i)
       |  JOIN pw p ON p.k = length(w) - i
       |  GROUP BY w),
       |x1 AS (SELECT w, (xor(h, h >> 16) * $c1) & $mask AS h FROM hs),
       |x2 AS (SELECT w, (xor(h, h >> 13) * $c2) & $mask AS h FROM x1),
       |xs AS (SELECT w, xor(h, h >> 16) AS x FROM x2),
       |cf(i, a, b) AS (VALUES $cf),
       |cells AS (
       |  SELECT w, i, ((a * x + b) % $m) & ${width - 1} AS bucket
       |  FROM xs, cf),
       |sketch AS (
       |  SELECT c.i, c.bucket, COUNT(*) AS cnt
       |  FROM inst t JOIN cells c ON t.w = c.w
       |  GROUP BY c.i, c.bucket),
       |topk AS (SELECT w, n_exact FROM vocab
       |  ORDER BY n_exact DESC, w LIMIT $k),
       |est AS (
       |  SELECT c.w, MIN(COALESCE(s.cnt, 0)) AS n_est
       |  FROM cells c JOIN topk USING (w)
       |  LEFT JOIN sketch s ON s.i = c.i AND s.bucket = c.bucket
       |  GROUP BY c.w)
       |SELECT t.w AS word, t.n_exact, CAST(e.n_est AS BIGINT) AS n_est
       |FROM topk t JOIN est e ON t.w = e.w
       |ORDER BY t.n_exact DESC, word""".stripMargin
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

  /** Mirrors Corpus.cdcChunks (maskBits=2 — see the query comment): replays the per-word
    * Horner+avalanche hash over the DISTINCT vocabulary, joins it back
    * to positional instances, re-runs the boundary rule (low hash
    * bits zero ⇒ boundary after the token), the doc-partitioned
    * PRECEDING-frame running sum that assigns chunk ids, the in-order
    * reassembly, and the cross-doc sharing counts. A zero-length token
    * (possible only under doubled spaces) hashes to 0 via the UNION
    * branch — the aggregate formulation yields no character rows for
    * it, where the kernel returns mix(0) = 0.
    */
  private def cdcChunksSql: String = {
    val mask = 3
    val m = graft.functions.SimHash64.Mod
    val (c1, c2) = (graft.functions.SimHash64.MixC1, graft.functions.SimHash64.MixC2)
    val maskL = graft.functions.SimHash64.Mask
    val ba = graft.functions.SimHash64.BaseA
    s"""WITH RECURSIVE
       |pw(k, pa) AS (
       |  SELECT 0, CAST(1 AS BIGINT)
       |  UNION ALL SELECT k + 1, pa * $ba % $m FROM pw WHERE k < 256),
       |inst AS (
       |  SELECT doc_id, i AS pos, w[i] AS t
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |       UNNEST(generate_series(1, len(w))) AS g(i)),
       |vocab AS (SELECT DISTINCT t FROM inst),
       |hs AS (
       |  SELECT t,
       |    SUM(CAST(unicode(substr(t, i, 1)) AS BIGINT) * p.pa) % $m AS h
       |  FROM vocab, UNNEST(generate_series(1, length(t))) AS g(i)
       |  JOIN pw p ON p.k = length(t) - i
       |  GROUP BY t),
       |x1 AS (SELECT t, (xor(h, h >> 16) * $c1) & $maskL AS h FROM hs),
       |x2 AS (SELECT t, (xor(h, h >> 13) * $c2) & $maskL AS h FROM x1),
       |xs AS (SELECT t, xor(h, h >> 16) AS x FROM x2
       |  UNION ALL SELECT t, CAST(0 AS BIGINT) FROM vocab WHERE length(t) = 0),
       |fl AS (
       |  SELECT doc_id, pos, i.t,
       |    CASE WHEN (x & $mask) = 0 THEN 1 ELSE 0 END AS b
       |  FROM inst i JOIN xs USING (t)),
       |ch AS (
       |  SELECT doc_id, pos, t,
       |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
       |  FROM fl),
       |chunks AS (
       |  SELECT doc_id, cid, COUNT(*) AS n_chunk_tokens,
       |    string_agg(t, ' ' ORDER BY pos) AS chunk_text
       |  FROM ch GROUP BY doc_id, cid),
       |share AS (SELECT chunk_text, COUNT(DISTINCT doc_id) AS nds
       |  FROM chunks GROUP BY chunk_text)
       |SELECT c.doc_id, CAST(cid AS BIGINT) AS chunk_id,
       |  CAST(n_chunk_tokens AS BIGINT) AS n_chunk_tokens, c.chunk_text,
       |  CAST(nds AS BIGINT) AS n_docs_sharing
       |FROM chunks c JOIN share ON c.chunk_text = share.chunk_text
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** Static-map geometry for the embedding-LSH oracles: the
    * occupancy-resolved width at the driver gate corpora (sf0.001 and
    * sf0.01 both ship 500 vectors — TESTDATA.md), i.e. the SAME width
    * the AutoWidth query entries resolve there, so the no-arg
    * [[oracleSql]] contract map stays self-consistent at the driver's
    * gate SFs. Every other SF goes through [[oracleSqlFor]], which
    * resolves from the actual corpus counts (VERDICT r12 #1: the demo
    * r=6 pin was measured corpus-quadratic at sf10; the oracle now
    * follows the scale-safe geometry instead of pinning it down).
    */
  private val GateEmbRows = 500L
  private def gateWidth: Int =
    graft.operators.Similarity.regimeRowsPerBand(GateEmbRows)
  // decontaminate_semantic resolves on its TRAIN split (19 of every
  // 20 vec_ids — the 1-in-20 benchmark rows are the probe side)
  private def gateTrainWidth: Int =
    graft.operators.Similarity.regimeRowsPerBand(
      GateEmbRows - GateEmbRows / 20)

  /** SF-resolved oracle map: [[oracleSql]] with the embedding-LSH
    * entries regenerated at the geometry the AutoWidth query entries
    * resolve against THIS corpus (occupancy probe over the actual
    * row counts). Verify dumps this — not the static map — so the
    * DuckDB gate replays the same hyperplane buckets at every SF
    * (sf0.1's 2000 vectors resolve r=9, sf10's 200k resolve r=16; the
    * static map's r=7 holds only at the 500-vector gate corpora).
    */
  def oracleSqlFor(spark: SparkSession, sfDir: String): Map[String, String] = {
    val emb = Tables(spark, sfDir, "embeddings")
    val n = emb.count()
    val nTrain = emb.filter(pmod(col("vec_id"), lit(20)) =!= 0).count()
    val rAll = graft.operators.Similarity.regimeRowsPerBand(n)
    val rTrain = graft.operators.Similarity.regimeRowsPerBand(nTrain)
    oracleSql ++ embeddingOracleSqlAt(8, rAll) +
      ("decontaminate_semantic" -> decontaminateSemanticSqlAt(8, rTrain))
  }

  /** Mirrors Similarity.embeddingNearDup (8 bands × gate-width planes,
    * τ=0.35): the SAME deterministic hyperplanes embedded as DOUBLE[]
    * literals, sign bits packed to the band bucket with plain integer
    * arithmetic, candidates cosine-verified. Float→double is exact and
    * Scala's shortest-round-trip Double printing parses back to the
    * identical double, so both engines compute bit-equal dot products.
    */
  private def embeddingNearDupSql: String = embeddingNearDupSqlAt(8, gateWidth)

  private def embeddingNearDupSqlAt(bands: Int, rows: Int): String =
    s"${embeddingNearDupBody(0.35, bands, rows)}\nORDER BY vec_a, vec_b"

  /** The four embedding-LSH oracle SQLs at an ARBITRARY geometry —
    * (8, 6) reproduces the standing oracle entries; [[oracleSqlFor]]
    * resolves them at the width the AutoWidth query entries pick for
    * the corpus (r = 16 at sf10), so `graft.Verify` dumps the matching
    * oracle SQL at every SF and tools/selfcheck.py gates those outputs
    * against DuckDB directly, retiring the numpy substitute replay
    * (VERDICT r11 #1).
    */
  private[graft] def embeddingOracleSqlAt(bands: Int,
                                          rows: Int): Map[String, String] =
    Map(
      "dedup_embedding" -> embeddingNearDupSqlAt(bands, rows),
      "semdedup" -> semdedupSqlAt(bands, rows),
      "knn_graph" -> knnGraphSqlAt(bands, rows),
      "label_noise" -> labelNoiseSqlAt(bands, rows))

  private def semdedupSqlAt(bands: Int, rows: Int): String =
    s"""WITH RECURSIVE
       |edges AS MATERIALIZED (
       |          SELECT vec_a AS src, vec_b AS dst
       |          FROM (${embeddingNearDupBody(0.35, bands, rows)})
       |          UNION ALL
       |          SELECT vec_b AS src, vec_a AS dst
       |          FROM (${embeddingNearDupBody(0.35, bands, rows)})),
       |reach(src, dst) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
       |SELECT src AS vec_id, MIN(dst) AS keeper_id
       |FROM reach GROUP BY src HAVING src <> MIN(dst)
       |ORDER BY vec_id""".stripMargin

  /** Mirrors Similarity.knnPairs' capped directed mining (k = 5 →
    * cap = max(32, 8·5) = 40): per (vector, band) only the 40
    * bucket-mates nearest by the ranking projection (plane index
    * bands·rows, disjoint from the banding planes) are
    * cosine-verified. The projection dot product is computed in the
    * same index order by both engines (exact doubles, the
    * plane-literal precedent), so the capped candidate SET replays
    * exactly; ties on |Δproj| break by neighbor id — total order.
    */
  private def knnCandBodySql(minCosine: Double, bands: Int,
                             rows: Int): String = {
    val projLit = graft.operators.Similarity.hyperplane(bands * rows)
      .map(_.toDouble.toString).mkString("[", ", ", "]")
    s"""c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |cp AS (SELECT vec_id, emb,
       |  list_dot_product(emb, $projLit) AS proj FROM c),
       |banded AS (
       |  ${bandedBranchesSql("cp", bands, rows, extra = ", proj")}),
       |cand AS (
       |  SELECT DISTINCT vec_id, neighbor_id FROM (
       |    SELECT a.vec_id, b.vec_id AS neighbor_id, row_number() OVER (
       |        PARTITION BY a.vec_id, a.band
       |        ORDER BY abs(a.proj - b.proj), b.vec_id) AS crk
       |    FROM banded a JOIN banded b
       |      ON a.band = b.band AND a.bucket = b.bucket
       |        AND a.vec_id <> b.vec_id)
       |  WHERE crk <= 40),
       |ver AS (
       |  SELECT cand.vec_id, cand.neighbor_id,
       |    ROUND(list_cosine_similarity(ca.emb, cb.emb), 4) AS cos_sim
       |  FROM cand
       |  JOIN c ca ON cand.vec_id = ca.vec_id
       |  JOIN c cb ON cand.neighbor_id = cb.vec_id
       |  WHERE list_cosine_similarity(ca.emb, cb.emb) >= $minCosine)""".stripMargin
  }

  private def knnGraphSqlAt(bands: Int, rows: Int): String =
    s"""WITH ${knnCandBodySql(0.2, bands, rows)},
       |r AS (SELECT vec_id, neighbor_id, cos_sim, row_number() OVER (
       |        PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |      FROM ver)
       |SELECT vec_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin

  private def labelNoiseSqlAt(bands: Int, rows: Int): String =
    s"""WITH ${knnCandBodySql(0.2, bands, rows)},
       |r AS (SELECT vec_id, neighbor_id, row_number() OVER (
       |        PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |      FROM ver),
       |k AS (SELECT vec_id, neighbor_id FROM r WHERE rank <= 5),
       |e AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings)
       |SELECT k.vec_id, e1.label, COUNT(*) AS n_neighbors,
       |  CAST(SUM(CASE WHEN e2.label = e1.label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_agree,
       |  ROUND(CAST(SUM(CASE WHEN e2.label = e1.label THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*), 4) AS agreement
       |FROM k
       |JOIN e e1 ON k.vec_id = e1.vec_id
       |JOIN e e2 ON k.neighbor_id = e2.vec_id
       |GROUP BY k.vec_id, e1.label
       |ORDER BY k.vec_id""".stripMargin

  /** The sign-bit banded-postings SQL branches over CTE `src` (vec_id,
    * emb) — the [[graft.operators.Similarity.hyperplane]] literals,
    * shared by every embedding-LSH oracle so the planes can't drift.
    */
  private def bandedBranchesSql(src: String, bands: Int = 8,
                                rows: Int = 6, extra: String = ""): String =
    (0 until bands).map { b =>
      val bucket = (0 until rows).map { i =>
        val planeLit = graft.operators.Similarity.hyperplane(b * rows + i)
          .map(_.toDouble.toString).mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(emb, $planeLit) > 0 THEN 1 ELSE 0 END) * ${1L << i}"
      }.mkString("\n      + ")
      s"SELECT vec_id$extra, $b AS band,\n      $bucket AS bucket FROM $src"
    }.mkString("\n  UNION ALL\n  ")

  /** Mirrors Corpus.decontaminateSemantic over the same 1-in-20
    * benchmark split: banded sign-bit candidates (plane literals),
    * exact-cosine verify at 0.35, anti-join to the kept train ids.
    * Parameterized on the LSH geometry ([[oracleSqlFor]] resolves the
    * width from the train-split count, mirroring the query entry).
    */
  private def decontaminateSemanticSql: String =
    decontaminateSemanticSqlAt(8, gateTrainWidth)

  private[graft] def decontaminateSemanticSqlAt(bands: Int,
                                                rows: Int): String =
    s"""WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings WHERE vec_id % 20 <> 0),
       |bn AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings WHERE vec_id % 20 = 0),
       |tb AS (
       |  ${bandedBranchesSql("t", bands, rows)}),
       |bb AS (
       |  ${bandedBranchesSql("bn", bands, rows)}),
       |contaminated AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM tb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
       |  JOIN t ON t.vec_id = a.vec_id
       |  JOIN bn ON bn.vec_id = b.vec_id
       |  WHERE list_cosine_similarity(t.emb, bn.emb) >= 0.35)
       |SELECT vec_id FROM t
       |WHERE vec_id NOT IN (SELECT vec_id FROM contaminated)
       |ORDER BY vec_id""".stripMargin

  private def embeddingNearDupBody(minCosine: Double = 0.35,
                                   bands: Int = 8, rows: Int = 6): String = {
    val branches = bandedBranchesSql("c", bands, rows)
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |banded AS (
       |  $branches),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b,
       |  ROUND(list_cosine_similarity(ca.emb, cb.emb), 4) AS cos_sim
       |FROM cand
       |JOIN c ca ON vec_a = ca.vec_id
       |JOIN c cb ON vec_b = cb.vec_id
       |WHERE list_cosine_similarity(ca.emb, cb.emb) >= $minCosine""".stripMargin
  }

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

  def oracleSql: Map[String, String] = Map(
    "stg_load" ->
      s"SELECT * FROM ($stgSql) ORDER BY l_orderkey, l_linenumber",
    "csv_ingest" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",
    "json_ingest" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",
    "pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS sum_price,
        |  ROUND(SUM(l_quantity) * 100, 0) / COUNT(*) / 100.0 AS avg_qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / COUNT(*) / 100.0 AS avg_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "table_profile" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_suppkey,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS distinct_l_suppkey,
        |  CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_quantity,
        |  CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS distinct_l_quantity,
        |  CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_discount,
        |  CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS distinct_l_discount,
        |  CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_l_returnflag,
        |  CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS distinct_l_returnflag
        |FROM lineitem""".stripMargin,
    "dim_date" ->
      """SELECT CAST(dk AS VARCHAR) AS date_key, CAST(dk AS VARCHAR) AS full_date,
        |  CAST(year(dk) AS BIGINT) AS year,
        |  CAST(month(dk) AS BIGINT) AS month,
        |  CAST(day(dk) AS BIGINT) AS day,
        |  CAST(isodow(dk) AS BIGINT) AS day_of_week,
        |  CAST(weekofyear(dk) AS BIGINT) AS week_of_year,
        |  CAST(dayofyear(dk) AS BIGINT) AS day_of_year
        |FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) AS dk FROM lineitem)
        |ORDER BY date_key""".stripMargin,
    "dim_location" -> s"SELECT * FROM ($dimLocationSql) ORDER BY location_key",
    // Mirrors WeatherMart.dimLocationMerged (StarSchema.scd2Merge with
    // businessKey=postal_code, asOf=2026-02-01): full-outer dim↔snapshot,
    // untouched/closed/inserted branches, new keys continue after max.
    "dim_scd2_merge" -> s"$scd2MergedSql\nORDER BY location_key",
    // Mirrors StarSchema.pitJoin over the merged dimension: one date
    // inside the closed versions' window, one in the current window —
    // every observation resolves to exactly one version.
    "scd2_pit_join" ->
      s"""WITH m AS ($scd2MergedSql),
         |obs AS (
         |  SELECT postal_code, obs_date
         |  FROM ($locNaturalSql)
         |  CROSS JOIN (VALUES ('2026-01-15'), ('2026-02-15')) v(obs_date))
         |SELECT obs.postal_code, obs.obs_date, m.location_key, m.city_name,
         |  m.country, m.region_name, m.is_current
         |FROM obs JOIN m ON obs.postal_code = m.postal_code
         |WHERE obs.obs_date >= m.valid_from
         |  AND (m.valid_to IS NULL OR obs.obs_date < m.valid_to)
         |ORDER BY obs.postal_code, obs.obs_date""".stripMargin,
    // Mirrors WeatherMart.dimLocationCdcMerged: the CDC feed compacted
    // latest-seq-wins (D > U > I on ties, deletes dropped) becomes the
    // snapshot folded into the dim by the same merge as dim_scd2_merge.
    "cdc_scd2" ->
      s"""WITH dim AS ($dimLocationSql),
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
         |FROM merged ORDER BY location_key""".stripMargin,
    "dim_band" ->
      s"""SELECT DISTINCT $bandCase AS weather_band
         |FROM (SELECT l_quantity AS band_q FROM lineitem)
         |ORDER BY weather_band""".stripMargin,
    "dim_precip_type" ->
      s"""SELECT DISTINCT $precipCase AS precipitation_type
         |FROM (SELECT l_tax AS snowfall_in, l_discount AS precipitation_in FROM lineitem)
         |ORDER BY precipitation_type""".stripMargin,
    "dim_source" ->
      """SELECT CAST(1 AS BIGINT) AS source_key, 'graft' AS provider,
        |  'testdata' AS dataset_name, 'parquet' AS ingest_method""".stripMargin,
    "normalized_3nf" ->
      s"SELECT * FROM ($locNaturalSql) ORDER BY postal_code",
    "normalized_date" ->
      """SELECT CAST(dk AS VARCHAR) AS date_valid,
        |  CAST(year(dk) AS BIGINT) AS year,
        |  CAST(month(dk) AS BIGINT) AS month,
        |  CAST(day(dk) AS BIGINT) AS day,
        |  CAST(dayofyear(dk) AS BIGINT) AS day_of_year,
        |  CAST(weekofyear(dk) AS BIGINT) AS week_of_year,
        |  CAST(isodow(dk) AS BIGINT) AS day_of_week
        |FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) AS dk FROM lineitem)
        |ORDER BY date_valid""".stripMargin,
    "normalized_weather_day" ->
      s"""SELECT date_valid, loc_ref AS postal_code, avg_temp_f,
         |  precipitation_in, snowfall_in, band_q
         |FROM ($stgSql) ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,
    // Mirrors the location_drift query (snapshot EXCEPT naturals); snap
    // derivation matches WeatherMart.locationSnapshot.
    "location_drift" ->
      s"""WITH nat AS ($locNaturalSql),
         |snap AS (
         |  SELECT postal_code, city_name,
         |    CASE WHEN postal_code % 7 = 0 THEN 'RELOCATED' ELSE country END AS country,
         |    region_name
         |  FROM nat WHERE postal_code % 13 <> 0
         |  UNION ALL SELECT 999999, 'new_city', 'XX', 'YY')
         |SELECT * FROM snap EXCEPT SELECT * FROM nat ORDER BY postal_code""".stripMargin,
    // Mirrors Sessionize.valueDeciles: ntile(10) == floor((rank-1)*10/n)+1
    // under SQL-standard semantics (first n mod k buckets one larger).
    "events_value_deciles" ->
      """WITH t AS (
        |  SELECT user_id, ROUND(SUM(value) * 100, 0) / 100.0 AS total_value
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT total_value, CAST(ntile(10) OVER (
        |    ORDER BY total_value DESC, user_id) AS BIGINT) AS decile
        |  FROM t)
        |SELECT decile, COUNT(*) AS n_users,
        |  ROUND(SUM(total_value) * 100, 0) / 100.0 AS decile_value
        |FROM d GROUP BY 1 ORDER BY decile""".stripMargin,
    "fact_build" ->
      s"""$factSql
         |ORDER BY l.location_key, f.date_valid, f.l_orderkey, f.l_linenumber,
         |  f.avg_temp_f, f.precipitation_in, f.snowfall_in""".stripMargin,
    // Mirrors WeatherMart.rolling7Day: integer-cents daily sums, RANGE
    // frame over day numbers (gap days shrink the window).
    "fact_rolling_range" ->
      s"""WITH stg AS ($stgSql),
         |daily AS (
         |  SELECT loc_ref, date_valid,
         |    ROUND(SUM(precipitation_in) * 100, 0) AS c,
         |    datediff('day', DATE '1970-01-01', CAST(date_valid AS DATE)) AS dn
         |  FROM stg GROUP BY loc_ref, date_valid)
         |SELECT loc_ref, date_valid, c / 100.0 AS day_precip,
         |  SUM(c) OVER (PARTITION BY loc_ref ORDER BY dn
         |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0 AS precip_7day
         |FROM daily ORDER BY loc_ref, date_valid""".stripMargin,
    "validate_fact" ->
      s"""WITH fact AS ($factSql)
         |SELECT CAST(SUM(CASE WHEN location_key IS NULL OR date_key IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS null_fk_count,
         |  ROUND(MIN(avg_temp_f), 4) AS min_temp,
         |  ROUND(MAX(avg_temp_f), 4) AS max_temp
         |FROM fact""".stripMargin,
    "q1_avg_by_date" ->
      """SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS full_date,
        |  ROUND(SUM(l_extendedprice) * 100, 0) / COUNT(*) / 100.0 AS avg_temp_f
        |FROM lineitem GROUP BY 1 ORDER BY full_date""".stripMargin,
    "q2_topn_by_location" ->
      """SELECT s_name AS city_name, ROUND(SUM(l_extendedprice) * 100, 0) / COUNT(*) / 100.0 AS avg_temp_f
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY avg_temp_f DESC, city_name LIMIT 15""".stripMargin,
    "q3_avg_by_class" ->
      """SELECT CASE WHEN l_tax > 0.06 THEN 'Snow'
        |    WHEN l_discount > 0.05 THEN 'Rain' ELSE 'None' END
        |    AS precipitation_type,
        |  ROUND(SUM(l_extendedprice) * 100, 0) / COUNT(*) / 100.0 AS avg_temp_f
        |FROM lineitem GROUP BY 1
        |ORDER BY avg_temp_f DESC, precipitation_type""".stripMargin,
    "q4_band_counts" ->
      """SELECT CASE WHEN l_quantity <= 9 THEN 'Freezing'
        |    WHEN l_quantity <= 20 THEN 'Cold' WHEN l_quantity <= 35 THEN 'Mild'
        |    WHEN l_quantity <= 45 THEN 'Warm' ELSE 'Hot' END AS weather_band,
        |  COUNT(*) AS days_count
        |FROM lineitem GROUP BY 1
        |ORDER BY days_count DESC, weather_band""".stripMargin,
    "q5_pct_positive" ->
      """SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS date_key,
        |  ROUND(100.0 * CAST(SUM(CASE WHEN l_discount > 0 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 4) AS pct_locations_with_rain
        |FROM lineitem GROUP BY 1 ORDER BY date_key""".stripMargin,
    // Salting must be result-invisible: the oracle is the PLAIN join —
    // identical output proves the salt/replicate/join/drop round-trip.
    "skew_join_salted" ->
      """SELECT s_name, COUNT(*) AS n_items,
        |  ROUND(SUM(l_extendedprice) * 100, 0) / 100.0 AS total_revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY s_name""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_doc_id,
        |  COUNT(*) AS n_dupes
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    // Mirrors Dedup.exactByPreference (src7 > src0 > rest, doc_id
    // breaking remaining ties — the min-struct order as ROW_NUMBER).
    "dedup_exact_best" ->
      """WITH h AS (
        |  SELECT md5(text) AS content_hash, doc_id, source,
        |    CASE WHEN source = 'src7' THEN 0
        |         WHEN source = 'src0' THEN 1 ELSE 2 END AS p
        |  FROM documents),
        |r AS (
        |  SELECT content_hash, doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY content_hash
        |      ORDER BY p, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY content_hash) AS n_dupes
        |  FROM h)
        |SELECT content_hash, doc_id AS keeper_doc_id,
        |  source AS keeper_source, CAST(n_dupes AS BIGINT) AS n_dupes
        |FROM r WHERE rn = 1 ORDER BY content_hash""".stripMargin,
    // Mirrors Dedup.incremental (batch = doc_id >= 400).
    "dedup_incremental" ->
      """WITH keep AS (
        |  SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id
        |  FROM documents WHERE doc_id >= 400 GROUP BY 1),
        |old AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 400)
        |SELECT doc_id, content_hash FROM keep
        |WHERE content_hash NOT IN (SELECT h FROM old)
        |ORDER BY doc_id""".stripMargin,
    // Mirrors Dedup.ngramJaccard (n=3, maxDf=100, minJaccard=0.6):
    // DuckDB list slice w[i:i+2] is 1-based inclusive = Spark slice(w,i,3).
    "ngram_jaccard" -> s"$ngramJaccardBody\nORDER BY doc_a, doc_b",
    // Mirrors Dedup.ngramContainment (n=3, maxDf=100, min=0.8): the
    // same rare-pair body, asymmetric division — catches subset
    // duplication Jaccard misses.
    "dedup_containment" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |       FROM toks, UNNEST(generate_series(1, greatest(len(w)-2, 0))) AS t(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |rare AS (SELECT * FROM sh WHERE shingle IN
        |         (SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) <= 100)),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |          FROM rare a JOIN rare b
        |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / sa.sz AS containment_a,
        |  CAST(inter AS DOUBLE) / sb.sz AS containment_b
        |FROM pairs
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE greatest(CAST(inter AS DOUBLE) / sa.sz,
        |               CAST(inter AS DOUBLE) / sb.sz) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Mirrors Corpus.connectedComponents over the ngram-Jaccard pairs:
    // transitive closure by recursive CTE, component id = min reachable
    // doc_id — exactly what min-label propagation converges to.
    // MATERIALIZED pins the edge pipeline to ONE evaluation: DuckDB
    // otherwise re-inlines it into every recursion step, which is what
    // made this oracle infeasible at sf10 (r10 sweep) — measured 4.2×
    // at sf1 (274 s → 65 s, identical rows) and it is what turns the
    // sf10 substitute check back into a direct oracle (VERDICT r12 #4).
    "dedup_cluster" ->
      s"""WITH RECURSIVE
         |edges AS MATERIALIZED (
         |          SELECT doc_a AS src, doc_b AS dst FROM ($ngramJaccardBody)
         |          UNION ALL
         |          SELECT doc_b AS src, doc_a AS dst FROM ($ngramJaccardBody)),
         |reach(src, dst) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS doc_id, MIN(dst) AS component_id
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    // Mirrors Corpus.clusterKeepers: same closure, keeper = longest
    // member (doc_id tiebreak), member counts.
    "dedup_cluster_best" ->
      s"""WITH RECURSIVE
         |edges AS MATERIALIZED (
         |          SELECT doc_a AS src, doc_b AS dst FROM ($ngramJaccardBody)
         |          UNION ALL
         |          SELECT doc_b AS src, doc_a AS dst FROM ($ngramJaccardBody)),
         |reach(src, dst) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (
         |  SELECT src AS doc_id, MIN(dst) AS component_id
         |  FROM reach GROUP BY src),
         |j AS (
         |  SELECT c.component_id, c.doc_id, d.n_chars
         |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
         |r AS (
         |  SELECT component_id, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY component_id
         |      ORDER BY n_chars DESC, doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY component_id) AS n_members
         |  FROM j)
         |SELECT component_id, doc_id AS keeper_doc_id,
         |  n_chars AS keeper_chars, CAST(n_members AS BIGINT) AS n_members
         |FROM r WHERE rn = 1 ORDER BY component_id""".stripMargin,
    // Marker-count scoring via UNNEST+SUM (portable across DuckDB versions,
    // no list lambdas). Mirrors TextAnalysis.Markers and the CASE priority.
    "lang_id" -> s"$langIdBody ORDER BY doc_id",
    "text_quality" -> s"$textQualityBody ORDER BY doc_id",
    // Mirrors Corpus.qualityFilter: en + score floor + exact-dup keeper.
    "quality_filter" ->
      s"""SELECT q.doc_id, q.n_tokens, q.quality_score, l.predicted_lang
         |FROM ($textQualityBody) q
         |JOIN ($langIdBody) l ON q.doc_id = l.doc_id
         |JOIN (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
         |  ON q.doc_id = k.doc_id
         |WHERE l.predicted_lang = 'en' AND q.quality_score >= 0.5
         |ORDER BY q.doc_id""".stripMargin,
    // Mirrors Corpus.gopherGate: the full Gopher rulebook — length
    // bounds, mean word length, symbol ratio, quality floor, lang,
    // repetition caps — over the quality/lang fragments plus the
    // doc_repetition 3-gram CTEs (same rounding), survivors with
    // their signals.
    "gopher_gate" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |g AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
         |      FROM tk, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)),
         |cnt AS (SELECT doc_id, s, COUNT(*) AS c FROM g GROUP BY doc_id, s),
         |rep AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total_ngrams,
         |          CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
         |          CAST(MAX(c) AS BIGINT) AS top_ngram_freq
         |        FROM cnt GROUP BY doc_id),
         |sig AS (SELECT q.doc_id, q.n_tokens, q.avg_token_len, q.punct_ratio,
         |          q.quality_score, l.predicted_lang,
         |          CASE WHEN r.total_ngrams IS NULL THEN 0.0
         |               ELSE ROUND(1.0 - CAST(r.distinct_ngrams AS DOUBLE) / r.total_ngrams, 4)
         |          END AS repetition_ratio,
         |          CASE WHEN r.total_ngrams IS NULL THEN 0.0
         |               ELSE ROUND(CAST(r.top_ngram_freq AS DOUBLE) / r.total_ngrams, 4)
         |          END AS top_ngram_ratio
         |        FROM ($textQualityBody) q
         |        JOIN ($langIdBody) l ON q.doc_id = l.doc_id
         |        LEFT JOIN rep r ON q.doc_id = r.doc_id)
         |SELECT doc_id, n_tokens, avg_token_len, punct_ratio, quality_score,
         |  predicted_lang, repetition_ratio, top_ngram_ratio
         |FROM sig
         |WHERE n_tokens BETWEEN 15 AND 100000
         |  AND avg_token_len BETWEEN 3.0 AND 10.0
         |  AND punct_ratio <= 0.2 AND quality_score >= 0.5
         |  AND predicted_lang = 'en'
         |  AND repetition_ratio <= 0.05 AND top_ngram_ratio <= 0.10
         |ORDER BY doc_id""".stripMargin,
    // Mirrors the pipeline_summary funnel (scalar-subquery composition
    // of the lang/quality/keeper fragments).
    "pipeline_summary" ->
      s"""SELECT
         |  (SELECT COUNT(*) FROM documents) AS n_docs,
         |  (SELECT CAST(COUNT(DISTINCT md5(text)) AS BIGINT) FROM documents)
         |    AS n_exact_unique,
         |  (SELECT COUNT(*) FROM ($langIdBody) WHERE predicted_lang = 'en')
         |    AS n_predicted_en,
         |  (SELECT COUNT(*) FROM ($textQualityBody) q
         |   JOIN ($langIdBody) l ON q.doc_id = l.doc_id
         |   JOIN (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
         |     ON q.doc_id = k.doc_id
         |   WHERE l.predicted_lang = 'en' AND q.quality_score >= 0.5)
         |    AS n_pass_quality_gate""".stripMargin,
    // Mirrors Sessionize.funnel: running stage minima over the same
    // user window, staged CTEs for the inter-stage dependencies.
    "events_funnel" -> {
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
    },
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
    "events_winsorize" ->
      """WITH nn AS (
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
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "ri_check" ->
      """SELECT (SELECT COUNT(*) FROM orders) AS n_orders,
        |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |    AS n_orphan_orders,
        |  (SELECT COUNT(*) FROM customer) AS n_customers,
        |  (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        |    AS n_inactive_customers""".stripMargin,
    // Mirrors the Expectations audit suite rule for rule: row-grain
    // rules as conditional sums over one scan per table, unique at key
    // grain (dbt semantics: violations = keys seen >1 times),
    // relationship as NOT EXISTS over non-null FKs.
    "expectations_check" ->
      """WITH ro AS (
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
        |ORDER BY rule""".stripMargin,
    // Mirrors Sessionize.retention: first-activity-date cohorts,
    // distinct active users per cohort per day offset.
    "events_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
        |  CAST(datediff('day', cohort_day, day) AS BIGINT) AS day_k,
        |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, day_k""".stripMargin,
    // Mirrors Corpus.chunk (50-token chunks, stride 40): starts from
    // generate_series; DuckDB list slice w[a:b] is 1-based inclusive.
    "doc_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id, CAST((i - 1) // 40 AS BIGINT) AS chunk_id,
        |  CAST(least(50, len(w) - i + 1) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(w[i:least(i + 49, len(w))], ' ') AS chunk_text
        |FROM t, UNNEST(generate_series(1, greatest(len(w), 1), 40)) AS g(i)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // Mirrors Corpus.noveltyScore: corpus-wide bigram instance support,
    // per-doc rare-instance rate. Integer counts + one end division.
    "doc_novelty" ->
      """WITH inst AS (
        |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |       UNNEST(generate_series(1, len(w) - 1)) AS g(i)),
        |sup AS (SELECT bg, COUNT(*) AS sup FROM inst GROUP BY bg)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CASE WHEN sup <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  ROUND(CAST(SUM(CASE WHEN sup <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 4) AS rare_rate
        |FROM inst JOIN sup USING (bg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Mirrors Sampling.sourceQuota (k=10): per-source top-k by content
    // hash (md5 hex strings compare identically in both engines).
    "sample_source_quota" ->
      """SELECT source, CAST(rk AS BIGINT) AS rank, doc_id FROM (
        |  SELECT source, doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY source ORDER BY md5(text), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 10 ORDER BY source, rank""".stripMargin,
    // Mirrors Sampling.mixture: uniform draw = first 8 md5 hex chars /
    // 2^32 (exact: a <2^32 integer divided by a power of two), rates
    // are dyadic literals shared with the Spark side via MixtureRates.
    "sample_mixture" -> {
      val rateCase = MixtureRates.toSeq.sorted.map { case (src, r) =>
        s"WHEN source = '$src' THEN CAST($r AS DOUBLE)"
      }.mkString("CASE ", " ", " ELSE CAST(1.0 AS DOUBLE) END")
      s"""WITH u AS (
         |  SELECT source, n_chars,
         |    ('0x' || substr(md5(text), 1, 8))::BIGINT / 4294967296.0 AS u
         |  FROM documents)
         |SELECT source, COUNT(*) AS n_kept,
         |  CAST(SUM(n_chars) AS BIGINT) AS kept_chars
         |FROM u WHERE u < $rateCase
         |GROUP BY source ORDER BY source""".stripMargin
    },
    // Mirrors Sampling.temperature (α=1/2): per-source counts, rate =
    // sqrt(n_min/n) — divide and sqrt are correctly rounded in both
    // engines — same content-hash uniform accept as sample_mixture.
    "sample_temperature" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |m AS (SELECT MIN(n_docs) AS nmin FROM c),
        |r AS (SELECT source, n_docs,
        |        sqrt(CAST(nmin AS DOUBLE) / n_docs) AS rate FROM c, m),
        |u AS (
        |  SELECT source,
        |    ('0x' || substr(md5(text), 1, 8))::BIGINT / 4294967296.0 AS u
        |  FROM documents),
        |k AS (
        |  SELECT u.source, COUNT(*) AS n_kept
        |  FROM u JOIN r ON u.source = r.source
        |  WHERE u.u < r.rate GROUP BY u.source)
        |SELECT r.source, r.n_docs, ROUND(r.rate, 4) AS rate,
        |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
        |FROM r LEFT JOIN k ON r.source = k.source
        |ORDER BY r.source""".stripMargin,
    // Mirrors Sampling.mixtureWeights: N* = min(cap·chars/p) over the
    // targeted sources, weight = N*·p/chars — dyadic shares and cap,
    // so min and both divides are single correctly-rounded IEEE ops.
    "mixture_weights" -> {
      val shareCase = MixtureTargets.toSeq.sorted.map { case (src, p) =>
        s"WHEN source = '$src' THEN CAST($p AS DOUBLE)"
      }.mkString("CASE ", " ", " ELSE NULL END")
      s"""WITH c AS (
         |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |    $shareCase AS share
         |  FROM documents GROUP BY source HAVING share IS NOT NULL),
         |m AS (SELECT MIN(CAST(4.0 AS DOUBLE) * total_chars / share)
         |        AS nstar FROM c)
         |SELECT c.source, c.total_chars, c.share,
         |  ROUND(m.nstar * c.share / c.total_chars, 4) AS weight,
         |  ROUND(m.nstar * c.share, 4) AS planned_chars
         |FROM c, m ORDER BY c.source""".stripMargin
    },
    // Mirrors Segmentation.fuzzyNamePairs: quadratic definition over
    // DISTINCT names (the blocking the Spark side adds is lossless —
    // |len diff| <= edit distance — so definition == blocked result).
    "fuzzy_name_pairs" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,
    // Mirrors Sampling.epochMix: same uniform draw, dyadic epoch
    // weights, floor(w) copies + 1 iff u < frac(w), copies exploded.
    "sample_epochs" -> {
      val wCase = EpochWeights.toSeq.sorted.map { case (src, e) =>
        s"WHEN source = '$src' THEN CAST($e AS DOUBLE)"
      }.mkString("CASE ", " ", " ELSE CAST(1.0 AS DOUBLE) END")
      s"""WITH u AS (
         |  SELECT doc_id, source,
         |    ('0x' || substr(md5(text), 1, 8))::BIGINT / 4294967296.0 AS u,
         |    $wCase AS w
         |  FROM documents),
         |n AS (
         |  SELECT doc_id, source,
         |    CAST(FLOOR(w) AS BIGINT) +
         |      CASE WHEN u < w - FLOOR(w) THEN 1 ELSE 0 END AS n
         |  FROM u)
         |SELECT doc_id, source, CAST(i AS BIGINT) AS copy
         |FROM n, UNNEST(generate_series(1, n)) AS t(i)
         |ORDER BY doc_id, copy""".stripMargin
    },
    // Mirrors Sampling.shardPack (budget 4096): exclusive prefix-sum of
    // token counts in doc_id order, integer-div'd into shard ids.
    "shard_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens, SUM(n_tokens) OVER (
        |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT CAST((cum - n_tokens) // 4096 AS BIGINT) AS shard, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
        |FROM c GROUP BY 1 ORDER BY shard""".stripMargin,
    // Mirrors Corpus.trainTestSplit: md5 last-nibble split (13/16 train),
    // stratified by token-length band.
    "train_test_split" ->
      """WITH b AS (
        |  SELECT CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS nt,
        |    CASE WHEN ascii(substr(md5(text), 32, 1)) <= 57
        |         THEN ascii(substr(md5(text), 32, 1)) - 48
        |         ELSE ascii(substr(md5(text), 32, 1)) - 87 END AS nib
        |  FROM documents)
        |SELECT CASE WHEN nt <= 60 THEN 'short' WHEN nt <= 120 THEN 'medium'
        |         ELSE 'long' END AS stratum,
        |  CASE WHEN nib < 13 THEN 'train' ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS total_tokens
        |FROM b GROUP BY 1, 2 ORDER BY stratum, split""".stripMargin,
    // Mirrors Corpus.cvFolds: fold = first 32 md5 bits mod 5 (the
    // sample_mixture hex-parse idiom), per-fold balance profile.
    "cv_folds" ->
      """WITH f AS (
        |  SELECT (('0x' || substr(md5(text), 1, 8))::BIGINT % 5) AS fold,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |      AS nt,
        |    source
        |  FROM documents)
        |SELECT fold, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |FROM f GROUP BY fold ORDER BY fold""".stripMargin,
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
    "parts_skyline" ->
      """WITH f AS (
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
        |ORDER BY p_retailprice, p_partkey""".stripMargin,
    // Mirrors Profile.corrBy: exact HUGEINT sufficient statistics,
    // float assembly (sqrt+divide, correctly rounded) once per group.
    "corr_quantity_discount" ->
      """WITH b AS (
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
        |FROM a ORDER BY l_returnflag""".stripMargin,
    // Mirrors Redact.kAnonymity: QI-grain counts, then the one-row
    // audit re-aggregate (k = 5).
    "k_anonymity" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
        |  FROM customer GROUP BY c_nationkey, c_mktsegment)
        |SELECT COUNT(*) AS n_classes,
        |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_classes_below_k,
        |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_rows_at_risk,
        |  MIN(n) AS min_class_size,
        |  CAST(SUM(n) AS BIGINT) AS n_rows
        |FROM g""".stripMargin,
    // Mirrors Dedup.sourceProfile: (source, md5) grain first, then the
    // source-sized re-aggregate; dup_rate rounded on both sides.
    "dedup_source_profile" ->
      """WITH g AS (
        |  SELECT source, md5(text) AS h, COUNT(*) AS n
        |  FROM documents GROUP BY source, h)
        |SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
        |  COUNT(*) AS n_unique,
        |  ROUND(CAST(SUM(n) - COUNT(*) AS DOUBLE) / SUM(n), 4) AS dup_rate
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    // Mirrors the AsOfJoin.backward query: latest purchase at-or-before
    // each click, ties broken by largest event_id.
    "asof_join" ->
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS us, l.value,
        |  r.purchase_us, r.purchase_value
        |FROM events l LEFT JOIN LATERAL (
        |  SELECT epoch_us(r.ts) AS purchase_us, r.value AS purchase_value
        |  FROM events r
        |  WHERE r.user_id = l.user_id AND r.event_type = 'purchase'
        |    AND r.ts <= l.ts
        |  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) r ON TRUE
        |WHERE l.event_type = 'click'
        |ORDER BY l.event_id""".stripMargin,
    // Forward twin: earliest purchase at-or-after, smallest event_id
    // breaking ties (mirrors AsOfJoin.forward's first-in-order pick).
    "asof_join_forward" ->
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS us, l.value,
        |  r.purchase_us, r.purchase_value
        |FROM events l LEFT JOIN LATERAL (
        |  SELECT epoch_us(r.ts) AS purchase_us, r.value AS purchase_value
        |  FROM events r
        |  WHERE r.user_id = l.user_id AND r.event_type = 'purchase'
        |    AND r.ts >= l.ts
        |  ORDER BY r.ts ASC, r.event_id ASC LIMIT 1) r ON TRUE
        |WHERE l.event_type = 'click'
        |ORDER BY l.event_id""".stripMargin,
    // Mirrors the RangeJoin query; the oracle is the plain BETWEEN theta
    // join, proving bucket expansion is result-invisible.
    "range_join_bands" ->
      """SELECT CAST(i AS BIGINT) AS tier_id, CAST(5*i AS DOUBLE) AS lo,
        |  CAST(5*i+7 AS DOUBLE) AS hi, COUNT(*) AS n_rows,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM range(0, 10) t(i)
        |JOIN lineitem ON l_quantity BETWEEN 5*i AND 5*i+7
        |GROUP BY 1, 2, 3 ORDER BY tier_id""".stripMargin,
    // Mirrors Cube.eventsPivot (explicit type list). COUNT(CASE…) keeps
    // the BIGINT type a SUM would widen to HUGEINT.
    "events_pivot" ->
      """SELECT user_id,
        |  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
        |  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error,
        |  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
        |  CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup,
        |  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Mirrors Cube.salesRollup. Null-safe ORDER via COALESCE('') because
    // Spark sorts NULLS FIRST and DuckDB NULLS LAST.
    "sales_rollup" ->
      """SELECT region_name, nation_name,
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
        |  COALESCE(nation_name, '')""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
        |  CAST(ceil(CAST(length(text)
        |    - (length(text) - length(replace(text, ' ', '')) + 1) + 1 AS DOUBLE)
        |    / 4.0) AS BIGINT) AS subword_est
        |FROM documents ORDER BY doc_id""".stripMargin,
    "vocab_topk" ->
      """SELECT t AS token, COUNT(*) AS term_freq
        |FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)
        |GROUP BY 1 ORDER BY term_freq DESC, token LIMIT 100""".stripMargin,
    "heavy_hitters_cms" -> cmsHeavyHittersSql,
    "doc_chunk_cdc" -> cdcChunksSql,
    "dist_drift" -> distDriftSql,
    "corpus_stats" ->
      """SELECT * FROM (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |    MIN(nt) AS min_doc_tokens,
        |    MAX(nt) AS max_doc_tokens,
        |    CAST(SUM(nt) AS DOUBLE) / COUNT(*) AS avg_doc_tokens
        |  FROM (SELECT CAST(length(text) - length(replace(text, ' ', '')) + 1
        |    AS BIGINT) AS nt FROM documents))
        |CROSS JOIN (
        |  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab_size
        |  FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents))""".stripMargin,
    // Mirrors Cube.salesCube — DuckDB GROUP BY CUBE with the same
    // grouping flags and null-safe ordering.
    "sales_cube" ->
      """SELECT region_name, nation_name,
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
        |  COALESCE(nation_name, '')""".stripMargin,
    "parts_by_brand" ->
      """SELECT p_brand, COUNT(*) AS n_parts,
        |  ROUND(SUM(p_retailprice) * 100, 0) / COUNT(*) / 100.0 AS avg_price,
        |  ROUND(MAX(p_retailprice), 4) AS max_price
        |FROM part GROUP BY 1 ORDER BY p_brand""".stripMargin,
    "events_sessionize" ->
      """WITH e AS (
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
        |ORDER BY user_id, session_seq""".stripMargin,
    "events_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_ts, event_type,
        |  COUNT(*) AS n_events, ROUND(SUM(value) * 100, 0) / 100.0 AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin,
    // Mirrors Sessionize.topKPerType (k=3, ties by event_id).
    "events_top3_per_type" ->
      """SELECT event_type, event_id, user_id, value, rank FROM (
        |  SELECT event_type, event_id, user_id, value,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS BIGINT) AS rank
        |  FROM events)
        |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,
    "orders_monthly_status" ->
      """SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month,
        |  o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total_price
        |FROM orders GROUP BY 1, 2 ORDER BY month, o_orderstatus""".stripMargin,
    "customer_top_spenders" ->
      """SELECT c_custkey, c_name, n_orders, total_spend FROM (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |      / 100.0 AS total_spend
        |  FROM orders GROUP BY 1)
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_spend DESC, c_custkey LIMIT 20""".stripMargin,
    "events_topk_users" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  ROUND(SUM(value) * 100, 0) / 100.0 AS total_value
        |FROM events GROUP BY 1
        |ORDER BY total_value DESC, user_id LIMIT 10""".stripMargin,
    // Spark's exact percentile and DuckDB's quantile_cont both linearly
    // interpolate over the sorted values.
    "events_median_by_type" ->
      """SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS median_value,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "multimodal_extract" ->
      """SELECT doc_id,
        |  ['png','jpg','wav'][CAST(doc_id % 3 AS INT) + 1] AS format,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  64 + CAST(octet_length(encode(text)) AS BIGINT) % 448 AS width,
        |  64 + (CAST(octet_length(encode(text)) AS BIGINT) * 7) % 448 AS height,
        |  1 + doc_id % 30 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Mirrors Multimodal.payloadDedup: per-format exact dedup by
    // payload md5 (UTF-8 payload bytes ⇒ md5(text) is the same hash).
    "multimodal_dedup" ->
      """SELECT ['png','jpg','wav'][CAST(doc_id % 3 AS INT) + 1] AS format,
        |  md5(text) AS content_hash,
        |  MIN(doc_id) AS keeper_doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY 1, 2 ORDER BY format, content_hash""".stripMargin,
    // Mirrors Multimodal.resizePlan (box 224): same stub geometry as
    // multimodal_extract, fit-in-box via integral DIV (// here), byte
    // estimate scaled by the pixel ratio, md5 over the estimated-size
    // prefix (ascii text ⇒ char slices == byte slices, as in
    // multimodal_frames).
    "multimodal_resize" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    ['png','jpg','wav'][CAST(doc_id % 3 AS INT) + 1] AS format,
        |    text,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |    64 + CAST(octet_length(encode(text)) AS BIGINT) % 448 AS width,
        |    64 + (CAST(octet_length(encode(text)) AS BIGINT) * 7) % 448 AS height
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, format, text, byte_len, width, height,
        |    CAST(CASE WHEN greatest(width, height) <= 224 THEN width
        |         ELSE greatest(width * 224 // greatest(width, height), 1)
        |         END AS BIGINT) AS target_w,
        |    CAST(CASE WHEN greatest(width, height) <= 224 THEN height
        |         ELSE greatest(height * 224 // greatest(width, height), 1)
        |         END AS BIGINT) AS target_h
        |  FROM p)
        |SELECT doc_id, format, width, height, target_w, target_h,
        |  CAST(byte_len * (target_w * target_h) // (width * height) AS BIGINT)
        |    AS n_bytes_est,
        |  md5(substring(text, 1,
        |    CAST(byte_len * (target_w * target_h) // (width * height) AS INT)))
        |    AS thumb_md5
        |FROM t ORDER BY doc_id""".stripMargin,
    // Mirrors Multimodal.frameSample (stride 5): the text IS the payload
    // (ascii → byte slicing == char slicing), so md5 over string slices
    // equals Spark's md5 over the binary slices.
    "multimodal_frames" ->
      """WITH p AS (
        |  SELECT doc_id, text,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |    1 + doc_id % 30 AS n_frames
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text,
        |    GREATEST(byte_len // n_frames, 1) AS frame_len, n_frames
        |  FROM p)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  md5(substr(text, CAST(i * frame_len + 1 AS INT),
        |    CAST(frame_len AS INT))) AS frame_md5
        |FROM f, UNNEST(generate_series(0, n_frames - 1, 5)) AS t(i)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "dedup_embedding" -> embeddingNearDupSql,
    "decontaminate_semantic" -> decontaminateSemanticSql,
    "doc_fingerprint" -> docFingerprintSql,
    // Mirrors TextAnalysis.repetition (word 3-grams, non-distinct
    // counts; short docs report zeros).
    "doc_repetition" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
        |      FROM tk, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)),
        |cnt AS (SELECT doc_id, s, COUNT(*) AS c FROM g GROUP BY doc_id, s),
        |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total_ngrams,
        |          CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
        |          CAST(MAX(c) AS BIGINT) AS top_ngram_freq
        |        FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(a.total_ngrams, 0) AS total_ngrams,
        |  COALESCE(a.distinct_ngrams, 0) AS distinct_ngrams,
        |  COALESCE(a.top_ngram_freq, 0) AS top_ngram_freq,
        |  CASE WHEN a.total_ngrams IS NULL THEN 0.0
        |       ELSE ROUND(1.0 - CAST(a.distinct_ngrams AS DOUBLE) / a.total_ngrams, 4)
        |  END AS repetition_ratio,
        |  CASE WHEN a.total_ngrams IS NULL THEN 0.0
        |       ELSE ROUND(CAST(a.top_ngram_freq AS DOUBLE) / a.total_ngrams, 4)
        |  END AS top_ngram_ratio
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // Mirrors Corpus.sourceOverlap (8-grams): per-source distinct gram
    // keys, per-gram source self-join, pair counts. md5 agrees between
    // engines, so keys match Spark's 16-byte shuffle keys exactly.
    "source_overlap" -> {
      val gram8 = (0 until 8).map(j => s"tk[i + $j]").mkString(" || ' ' || ")
      s"""WITH sh AS (
         |  SELECT DISTINCT source, md5($gram8) AS k
         |  FROM (SELECT source, string_split(text, ' ') AS tk FROM documents),
         |       UNNEST(generate_series(1, len(tk) - 7)) AS u(i))
         |SELECT a.source AS source_a, b.source AS source_b,
         |  COUNT(*) AS n_shared_grams
         |FROM sh a JOIN sh b ON a.k = b.k AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // Mirrors Corpus.decontaminate (md5-nibble split, word 8-grams,
    // gram semi-join → anti-join): the clean train doc_ids.
    "decontaminate" -> {
      val gram8 = (0 until 8).map(j => s"tk[i + $j]").mkString(" || ' ' || ")
      s"""WITH lab AS (
         |  SELECT doc_id, text,
         |    (CASE WHEN ascii(substr(md5(text), 32, 1)) <= 57
         |          THEN ascii(substr(md5(text), 32, 1)) - 48
         |          ELSE ascii(substr(md5(text), 32, 1)) - 87 END) < 13 AS is_train
         |  FROM documents),
         |tg AS (
         |  SELECT doc_id, $gram8 AS g
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM lab WHERE is_train),
         |       UNNEST(generate_series(1, len(tk) - 7)) AS u(i)),
         |sg AS (
         |  SELECT DISTINCT $gram8 AS g
         |  FROM (SELECT string_split(text, ' ') AS tk FROM lab WHERE NOT is_train),
         |       UNNEST(generate_series(1, len(tk) - 7)) AS u(i)),
         |bad AS (SELECT DISTINCT tg.doc_id FROM tg JOIN sg USING (g))
         |SELECT l.doc_id FROM lab l LEFT JOIN bad b USING (doc_id)
         |WHERE l.is_train AND b.doc_id IS NULL
         |ORDER BY l.doc_id""".stripMargin
    },
    // Mirrors TextAnalysis.bigramLift (lift = PMI without the log — a
    // pure ratio of exact counts, so no transcendental to disagree on).
    "bigram_lift" ->
      """WITH toks AS (
        |  SELECT tok FROM documents, UNNEST(string_split(text, ' ')) AS s(tok)),
        |uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        |n1 AS (SELECT COUNT(*) AS n1 FROM toks),
        |bi AS (
        |  SELECT tk[i] AS tok_a, tk[i + 1] AS tok_b
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents),
        |       UNNEST(generate_series(1, len(tk) - 1)) AS u(i)),
        |bc AS (SELECT tok_a, tok_b, COUNT(*) AS n_pair FROM bi GROUP BY tok_a, tok_b),
        |n2 AS (SELECT COUNT(*) AS n2 FROM bi)
        |SELECT bc.tok_a || ' ' || bc.tok_b AS bigram,
        |  CAST(bc.n_pair AS BIGINT) AS n_pair,
        |  ROUND((CAST(bc.n_pair AS DOUBLE) / n2.n2) /
        |        ((CAST(ua.c AS DOUBLE) / n1.n1) * (CAST(ub.c AS DOUBLE) / n1.n1)),
        |        4) AS lift
        |FROM bc
        |JOIN uni ua ON bc.tok_a = ua.tok
        |JOIN uni ub ON bc.tok_b = ub.tok, n1, n2
        |WHERE bc.n_pair >= 5
        |ORDER BY lift DESC, bigram LIMIT 20""".stripMargin,
    "dedup_simhash" -> simhashPairsSql,
    "dedup_minhash_lsh" -> minhashPairsSql,
    // Mirrors Dedup.duplicateSpans (k=8, minDocs=2): positional word
    // 8-grams, grams in >=2 distinct docs, adjacent positions merged
    // into spans. Gram STRINGS here vs 64-bit gram hashes in Spark —
    // span parity barring a 2^-64 hash collision.
    // NULL-id docs carry no dedup identity: Spark filters them at the
    // instance scan, so they must not appear in the oracle's spans
    // either (and COUNT(DISTINCT doc_id) already ignores NULLs, so a
    // NULL-id doc can't make a gram "duplicated" on either side)
    "dedup_substring" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
        |        FROM documents WHERE doc_id IS NOT NULL),
        |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |        array_to_string(tk[i:i+7], ' ') AS gram
        |      FROM tk, UNNEST(generate_series(1, len(tk) - 7)) AS u(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram
        |        HAVING COUNT(DISTINCT doc_id) >= 2),
        |di AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
        |isl AS (SELECT doc_id, pos,
        |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |        FROM di)
        |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
        |  MAX(pos) - MIN(pos) + 8 AS span_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams
        |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin,
    // Mirrors Dedup.exciseSpans: same span CTEs, then every covered
    // token dropped and the survivors re-joined in position order.
    // NULL-id docs route through untouched (clean_text = their text,
    // 0 removed) exactly like exciseWith's pass-through union — the
    // USING joins below never match a NULL key, so the CASE supplies
    // the pass-through instead of coalescing to ''.
    "dedup_substring_scrub" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
        |        FROM documents WHERE doc_id IS NOT NULL),
        |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |        array_to_string(tk[i:i+7], ' ') AS gram
        |      FROM tk, UNNEST(generate_series(1, len(tk) - 7)) AS u(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram
        |        HAVING COUNT(DISTINCT doc_id) >= 2),
        |di AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
        |isl AS (SELECT doc_id, pos,
        |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |        FROM di),
        |spans AS (SELECT doc_id, MIN(pos) AS s0, MAX(pos) + 7 AS s1
        |          FROM isl GROUP BY doc_id, grp),
        |t AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tk2[i] AS tok
        |      FROM (SELECT doc_id,
        |              string_split(COALESCE(text, ''), ' ') AS tk2
        |            FROM documents),
        |           UNNEST(generate_series(1, len(tk2))) AS u(i)),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM t
        |         LEFT JOIN spans s ON t.doc_id = s.doc_id
        |           AND t.pos BETWEEN s.s0 AND s.s1
        |         WHERE s.doc_id IS NULL),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |        FROM kept GROUP BY doc_id),
        |removed AS (SELECT doc_id, COUNT(*) AS n_removed FROM (
        |              SELECT DISTINCT t.doc_id, t.pos FROM t
        |              JOIN spans s ON t.doc_id = s.doc_id
        |                AND t.pos BETWEEN s.s0 AND s.s1)
        |            GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id IS NULL THEN COALESCE(d.text, '')
        |       ELSE COALESCE(a.clean_text, '') END AS clean_text,
        |  CAST(CASE WHEN d.doc_id IS NULL THEN 0
        |       ELSE COALESCE(r.n_removed, 0) END AS BIGINT) AS n_removed
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |  LEFT JOIN removed r USING (doc_id)
        |ORDER BY d.doc_id NULLS FIRST""".stripMargin,
    "events_approx_stats" -> approxStatsSql,
    "quantile_sketch" -> quantileSketchSql,
    "hll_monthly" -> hllMonthlySql,
    // Mirrors Similarity.normalize: index-ordered double MAC + one
    // correctly-rounded sqrt + one division per element — every step
    // bit-stable across engines, so the floats hash-match at round(4).
    "embedding_normalize" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS l2 FROM t)
        |SELECT vec_id, CAST(i AS BIGINT) AS pos,
        |  ROUND(e[i] / l2, 4) + 0.0 AS unit_val
        |FROM n, UNNEST(generate_series(1, len(e))) AS g(i)
        |ORDER BY vec_id, pos""".stripMargin,
    // DuckDB's list_cosine_similarity over DOUBLE[] performs the same
    // double-precision MAC as graft's VectorDot, so even round-4 values
    // hash-match. Mirrors Similarity.bruteForceTopK (probes vec_id<10, k=5).
    "ann_bruteforce" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, emb AS pe FROM c WHERE vec_id < 10),
        |s AS (SELECT probe_id, c.vec_id AS neighbor_id,
        |        list_cosine_similarity(pe, c.emb) AS cs
        |      FROM p CROSS JOIN c WHERE c.vec_id <> probe_id),
        |r AS (SELECT probe_id, neighbor_id, cs,
        |        row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |  ROUND(cs, 4) AS cos_sim
        |FROM r WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,
    // Mirrors Similarity.ivfTopK (centroidStride=50, nProbeCells=2, k=5).
    "ann_ivf" ->
      // The corpus→cell assignment runs as a STREAMING aggregate
      // (MIN over a (−cos, cell_id) struct ≡ the former window's
      // ORDER BY cos DESC, cell_id rank-1, pinned equal at
      // sf0.01/sf0.1): the window form materialized the full
      // corpus × centroid cross join (800M rows at sf10, >74 GB of
      // spill — the one reason this query needed a substitute check,
      // VERDICT r11 #1); the agg streams it through n_vec groups.
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cent AS (SELECT vec_id AS cell_id, emb AS ce FROM c WHERE vec_id % 50 = 0),
        |assigned AS (
        |  SELECT c.vec_id,
        |    MIN(struct_pack(
        |      negcs := -list_cosine_similarity(c.emb, cent.ce),
        |      cid := cent.cell_id)).cid AS cell_id
        |  FROM c CROSS JOIN cent GROUP BY c.vec_id),
        |probes AS (
        |  SELECT probe_id, pe, cell_id FROM (
        |    SELECT p.vec_id AS probe_id, p.emb AS pe, cent.cell_id,
        |      row_number() OVER (PARTITION BY p.vec_id
        |        ORDER BY list_cosine_similarity(p.emb, cent.ce) DESC, cent.cell_id) AS rk
        |    FROM (SELECT * FROM c WHERE vec_id < 10) p CROSS JOIN cent) WHERE rk <= 2),
        |scored AS (
        |  SELECT probe_id, a.vec_id AS neighbor_id,
        |    MAX(list_cosine_similarity(pe, ca.emb)) AS cs
        |  FROM probes pr JOIN assigned a ON pr.cell_id = a.cell_id
        |  JOIN c ca ON ca.vec_id = a.vec_id
        |  WHERE a.vec_id <> pr.probe_id GROUP BY 1, 2),
        |r AS (SELECT probe_id, neighbor_id, cs,
        |        row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rank
        |      FROM scored)
        |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |  ROUND(cs, 4) AS cos_sim
        |FROM r WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,
    // Mirrors TimeSeries.gapFill: BIGINT cent sums per (loc, day), a
    // generate_series calendar spine, and IGNORE NULLS forward fill.
    "gap_fill" ->
      """WITH daily AS (
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
        |FROM j ORDER BY loc_ref, cal_date""".stripMargin,
    // Mirrors TimeSeries.orderBacklog: ±1 sweep events at open / day
    // after close, day-grain net change, running-sum stabbing count.
    "orders_backlog" ->
      """WITH cl AS (
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
        |FROM dd ORDER BY day""".stripMargin,
    // Mirrors Cdc.ordersSnapshot: I/U/D feed, latest seq per key wins;
    // seq ties break on explicit op priority D > U > I (a lost delete
    // resurrects a row; a lost update is merely re-deliverable).
    "cdc_apply" ->
      """WITH feed AS (
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
        |FROM latest WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey""".stripMargin,
    // Mirrors source_quality_profile: the quality/lang doc-grain
    // fragments re-aggregated at source grain; scores scaled to
    // integers before summing (identical association both sides).
    "source_quality_profile" ->
      s"""WITH q AS ($textQualityBody), l AS ($langIdBody)
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens,
         |  ROUND(CAST(SUM(CAST(ROUND(q.quality_score * 1000000, 0) AS BIGINT))
         |      AS DOUBLE) / COUNT(*) / 1000000.0, 4) AS avg_quality,
         |  CAST(SUM(CASE WHEN l.predicted_lang = 'en' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_en
         |FROM documents d
         |  JOIN q ON d.doc_id = q.doc_id
         |  JOIN l ON d.doc_id = l.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // Mirrors Sessionize.sessionLengthHist: the sessionize CTE chain
    // re-aggregated to length grain; session totals re-integerized to
    // cents before the cross-session sum (double sums are
    // partition-order-dependent; long cent sums are exact).
    "session_length_hist" ->
      """WITH e AS (
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
        |FROM s GROUP BY n_events ORDER BY n_events""".stripMargin,
    // Mirrors Segmentation.churnBySegment (horizon 90d): last order
    // per customer, never-ordered customers churned, exact division.
    "customer_churn" ->
      """WITH l AS (
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
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,
    // Mirrors Segmentation.supplierLeadTime: integer day diffs, the
    // scaled-integer average idiom, max.
    "supplier_lead_time" ->
      """SELECT l_suppkey, COUNT(*) AS n_lines,
        |  ROUND(CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE))) * 100 AS DOUBLE) / COUNT(*), 0)
        |    / 100.0 AS avg_lead_days,
        |  CAST(MAX(date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE))) AS BIGINT) AS max_lead_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    // Mirrors Sessionize.conversionLag: first signup, first purchase
    // at-or-after it; epoch-MICROS integers on both sides (timestamp
    // string rendering differs across engines on sub-second values).
    "events_conversion_lag" ->
      """WITH s AS (
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
        |ORDER BY s.user_id""".stripMargin,
    // Mirrors Sessionize.valueCdf: value-grain counts, per-type running
    // sum, cdf = one exact-integer double division (round 4).
    "events_value_cdf" ->
      """WITH g AS (
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
        |FROM c ORDER BY event_type, v""".stripMargin,
    // Mirrors TimeSeries.ohlcBars: open/close replayed via asc/desc
    // row_number windows (the definition the struct-min/max aggregate
    // optimizes); outputs are carried input values — no float math.
    "events_ohlc" ->
      """WITH b AS (
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
        |ORDER BY event_type, day""".stripMargin,
    // Mirrors Cdc.ordersDiffFeed: old = raw extract, new = the
    // compacted demo snapshot; the diff DEFINITION is replayed on
    // values (the Spark side's md5 digests are an equality device,
    // not semantics).
    "snapshot_diff" ->
      """WITH o AS (
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
        |ORDER BY o_orderkey""".stripMargin,
    // Mirrors Sessionize.anomalies: the 3-sigma cut as an exact integer
    // inequality — HUGEINT here, DECIMAL(38,0) on the Spark side.
    "events_anomaly" ->
      """WITH v AS (
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
        |ORDER BY event_id""".stripMargin,
    // Mirrors TextAnalysis.tfidfTop: rational idf (tf·N/df), top-3 per doc.
    "tfidf_topterms" ->
      """WITH tf AS (
        |  SELECT doc_id, t AS term, COUNT(*) AS tf
        |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, tf.term, tf, df,
        |    CAST(tf * n_docs AS DOUBLE) / df AS score
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term) AS rn FROM scored)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  ROUND(score, 4) AS score
        |FROM r WHERE rn <= 3 ORDER BY doc_id, score DESC, term""".stripMargin,
    // Mirrors Retrieval.keywordSearch: integer-scaled log-free tf·idf
    // (`//` is DuckDB's integral division, Spark's `div`), rank window
    // tie-broken by doc_id; the VALUES list and the IN list come from
    // the same SearchQueries literal the Spark side uses.
    "keyword_search" ->
      s"""WITH q(query_id, term) AS (VALUES $searchQueryValues),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM tok WHERE term IN ($searchQueryTermList)
         |       GROUP BY doc_id, term),
         |dfr AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |sc AS (SELECT q.query_id, tf.doc_id,
         |         CAST(SUM(tf.tf * ((n.n_docs * 1000000) // dfr.df)) AS BIGINT)
         |           AS score,
         |         CAST(COUNT(*) AS BIGINT) AS n_terms_matched
         |       FROM q JOIN tf ON q.term = tf.term
         |         JOIN dfr ON tf.term = dfr.term CROSS JOIN n
         |       GROUP BY q.query_id, tf.doc_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, doc_id) AS rn FROM sc)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |  CAST(rn AS BIGINT) AS rank, doc_id, score, n_terms_matched
         |FROM r WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin,
    // Mirrors Retrieval.phraseSearch: positional instance rows, each
    // matched posting proposes its implied phrase START (pos −
    // term_idx); a start is a real occurrence iff all phrase_len
    // DISTINCT slots vouch for the same (doc, anchor).
    "phrase_search" ->
      s"""WITH q(query_id, term, term_idx, phrase_len) AS
         |  (VALUES $phraseQueryValues),
         |t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |p AS (SELECT doc_id, tk[i] AS term, i - 1 AS pos
         |      FROM t, UNNEST(generate_series(1, len(tk))) AS g(i)
         |      WHERE tk[i] IN ($phraseQueryTermList)),
         |a AS (SELECT q.query_id, p.doc_id, p.pos - q.term_idx AS anchor,
         |        q.term_idx, q.phrase_len
         |      FROM p JOIN q ON p.term = q.term),
         |o AS (SELECT query_id, doc_id, anchor
         |      FROM a GROUP BY query_id, doc_id, anchor, phrase_len
         |      HAVING COUNT(DISTINCT term_idx) = phrase_len),
         |s AS (SELECT query_id, doc_id,
         |        CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |      FROM o GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY n_occurrences DESC, doc_id) AS rn FROM s)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |  CAST(rn AS BIGINT) AS rank, doc_id, n_occurrences
         |FROM r WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin,
    // Mirrors Sessionize.activityStreaks: gaps-and-islands, the island
    // key is day − row_number (constant within a consecutive run).
    "events_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |isl AS (
        |  SELECT user_id, d - CAST(row_number() OVER (
        |    PARTITION BY user_id ORDER BY d) AS INTEGER) AS island
        |  FROM days),
        |st AS (SELECT user_id, island, COUNT(*) AS len FROM isl GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_streaks, MAX(len) AS longest_streak,
        |  CAST(SUM(len) AS BIGINT) AS active_days
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Mirrors Sessionize.dauWau: distinct (day,user) exploded into the
    // 7 trailing-window days it serves, per-day distinct aggregate.
    "events_dau_wau" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |dau AS (SELECT d AS day, COUNT(*) AS dau FROM du GROUP BY 1),
        |c AS (SELECT d + CAST(i AS INTEGER) AS day, user_id
        |      FROM du, UNNEST(generate_series(0, 6)) AS g(i)),
        |wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau FROM c GROUP BY 1)
        |SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau,
        |  ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 4) AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,
    // Mirrors Sessionize.topEventPerUser: argmax row per user, ties to
    // the smallest event_id.
    "events_argmax" ->
      """WITH r AS (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_id, event_type, value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // Mirrors Sessionize.userGrowth: first-seen day per user, day-grain
    // new-user counts, running total (the prefix sum the Spark side
    // computes with the bucketed two-phase primitive).
    "user_growth" ->
      """WITH f AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS day
        |  FROM events GROUP BY user_id),
        |d AS (SELECT day, COUNT(*) AS new_users FROM f GROUP BY day)
        |SELECT CAST(day AS VARCHAR) AS day, new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cumulative_users
        |FROM d ORDER BY day""".stripMargin,
    // Mirrors Sessionize.robustOutliers (k=5): integer cents, two
    // exact medians (DuckDB median == sort-based interpolated
    // percentile), every compared quantity a dyadic rational.
    "events_robust_outliers" ->
      """WITH c AS (
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
        |WHERE dev > 5 * mad ORDER BY event_id""".stripMargin,
    // Mirrors Affinity.basketPairs (minSupport=2 — a fixed ABSOLUTE
    // threshold must stay low: the catalog grows with the corpus, so
    // per-pair support thins as both scale): distinct
    // (order, part) grain, per-order pair counts, lift = one double
    // division of exact integers, identically associated both sides.
    "basket_pairs" ->
      """WITH i AS (
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
        |WHERE support >= 2 ORDER BY part_a, part_b""".stripMargin,
    // Mirrors Sessionize.topPaths (k=3): first-3-event path per user
    // in (ts, event_id) order, counted.
    "events_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY user_id)
        |SELECT path, COUNT(*) AS n_users
        |FROM p GROUP BY path ORDER BY path""".stripMargin,
    // Mirrors Sessionize.transitions: per-user LAG sequence, counts +
    // row-normalized probability (one long/long division, round 4).
    "events_transitions" ->
      """WITH seq AS (
        |  SELECT event_type, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, event_type AS curr_type, COUNT(*) AS n
        |      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, SUM(n) AS tot FROM c GROUP BY 1)
        |SELECT c.prev_type, c.curr_type, c.n,
        |  ROUND(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 4) AS p
        |FROM c JOIN t USING (prev_type)
        |ORDER BY prev_type, curr_type""".stripMargin,
    // Mirrors TextAnalysis.ngramCounts (word trigrams, minCount=3):
    // (doc, gram) pre-aggregate, then instance-sum + doc COUNT.
    "ngram_lm" ->
      """WITH g AS (
        |  SELECT doc_id, tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |       UNNEST(generate_series(1, len(tk) - 2)) AS u(i)),
        |dg AS (SELECT doc_id, gram, COUNT(*) AS n FROM g GROUP BY 1, 2)
        |SELECT gram, CAST(SUM(n) AS BIGINT) AS n_instances, COUNT(*) AS n_docs
        |FROM dg GROUP BY gram HAVING SUM(n) >= 3 ORDER BY gram""".stripMargin,
    // Mirrors TextAnalysis.vocabCoverage (ks = 5, 10, 25): rank by
    // (freq DESC, word), cumulative token share at each k.
    "vocab_coverage" ->
      """WITH f AS (
        |  SELECT tok AS word, COUNT(*) AS n
        |  FROM documents, UNNEST(string_split(text, ' ')) AS s(tok) GROUP BY 1),
        |tot AS (SELECT SUM(n) AS total FROM f),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rank FROM f),
        |c AS (
        |  SELECT rank, SUM(n) OVER (ORDER BY rank
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM r WHERE rank <= 25)
        |SELECT CAST(rank AS BIGINT) AS top_k,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  ROUND(CAST(cum_tokens AS DOUBLE) / CAST(total AS DOUBLE), 6) AS coverage
        |FROM c, tot WHERE rank IN (5, 10, 25) ORDER BY top_k""".stripMargin,
    // Oracle for bloom_semi is the PLAIN semi-join — the bloom
    // pre-filter has no false negatives and the exact join removes its
    // false positives, so a hash match proves result-invisibility.
    "bloom_semi" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  ROUND(SUM(o_totalprice) * 100, 0) / 100.0 AS total_price
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Mirrors Segmentation.rfmSegments (asOf 1998-08-01): integer
    // metrics, dyadic quantile cuts (exactly representable doubles in
    // both engines), value-based bands.
    "customer_rfm" ->
      """WITH m AS (
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
        |FROM m, q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // Mirrors Similarity.semanticDedup: the embedding near-dup pairs
    // (hyperplane literals, same as dedup_embedding) closed transitively
    // by recursive CTE; drop list = members that are not their
    // component's min id.
    "semdedup" -> semdedupSqlAt(8, gateWidth),
    // Mirrors the revenue_by_nation star join: revenue accumulated in
    // exact cent·pct BIGINT units, one division at the end.
    "revenue_by_nation" ->
      """WITH li AS (
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
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    // Mirrors lineitem_yoy: monthly cents series, LAG partitioned by
    // month-of-year, one rounded division for the growth rate.
    "lineitem_yoy" ->
      """WITH m AS (
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
        |FROM l WHERE prev_c IS NOT NULL ORDER BY yr, mo""".stripMargin,
    // Mirrors Segmentation.paretoCoverage: rank by (spend DESC,
    // custkey), running cents total, min rank clearing each threshold.
    "orders_pareto" ->
      """WITH s AS (
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
        |ORDER BY threshold_pct""".stripMargin,
    // Mirrors Similarity.knnGraph: LSH candidate pairs at minCosine
    // 0.2, symmetrized, top-5 per vector by (rounded cosine DESC,
    // neighbor id).
    "knn_graph" -> knnGraphSqlAt(8, gateWidth),
    // Mirrors Corpus.paragraphDedup: chunk CTE (same as doc_chunk),
    // first-occurrence ownership in (doc_id, chunk_id) order, per-doc
    // duplicate-chunk profile.
    "paragraph_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (
        |  SELECT doc_id, CAST((i - 1) // 40 AS BIGINT) AS chunk_id,
        |    array_to_string(w[i:least(i + 49, len(w))], ' ') AS chunk_text
        |  FROM t, UNNEST(generate_series(1, greatest(len(w), 1), 40)) AS g(i)),
        |own AS (
        |  SELECT chunk_text, doc_id AS odoc, chunk_id AS ochunk
        |  FROM (SELECT chunk_text, doc_id, chunk_id, row_number() OVER (
        |          PARTITION BY chunk_text ORDER BY doc_id, chunk_id) AS rn
        |        FROM ch)
        |  WHERE rn = 1)
        |SELECT c.doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN o.odoc <> c.doc_id OR o.ochunk <> c.chunk_id
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        |  ROUND(CAST(SUM(CASE WHEN o.odoc <> c.doc_id OR o.ochunk <> c.chunk_id
        |       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS dup_ratio
        |FROM ch c JOIN own o USING (chunk_text)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    // Mirrors Similarity.labelAgreement: kNN edges at minCosine 0.2,
    // both endpoint labels joined in, per-vector agreement fraction.
    "label_noise" -> labelNoiseSqlAt(8, gateWidth),
    // Mirrors EventStream.slidingByType: 1h windows sliding 15min —
    // every event lands in exactly 4 epoch-aligned windows, replayed
    // here by exploding i in 0..3. make_timestamp(micros) builds a
    // NAIVE timestamp straight from the epoch — unlike
    // CAST(to_timestamp(..) AS TIMESTAMP), which renders through the
    // DuckDB session TZ and only matched because both engines ran UTC.
    "events_sliding" ->
      """WITH e AS (
        |  SELECT make_timestamp(CAST((FLOOR(epoch(ts) / 900) * 900 - i * 900)
        |           * 1000000 AS BIGINT)) AS win_start,
        |    event_type, value
        |  FROM events, UNNEST(generate_series(0, 3)) AS u(i))
        |SELECT CAST(win_start AS VARCHAR) AS win_start, event_type,
        |  COUNT(*) AS n_events, ROUND(SUM(value) * 100, 0) / 100.0 AS total_value
        |FROM e GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    // Mirrors Sessionize.propsBreakdown; the JSON field is replayed
    // with a regex so the check is independent of JSON machinery.
    "events_props_parse" ->
      """WITH k AS (
        |  SELECT CAST(regexp_extract(props, '[0-9]+') AS INTEGER) AS k, value
        |  FROM events)
        |SELECT CAST(FLOOR(k / 10) AS BIGINT) AS k_band, COUNT(*) AS n_events,
        |  MIN(k) AS min_k, MAX(k) AS max_k,
        |  ROUND(SUM(value) * 100, 0) / 100.0 AS total_value
        |FROM k GROUP BY 1 ORDER BY k_band""".stripMargin,
    // Mirrors TextAnalysis.normalize: canonical form + stopword strip,
    // token filter replayed with a list lambda, md5 must agree.
    "doc_normalize" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |      AS n_tokens_raw,
        |    list_filter(
        |      string_split(trim(regexp_replace(regexp_replace(lower(text),
        |        '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '),
        |      t -> t NOT IN ('the', 'a', 'of', 'and', 'to')) AS kept
        |  FROM documents)
        |SELECT doc_id, n_tokens_raw,
        |  CAST(len(kept) AS BIGINT) AS n_tokens_norm,
        |  md5(array_to_string(kept, ' ')) AS norm_md5
        |FROM c ORDER BY doc_id""".stripMargin,
    // Oracle for Incremental.mergedMonthlyOrders: the DIRECT recompute
    // over the same coverage — merge(state, delta) must hash-equal it.
    "agg_incremental_merge" ->
      """SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month,
        |  o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS total_price
        |FROM orders
        |WHERE o_orderdate < TIMESTAMP '1998-06-16 00:00:00'
        |GROUP BY 1, 2 ORDER BY month, o_orderstatus""".stripMargin,
  )
}
