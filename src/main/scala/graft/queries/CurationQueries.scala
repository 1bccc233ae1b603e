package graft.queries

import graft.core.Tables
import graft.operators.{Corpus, Multimodal, Sampling, TextAnalysis}
import graft.queries.QuerySpec.{by, sql}
import graft.queries.TextQueries.{langIdBody, textQualityBody}
import org.apache.spark.sql.functions._

/** Training-data curation: quality gates and the pipeline funnel,
  * source profiles, mixture sampling and weighting, sharding and
  * splits, decontamination and novelty, multimodal payloads.
  */
object CurationQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    // cross-source contamination matrix (Corpus.sourceOverlap): which
    // sources share verbatim 8-gram passages — the mixing-weight
    // diagnostic; per-gram fan-out bounded by the source label set
    QuerySpec("source_overlap", (s, d) => Corpus.sourceOverlap(Tables(s, d, "documents")),
      // Mirrors Corpus.sourceOverlap (8-grams): per-source distinct gram
      // keys, per-gram source self-join, pair counts. md5 agrees between
      // engines, so keys match Spark's 16-byte shuffle keys exactly.
      sql({
      val gram8 = (0 until 8).map(j => s"tk[i + $j]").mkString(" || ' ' || ")
      s"""WITH sh AS (
         |  SELECT DISTINCT source, md5($gram8) AS k
         |  FROM (SELECT source, string_split(text, ' ') AS tk FROM documents),
         |       UNNEST(generate_series(1, len(tk) - 7)) AS u(i))
         |SELECT a.source AS source_a, b.source AS source_b,
         |  COUNT(*) AS n_shared_grams
         |FROM sh a JOIN sh b ON a.k = b.k AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    })),
    QuerySpec("decontaminate", (s, d) => Corpus.decontaminate(Tables(s, d, "documents")),
      // Mirrors Corpus.decontaminate (md5-nibble split, word 8-grams,
      // gram semi-join → anti-join): the clean train doc_ids.
      sql({
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
    }),
      sortKeys = by("doc_id")),
    // --- multimodal plumbing (SURVEY.md §2) ---
    QuerySpec("multimodal_extract", (s, d) => Multimodal.extract(s, Tables(s, d, "documents")),
      sql("""SELECT doc_id,
        |  ['png','jpg','wav'][CAST(doc_id % 3 AS INT) + 1] AS format,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  64 + CAST(octet_length(encode(text)) AS BIGINT) % 448 AS width,
        |  64 + (CAST(octet_length(encode(text)) AS BIGINT) * 7) % 448 AS height,
        |  1 + doc_id % 30 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin),
      sortKeys = by("doc_id")),
    QuerySpec("multimodal_frames", (s, d) => Multimodal.frameSample(Tables(s, d, "documents")),
      // Mirrors Multimodal.frameSample (stride 5): the text IS the payload
      // (ascii → byte slicing == char slicing), so md5 over string slices
      // equals Spark's md5 over the binary slices.
      sql("""WITH p AS (
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
        |ORDER BY doc_id, frame_idx""".stripMargin),
      sortKeys = by("doc_id", "frame_idx")),
    QuerySpec("multimodal_dedup", (s, d) => Multimodal.payloadDedup(Tables(s, d, "documents")),
      // Mirrors Multimodal.payloadDedup: per-format exact dedup by
      // payload md5 (UTF-8 payload bytes ⇒ md5(text) is the same hash).
      sql("""SELECT ['png','jpg','wav'][CAST(doc_id % 3 AS INT) + 1] AS format,
        |  md5(text) AS content_hash,
        |  MIN(doc_id) AS keeper_doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY 1, 2 ORDER BY format, content_hash""".stripMargin),
      sortKeys = by("format", "content_hash")),
    QuerySpec("multimodal_resize", (s, d) => Multimodal.resizePlan(Tables(s, d, "documents")),
      // Mirrors Multimodal.resizePlan (box 224): same stub geometry as
      // multimodal_extract, fit-in-box via integral DIV (// here), byte
      // estimate scaled by the pixel ratio, md5 over the estimated-size
      // prefix (ascii text ⇒ char slices == byte slices, as in
      // multimodal_frames).
      sql("""WITH p AS (
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
        |FROM t ORDER BY doc_id""".stripMargin),
      sortKeys = by("doc_id")),
    // --- corpus pipelines (SURVEY.md §2) ---
    QuerySpec("sample_source_quota", (s, d) => Sampling.sourceQuota(Tables(s, d, "documents")),
      // Mirrors Sampling.sourceQuota (k=10): per-source top-k by content
      // hash (md5 hex strings compare identically in both engines).
      sql("""SELECT source, CAST(rk AS BIGINT) AS rank, doc_id FROM (
        |  SELECT source, doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY source ORDER BY md5(text), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 10 ORDER BY source, rank""".stripMargin)),
    QuerySpec("sample_mixture", (s, d) => Sampling.mixture(Tables(s, d, "documents"),
      MixtureRates),
      // Mirrors Sampling.mixture: uniform draw = first 8 md5 hex chars /
      // 2^32 (exact: a <2^32 integer divided by a power of two), rates
      // are dyadic literals shared with the Spark side via MixtureRates.
      sql({
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
    })),
    QuerySpec("sample_epochs", (s, d) => Sampling.epochMix(Tables(s, d, "documents"),
      EpochWeights),
      // Mirrors Sampling.epochMix: same uniform draw, dyadic epoch
      // weights, floor(w) copies + 1 iff u < frac(w), copies exploded.
      sql({
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
    }),
      sortKeys = by("doc_id", "copy")),
    // temperature rebalancing at α=1/2: rate = sqrt(n_min/n_s) — both
    // ops correctly rounded under IEEE, so the float policy replays
    QuerySpec("sample_temperature", (s, d) =>
      Sampling.temperature(Tables(s, d, "documents")),
      // Mirrors Sampling.temperature (α=1/2): per-source counts, rate =
      // sqrt(n_min/n) — divide and sqrt are correctly rounded in both
      // engines — same content-hash uniform accept as sample_mixture.
      sql("""WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
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
        |ORDER BY r.source""".stripMargin)),
    // mixture-weight SOLVER: largest char budget the corpus can honour
    // under the target shares + upsampling cap, and the weight per
    // source that realises it (the feasibility check a hand-written
    // mixing table skips)
    QuerySpec("mixture_weights", (s, d) => Sampling.mixtureWeights(
      Tables(s, d, "documents"), MixtureTargets, cap = 4.0),
      // Mirrors Sampling.mixtureWeights: N* = min(cap·chars/p) over the
      // targeted sources, weight = N*·p/chars — dyadic shares and cap,
      // so min and both divides are single correctly-rounded IEEE ops.
      sql({
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
    })),
    QuerySpec("shard_pack", (s, d) => Sampling.shardPack(Tables(s, d, "documents")),
      // Mirrors Sampling.shardPack (budget 4096): exclusive prefix-sum of
      // token counts in doc_id order, integer-div'd into shard ids.
      sql("""WITH t AS (
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
        |FROM c GROUP BY 1 ORDER BY shard""".stripMargin)),
    QuerySpec("train_test_split", (s, d) => Corpus.trainTestSplit(Tables(s, d, "documents")),
      // Mirrors Corpus.trainTestSplit: md5 last-nibble split (13/16 train),
      // stratified by token-length band.
      sql("""WITH b AS (
        |  SELECT CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS nt,
        |    CASE WHEN ascii(substr(md5(text), 32, 1)) <= 57
        |         THEN ascii(substr(md5(text), 32, 1)) - 48
        |         ELSE ascii(substr(md5(text), 32, 1)) - 87 END AS nib
        |  FROM documents)
        |SELECT CASE WHEN nt <= 60 THEN 'short' WHEN nt <= 120 THEN 'medium'
        |         ELSE 'long' END AS stratum,
        |  CASE WHEN nib < 13 THEN 'train' ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS total_tokens
        |FROM b GROUP BY 1, 2 ORDER BY stratum, split""".stripMargin)),
    // deterministic k-fold CV assignment profile (content-hash folds)
    QuerySpec("cv_folds", (s, d) => Corpus.cvFolds(Tables(s, d, "documents")),
      // Mirrors Corpus.cvFolds: fold = first 32 md5 bits mod 5 (the
      // sample_mixture hex-parse idiom), per-fold balance profile.
      sql("""WITH f AS (
        |  SELECT (('0x' || substr(md5(text), 1, 8))::BIGINT % 5) AS fold,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |      AS nt,
        |    source
        |  FROM documents)
        |SELECT fold, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |FROM f GROUP BY fold ORDER BY fold""".stripMargin)),
    QuerySpec("quality_filter", (s, d) => Corpus.qualityFilter(Tables(s, d, "documents")),
      // Mirrors Corpus.qualityFilter: en + score floor + exact-dup keeper.
      sql(s"""SELECT q.doc_id, q.n_tokens, q.quality_score, l.predicted_lang
         |FROM ($textQualityBody) q
         |JOIN ($langIdBody) l ON q.doc_id = l.doc_id
         |JOIN (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
         |  ON q.doc_id = k.doc_id
         |WHERE l.predicted_lang = 'en' AND q.quality_score >= 0.5
         |ORDER BY q.doc_id""".stripMargin),
      sortKeys = by("doc_id")),
    QuerySpec("gopher_gate", (s, d) => Corpus.gopherGate(Tables(s, d, "documents")),
      // Mirrors Corpus.gopherGate: the full Gopher rulebook — length
      // bounds, mean word length, symbol ratio, quality floor, lang,
      // repetition caps — over the quality/lang fragments plus the
      // doc_repetition 3-gram CTEs (same rounding), survivors with
      // their signals.
      sql(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
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
         |ORDER BY doc_id""".stripMargin),
      sortKeys = by("doc_id")),
    // one-row funnel over the whole prep pipeline: raw -> exact-unique
    // -> predicted-en -> full quality gate (each stage one aggregate;
    // 1-row frames cross-joined, all broadcast)
    QuerySpec("pipeline_summary", (s, d) => {
      val docs = Tables(s, d, "documents")
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(docs.agg(count_distinct(md5(col("text"))).as("n_exact_unique")))
        .crossJoin(docs
          .filter(TextAnalysis.predictedLangExpr(col("text")) === "en")
          .agg(count(lit(1)).as("n_predicted_en")))
        .crossJoin(Corpus.qualityFilter(docs)
          .agg(count(lit(1)).as("n_pass_quality_gate")))
    },
      // Mirrors the pipeline_summary funnel (scalar-subquery composition
      // of the lang/quality/keeper fragments).
      sql(s"""SELECT
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
         |    AS n_pass_quality_gate""".stripMargin)),
    QuerySpec("doc_novelty", (s, d) => Corpus.noveltyScore(Tables(s, d, "documents")),
      // Mirrors Corpus.noveltyScore: corpus-wide bigram instance support,
      // per-doc rare-instance rate. Integer counts + one end division.
      sql("""WITH inst AS (
        |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |       UNNEST(generate_series(1, len(w) - 1)) AS g(i)),
        |sup AS (SELECT bg, COUNT(*) AS sup FROM inst GROUP BY bg)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CASE WHEN sup <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  ROUND(CAST(SUM(CASE WHEN sup <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 4) AS rare_rate
        |FROM inst JOIN sup USING (bg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      sortKeys = by("doc_id")),
    // per-source curation dashboard: doc/token counts, mean quality
    // (scores scaled to 10^-6 integers BEFORE the cross-doc sum — a
    // double sum is partition-order-dependent), English share
    QuerySpec("source_quality_profile", (s, d) => {
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
    },
      // Mirrors source_quality_profile: the quality/lang doc-grain
      // fragments re-aggregated at source grain; scores scaled to
      // integers before summing (identical association both sides).
      sql(s"""WITH q AS ($textQualityBody), l AS ($langIdBody)
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens,
         |  ROUND(CAST(SUM(CAST(ROUND(q.quality_score * 1000000, 0) AS BIGINT))
         |      AS DOUBLE) / COUNT(*) / 1000000.0, 4) AS avg_quality,
         |  CAST(SUM(CASE WHEN l.predicted_lang = 'en' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_en
         |FROM documents d
         |  JOIN q ON d.doc_id = q.doc_id
         |  JOIN l ON d.doc_id = l.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin)))

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
}
