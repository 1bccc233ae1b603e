package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: quality scoring,
  * token counting, language ID, fingerprinting. All pure per-row
  * expressions (one parquet scan, zero shuffles until the final sort),
  * which is exactly what you want when the corpus is 100 TB: these run at
  * scan speed inside WholeStageCodegen.
  */
object TextAnalysis {

  /** Stopword markers per language for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny — the operator contract is the scoring
    * mechanism, not lexicon quality.
    */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "les", "des", "une", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist"))

  private def markerCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*))).cast("long")

  /** All four languages' marker-instance counts in ONE text pass —
    * the native [[graft.functions.MarkerCounts]] kernel (the HOF
    * [[markerCount]] above is the spec-checked reference form; each
    * HOF call is CodegenFallback and re-walks the token array, which
    * held the whole gate/quality/lang projection out of whole-stage
    * codegen). Index with element_at (1-based, [[Markers]] order).
    */
  private def markerCountsAll(text: Column): Column =
    GraftFunctions.markerCounts(text, Markers.map(_._2))

  /** The bounded composite quality score — the one formula
    * [[qualityScoreExpr]], [[withGateSignals]] and [[quality]] share.
    */
  private def compositeScore(nTokens: Column, punctRatio: Column,
                             stopRatio: Column): Column =
    least(nTokens.cast("double") / 100.0, lit(1.0)) * 0.4 +
      (lit(1.0) - punctRatio) * 0.3 +
      least(stopRatio * 5.0, lit(1.0)) * 0.3

  /** Argmax over per-language marker counts (in [[Markers]] order)
    * with a fixed priority on ties (en > es > fr > de); no marker at
    * all → "und" — the one rule [[predictedLangExpr]],
    * [[withGateSignals]] and [[langId]] share.
    */
  private def langArgmax(scores: Seq[Column]): Column = {
    val Seq(en, es, fr, de) = scores
    when(en >= es && en >= fr && en >= de && en > 0, "en")
      .when(es >= fr && es >= de && es > 0, "es")
      .when(fr >= de && fr > 0, "fr")
      .when(de > 0, "de")
      .otherwise("und")
  }

  // -- reusable per-row expression builders (shared by the standalone
  //    queries and by pipeline compositions like Corpus.qualityFilter,
  //    so composed pipelines stay ONE scan instead of joining three) --

  /** Whitespace token count (single-space corpora; oracle-parity form). */
  def nTokensExpr(text: Column): Column =
    (length(text) - length(regexp_replace(text, " ", "")) + 1).cast("long")

  /** Composite quality score — same formula as [[quality]]. */
  def qualityScoreExpr(text: Column): Column = {
    val seg = TextOps.segmentIfUnspaced(text)
    val nChars = length(text).cast("long")
    val nTokens = nTokensExpr(seg)
    val punctRatio = length(regexp_replace(text, "[a-z ]", "")).cast("double") / nChars
    val stopRatio = element_at(markerCountsAll(seg), 1)
      .cast("double") / nTokens
    compositeScore(nTokens, punctRatio, stopRatio)
  }

  /** Argmax language pick with fixed priority — same rule as [[langId]]. */
  def predictedLangExpr(text: Column): Column = {
    val mc = markerCountsAll(TextOps.segmentIfUnspaced(text))
    langArgmax(Markers.indices.map(i => element_at(mc, i + 1)))
  }

  /** Every per-row gate signal in ONE projection over the scan — the
    * bundle [[graft.operators.Corpus.gopherGate]] thresholds. Tokens
    * split once into an attribute (five marker scorers share it),
    * repetition stats from the native single-pass kernel; the
    * length/quality/lang arithmetic is expression-identical to
    * [[quality]], [[langId]] and [[repetition]] so a composed gate
    * hash-agrees with the standalone queries' oracles.
    */
  def gateSignals(docs: DataFrame, n: Int = 3): DataFrame =
    withGateSignals(docs, n).select(col("doc_id") +:
      GateSignalNames.map(s => col(s"__gs_$s").as(s)): _*)

  /** The signal columns [[withGateSignals]] attaches (under a `__gs_`
    * prefix so they can never collide with input columns — the
    * documents table itself carries an `n_chars`).
    */
  val GateSignalNames: Seq[String] = Seq("n_chars", "n_tokens",
    "avg_token_len", "punct_ratio", "stopword_ratio", "quality_score",
    "predicted_lang", "repetition_ratio", "top_ngram_ratio")

  /** [[gateSignals]] ATTACHED to the input rows: every original column
    * kept, signals added as `__gs_<name>` — the row-preserving form
    * pipeline composition needs
    * ([[graft.operators.Corpus.gopherGateKeep]] filters on these and
    * drops them), since a mid-pipeline gate must neither require a doc
    * identity to join signals back nor lose non-signal columns.
    * [[gateSignals]] is exactly this plus a projection, so the
    * composed and standalone forms cannot drift.
    */
  def withGateSignals(docs: DataFrame, n: Int = 3): DataFrame = {
    val text = col("text")
    // script-aware segmentation staged ONCE: every token-derived
    // signal reads __seg (identity on space-delimited text, char
    // trigrams on unsegmented scripts); n_chars / punct stay on the
    // raw text — they measure the document, not its tokenization
    val staged = docs
      .withColumn("__seg", TextOps.segmentIfUnspaced(text))
      .withColumn("__mc", markerCountsAll(col("__seg")))
      .withColumn("__gs_n_chars", length(text).cast("long"))
      .withColumn("__gs_n_tokens", nTokensExpr(col("__seg")))
      .withColumn("__punct",
        length(regexp_replace(text, "[a-z ]", "")).cast("long"))
      .withColumn("__st", GraftFunctions.repetitionStats(col("__seg"), n))
    val withMarkers = Markers.zipWithIndex.foldLeft(staged) {
      case (d, ((l, _), i)) =>
        d.withColumn(s"__score_$l", element_at(col("__mc"), i + 1))
    }
    val punctRatio = col("__punct").cast("double") / col("__gs_n_chars")
    val stopRatio = col("__score_en").cast("double") / col("__gs_n_tokens")
    withMarkers
      .withColumn("__gs_avg_token_len",
        (length(col("__seg")) - col("__gs_n_tokens") + 1).cast("double") /
          col("__gs_n_tokens"))
      .withColumn("__gs_punct_ratio", punctRatio)
      .withColumn("__gs_stopword_ratio", stopRatio)
      .withColumn("__gs_quality_score",
        compositeScore(col("__gs_n_tokens"), punctRatio, stopRatio))
      .withColumn("__gs_predicted_lang",
        langArgmax(Markers.map { case (l, _) => col(s"__score_$l") }))
      .withColumn("__gs_repetition_ratio",
        when(col("__st.total_ngrams") === 0, 0.0)
          .otherwise(round(lit(1.0) - col("__st.distinct_ngrams").cast("double") /
            col("__st.total_ngrams"), 4)))
      .withColumn("__gs_top_ngram_ratio",
        when(col("__st.total_ngrams") === 0, 0.0)
          .otherwise(round(col("__st.top_ngram_freq").cast("double") /
            col("__st.total_ngrams"), 4)))
      .drop("__seg" +: "__mc" +: "__punct" +: "__st" +:
        Markers.map { case (l, _) => s"__score_$l" }: _*)
  }

  /** Language ID: count stopword markers per language, argmax with a
    * fixed priority order (en > es > fr > de) on ties; no marker at all
    * → "und" (undetermined).
    */
  def langId(docs: DataFrame): DataFrame = {
    // project tokens to an attribute so the text is split once per row,
    // not once per language scorer
    val scored = docs
      .select(col("doc_id"),
        markerCountsAll(TextOps.segmentIfUnspaced(col("text"))).as("mc"))
      .select(
        (col("doc_id") +: Markers.zipWithIndex.map { case ((l, _), i) =>
          element_at(col("mc"), i + 1).as(s"score_$l") }): _*)
    scored.withColumn("predicted_lang",
      langArgmax(Markers.map { case (l, _) => col(s"score_$l") }))
  }

  /** Quality scoring: token count, average token length, punctuation
    * ratio, stopword ratio, and a bounded composite score. Formulas are
    * deliberately arithmetic-only so the DuckDB oracle reproduces them
    * bit-for-bit (SURVEY.md §5).
    */
  def quality(docs: DataFrame): DataFrame = {
    val text = col("text")
    val seg = TextOps.segmentIfUnspaced(text)
    val nChars = length(text).cast("long")
    // single-space corpora: tokens = spaces + 1 (oracle-parity
    // arithmetic, over the script-aware segmentation — identity on
    // space-delimited text)
    val nTokens =
      (length(seg) - length(regexp_replace(seg, " ", "")) + 1).cast("long")
    val alphaSpace = length(regexp_replace(text, "[a-z ]", "")).cast("long")
    val stopHits = element_at(markerCountsAll(seg), 1)
    docs.select(col("doc_id"), nChars.as("n_chars"), nTokens.as("n_tokens"),
        (alphaSpace.cast("double") / nChars).as("punct_ratio"),
        (stopHits.cast("double") / nTokens).as("stopword_ratio"),
        ((length(seg) - nTokens + 1).cast("double") / nTokens)
          .as("avg_token_len"))
      .withColumn("quality_score", compositeScore(col("n_tokens"),
        col("punct_ratio"), col("stopword_ratio")))
  }

  /** Token counting three ways: whitespace tokens, BPE-ish regex tokens
    * (letter runs / digit runs / single other-punct), and the ~4-chars
    * -per-token subword estimate used for LLM budgeting.
    */
  def tokenCount(docs: DataFrame): DataFrame = {
    val text = col("text")
    val seg = TextOps.segmentIfUnspaced(text)
    // script-aware: trigram pseudo-tokens on unsegmented scripts;
    // arithmetic identical to the raw form on space-delimited text
    val wsTokens =
      (length(seg) - length(regexp_replace(seg, " ", "")) + 1).cast("long")
    val bpeIsh = size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
      .cast("long")
    // chars net of spaces — equals nChars - wsTokens + 1 on
    // space-delimited text, the true char count on unsegmented
    val subwordEst =
      ceil(length(translate(text, " ", "")).cast("double") / 4.0).cast("long")
    docs.select(col("doc_id"), wsTokens.as("ws_tokens"), bpeIsh.as("bpe_tokens"),
      subwordEst.as("subword_est"))
  }

  /** Collocation extraction for vocabulary prep: top-k bigrams by
    * lift P(ab) / (P(a)·P(b)) — pointwise mutual information without
    * the log, so the score stays a pure ratio of exact counts and the
    * oracle replays it bit-for-bit (see SURVEY.md §4 on avoiding
    * transcendentals in hash-compared output). `minCount` guards the
    * classic PMI rare-pair instability.
    *
    * Scale shape: two corpus-scan aggregates (unigrams, bigrams — the
    * bigram explode uses the shingle kernel with duplicates kept), the
    * 1-row totals broadcast, and the unigram joins shuffle only the
    * bigram-vocabulary-sized count table, never the corpus.
    */
  def bigramLift(docs: DataFrame, minCount: Long = 5, k: Int = 20): DataFrame = {
    val toks = docs.select(
      explode(TextOps.tokensScriptAware(col("text"))).as("tok"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val n1 = toks.agg(count(lit(1)).as("n1"))
    val bi = docs.select(explode(
      GraftFunctions.wordShingles(TextOps.segmentIfUnspaced(col("text")), 2,
        keepDuplicates = true))
      .as("bigram"))
    val biCounts = bi.groupBy("bigram").agg(count(lit(1)).as("n_pair"))
      .withColumn("tok_a", split(col("bigram"), " ").getItem(0))
      .withColumn("tok_b", split(col("bigram"), " ").getItem(1))
    val n2 = bi.agg(count(lit(1)).as("n2"))
    biCounts.filter(col("n_pair") >= minCount)
      .join(uni.select(col("tok").as("tok_a"), col("c").as("c_a")), "tok_a")
      .join(uni.select(col("tok").as("tok_b"), col("c").as("c_b")), "tok_b")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("bigram"), col("n_pair"),
        round((col("n_pair").cast("double") / col("n2")) /
          ((col("c_a").cast("double") / col("n1")) *
            (col("c_b").cast("double") / col("n1"))), 4).as("lift"))
      .orderBy(col("lift").desc, col("bigram")).limit(k)
  }

  /** Gopher-style repetition signals per document: n-gram totals,
    * distincts, top-n-gram dominance, and the derived ratios. One
    * native pass ([[graft.functions.RepetitionStats]]) where the
    * declarative form would shuffle the n-gram table twice.
    */
  def repetition(docs: DataFrame, n: Int = 3): DataFrame = {
    val st = GraftFunctions.repetitionStats(col("text"), n)
    docs.select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st.total_ngrams").as("total_ngrams"),
        col("st.distinct_ngrams").as("distinct_ngrams"),
        col("st.top_ngram_freq").as("top_ngram_freq"),
        when(col("st.total_ngrams") === 0, 0.0)
          .otherwise(round(lit(1.0) - col("st.distinct_ngrams").cast("double") /
            col("st.total_ngrams"), 4)).as("repetition_ratio"),
        when(col("st.total_ngrams") === 0, 0.0)
          .otherwise(round(col("st.top_ngram_freq").cast("double") /
            col("st.total_ngrams"), 4)).as("top_ngram_ratio"))
  }

  /** Winnowing-style document fingerprint via the native
    * [[graft.functions.RollingFingerprint]] codegen expression.
    */
  def fingerprint(docs: DataFrame, window: Int = 64): DataFrame =
    docs.select(col("doc_id"),
      GraftFunctions.rollingFingerprint(col("text"), window).as("fingerprint"))

  /** Corpus vocabulary top-k by term frequency (BPE/vocab prep).
    *
    * Scale shape: explode → one shuffle on the token with partial
    * aggregation (the exchange carries per-partition term counts, not
    * the token stream), then TakeOrderedAndProject for the top-k — no
    * global sort. Ties broken by token for determinism.
    */
  def vocabTopK(docs: DataFrame, k: Int = 100): DataFrame =
    docs.select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("term_freq"))
      .orderBy(col("term_freq").desc, col("token"))
      .limit(k)

  /** Language-model n-gram count table (KenLM-style prep): word
    * n-grams with instance and document counts, pruned to
    * `minCount`+ instances — the distributed reduction an n-gram LM
    * trainer consumes.
    *
    * Scale shape: two partial-aggregating shuffles, no Expand — the
    * (doc, gram) pre-aggregate collapses within-doc repeats first, so
    * the gram-level pass computes the doc frequency as a plain COUNT
    * (never a count-distinct over the instance stream). The minCount
    * prune bounds the output the way tokenizer/LM pipelines do.
    */
  def ngramCounts(docs: DataFrame, n: Int = 3, minCount: Long = 3): DataFrame =
    docs
      .select(col("doc_id"),
        explode(GraftFunctions.wordShingles(
          TextOps.segmentIfUnspaced(col("text")), n,
          keepDuplicates = true)).as("gram"))
      .groupBy("doc_id", "gram")
      .agg(count(lit(1)).as("__in_doc"))
      .groupBy("gram")
      .agg(sum("__in_doc").as("n_instances"), count(lit(1)).as("n_docs"))
      .filter(col("n_instances") >= minCount)

  /** CCNet-style LM quality score: mean negative log-probability of a
    * doc's word n-gram instances under the count LM from
    * [[ngramCounts]], add-one smoothed — `-mean(ln((c+1)/(T+V)))`
    * with T = total LM instances, V = LM vocabulary size; unseen
    * grams pay the `ln(1/(T+V))` floor. Lower = more fluent under the
    * reference corpus; the standard wiki-LM filter signal.
    *
    * Scale shape: doc grams explode at the scan and hash-join the
    * minCount-pruned LM on `gram` (Spark broadcasts it when small);
    * T and V ride a 1-row broadcast cross join; one per-doc aggregate.
    * No windows, no driver collect. Docs shorter than n words have no
    * grams and score NULL (n_grams = 0) — filterable, never a silent 0.
    */
  def lmScore(docs: DataFrame, lm: DataFrame, n: Int = 3): DataFrame = {
    val totals = lm.agg(sum("n_instances").as("__t"),
      count(lit(1)).as("__v"))
    docs
      .select(col("doc_id"),
        explode_outer(GraftFunctions.wordShingles(
          TextOps.segmentIfUnspaced(col("text")), n,
          keepDuplicates = true)).as("gram"))
      .join(lm.select(col("gram"), col("n_instances")), Seq("gram"), "left")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(count(col("gram")).as("n_grams"),
        (-avg(when(col("gram").isNotNull,
          log((coalesce(col("n_instances"), lit(0L)) + 1).cast("double") /
            (col("__t") + col("__v")).cast("double"))))).as("lm_score"))
  }

  /** Head/middle/tail buckets over an already-scored frame (the
    * [[lmScore]] output schema). The scores feed BOTH the cuts
    * aggregate and the final bucketing. Tercile cuts come from a deterministic
    * fixed-size bottom-k avalanche-hash sample of doc scores
    * (fixed-fraction aggregate state — the [[Sessionize.winsorize]]
    * shape, NOT an exact percentile over every doc), broadcast back
    * as a 1-row bound pair; a sample too small to land a row degrades
    * to min/max cuts (the tail bucket empties), never NULL buckets.
    * Docs with no grams bucket as `unscored`.
    */
  private def bucketsFromScores(scored: DataFrame,
                                k: Int = Sketches.QsK): DataFrame = {
    // tercile cuts from the FIXED-SIZE bottom-k sample (the
    // Sketches.quantileSketch order, global grain → TakeOrdered, no
    // window): state k rows however large the corpus — replaced the
    // fixed-fraction 1/`sampleMod` hash sample whose state still grew
    // with the data; ≤ k scored docs degrade to exact terciles, so no
    // min/max rescue path exists to get wrong
    val cuts = scored.filter(col("lm_score").isNotNull)
      .select(col("lm_score"), Sketches.qsRank(col("doc_id")).as("__qh"),
        col("doc_id").as("__qid"))
      .orderBy(col("__qh"), col("__qid")).limit(k)
      .agg(percentile(col("lm_score"), lit(1.0 / 3)).as("__c1"),
        percentile(col("lm_score"), lit(2.0 / 3)).as("__c2"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_grams"), col("lm_score"),
        when(col("lm_score").isNull, "unscored")
          .when(col("lm_score") <= col("__c1"), "head")
          .when(col("lm_score") <= col("__c2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** [[lmScore]] + [[bucketsFromScores]] in one call — the CCNet
    * partition that keeps `head` for training, samples `middle`,
    * drops `tail`. Convenience form: the unpersisted scored lineage
    * executes once per consumer (cuts + bucketing).
    */
  def perplexityBuckets(docs: DataFrame, lm: DataFrame, n: Int = 3,
                        k: Int = Sketches.QsK): DataFrame =
    bucketsFromScores(lmScore(docs, lm, n), k)

  /** Vocabulary coverage curve: what fraction of all corpus token
    * instances the top-k most frequent words cover, for each requested
    * k — the tokenizer-budget planning metric.
    *
    * Scale shape: one token shuffle for the frequency table, ranked by
    * [[graft.etl.StarSchema.globalRank]] (no unpartitioned window over
    * a possibly-billion-word vocabulary), then the cumulative sums at
    * each k come from ONE conditional aggregate over the `rank ≤
    * max(ks)` cut — no WindowExec anywhere in the plan, not even a
    * constant-bounded one. ks above the vocabulary size are dropped
    * (no rank-k word exists to anchor them). Coverage is one long/long
    * division, rounded once.
    */
  def vocabCoverage(docs: DataFrame, ks: Seq[Int] = Seq(5, 10, 25)): DataFrame = {
    val freqs = docs.select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val total = freqs.agg(sum("n").as("__total"))
    val ranked = graft.etl.StarSchema
      .globalRank(freqs.withColumn("__neg", -col("n")), Seq("__neg", "word"), "rank")
      .filter(col("rank") <= ks.max.toLong)
    val sortedKs = ks.sorted
    val cums = sortedKs.map(k =>
      sum(when(col("rank") <= k, col("n"))).as(s"__cum_$k")) :+
      max(col("rank")).as("__max_rank")
    val stackExpr = s"stack(${sortedKs.size}, " +
      sortedKs.map(k => s"${k}L, __cum_$k").mkString(", ") + ") AS (top_k, cum_tokens)"
    ranked.agg(cums.head, cums.tail: _*)
      .select(col("__max_rank"), expr(stackExpr))
      .filter(col("top_k") <= col("__max_rank"))
      .crossJoin(broadcast(total))
      .select(col("top_k"), col("cum_tokens"),
        round(col("cum_tokens").cast("double") / col("__total"), 6).as("coverage"))
      .orderBy("top_k")
  }

  /** One-row corpus profile: document count, token totals, length
    * moments, distinct-vocabulary size. Two single-row aggregates
    * (length moments over the doc scan; exact count-distinct over the
    * exploded token stream) combined with a 1×1 cross join. The average
    * is a bare long→double IEEE division — identical in every engine,
    * no rounding step to disagree on.
    */
  def corpusStats(docs: DataFrame): DataFrame = {
    val text = col("text")
    val nChars = length(text).cast("long")
    val nTokens = (nChars - length(regexp_replace(text, " ", "")) + 1).cast("long")
    val base = docs.select(nTokens.as("n_tokens")).agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("total_tokens"),
      min("n_tokens").as("min_doc_tokens"),
      max("n_tokens").as("max_doc_tokens"),
      (sum("n_tokens").cast("double") / count(lit(1))).as("avg_doc_tokens"))
    val vocab = docs.select(explode(TextOps.tokens(text)).as("token"))
      .agg(count_distinct(col("token")).as("vocab_size"))
    base.crossJoin(vocab)
  }

  /** Corpus normalization: lowercase, strip non-alphanumerics, collapse
    * whitespace, drop stopwords — the canonical-form pass that runs
    * before dedup/fingerprinting so cosmetic variants hash identically.
    * Pure per-row expressions (scan-speed, zero shuffles); the oracle
    * replays the token filter with a list lambda and the canonical
    * md5 must agree byte-for-byte.
    */
  def normalize(docs: DataFrame): DataFrame = {
    val canonical = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val kept = filter(split(canonical, " "),
      t => !t.isin(Markers.head._2.map(lit(_)): _*))
    docs.withColumn("__kept", kept).select(
      col("doc_id"),
      nTokensExpr(col("text")).as("n_tokens_raw"),
      size(col("__kept")).cast("long").as("n_tokens_norm"),
      md5(array_join(col("__kept"), " ")).as("norm_md5"))
  }

  /** Per-document top-k terms by tf-idf, with a RATIONAL idf: score =
    * tf · N / df (the log dropped, like [[bigramLift]] drops it from
    * PMI) so the ranking is a pure BIGINT ratio — one correctly-rounded
    * IEEE division per (doc, term), identical in every engine, and the
    * whole query hash-checks.
    *
    * Scale shape: explode → partial-aggregated shuffle on (doc, term)
    * for tf; the df table re-aggregates that (vocab-sized result) and
    * broadcasts back; the per-doc rank window gets WindowGroupLimit, so
    * the doc-partitioned exchange carries ≤k rows per document.
    */
  def tfidfTop(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("score"), 4).as("score"))
  }
}
