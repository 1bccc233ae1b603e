package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-preparation pipelines for LLM training data: deterministic
  * train/test splitting, composed quality filtering, and duplicate-
  * cluster resolution (connected components).
  */
object Corpus {

  /** Deterministic content-hash split: the last hex nibble of md5(text)
    * buckets each document into 16 slots, `trainSlots` of which are
    * train (13/16 = 81.25% by default). Content-keyed (not id-keyed), so
    * the assignment is stable under re-ingestion, reshuffling, and
    * re-partitioning — the property a 100 TB pipeline actually needs
    * from its split. Stratified reporting by document length band.
    */
  def trainTestSplit(docs: DataFrame, trainSlots: Int = 13): DataFrame = {
    val nTokens = TextAnalysis.nTokensExpr(col("text"))
    val h = ascii(substring(md5(col("text")), 32, 1))
    val nibble = when(h <= 57, h - 48).otherwise(h - 87)
    docs
      .select(
        when(nTokens <= 60, "short").when(nTokens <= 120, "medium")
          .otherwise("long").as("stratum"),
        when(nibble < trainSlots, "train").otherwise("test").as("split"),
        nTokens.as("n_tokens"))
      .groupBy("stratum", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .orderBy("stratum", "split")
  }

  /** Deterministic k-fold assignment for cross-validation /
    * held-out-rotation experiments: fold = (first 32 md5 bits of the
    * text) mod k — content-keyed like [[trainTestSplit]], so a
    * document's fold survives re-ingestion, repartition, and cluster
    * layout, and two pipelines computing folds independently agree.
    */
  private def cvFoldExpr(k: Int): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"),
      lit(k.toLong))

  /** The per-fold balance audit of [[cvFoldExpr]]: doc and token
    * totals plus source coverage per fold. One corpus scan, one k-row
    * aggregate — the law-of-large-numbers balance this reports is what
    * makes the hash-fold assignment usable as a CV split at scale.
    */
  def cvFolds(docs: DataFrame, k: Int = 5): DataFrame =
    docs.select(cvFoldExpr(k).as("fold"),
        TextAnalysis.nTokensExpr(col("text")).as("n_tokens"), col("source"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
        count_distinct(col("source")).as("n_sources"))
      .orderBy("fold")

  /** Composed quality gate: keep documents that are (a) predicted
    * English, (b) above the quality-score floor, and (c) the keeper of
    * their exact-duplicate cluster (lowest doc_id per content hash).
    *
    * One scan computes every per-row signal (the expression builders in
    * [[TextAnalysis]]), the row filter runs BEFORE the dedup semi-join,
    * and the keeper set is one hash aggregate — so the corpus is read
    * once and only surviving candidates shuffle.
    */
  def qualityFilter(docs: DataFrame, lang: String = "en",
                    minScore: Double = 0.5): DataFrame = {
    val keepers = docs
      .groupBy(md5(col("text")).as("__h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    docs
      .select(col("doc_id"),
        TextAnalysis.nTokensExpr(col("text")).as("n_tokens"),
        TextAnalysis.qualityScoreExpr(col("text")).as("quality_score"),
        TextAnalysis.predictedLangExpr(col("text")).as("predicted_lang"))
      .filter(col("predicted_lang") === lang && col("quality_score") >= minScore)
      .join(keepers, Seq("doc_id"), "left_semi")
  }

  /** Gopher-style composed quality gate: one corpus scan computes
    * EVERY per-document signal ([[TextAnalysis.gateSignals]] — length
    * bounds, mean word length, symbol ratio, stopword-derived quality
    * score, language ID, and the n-gram repetition ratios) and one
    * filter applies the whole rulebook. Returns the PASSING documents
    * with their signals, so the gate doubles as the audit trail of why
    * survivors survived.
    *
    * This is the [[qualityFilter]] composition pattern taken to the
    * full Gopher rule set: at 100 TB the difference between one
    * signal-bundle scan and six per-signal queries is five corpus
    * re-reads, and the filter runs inside the scan's codegen stage so
    * rejected rows never leave it. PlanAuditSpec pins the single scan.
    * An LM-perplexity rule (the CCNet signal) composes on top via
    * [[gateWithLm]] — kept out of the base gate because the reference
    * LM is a second input, not a property of the gated corpus.
    */
  def gopherGate(docs: DataFrame, lang: String = "en",
                 minTokens: Long = 15, maxTokens: Long = 100000,
                 minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 10.0,
                 maxPunctRatio: Double = 0.2, minScore: Double = 0.5,
                 maxRepetitionRatio: Double = 0.05,
                 maxTopNgramRatio: Double = 0.10): DataFrame =
    // UNSORTED (doctrine: hash-stability sorts live in the verify
    // wrapper, QuerySpec.sortKeys) — identical to
    // gopherGateRows, which remains the streaming-named entry point
    gopherGateRows(docs, lang, minTokens, maxTokens, minAvgTokenLen,
      maxAvgTokenLen, maxPunctRatio, minScore, maxRepetitionRatio,
      maxTopNgramRatio)

  /** [[gopherGate]] under its streaming-deployment name — a stateless
    * per-row projection + filter, so this form drops
    * straight into a `readStream` (ingest-time quality gating, the
    * [[graft.operators.Redact.scrubExpr]] deployment shape — gate the
    * crawl as it lands instead of re-scanning the corpus later);
    * StreamScrubSpec drives it through a streaming query.
    */
  def gopherGateRows(docs: DataFrame, lang: String = "en",
                     minTokens: Long = 15, maxTokens: Long = 100000,
                     minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 10.0,
                     maxPunctRatio: Double = 0.2, minScore: Double = 0.5,
                     maxRepetitionRatio: Double = 0.05,
                     maxTopNgramRatio: Double = 0.10): DataFrame =
    TextAnalysis.gateSignals(docs)
      .filter(gateCond(col, lang, minTokens, maxTokens, minAvgTokenLen,
        maxAvgTokenLen, maxPunctRatio, minScore, maxRepetitionRatio,
        maxTopNgramRatio))
      .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
        col("punct_ratio"), col("quality_score"), col("predicted_lang"),
        col("repetition_ratio"), col("top_ngram_ratio"))

  /** The one rulebook both gate forms filter with — `c` resolves a
    * signal name to its column (`col` for the projected form, the
    * `__gs_` prefix for the attached form), so the two cannot drift.
    */
  private def gateCond(c: String => org.apache.spark.sql.Column, lang: String,
                       minTokens: Long, maxTokens: Long,
                       minAvgTokenLen: Double, maxAvgTokenLen: Double,
                       maxPunctRatio: Double, minScore: Double,
                       maxRepetitionRatio: Double,
                       maxTopNgramRatio: Double): org.apache.spark.sql.Column =
    c("n_tokens").between(minTokens, maxTokens) &&
      c("avg_token_len").between(minAvgTokenLen, maxAvgTokenLen) &&
      c("punct_ratio") <= maxPunctRatio &&
      c("quality_score") >= minScore &&
      c("predicted_lang") === lang &&
      c("repetition_ratio") <= maxRepetitionRatio &&
      c("top_ngram_ratio") <= maxTopNgramRatio

  /** Row-PRESERVING gate for pipeline composition: the input rows (all
    * columns, any schema with a `text`) that pass the rulebook —
    * signals are attached in the scan projection
    * ([[TextAnalysis.withGateSignals]]), filtered on, and dropped, so
    * gating needs no doc identity and never joins. This is the stage
    * shape [[graft.streaming.CurationPipeline]] runs between PII scrub
    * and dedup; stateless per-row, so it drops into a readStream
    * unchanged.
    */
  def gopherGateKeep(docs: DataFrame, lang: String = "en",
                     minTokens: Long = 15, maxTokens: Long = 100000,
                     minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 10.0,
                     maxPunctRatio: Double = 0.2, minScore: Double = 0.5,
                     maxRepetitionRatio: Double = 0.05,
                     maxTopNgramRatio: Double = 0.10): DataFrame =
    TextAnalysis.withGateSignals(docs)
      .filter(gateCond(s => col(s"__gs_$s"), lang, minTokens, maxTokens,
        minAvgTokenLen, maxAvgTokenLen, maxPunctRatio, minScore,
        maxRepetitionRatio, maxTopNgramRatio))
      .drop(TextAnalysis.GateSignalNames.map(s => s"__gs_$s"): _*)

  /** [[gopherGate]] with the CCNet perplexity rule composed on top:
    * survivors must also score ≤ `maxLmScore` under the reference
    * n-gram LM (`lm` is a [[TextAnalysis.ngramCounts]] frame — at
    * scale, trained ONCE on a trusted corpus and reused; deriving it
    * from the gated corpus itself would be a second full scan by
    * construction). Docs too short to have any LM gram (NULL score)
    * fail the gate — no silent pass on no evidence.
    */
  def gateWithLm(docs: DataFrame, lm: DataFrame, maxLmScore: Double,
                 lang: String = "en", n: Int = 3,
                 minTokens: Long = 15, maxTokens: Long = 100000,
                 minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 10.0,
                 maxPunctRatio: Double = 0.2, minScore: Double = 0.5,
                 maxRepetitionRatio: Double = 0.05,
                 maxTopNgramRatio: Double = 0.10): DataFrame =
    {
    // rulebook first, LM second: the gram-explode + LM join is the
    // expensive half, so it must only ever see gate SURVIVORS — scoring
    // the full corpus and inner-joining after would pay the explode
    // for every rejected doc too
    val gated = gopherGateRows(docs, lang, minTokens, maxTokens,
      minAvgTokenLen, maxAvgTokenLen, maxPunctRatio, minScore,
      maxRepetitionRatio, maxTopNgramRatio)
    val survivors = docs.join(gated.select("doc_id"), Seq("doc_id"), "left_semi")
    gated
      .join(TextAnalysis.lmScore(survivors, lm, n)
        .filter(col("lm_score") <= maxLmScore)
        .select(col("doc_id"), col("lm_score")), Seq("doc_id"))
    }

  /** Benchmark decontamination: drop train documents that share any
    * word `n`-gram with the held-out test set (the standard guard
    * against test-set leakage into LLM training data; long n-grams so
    * topical overlap doesn't false-positive).
    *
    * The split reuses [[trainTestSplit]]'s content-hash nibble, so
    * membership is deterministic and re-ingestion-stable. Scale shape:
    * the test side is the small fraction — its DISTINCT n-gram set
    * shards the semi-join by gram (an inverted-index probe, never doc ×
    * doc), contaminated ids collapse via DISTINCT before the anti-join,
    * and the corpus is scanned once per side with the n-gram kernel.
    * Returns the clean train doc_ids.
    */
  /** The persistable benchmark-gram set for ingest-time
    * decontamination: distinct word `n`-grams of a held-out
    * evaluation corpus. Benchmarks are tiny next to training data, so
    * this frame is build-once / probe-forever — the decontamination
    * sibling of [[graft.operators.Dedup.gramTable]], and usually
    * small enough that the probe's semi-join broadcasts it.
    */
  def benchmarkGrams(testDocs: DataFrame, n: Int = 8): DataFrame =
    testDocs.select(explode(TextOps.shingles(col("text"), n)).as("g"))
      .distinct()

  /** [[decontaminate]] at INGEST time, against a persisted
    * [[benchmarkGrams]] frame: of a batch of candidate training docs,
    * keep (full rows) only those sharing no word n-gram with the
    * benchmark set — new crawl drops are checked as they land instead
    * of re-scanning the accumulated corpus before every training run.
    * Work ∝ batch grams + matches; the held-out corpus itself is
    * never re-read.
    */
  def decontaminateProbe(batch: DataFrame, benchGrams: DataFrame,
                         n: Int = 8): DataFrame = {
    // NULL-id rows are DROPPED, not passed through: contamination is
    // established per doc_id, so an unidentified doc could carry a
    // verbatim benchmark passage straight through the anti-join (NULL
    // never equi-matches). Unlike the dedup indexes — where keeping
    // an unmatchable row merely keeps a duplicate — the conservative
    // default for a test-set-leak gate is exclusion.
    val identified = batch.filter(col("doc_id").isNotNull)
    val contaminated = identified
      .select(col("doc_id"), explode(TextOps.shingles(col("text"), n)).as("g"))
      .join(benchGrams.select("g"), Seq("g"), "left_semi")
      .select("doc_id").distinct()
    identified.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** SEMANTIC decontamination — the paraphrase-leak gate the exact
    * 8-gram probe ([[decontaminateProbe]]) cannot be: a train doc
    * whose EMBEDDING is cosine-≥ `minCosine` to any benchmark
    * embedding is dropped even when not one 8-gram survives the
    * paraphrase. Composes the embedding-index machinery already built
    * for dedup ([[Similarity.embeddingPostings]] sign-bit LSH +
    * exact-cosine verify) rather than inventing a new index.
    *
    * Scale shape: the benchmark side (postings + vectors) is
    * benchmark-sized — thousands of rows, broadcast by hint — so the
    * train scan joins against it map-side with NO shuffle of train
    * rows; only bucket-colliding candidates ever evaluate the exact
    * cosine. Work ∝ train + collisions, never train × bench.
    * Precision is exact (native cosine per candidate); recall is the
    * LSH curve — raise bands for a stricter leak bound. Returns the
    * KEPT train ids ([[decontaminate]]'s contract).
    *
    * Width note: this gate deliberately does NOT inherit the dedup
    * family's [[Similarity.AutoWidth]] occupancy default — widening r
    * at fixed bands collapses recall at paraphrase-grade similarity
    * (p = 1−θ/π; at cos 0.8, r=16, b=8 recall is 0.19 vs 0.90 at
    * r=6), and a leak gate that silently loses recall is worse than
    * one that costs more. At cluster scale keep the train side sparse
    * by raising r AND bands together (b ≈ ln(1−R)/ln(1−p^r) holds the
    * leak bound R; bands cost linearly in train size, collisions cost
    * quadratically) — both are explicit parameters here.
    */
  def decontaminateSemantic(train: DataFrame, bench: DataFrame,
                            minCosine: Double = 0.35, bands: Int = 8,
                            rowsPerBand: Int = 6, dims: Int = 64): DataFrame = {
    val tEmb = train.select(col("vec_id"), col("embedding"))
    val bEmb = bench.select(col("vec_id"), col("embedding"))
    val tPost = Similarity.embeddingPostings(tEmb, bands, rowsPerBand, dims)
    val bPost = Similarity.embeddingPostings(bEmb, bands, rowsPerBand, dims)
    val contaminated = Banding.probe(tPost, bPost, Banding.BandBucket,
        col("stream.vec_id").as("vec_id"), col("bcast.vec_id").as("bench_id"))
      .join(tEmb.select(col("vec_id"), col("embedding").as("emb_a")), "vec_id")
      .join(broadcast(bEmb.select(col("vec_id").as("bench_id"),
        col("embedding").as("emb_b"))), "bench_id")
      .filter(graft.functions.GraftFunctions.vectorCosine(
        col("emb_a"), col("emb_b")) >= minCosine)
      .select("vec_id").distinct()
    tEmb.select("vec_id")
      .join(contaminated, Seq("vec_id"), "left_anti")
  }

  /** Row-preserving [[decontaminateSemantic]] for pipeline
    * composition ([[graft.streaming.CurationPipeline]]'s optional
    * benchmark stage): drops batch rows whose `embedding` is
    * cosine-near a benchmark embedding, keeps every other column
    * intact. Rows WITHOUT an embedding pass through (nothing to
    * assess — the exact 8-gram probe is the text-side gate); rows
    * with an embedding but NULL doc_id are DROPPED, the
    * [[decontaminateProbe]] conservative default for a leak gate.
    */
  def decontaminateSemanticKeep(batch: DataFrame, bench: DataFrame,
                                minCosine: Double = 0.35, bands: Int = 8,
                                rowsPerBand: Int = 6,
                                dims: Int = 64): DataFrame = {
    val assessable = batch.filter(col("embedding").isNotNull)
    val kept = decontaminateSemantic(
      assessable.filter(col("doc_id").isNotNull)
        .select(col("doc_id").as("vec_id"), col("embedding")),
      bench, minCosine, bands, rowsPerBand, dims)
      .select(col("vec_id").as("doc_id"))
    batch.filter(col("embedding").isNull)
      .unionByName(assessable.filter(col("doc_id").isNotNull)
        .join(kept, Seq("doc_id"), "left_semi"))
  }

  def decontaminate(docs: DataFrame, n: Int = 8,
                    trainSlots: Int = 13): DataFrame = {
    val h = ascii(substring(md5(col("text")), 32, 1))
    val nibble = when(h <= 57, h - 48).otherwise(h - 87)
    val tagged = docs.select(col("doc_id"), col("text"),
      (nibble < trainSlots).as("is_train"))
    val trainGrams = tagged.filter(col("is_train"))
      .select(col("doc_id"), explode(TextOps.shingles(col("text"), n)).as("g"))
    val testGrams = tagged.filter(!col("is_train"))
      .select(explode(TextOps.shingles(col("text"), n)).as("g"))
      .distinct()
    val contaminated = trainGrams
      .join(testGrams, Seq("g"), "left_semi")
      .select("doc_id").distinct()
    tagged.filter(col("is_train"))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id")
  }

  /** Fixed-size chunking with overlap — the pretraining/RAG step that
    * turns documents into ~`size`-token training rows, each chunk
    * starting `stride` tokens after the last (so consecutive chunks
    * share `size - stride` tokens of context). Pure per-row explode:
    * one scan, no shuffle, 1→⌈n/stride⌉ rows per doc.
    */
  def chunk(docs: DataFrame, chunkSize: Int = 50, stride: Int = 40): DataFrame =
    chunkRaw(docs, chunkSize, stride)

  /** [[chunk]] without the hash-stability output sort, for composers
    * that re-shuffle anyway ([[paragraphDedup]]).
    */
  private[operators] def chunkRaw(docs: DataFrame, chunkSize: Int = 50,
                                  stride: Int = 40): DataFrame =
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(sequence(lit(0), greatest(size(col("w")) - 1, lit(0)),
          lit(stride))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        least(lit(chunkSize.toLong), size(col("w")).cast("long") - col("col"))
          .as("n_chunk_tokens"),
        array_join(slice(col("w"), col("col") + 1, lit(chunkSize)), " ")
          .as("chunk_text"))

  /** Cross-source contamination matrix: for every pair of sources, how
    * many distinct word `n`-grams they share verbatim — the diagnostic
    * behind dataset-mixing decisions (a "books" slice that shares half
    * its 8-grams with "web" is not an independent epoch of signal) and
    * the source-grain twin of [[decontaminate]].
    *
    * Scale shape: distinct (source, gram) pairs are formed at the scan
    * (per-doc-distinct shingles from the native kernel, 16-byte md5
    * keys — gram text never shuffles), deduped on BOTH keys (the
    * distinct's natural clustering) so a ubiquitous gram spreads
    * across partitions; the per-gram self-join
    * then fans out at most |sources|² rows per gram (sources are a
    * bounded label set, so no hot-key funnel exists by construction),
    * and the pair counts combine map-side into a |sources|²-row
    * result.
    */
  def sourceOverlap(docs: DataFrame, n: Int = 8): DataFrame = {
    val srcGram = docs
      .select(col("source"), explode(TextOps.shingles(col("text"), n)).as("g"))
      .select(col("source"), md5(col("g")).as("k"))
      .distinct()
    val a = srcGram.toDF("source_a", "k")
    val b = srcGram.toDF("source_b", "k")
    // shuffle_hash: AQE otherwise builds a gram-table-sized broadcast
    // (42 MB at sf0.1) for this self-join; the hinted shuffle join's
    // two k-keyed exchanges are one ReusedExchange, and at scale the
    // gram table outgrows any broadcast anyway — same shape at every SF
    a.join(b.hint("shuffle_hash"), "k")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("source_a", "source_b")
  }

  /** Content-defined chunking (the rolling-hash boundary rule of
    * rsync/borg/CDC dedup, at WORD grain): a chunk boundary falls
    * after token i iff the token's portable 31-bit hash
    * ([[graft.functions.StringHash31]]) has its low `maskBits` bits
    * zero — expected chunk length 2^maskBits tokens. Because
    * boundaries depend only on LOCAL content, an insertion re-syncs
    * at the next boundary and every later chunk keeps its identity —
    * the property that makes chunk-grain dedup robust to edits, which
    * fixed-stride [[chunk]] (offsets shift forever after an insert)
    * cannot offer.
    *
    * Plan: one scan → posexplode → boundary flags at scan speed → the
    * sessionize pattern (doc-partitioned running SUM over the
    * PRECEDING frame — never a global window) assigns chunk ids → the
    * reassembly groupBy reuses the window's doc_id partitioning (no
    * second corpus shuffle) → sharing counts shuffle 16-byte md5 keys
    * only. Output: one row per chunk with its cross-doc sharing count
    * (`n_docs_sharing` ≥ 2 = a duplicated passage).
    */
  def cdcChunks(docs: DataFrame, maskBits: Int = 4): DataFrame = {
    require(maskBits >= 1 && maskBits <= 20, s"maskBits in [1,20], got $maskBits")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val boundary = graft.functions.GraftFunctions.stringHash31(col("t"))
      .bitwiseAND(lit((1L << maskBits) - 1)) === 0L
    val chunks = docs
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("t"))
      .withColumn("chunk_id",
        coalesce(sum(when(boundary, 1L).otherwise(0L)).over(w), lit(0L)))
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_chunk_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("t")))),
          s => s.getField("t")), " ").as("chunk_text"))
      .withColumn("ck", md5(col("chunk_text")))
      // the chunk table feeds TWO consumers (the sharing counts and
      // the output join). Until r15 the share was only the window's
      // doc_id exchange (ReusedExchange), and the whole reassembly
      // tower ABOVE it — per-doc sort + running-sum window + two
      // ObjectHashAggregate collect passes over every token — ran
      // once PER CONSUMER (measured at sf0.1: the two towers were
      // each ~1.5 s of the query's 2 s). Pin the chunk table instead:
      // one reassembly, both consumers read the materialized blocks.
      // This IS the "materialized chunk table" the deployment note
      // below always promised — now the operator's own shape.
      .transform(graft.core.Pin.pin(_, eager = false))
    // sharing counts, hot-chunk-safe (the r6 hot-gram lesson): dedup
    // (ck, doc) on BOTH keys — a boilerplate chunk in a billion docs
    // spreads across partitions instead of funnelling one — then the
    // ck count combines map-side to ≤1 row per (partition, ck). The
    // join's build side is therefore ONE row per chunk key: AQE
    // broadcasts it when small and can skew-split the stream side
    // when it is not.
    // the explicit repartition is load-bearing: left alone, Catalyst
    // serves both aggregates from ONE ck-only exchange (ck satisfies
    // the (ck, doc) clustering) — exactly the hot-key funnel the
    // two-phase shape exists to avoid
    val sharing = chunks
      .select("ck", "doc_id")
      .repartition(col("ck"), col("doc_id"))
      .groupBy("ck", "doc_id").agg(lit(1).as("__one")).drop("__one")
      .groupBy("ck").agg(count(lit(1)).as("n_docs_sharing"))
    chunks.join(sharing, "ck").drop("ck")
      .select("doc_id", "chunk_id", "n_chunk_tokens", "chunk_text",
        "n_docs_sharing")
  }

  /** Chunk-level (paragraph) deduplication profile, the CCNet/RefinedWeb
    * line-dedup signal: for each document, how many of its chunks are
    * corpus-wide duplicates of an earlier chunk. A chunk instance is a
    * duplicate iff it is not the FIRST occurrence of its text in
    * (doc_id, chunk_id) order — computed as a struct-min per distinct
    * chunk text, so ownership is deterministic and total.
    *
    * Scale shape: chunks are keyed by their 128-bit md5 the moment
    * they're formed, so the ownership aggregate and the join back
    * shuffle 16-byte keys instead of up-to-`chunkSize`-token strings
    * (the chunk text itself never leaves the scan stage). The
    * aggregate is partial-agg friendly (the min-owner struct combines
    * map-side), then one shuffle join and a doc_id re-aggregate. No
    * windows, no broadcast of corpus-sized state.
    */
  def paragraphDedup(docs: DataFrame, chunkSize: Int = 50,
                     stride: Int = 40): DataFrame = {
    val ch = chunkRaw(docs, chunkSize, stride)
      .select(col("doc_id"), col("chunk_id"), md5(col("chunk_text")).as("ck"))
    val owners = ch.groupBy("ck")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("own"))
    ch.join(owners, "ck")
      .select(col("doc_id"),
        (col("own.doc_id") =!= col("doc_id") ||
          col("own.chunk_id") =!= col("chunk_id")).cast("long").as("is_dup"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum("is_dup").as("n_dup_chunks"),
        round(sum("is_dup").cast("double") / count(lit(1)), 4).as("dup_ratio"))
  }

  /** Per-document novelty/fluency signals from corpus-wide bigram
    * support: how many of a doc's bigram instances are corpus-rare
    * (support ≤ `rareMax`), and the mean support. High rare-rate docs
    * are novel (or garbled); near-zero rare-rate docs are boilerplate.
    * All-integer aggregation with single end divisions, so the oracle
    * replays it exactly. Scale shape: instances shuffle once on the
    * bigram key (the support join), then once on doc_id — both
    * hash-partitioned, no hot single task.
    */
  def noveltyScore(docs: DataFrame, rareMax: Int = 2): DataFrame = {
    val inst = docs.select(col("doc_id"),
      explode(graft.functions.GraftFunctions.wordShingles(
        TextOps.segmentIfUnspaced(col("text")), 2,
        keepDuplicates = true)).as("bg"))
    val support = inst.groupBy("bg").agg(count(lit(1)).as("sup"))
    inst.join(support, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("sup") <= rareMax, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("rare_rate",
        round(col("n_rare").cast("double") / col("n_bigrams"), 4))
  }

  /** Connected components over an undirected pair list via min-label
    * propagation WITH pointer jumping: each round every node first
    * adopts the smallest label among itself and its neighbors, then
    * every label is replaced by its label's label (path halving). The
    * jump step squares the distance a minimum travels per round, so
    * convergence is O(log diameter) rounds — a 1M-node chain converges
    * in ~20 rounds where plain propagation would need 1M. (Plain
    * propagation burned exactly this way at sf0.1: an LSH near-dup
    * graph grew a >20-hop chain and the 20-round cap left labels short
    * of the component min.)
    *
    * This is the one deliberately ITERATIVE operator in the library —
    * like GraphX/Pregel, each round is a distributed shuffle join and
    * the driver only checks a converged/not-converged bit.
    * a [[graft.core.Pin]] pin caps lineage so round N's plan does not replay
    * rounds 1..N-1.
    *
    * Size-adaptive fast path: the edge list is already materialized
    * (it is the checkpoint the loop needs anyway), so its count is
    * free — and a dedup-pair graph is normally MUCH smaller than the
    * corpus that produced it. At or below `localThreshold` edges the
    * component resolution runs as a single-partition executor-side
    * union-find (path compression + union-by-min: one stage, no loop,
    * no driver collect — the bench measured the iterative path
    * spending ~37s of driver round-trips on a 2k-edge graph). Above
    * the threshold — or when the id columns are not integral (the
    * union-find works on Long; the loop's least/min work on any
    * orderable type) — the distributed loop handles the graph.
    * Both paths produce the identical (node → component-min) labeling.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 40,
                          localThreshold: Long = 2000000L): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .transform(graft.core.Pin.pin(_))
    val integralIds = edges.schema.fields.forall(f =>
      Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType))
    if (integralIds && edges.count() <= localThreshold)
      return localComponents(edges)
    // seed with min(self, direct neighbors) — one aggregate, and the
    // loop below only pays for graphs with diameter > 1
    var labels = edges
      .groupBy("src")
      .agg(least(min("dst"), col("src")).as("comp"))
      .select(col("src").as("id"), col("comp"))
      .transform(graft.core.Pin.pin(_))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // 1. neighbor-min step: comp'(x) = min(comp(x), min over
      //    neighbors y of comp(y)). Checkpointed because the jump
      //    self-joins it — without the pin, the join+aggregate above
      //    would execute once per consumer.
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src").as("nid")).agg(min("comp").as("nbr_comp"))
        .join(labels, col("nid") === labels("id"), "right")
        .select(col("id"), col("comp").as("old"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("mid"))
        .transform(graft.core.Pin.pin(_))
      // 2. pointer jump: comp''(x) = comp'(comp'(x)). Every label value
      //    is a member of the same component (labels only ever hold
      //    node ids reached by a path), so the lookup always hits and
      //    is never larger than the label it replaces.
      val jumped = prop.as("x")
        .join(prop.select(col("id").as("jid"), col("mid").as("jcomp")).as("j"),
          col("x.mid") === col("jid"))
        .select(col("x.id"), col("x.old"), col("jcomp").as("comp"),
          (col("jcomp") < col("x.old")).as("changed"))
        .transform(graft.core.Pin.pin(_))
      converged = jumped.filter(col("changed")).isEmpty
      labels = jumped.select("id", "comp")
      i += 1
    }
    // UNSORTED by doctrine (QuerySpec.verify): hash-stability sorts
    // live in the verify wrapper only — a production caller of a
    // 100 TB dup graph must not pay a global sort it didn't ask for
    labels.select(col("id").as("doc_id"), col("comp").as("component_id"))
  }

  /** Exact union-find over a subcritical (≤ threshold) symmetric edge
    * list, in one executor task. Union-by-min + full path compression:
    * every node's root IS its component minimum, independent of edge
    * order, so the labeling is deterministic and identical to the
    * iterative path's fixpoint.
    */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != r) {
            val next = parent.getOrElse(c, c); parent(c) = r; c = next
          }
          r
        }
        it.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          } else if (!parent.contains(a)) parent(a) = ra
        }
        // every node seen (as key or as a lone root) labels to its root
        val nodes = scala.collection.mutable.LongMap.empty[Long]
        parent.keysIterator.foreach(k => nodes(k) = 0L)
        parent.valuesIterator.foreach(v => nodes(v) = 0L)
        nodes.keysIterator.map(n => (n, find(n)))
      }
      .toDF("doc_id", "component_id")
  }

  /** Keeper policy for NEAR-dup clusters — the near-dup twin of
    * [[Dedup.exactByPreference]]: exact duplicates tie on content so
    * the keeper is a provenance choice, but near-dup cluster members
    * genuinely DIFFER, and the standard policy is "keep the most
    * complete copy" — the longest member, doc_id breaking ties.
    * One member-grain join of the component labeling onto doc
    * lengths, then an argmax-struct per component (map-side
    * combined); clusters are pair-graph-sized, ≪ corpus.
    */
  def clusterKeepers(docs: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponents(pairs, "doc_a", "doc_b")
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy("component_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars").as("c"),
          (lit(0L) - col("doc_id")).as("neg"))).as("__k"))
      .select(col("component_id"),
        (lit(0L) - col("__k.neg")).as("keeper_doc_id"),
        col("__k.c").as("keeper_chars"), col("n_members"))
}
