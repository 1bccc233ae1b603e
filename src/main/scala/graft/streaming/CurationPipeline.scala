package graft.streaming

import graft.operators.{Corpus, Redact}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The COMPOSED ingest-time curation pipeline — every stage a
  * training-data intake runs, in one `foreachBatch`:
  *
  * {{{
  * raw batch
  *   → PII scrub            (Redact.scrub — stateless expression chain)
  *   → quality gate         (Corpus.gopherGateKeep — row-preserving,
  *                           signals computed and dropped in the scan)
  *   → [optional] semantic decontamination
  *                          (Corpus.decontaminateSemanticKeep — rows
  *                           whose embedding is cosine-near a
  *                           benchmark embedding are dropped BEFORE
  *                           they can grow any index; embedding-less
  *                           rows pass through)
  *   → exact dedup          (ExactIndex  — persisted content hashes)
  *   → near-dup scrub       (NearDupIndex — persisted LSH postings)
  *   → duplicate-span excision (SpanIndex — persisted gram hashes)
  *   → [optional] searchable keyword index (KeywordIndex over the
  *     CURATED clean_text — queries can never surface PII or excised
  *     passages)
  *   → idempotent parquet sink (StreamSink.idempotentParquet)
  * }}}
  *
  * Stage ORDER is deliberate: scrub before gate (PII sentinels must not
  * leak through via a doc the gate would pass either way — and the gate
  * scores the text that will actually ship); gate before dedup (rejected
  * docs must not grow the indexes — a quality-rejected page should not
  * inoculate the corpus against a clean later copy); exact before near
  * before span (each stage shrinks the batch the costlier stage probes).
  *
  * Every dedup stage probes and grows its own PERSISTED index, so
  * cross-batch duplicates drop at O(batch) cost without ever rescanning
  * accepted text; each stage excludes the current batch id and
  * overwrites its own partitions, and the sink overwrites its batch
  * directory — so the WHOLE pipeline is replay-safe under foreachBatch's
  * at-least-once delivery, end to end (CurationPipelineSpec replays a
  * batch and asserts identical sink + index state). NULL-identity rows
  * ride every stage's uniform pass-through contract.
  *
  * Maintenance composes too: [[compact]]/[[expireBatchesBelow]] fan out
  * to all three indexes under the one commit-log proof, so an offline
  * fold can never leave one index's replay contract behind.
  *
  * The gate is pluggable (`gate` constructor arg) so a deployment can
  * swap thresholds, compose the learned
  * [[graft.operators.QualityModel.scoreExpr]] cut, or pass `identity`
  * to disable gating without touching the dedup contract.
  */
class CurationPipeline(val spark: SparkSession, dir: String,
                       gate: DataFrame => DataFrame =
                         Corpus.gopherGateKeep(_),
                       n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                       minJaccard: Double = 0.5, spanK: Int = 8,
                       indexForSearch: Boolean = false,
                       benchEmbeddings: Option[DataFrame] = None,
                       minBenchCosine: Double = 0.35) {

  val exact = new ExactIndex(spark, s"$dir/exact")
  val near = new NearDupIndex(spark, s"$dir/near", n, numHashes, bands, minJaccard)
  val spans = new SpanIndex(spark, s"$dir/spans", spanK)

  /** Optional final stage: make the CURATED text searchable — the
    * [[KeywordIndex]] indexes each batch's `clean_text` (what
    * actually ships, post-scrub post-excision, so a query can never
    * surface PII or an excised passage), under the same per-batch-id
    * replay discipline and the shared compact/expire proof.
    */
  val search: Option[KeywordIndex] =
    if (indexForSearch) Some(new KeywordIndex(spark, s"$dir/search")) else None

  /** The stage chain shared by both accept forms — one body, so the
    * plain and the counted paths cannot drift. `checkpointGate`
    * materializes the gated frame only when the caller will count it
    * (the other stages checkpoint internally regardless).
    */
  private def stages(batch: DataFrame, batchId: Long, checkpointGate: Boolean)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val gated0 = gate(Redact.scrub(batch))
    // optional benchmark-leak stage: only meaningful when the batch
    // carries an embedding column; placed before the dedup indexes so
    // a contaminated doc can never inoculate the corpus
    val deconed = benchEmbeddings match {
      case Some(b) if batch.columns.contains("embedding") =>
        Corpus.decontaminateSemanticKeep(gated0, b, minBenchCosine)
      case _ => gated0
    }
    val gated = if (checkpointGate) graft.core.Pin.pin(deconed) else deconed
    val unique = exact.accept(gated, batchId)
    val novel = near.accept(unique, batchId)
    val out = spans.scrub(novel, batchId)
    search.foreach(_.accept(
      out.withColumn("text", org.apache.spark.sql.functions.col("clean_text")),
      batchId))
    (gated, unique, novel, out)
  }

  /** Run one micro-batch through every stage; returns the curated rows
    * (non-text columns preserved, `clean_text`/`n_removed` from the
    * span excision) and grows all three indexes. No funnel counting —
    * the default production path pays zero extra jobs.
    */
  def accept(batch: DataFrame, batchId: Long): DataFrame =
    stages(batch, batchId, checkpointGate = false)._4

  /** [[accept]] plus the per-stage funnel — the observability a
    * production intake needs per batch (where did the batch shrink:
    * gate, exact, near, span?). Each count runs on a frame the stage
    * chain materialized (pinned), so the funnel costs cached
    * counts plus one input count, never a recompute of a stage.
    */
  def acceptWithStats(batch: DataFrame, batchId: Long): (DataFrame, CurationStats) = {
    val nIn = batch.count()
    val (gated, unique, novel, out) = stages(batch, batchId, checkpointGate = true)
    val outAgg = out.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.sum("n_removed")).head()
    (out, CurationStats(batchId, nIn, gated.count(), unique.count(),
      novel.count(), outAgg.getLong(0),
      Option(outAgg.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)))
  }

  /** [[accept]] + idempotent parquet sink, in the `(batch, id)` shape
    * `foreachBatch` and [[StreamSink.ingestAvailableNowBatches]] call.
    * With `statsDir` set, the batch's funnel row lands next to the
    * data under the same per-batch-id overwrite discipline (a replay
    * rewrites its own stats row, never duplicates it).
    */
  def sinkTo(outDir: String, statsDir: Option[String] = None): (Dataset[Row], Long) => Unit =
    (batch, batchId) => {
      val (out, stats) = acceptWithStats(batch.toDF(), batchId)
      StreamSink.idempotentParquet(outDir)(out, batchId)
      statsDir.foreach { sd =>
        import spark.implicits._
        StreamSink.idempotentParquet(sd)(
          Seq(stats).toDF().toDF("batch_id", "n_in", "n_gated",
            "n_after_exact", "n_after_near", "n_out", "n_tokens_removed"),
          batchId)
      }
    }

  /** One checkpointed AvailableNow run over a landing directory: every
    * parquet file not yet processed flows through the full pipeline
    * exactly once — the deployment entry point (nightly load or
    * drained live ingest share this code path).
    */
  def ingest(landingDir: String, schema: StructType, checkpointDir: String,
             outDir: String, statsDir: Option[String] = None): Unit =
    StreamSink.ingestAvailableNowBatches(spark, landingDir, schema,
      checkpointDir, (b, id) => sinkTo(outDir, statsDir)(b, id))

  /** Fold all three indexes' batch partitions into their seeds —
    * offline only; throws unless every partition id is provably
    * committed (the [[IndexMaintenance]] contract, applied atomically
    * across the pipeline's indexes).
    */
  private def allIndexes: Seq[IndexMaintenance] =
    Seq(exact, near, spans) ++ search

  def compact(lastCommittedBatchId: Long): Unit =
    allIndexes.foreach(_.compact(lastCommittedBatchId))

  /** Re-crawl-window retention across every index (incl. search). */
  def expireBatchesBelow(cutoff: Long, lastCommittedBatchId: Long): Unit =
    allIndexes.foreach(
      _.expireBatchesBelow(cutoff, lastCommittedBatchId))
}

/** One batch's stage-by-stage funnel ([[CurationPipeline.acceptWithStats]]). */
final case class CurationStats(batchId: Long, nIn: Long, nGated: Long,
                               nAfterExact: Long, nAfterNear: Long,
                               nOut: Long, nTokensRemoved: Long)
