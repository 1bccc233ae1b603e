package graft.streaming

import graft.core.Pin
import graft.operators.{Corpus, Redact}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, count_if, lit, sum}
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
  * One stage chain serves [[accept]] and [[sinkTo]]. Its gated frame
  * is pinned on every path, so scrub and the gate run once per row
  * however many branches the exact stage reads it through. The funnel
  * row ([[CurationStats]]) costs no recompute: `n_in` and `n_gated`
  * are observations on that pin's execution, and the remaining counts
  * are one aggregate over the frames the index stages pin anyway,
  * run only when `sinkTo` has a stats dir to write.
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

  /** Run one micro-batch through every stage; returns the curated rows
    * (non-text columns preserved, `clean_text`/`n_removed` from the
    * span excision) and grows all three indexes.
    */
  def accept(batch: DataFrame, batchId: Long): DataFrame =
    stages(batch, batchId)._1

  /** [[accept]] + idempotent parquet sink, in the `(batch, id)` shape
    * `foreachBatch` and [[StreamSink.ingestAvailableNowBatches]] call.
    * With `statsDir` set, the batch's funnel row lands next to the
    * data under the same per-batch-id overwrite discipline (a replay
    * rewrites its own stats row, never duplicates it); without it no
    * funnel job runs.
    */
  def sinkTo(outDir: String, statsDir: Option[String] = None): (Dataset[Row], Long) => Unit =
    (batch, batchId) => {
      val (out, stats) = stages(batch.toDF(), batchId)
      StreamSink.idempotentParquet(outDir)(out, batchId)
      statsDir.foreach { sd =>
        import spark.implicits._
        StreamSink.idempotentParquet(sd)(
          Seq(stats()).toDF().toDF("batch_id", "n_in", "n_gated",
            "n_after_exact", "n_after_near", "n_out", "n_tokens_removed"),
          batchId)
      }
    }

  /** The one stage chain. The gated frame is always pinned: the exact
    * stage reads it through several branches, and each would otherwise
    * re-run scrub and the gate. `n_in` and `n_gated` are observed on
    * that pin's own execution; the other stage outputs are frames the
    * index stages pin, counted only when the returned funnel is called.
    */
  private def stages(batch: DataFrame, batchId: Long)
      : (DataFrame, () => CurationStats) = {
    val (nIn, nGated) = (Observation(), Observation())
    val scrubbed = gate(Redact.scrub(batch.observe(nIn, count(lit(1)))))
    // optional benchmark-leak stage: only meaningful when the batch
    // carries an embedding column; placed before the dedup indexes so
    // a contaminated doc can never inoculate the corpus. It reads its
    // input three times, so that input gets a pin of its own.
    val deconed = benchEmbeddings match {
      case Some(b) if batch.columns.contains("embedding") =>
        Corpus.decontaminateSemanticKeep(Pin.pin(scrubbed), b, minBenchCosine)
      case _ => scrubbed
    }
    val gated = Pin.pin(deconed.observe(nGated, count(lit(1))))
    val unique = exact.accept(gated, batchId)
    val novel = near.accept(unique, batchId)
    val out = spans.scrub(novel, batchId)
    search.foreach(_.accept(out.withColumn("text", col("clean_text")), batchId))
    (out, () => {
      val tail = unique.select(lit(0).as("stage"), lit(0L).as("n_removed"))
        .unionByName(novel.select(lit(1).as("stage"), lit(0L).as("n_removed")))
        .unionByName(out.select(lit(2).as("stage"), col("n_removed")))
        .agg(count_if(col("stage") === 0), count_if(col("stage") === 1),
          count_if(col("stage") === 2), coalesce(sum("n_removed"), lit(0L)))
        .head()
      def observed(o: Observation) = o.get.values.head.asInstanceOf[Long]
      CurationStats(batchId, observed(nIn), observed(nGated), tail.getLong(0),
        tail.getLong(1), tail.getLong(2), tail.getLong(3))
    })
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

/** One batch's stage-by-stage funnel, the stats row [[CurationPipeline.sinkTo]] writes. */
final case class CurationStats(batchId: Long, nIn: Long, nGated: Long,
                               nAfterExact: Long, nAfterNear: Long,
                               nOut: Long, nTokensRemoved: Long)
