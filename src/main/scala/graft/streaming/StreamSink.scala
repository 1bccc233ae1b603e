package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Streaming write/ingest building blocks — the two deployment
  * patterns every pipeline here ends in, promoted to API surface (they
  * started life as StreamSinkSpec fixtures).
  *
  * Scale notes: both patterns are what make a 100 TB ingest RESUMABLE.
  * foreachBatch gives at-least-once batch delivery, so the sink must
  * be idempotent per batch id; the file-source checkpoint remembers
  * processed files, so a nightly (or hourly) load never re-reads the
  * landed backlog.
  */
object StreamSink {

  /** Idempotent parquet writer for `foreachBatch`: each micro-batch
    * overwrites its OWN `batch=<id>/` directory, so a replayed batch
    * (failure between sink write and checkpoint commit) rewrites the
    * same rows instead of appending duplicates — exactly-once output
    * on top of foreachBatch's at-least-once semantics. Read the sink
    * back with `spark.read.parquet(dir)`: partition discovery adds the
    * batch id as column `batch`.
    *
    * Usage: `df.writeStream.foreachBatch(StreamSink.idempotentParquet(dir))`.
    */
  def idempotentParquet(dir: String): (Dataset[Row], Long) => Unit =
    (batch: Dataset[Row], batchId: Long) => {
      batch.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
      ()
    }

  /** One incremental file-ingest run over a landing directory: start
    * where the checkpoint left off, process every parquet file not yet
    * seen, append the transformed rows to `outDir`, stop
    * (`Trigger.AvailableNow`). The queue-less nightly-load shape —
    * same transform code a 24/7 stream would run, so batch backfill
    * and live ingest share one code path.
    *
    * Schema is REQUIRED, never inferred (the Tables doctrine: at
    * 100 TB inference is an extra full pass and silently re-types
    * under drift).
    */
  def ingestAvailableNow(spark: SparkSession, landingDir: String,
                         schema: StructType, outDir: String,
                         checkpointDir: String,
                         transform: DataFrame => DataFrame = identity): Unit = {
    val q = transform(spark.readStream.schema(schema).parquet(landingDir))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
    q.awaitTermination()
  }

  /** [[ingestAvailableNow]] for transforms that need the BATCH ID —
    * the index-maintaining scrubs ([[SpanIndex.scrub]],
    * [[NearDupIndex.accept]], [[EmbeddingIndex.accept]]) and
    * batch-id-keyed sinks ([[idempotentParquet]]): each unprocessed
    * file drop becomes a `foreachBatch` call, the checkpoint
    * remembers processed files, and the run stops when the backlog is
    * drained. Composing the three pieces
    * (`ingestAvailableNowBatches` + scrub + `idempotentParquet`) is
    * the full deployment shape of ingest-time dedup — file drop in,
    * scrubbed exactly-once parquet out, index grown — and
    * StreamSinkSpec drives it end-to-end.
    */
  def ingestAvailableNowBatches(spark: SparkSession, landingDir: String,
                                schema: StructType, checkpointDir: String,
                                onBatch: (DataFrame, Long) => Unit): Unit = {
    val q = spark.readStream.schema(schema).parquet(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: Dataset[Row], id: Long) => onBatch(b, id) }
      .start()
    q.awaitTermination()
  }
}
