package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained ADDITIVE ROLLUP — the deployed
  * `foreachBatch` twin of [[graft.etl.Incremental.mergedMonthlyOrders]]
  * (the batch operator proves merge == recompute; this class is the
  * standing state it maintains in production). Each micro-batch's
  * pre-aggregated DELTA lands in its own `batch=<id>` partition and
  * the current rollup is the sum over all deltas — decomposable
  * aggregates (counts, BIGINT cent-sums) re-add associatively, so
  * merge-on-read equals a one-pass recompute over every row ever
  * streamed (spec-pinned across batches AND replays).
  *
  * Replay safety is the index discipline: foreachBatch delivers
  * at-least-once, and a replayed batch OVERWRITES exactly its own
  * partition — the sum can never double-count a delivery. Each delta
  * row carries its writing batch as the DATA column `src_batch`,
  * which makes [[IndexMaintenance]]'s generic compaction fold
  * (union + DISTINCT) safe for additive state: two different batches
  * contributing identical group/value rows stay distinct rows under
  * the fold because their `src_batch` differs — without it the
  * distinct would silently collapse equal deltas and lose their sum.
  *
  * Scale shape: the state is groups × batches rows (group-grain, tiny
  * against the stream), each batch writes only its own delta (work ∝
  * batch), the read-side merge aggregates a group-grain frame, and
  * compact() folds the partition count down whenever the stream is
  * provably committed past every folded batch. History is NEVER
  * rescanned.
  *
  * `template` supplies the delta schema for the empty bootstrap (the
  * [[StreamDedup.emptyDocs]] pattern): pass the delta of an empty
  * batch, e.g. `deltaOf(emptyFrame)`.
  */
class RollupState(protected val spark: SparkSession, dir: String,
                  template: DataFrame, groupCols: Seq[String],
                  sumCols: Seq[String]) extends IndexMaintenance {
  require(groupCols.nonEmpty && sumCols.nonEmpty, "empty rollup spec")
  private val deltasFrame = new BatchFrame(spark, s"$dir/deltas",
    template.limit(0).withColumn("src_batch", lit(0L)))
  private[streaming] def frames = Seq(deltasFrame)

  /** Land one micro-batch's pre-aggregated delta (idempotent under
    * replay — own-partition overwrite).
    */
  def accept(delta: DataFrame, batchId: Long): Unit =
    deltasFrame.write(delta.select(groupCols.map(col) ++ sumCols.map(col): _*)
      .withColumn("src_batch", lit(batchId)), batchId)

  /** The standing rollup: sum of every delta, group-grain. */
  def current: DataFrame =
    deltasFrame.read
      .groupBy(groupCols.map(col): _*)
      .agg(sum(sumCols.head).as(sumCols.head),
        sumCols.tail.map(c => sum(c).as(c)): _*)

  /** The `(batch, id)` sink `foreachBatch` plugs straight into:
    * `deltaOf` pre-aggregates the raw batch to the delta grain (run
    * map-side, batch-sized), then [[accept]] lands it.
    */
  def maintain(deltaOf: DataFrame => DataFrame): (Dataset[Row], Long) => Unit =
    (batch, batchId) => accept(deltaOf(batch.toDF()), batchId)
}
