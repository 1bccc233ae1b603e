package graft.streaming

import graft.operators.Sketches
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained QUANTILE sketch — the streaming
  * deployment of [[Sketches.quantileSketch]], completing the sketch
  * trio's deployment story (the HLL has its register-emitting stream
  * twin, the CMS its per-batch fold spec; this is the quantile
  * member's). Each micro-batch lands its own bottom-`k` sketch in a
  * `batch=<id>` partition; the standing sketch is
  * [[Sketches.quantileMerge]] over all partitions — bottom-k under a
  * total order is a SEMILATTICE (associative, commutative,
  * IDEMPOTENT), so merge-on-read equals the one-pass sketch of every
  * row ever streamed (spec-pinned), and re-merging absorbed rows is
  * harmless by construction.
  *
  * Replay safety is the index discipline (own-partition overwrite
  * under foreachBatch's at-least-once delivery) — and unlike
  * [[RollupState]]'s additive deltas, compaction needs NO src_batch
  * guard: the generic fold's DISTINCT collapsing an identical row
  * from two batches is exactly the idempotence bottom-k wants (the
  * same (group, value, hash, rowId) row absorbed twice IS one row).
  *
  * State: ≤ k rows per group per batch partition before compaction,
  * ≤ k per group after — however large the stream. `rowId` must be
  * row-unique across the stream (it is the total-order tiebreak and
  * the idempotence key).
  */
class QuantileIndex(protected val spark: SparkSession, dir: String,
                    template: DataFrame, group: Seq[String],
                    value: Column, rowId: Column,
                    k: Int = Sketches.QsK) extends IndexMaintenance {
  private val sketchFrame = new BatchFrame(spark, s"$dir/sketch",
    Sketches.quantileSketch(template.limit(0), group, value, rowId, k))
  private[streaming] def frames = Seq(sketchFrame)

  /** Land one micro-batch's bottom-k sketch (idempotent under
    * replay — own-partition overwrite).
    */
  def accept(batch: DataFrame, batchId: Long): Unit =
    sketchFrame.write(
      Sketches.quantileSketch(batch, group, value, rowId, k), batchId)

  /** The standing sketch: bottom-k of every batch's bottom-k (the
    * `batch` partition-discovery column is dropped — it is layout,
    * not sketch state).
    */
  def sketch: DataFrame =
    Sketches.quantileMerge(group, k,
      sketchFrame.read.drop("batch"))

  /** Quantile estimates over the standing sketch
    * ([[Sketches.quantileEstimate]]).
    */
  def estimate(qs: Seq[(String, Double)]): DataFrame =
    Sketches.quantileEstimate(sketch, group, qs)

  /** The `(batch, id)` sink `foreachBatch` plugs straight into. */
  def maintain: (Dataset[Row], Long) => Unit =
    (batch, batchId) => accept(batch.toDF(), batchId)
}
