package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Fail-soft sizing for FORCED broadcasts of probe-side frames.
  *
  * The persisted-index probes ([[graft.operators.Dedup.minhashProbe]],
  * [[graft.operators.Similarity.embeddingProbe]] /
  * `pqEmbeddingProbe`) force-broadcast the candidate frame into a
  * streaming scan of the index — that is what keeps per-batch cost
  * flat as the corpus grows (INDEX_SCALE.md: the auto-broadcast
  * rollover that silently shuffled the index side was the one 100×
  * scale cliff found by measurement). But a forced `broadcast()` is
  * unconditional: the candidate set is bounded by batch × bucket
  * collisions, NOT by the batch alone, so a duplication-heavy
  * (adversarial) corpus can push it past Spark's 8 GB broadcast /
  * driver-memory hard limit and fail the whole batch where an
  * un-hinted join would have degraded to a shuffle.
  *
  * [[guarded]] makes the degradation explicit and measured instead of
  * accidental: the probe frame is pinned once with `localCheckpoint`
  * (eager — the SAME single pass over the index postings the lazy
  * plan made, now reusable), its exact row count is read off the
  * pinned partitions (cheap — no recompute), and the frame is then
  * either
  *
  *   - `broadcast(...)`-hinted (count ≤ `graft.probe.maxBroadcastRows`,
  *     default 1,000,000): the flat-cost fast path — the index side
  *     streams, nothing corpus-sized shuffles; or
  *   - `hint("shuffle_hash")`-ed (above the threshold): both sides
  *     shuffle on the join key, the pinned probe frame is the build
  *     side. The batch pays collision-proportional shuffle instead of
  *     hard-failing — fail-soft, exactly the old un-hinted behavior
  *     but chosen deliberately and only when the fast path is unsafe.
  *
  * The fast path is gated on BOTH rows and estimated BYTES (ADVICE
  * r11: a rows-only bound lets a 1M-row shingle-array frame at ~1 KB/
  * row attempt a ~1 GB broadcast — over Spark's default 1g driver
  * memory long before the 8 GB broadcast limit). Bytes are estimated
  * as exact row count × sampled average row size: a Bernoulli
  * `sample()` at fraction ≈ 1024/rows collected WHOLE, so every
  * pinned partition contributes in expectation (~1024 rows, driver-
  * bounded) and a frame whose row sizes correlate with write order
  * cannot skew the average (ADVICE r12: a `limit` after the sample
  * drained only the earliest partitions). The SizeEstimator java-
  * object figure exceeds the tungsten wire size, so the estimate
  * stays conservative. Defaults: 1M rows AND 256 MB — safe under an
  * un-tuned 1g driver; tune per deployment via the runtime confs
  * (`graft.probe.maxBroadcastRows` / `graft.probe.maxBroadcastBytes`);
  * ProbePlanSpec pins all regimes structurally.
  *
  * Laziness note: calling this RUNS a job (the checkpoint + count +
  * sample) at plan-construction time. The probes are deployed inside
  * `foreachBatch` where plan construction is already per-batch work;
  * the extra jobs over pinned partitions are noise next to the index
  * scan itself.
  *
  * The pin obeys [[Pin]] (`graft.pin.mode`): localCheckpoint by
  * default, reliable checkpoint on clusters with dynamic allocation.
  */
object ProbeGuard {
  val ConfKey = "graft.probe.maxBroadcastRows"
  val DefaultMaxBroadcastRows = 1000000L
  val BytesConfKey = "graft.probe.maxBroadcastBytes"
  val DefaultMaxBroadcastBytes = 256L * 1024 * 1024

  def maxBroadcastRows(df: DataFrame): Long =
    df.sparkSession.conf
      .get(ConfKey, DefaultMaxBroadcastRows.toString).toLong

  private def maxBroadcastBytes(df: DataFrame): Long =
    df.sparkSession.conf
      .get(BytesConfKey, DefaultMaxBroadcastBytes.toString).toLong

  /** rows × sampled avg java-object row size of an already-pinned
    * frame — 0 for an empty frame.
    */
  private def estimatedBytes(pinned: DataFrame, rows: Long): Long = {
    if (rows == 0L) return 0L
    // spread sample, not limit(): limit(1024) drains the FIRST
    // partition(s), so a frame whose row sizes correlate with write
    // order (short docs first, long docs later) underestimates the
    // average and an oversized broadcast slips past the byte bound —
    // the exact failure this guard exists to stop. A CollectLimit on
    // TOP of the sample re-introduces the same bias in attenuated form
    // (it still drains the sampled frame's earliest partitions first —
    // ADVICE r12), so the Bernoulli sample is collected whole: at
    // fraction 1024/rows the expected size is ~1024 rows, driver-
    // bounded, and every partition contributes in expectation. Seeded,
    // so the guard's regime decision is deterministic across runs.
    val fraction = math.min(1.0, 1024.0 / rows)
    val sample = pinned.sample(withReplacement = false, fraction, seed = 7L)
      .collect()
    if (sample.isEmpty) return 0L
    val avg = org.apache.spark.util.SizeEstimator.estimate(sample).toDouble /
      sample.length
    math.ceil(avg * rows).toLong
  }

  def guarded(probeSide: DataFrame): DataFrame = {
    val pinned = Pin.pin(probeSide)
    val rows = pinned.count()
    if (rows <= maxBroadcastRows(pinned) &&
        estimatedBytes(pinned, rows) <= maxBroadcastBytes(pinned))
      broadcast(pinned)
    else pinned.hint("shuffle_hash")
  }
}
