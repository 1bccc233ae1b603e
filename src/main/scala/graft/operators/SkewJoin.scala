package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys.
  *
  * A hash-partitioned join sends every row of a hot key to one task;
  * one pathological key (the null user, the default account, the
  * crawler bot) can pin a 1000-executor stage on a single straggler.
  * Salting splits each hot key's rows across `saltBuckets` tasks:
  * the big side gets a deterministic salt in [0, saltBuckets), the
  * small side is replicated once per salt value, and the join key
  * becomes (key, salt).
  *
  * Use when AQE's skew-join splitting isn't available (e.g. the skewed
  * side feeds a window) or the hot keys are known a priori. The salt is
  * derived from the big side's whole row hash — deterministic, no RNG
  * in the plan, stable under retries.
  */
object SkewJoin {

  /** Sentinel for `saltBuckets`: size the salt space to the cluster's
    * default parallelism (clamped [8, 1024]). Salting never changes
    * the join RESULT — only how many tasks a hot key spreads across —
    * so the auto default is oracle-safe; a fixed 8 silently capped the
    * hottest key at 8 tasks on a 1000-executor stage (the exact
    * straggler this operator exists to kill). The cost of more buckets
    * is linear small-side replication: pass an explicit count when the
    * small side is only barely replicable.
    */
  val AutoSalt = 0

  private def resolveSalt(big: DataFrame, saltBuckets: Int): Int =
    if (saltBuckets != AutoSalt) saltBuckets
    else math.min(1024,
      math.max(8, big.sparkSession.sparkContext.defaultParallelism))

  /** Inner equi-join of `big` (skewed) with `small` on `keys`;
    * `small` is replicated `saltBuckets`×, so keep it dimension-sized.
    */
  def saltedInner(big: DataFrame, small: DataFrame, keys: Seq[String],
                  saltBuckets: Int = AutoSalt): DataFrame = {
    val nSalt = resolveSalt(big, saltBuckets)
    require(nSalt > 0, "saltBuckets must be positive")
    val salted = big.withColumn("__salt",
      pmod(hash(big.columns.map(col).toIndexedSeq: _*), lit(nSalt)))
    val replicated = small.withColumn("__salt",
      explode(array((0 until nSalt).map(lit): _*)))
    salted.join(replicated, keys :+ "__salt").drop("__salt")
  }

  /** Top-frequency key cut: drop keys whose row count exceeds `maxDf`
    * — the stopword guard used by the inverted-index joins, exposed as
    * a reusable primitive.
    *
    * NOT a window: `count().over(partitionBy(key))` would funnel every
    * row of the hottest key through one task — the exact failure this
    * primitive exists to guard. Instead the counts come from a
    * partial-aggregating hash groupBy (map-side combine shrinks the hot
    * key to one row per task before the shuffle) and the few hot keys
    * are broadcast back as an anti-join, so the full rows of a hot key
    * are never co-located anywhere.
    *
    * The anti-join condition is null-safe (`<=>`): a hot NULL key — the
    * archetypal skew key this guard exists for — groups and drops like
    * any other value.
    */
  def dropHotKeys(df: DataFrame, key: Column, maxDf: Long): DataFrame = {
    val hot = df.select(key.as("__hot_k")).groupBy("__hot_k")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select("__hot_k")
    df.join(broadcast(hot), key <=> col("__hot_k"), "left_anti")
  }
}
