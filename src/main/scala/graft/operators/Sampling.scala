package graft.operators

import graft.etl.StarSchema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data curation: per-source quota
  * caps, mixture-weighted downsampling, and token-budget shard packing.
  *
  * Every sampler is CONTENT-KEYED (md5 of the text), never random:
  * re-running the pipeline on a re-ingested, re-partitioned copy of the
  * corpus must select the same documents — `rand()` cannot promise
  * that, a content hash can.
  */
object Sampling {

  /** Cap each source's contribution at `k` documents: the k with the
    * smallest content hash (a deterministic uniform draw). The rank
    * filter is a per-group top-k, so WindowGroupLimit keeps only k rows
    * per source inside the shuffle instead of ranking every row.
    */
  def sourceQuota(docs: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("__h"), col("doc_id"))
    docs.select(col("source"), col("doc_id"), md5(col("text")).as("__h"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("source", "rank", "doc_id")
      .orderBy("source", "rank")
  }

  /** Uniform-in-[0,1) draw from the first 8 hex chars of md5(text) —
    * 32 bits of hash mapped to u = h / 2^32.
    */
  private def uniformDraw = conv(substring(md5(col("text")), 1, 8), 16, 10)
    .cast("long") / lit(4294967296L)

  /** Mixture-weighted downsampling: keep a document iff its uniform
    * content-hash draw falls below its source's mixture rate (sources
    * missing from `rates` default to 1.0 = keep all). This is how a
    * training mix reweights domains — a pure narrow filter: one scan,
    * no shuffle, and the SAME documents survive on any cluster layout.
    * Returns per-source survivor counts (the mix report).
    */
  def mixture(docs: DataFrame, rates: Map[String, Double]): DataFrame = {
    val rate = rates.foldLeft(lit(1.0)) { case (acc, (src, r)) =>
      when(col("source") === src, r).otherwise(acc)
    }
    docs.filter(uniformDraw < rate)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("kept_chars"))
      .orderBy("source")
  }

  /** Temperature-flattened source sampling — the multilingual/source
    * rebalancing rule (mBERT/XLM): sample source s with probability
    * ∝ n_s^α, flattening the head so low-resource sources are not
    * drowned. Realized as a deterministic acceptance filter with
    * keep-rate (n_min/n_s)^(1−α), normalized so the smallest source
    * keeps everything. α is FIXED at 1/2: the rate is then
    * sqrt(n_min/n_s) — one divide and one sqrt, both correctly
    * rounded under IEEE-754 in any engine — so even this float policy
    * replays bit-for-bit in the oracle (a pow() would not: libm
    * pow is not correctly rounded and differs across engines).
    *
    * One source-grain count aggregate broadcasts back onto the scan;
    * the accept test is the same content-hash uniform as [[mixture]]
    * — deterministic and re-ingestion-stable. Returns the mix report
    * (source, n_docs, rate, n_kept).
    */
  def temperature(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val minN = counts.agg(min("n_docs").as("__nmin"))
    val rated = counts.crossJoin(broadcast(minN))
      .select(col("source"), col("n_docs"),
        sqrt(col("__nmin").cast("double") / col("n_docs")).as("rate"))
    // survivors LEFT-joined back onto the rated source list: a source
    // whose every draw fails must report n_kept = 0, not vanish — a
    // consumer deriving mixing weights would otherwise read "sampled
    // to zero" as "does not exist"
    val kept = docs.join(broadcast(rated.select("source", "rate")), "source")
      .filter(uniformDraw < col("rate"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    rated.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), round(col("rate"), 4).as("rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** Epoch-weighted dataset mixing — the pretraining sampling table
    * ("books ×2.5 epochs, web ×0.25") materialized as training rows:
    * each document yields ⌊w⌋ full copies plus one more iff its
    * uniform content-hash draw falls below frac(w), so a source's
    * expected token share scales by exactly w while every decision
    * stays deterministic and re-ingestion-stable (same doc ⇒ same
    * copies on any cluster layout). Sources missing from `epochs`
    * default to 1.0 (one copy). Pure narrow per-row arithmetic + a
    * 1→⌈w⌉ explode — one scan, no shuffle before the output sort.
    * Use dyadic weights (exactly representable doubles) so the
    * floor/frac cuts replay bit-for-bit in any engine.
    */
  def epochMix(docs: DataFrame, epochs: Map[String, Double]): DataFrame = {
    val w = epochs.foldLeft(lit(1.0)) { case (acc, (src, e)) =>
      when(col("source") === src, e).otherwise(acc)
    }
    docs
      .select(col("doc_id"), col("source"), w.as("__w"),
        uniformDraw.as("__u"))
      .select(col("doc_id"), col("source"),
        (floor(col("__w")).cast("long") +
          when(col("__u") < col("__w") - floor(col("__w")), 1L)
            .otherwise(0L)).as("__n"))
      .filter(col("__n") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("__n"))).as("copy"))
  }

  /** Token-budget shard packing: assign documents (in doc_id order) to
    * consecutive training shards of ~`budget` tokens each — shard =
    * floor(exclusive-prefix-tokens / budget). The prefix sum is
    * [[StarSchema.globalPrefixSum]] (range-partitioned), so packing a
    * trillion-token corpus never funnels through one task. Returns the
    * per-shard manifest.
    */
  def shardPack(docs: DataFrame, budget: Long = 4096L): DataFrame = {
    val withTokens = docs.select(col("doc_id"),
      TextAnalysis.nTokensExpr(col("text")).as("n_tokens"))
    StarSchema.globalPrefixSum(withTokens, Seq("doc_id"), "n_tokens", "cum")
      // exclusive prefix div budget, in exact integer arithmetic
      .withColumn("shard", expr(s"(cum - n_tokens) div ${budget}L"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("shard_tokens"))
      .orderBy("shard")
  }

  /** Mixture-weight SOLVER — the inverse of [[mixture]]/[[epochMix]]:
    * given target corpus shares per source (`targets`, summing to 1
    * over the sources the mix should contain) and an upsampling cap
    * (`cap` = max epochs over any single source), compute the largest
    * total char budget the corpus can honour and the per-source
    * sampling weight that realises it. A mixing table is usually
    * written by hand and then discovers mid-run that a small source
    * cannot supply its share; this solves the feasibility problem up
    * front: N* = min over targeted sources of (cap · chars_s / p_s)
    * — the binding source is sampled at exactly `cap` epochs, every
    * other weight is N*·p_s/chars_s < cap. Weights > 1 upsample
    * (feed [[epochMix]]); ≤ 1 downsample (feed [[mixture]]).
    *
    * One source-grain aggregate (map-side combined — per-partition
    * state is |sources| rows however large the corpus) + a broadcast
    * 1-row scalar: nothing here grows with corpus size. Sources
    * absent from `targets` are excluded (their share of the mix is
    * zero). Use dyadic shares/cap so the float divisions replay
    * bit-for-bit in any engine (the min and both divides are single
    * correctly-rounded IEEE ops).
    */
  /** The composed mix-and-pack step a training run actually executes:
    * SOLVE the feasible weights for the target shares
    * ([[mixtureWeights]]), realise them as deterministic epoch copies
    * ([[epochMix]]), and pack the copies into token-budget shards in
    * (doc_id, copy) order ([[StarSchema.globalPrefixSum]] — packing a
    * trillion-token mix never funnels one task). Returns the
    * per-shard manifest. The solved weight table is mix-sized
    * (|sources| rows — a model-sized driver collect, the codebook
    * precedent); everything row-grain stays distributed. Sources
    * outside `targets` are excluded up front, matching the solver.
    */
  def packTrainingMix(docs: DataFrame, targets: Map[String, Double],
                      cap: Double = 4.0, budget: Long = 4096L): DataFrame = {
    val weights = mixtureWeights(docs, targets, cap)
      .select("source", "weight").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val mixDocs = docs.filter(col("source").isin(targets.keys.toSeq: _*))
    val copies = epochMix(mixDocs, weights)
    val withTokens = copies
      .join(docs.select(col("doc_id"),
        TextAnalysis.nTokensExpr(col("text")).as("n_tokens")), "doc_id")
      .select(col("doc_id"), col("copy"), col("n_tokens"))
    StarSchema.globalPrefixSum(withTokens, Seq("doc_id", "copy"),
        "n_tokens", "cum")
      .withColumn("shard", expr(s"(cum - n_tokens) div ${budget}L"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"), sum("n_tokens").as("shard_tokens"))
      .orderBy("shard")
  }

  def mixtureWeights(docs: DataFrame, targets: Map[String, Double],
                     cap: Double = 4.0): DataFrame = {
    require(targets.nonEmpty, "mixtureWeights needs at least one target share")
    val share = targets.foldLeft(lit(null).cast("double")) {
      case (acc, (src, p)) => when(col("source") === src, p).otherwise(acc)
    }
    val perSource = docs
      .groupBy("source").agg(sum("n_chars").as("total_chars"))
      .withColumn("share", share)
      .filter(col("share").isNotNull)
    val nStar = perSource.agg(
      min(lit(cap) * col("total_chars") / col("share")).as("__nstar"))
    perSource.crossJoin(broadcast(nStar))
      .select(col("source"), col("total_chars"), col("share"),
        round(col("__nstar") * col("share") / col("total_chars"), 4)
          .as("weight"),
        round(col("__nstar") * col("share"), 4).as("planned_chars"))
      .orderBy("source")
  }
}
