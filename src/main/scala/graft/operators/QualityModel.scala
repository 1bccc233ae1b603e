package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality classification — the fastText-style linear
  * classifier pipelines train on "reference corpus vs crawl" labels
  * (GPT-3's Wikipedia-vs-CommonCrawl filter, CCNet's companion model)
  * — as hashed-feature logistic regression trained INSIDE Spark.
  *
  * Everything stays relational; nothing model-sized ever reaches the
  * driver:
  *  - Features are hashed token-presence buckets
  *    ([[graft.functions.StringHash31]] & (2^bits − 1)) — the hashing
  *    trick bounds the model at 2^bits rows no matter the vocabulary,
  *    and needs no vocab dictionary (no fit/transform split, nothing
  *    to broadcast-build before training starts).
  *  - The model IS a DataFrame (feat, weight). Each full-batch
  *    gradient-descent iteration is: broadcast-join weights to the
  *    cached (doc, feat) instance table, one doc-grain aggregate for
  *    margins, one feat-grain aggregate for gradients, one join for
  *    the update — two shuffles of bounded width per iteration, zero
  *    `collect()`.
  *  - The intercept rides as feature −1 present in every doc (the
  *    bias-as-feature trick), so no scalar side-channel exists.
  *
  * At 100 TB the instance table is the only corpus-sized object; it is
  * built once, persisted, and every iteration touches only it and the
  * ≤2^bits-row model. Scoring is the same broadcast join at scan
  * speed. Like [[Similarity.kmeansRefine]], float aggregation order
  * makes exact weights run-dependent, so the spec pins the monotone
  * training loss and separable-data accuracy, not a hash.
  */
object QualityModel {

  /** Intercept pseudo-feature, present in every document. */
  final val BiasFeat = -1L

  /** A trained model: the (feat, weight) frame BOUND to the hash
    * width it was trained at. Scoring with a different `bits` than
    * training silently hashes every token into a different feature
    * space — garbage probabilities, no error — so the width travels
    * with the weights and [[classify]] takes the pair, not a free
    * parameter.
    */
  final case class Model(weights: DataFrame, bits: Int)

  /** Distinct hashed presence features per doc, plus the bias:
    * (doc_id, feat). One scan, no shuffle (explode + distinct is
    * per-doc via the array, not a global distinct).
    */
  def featurize(docs: DataFrame, bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 24, s"bits must be in [1,24], got $bits")
    // NULL text must not drop the doc: split(NULL) is NULL, concat
    // with a NULL array is NULL, and explode of NULL emits no rows —
    // the doc would silently vanish from scoring and mis-scale the
    // gradient (counted in n, absent from every update)
    val toks = array_distinct(filter(
      split(coalesce(col("text"), lit("")), " "), t => length(t) > 0))
    val feats = transform(toks, t =>
      GraftFunctions.stringHash31(t).bitwiseAND(lit((1L << bits) - 1)))
    docs.select(col("doc_id"),
      explode(concat(array(lit(BiasFeat)), array_distinct(feats))).as("feat"))
  }

  /** Per-doc margin + probability under a (feat, weight) model: one
    * broadcast join + one doc-grain aggregate. Docs contribute their
    * bias feature even when tokenless, so every doc scores.
    */
  def score(inst: DataFrame, model: DataFrame): DataFrame =
    inst.join(broadcast(model), Seq("feat"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("weight"), lit(0.0))).as("margin"))
      .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("margin"))))

  /** Mean log-loss of a model over labeled docs (labels: (doc_id,
    * label) with label ∈ {0,1}).
    */
  def logLoss(inst: DataFrame, labels: DataFrame, model: DataFrame): Double =
    score(inst, model).join(labels, "doc_id")
      .select(avg(
        -col("label") * log(greatest(col("p"), lit(1e-12)))
          - (lit(1.0) - col("label"))
          * log(greatest(lit(1.0) - col("p"), lit(1e-12)))).as("loss"))
      .head().getDouble(0)

  /** Full-batch gradient descent. `labeled` = (doc_id, text, label)
    * with label ∈ {0,1}. Returns the (feat, weight) model and, when
    * `trace` is set, the per-iteration log-loss (an extra pass each
    * iteration — spec/diagnostic use; production leaves it off).
    *
    * Each iteration pins ([[graft.core.Pin]]) the ≤2^bits-row model frame:
    * without it, iteration k's plan re-derives every previous
    * iteration (the connected-components lineage lesson).
    */
  def train(labeled: DataFrame, bits: Int = 16, iters: Int = 20,
            lr: Double = 0.5, trace: Boolean = false): (Model, Seq[Double]) = {
    val inst = featurize(labeled, bits)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = labeled.select(col("doc_id"), col("label").cast("double"))
    val n = labeled.count().toDouble
    require(n > 0, "train needs at least one labeled doc")

    var model = inst.select("feat").distinct()
      .withColumn("weight", lit(0.0)).transform(graft.core.Pin.pin(_))
    val losses = Seq.newBuilder[Double]
    for (_ <- 1 to iters) {
      if (trace) losses += logLoss(inst, labels, model)
      val resid = score(inst, model).join(labels, "doc_id")
        .select(col("doc_id"), (col("p") - col("label")).as("resid"))
      val grads = inst.join(resid, "doc_id")
        .groupBy("feat").agg((sum("resid") / n).as("grad"))
      // every instance feature is a model key (init covers them all),
      // so a left join is total; the pin truncates lineage
      model = model.join(grads, Seq("feat"), "left")
        .select(col("feat"),
          (col("weight") - lit(lr) * coalesce(col("grad"), lit(0.0)))
            .as("weight"))
        .transform(graft.core.Pin.pin(_))
    }
    if (trace) losses += logLoss(inst, labels, model)
    inst.unpersist()
    (Model(model, bits), losses.result())
  }

  /** Classify docs with a trained model: (doc_id, margin, p, keep).
    * The hash width comes from the model — see [[Model]].
    */
  def classify(docs: DataFrame, model: Model,
               threshold: Double = 0.5): DataFrame =
    score(featurize(docs, model.bits), model.weights)
      .withColumn("keep", col("p") >= threshold)

  /** The model frozen into a STATELESS per-row scoring expression —
    * the ingest-time deployment shape. The ≤2^bits-row weight table
    * is collected ONCE (model-sized, the codebook-collect precedent)
    * into a map literal that ships inside the expression, so scoring
    * is a pure projection: no join, no aggregation, no state — it
    * drops unmodified into a `readStream` the way `Redact.scrub`
    * does, and composes with any other gate in the same scan.
    * StreamScoreSpec pins row-identical stream/batch output.
    */
  def scoreExpr(model: Model): Column = {
    val rows = model.weights.collect()
    val entries = rows.map(r => (r.getLong(0), r.getDouble(1)))
    val wmap = typedlit(entries.toMap)
    val toks = array_distinct(filter(
      split(coalesce(col("text"), lit("")), " "), t => length(t) > 0))
    val feats = concat(array(lit(BiasFeat)), array_distinct(transform(toks,
      t => graft.functions.GraftFunctions.stringHash31(t)
        .bitwiseAND(lit((1L << model.bits) - 1)))))
    val margin = aggregate(feats, lit(0.0),
      (acc, f) => acc + coalesce(element_at(wmap, f), lit(0.0)))
    lit(1.0) / (lit(1.0) + exp(-margin))
  }

  /** [[classify]] via [[scoreExpr]]: one stateless projection, stream
    * or batch. Summation order over a doc's features is the array
    * order here vs the aggregate order in [[score]], so probabilities
    * may differ in the last ulp between the two paths — equal after
    * the 4-decimal round every comparison in this repo uses.
    */
  def classifyStreaming(docs: DataFrame, model: Model,
                        threshold: Double = 0.5): DataFrame =
    docs.select(col("doc_id"), scoreExpr(model).as("p"))
      .withColumn("keep", col("p") >= threshold)
}
