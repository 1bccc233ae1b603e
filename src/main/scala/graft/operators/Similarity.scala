package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Vector math runs through the native [[graft.functions.VectorDot]]
  * codegen kernel in double precision — no UDF, no MLlib dependency,
  * no interpreted higher-order functions in the hot path.
  */
object Similarity {

  /** Dot product of two float-array columns, computed in double.
    * Native codegen kernel — see [[graft.functions.VectorDot]]; the
    * `zip_with`+`aggregate` equivalent is interpreted (CodegenFallback)
    * and two orders of magnitude slower on a corpus scan.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vectorDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused single-pass cosine ([[graft.functions.VectorCosine]]) —
    * one traversal instead of three VectorDot calls per pair, same
    * IEEE result (each running sum accumulates in index order).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vectorCosine(a, b)

  /** Unit-normalize embeddings, emitted in exploded (vec_id, pos, val)
    * form. Every step is per-row and bit-stable across engines: the
    * norm is the index-ordered double MAC + one correctly-rounded sqrt,
    * each element widens float→double exactly, and one division +
    * round(4) per element — so even this floating-point kernel
    * hash-checks against the oracle. Pure projection: no shuffle.
    * (Exploded output: scalar rows hash-compare portably; downstream
    * consumers regroup with sort_array(collect_list((pos, val))).)
    */
  def normalize(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("l2"))
      .select(col("vec_id"), posexplode(col("embedding")), col("l2"))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("pos"),
        round(col("col").cast("double") / col("l2"), 4).as("unit_val"))

  /** One Lloyd iteration per call: refine IVF coarse centroids by
    * k-means over the corpus. Assignment reuses the broadcast-centroid
    * nearest-cell scan; the update is a (cell, dim) hash aggregate over
    * the exploded vectors — two shuffles per round, both partitioned,
    * none corpus-funneling. Float means are order-dependent in the last
    * ulp, so this is deliberately NOT an oracle query — the spec checks
    * the k-means invariant (mean intra-cell similarity non-decreasing)
    * with a tolerance instead.
    */
  def kmeansRefine(corpus: DataFrame, centroids: DataFrame,
                   iters: Int = 2): DataFrame = {
    var cur = centroids
    for (_ <- 1 to iters) {
      // the same argmax kernel as the IVF assignment scan — one
      // codegen'd projection per iteration, no corpus×cells fan-out
      // (bit-identical cosine + tie-break to the window form, so the
      // refinement trajectory is unchanged)
      val assigned = nearestCells(corpus, cur, "vec_id", "embedding", n = 1)
      cur = assigned
        .select(col("cell_id"), posexplode(col("embedding")))
        .groupBy("cell_id", "pos").agg(avg(col("col")).as("m"))
        .groupBy("cell_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          _.getField("m").cast("float")).as("centroid"))
        .transform(graft.core.Pin.pin(_))
    }
    cur
  }

  /** Mean nearest-centroid cosine over the corpus — the (negated)
    * k-means objective, for convergence checks. Routed through the
    * same [[nearestCells]] argmax kernel as the IVF assignment scan
    * (n=1 per vector, bit-identical cosine + tie-break), then one
    * broadcast join back to the centroid table for the chosen cell's
    * cosine — a corpus retrain's convergence check must not be the
    * one remaining corpus×cells crossJoin fan-out.
    */
  def assignmentQuality(corpus: DataFrame, centroids: DataFrame): Double =
    nearestCells(corpus, centroids, "vec_id", "embedding", n = 1)
      .join(broadcast(centroids.select(
        col("cell_id").cast("long").as("cell_id"), col("centroid"))), "cell_id")
      .agg(avg(cosine(col("embedding"), col("centroid"))))
      .head().getDouble(0)

  /** Brute-force cosine top-k: the exact baseline.
    *
    * The (small) probe set is broadcast against the full corpus — one
    * scan, no shuffle until the final per-probe top-k, which exchanges
    * only `numProbes × partitions × k` rows thanks to rank pushdown
    * (WindowGroupLimit). Ties broken by vec_id for determinism.
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int = 5): DataFrame = {
    val scored = corpus.as("c")
      .crossJoin(broadcast(probes.select(
        col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))))
      .filter(col("c.vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("c.vec_id").as("neighbor_id"),
        cosine(col("probe_emb"), col("c.embedding")).as("cos_sim"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("cos_sim"), 4).as("cos_sim"))
      .orderBy("probe_id", "rank")
  }

  /** Sentinel for `stride`/`centroidStride`: resolve the IVF cell
    * count from the corpus size at plan-build time ([[regimeStride]]).
    * This is the DEFAULT — a fixed stride is an explicit opt-in (the
    * oracle-replay entries pin 50, which happens to sit near √n at
    * the test scales but is a 100 TB footgun as a default: stride 50
    * on 10⁹ vectors is 2·10⁷ cells, and both the assignment scan and
    * every probe pay the k-dot centroid pass).
    */
  val AutoStride = 0

  /** Occupancy rule for the IVF cell grid: per-probe cost is
    * k centroid dots + nProbeCells·(n/k) cell-member dots, minimized
    * at k ≈ √(nProbeCells·n); with stride = n/k that is
    * stride ≈ √(n/nProbeCells) ≈ √n. Clamped below so a tiny corpus
    * still forms a few multi-member cells.
    */
  def regimeStride(corpusRows: Long): Int =
    math.max(2, math.ceil(math.sqrt(math.max(corpusRows, 1L).toDouble)).toInt)

  private def resolveStride(corpus: DataFrame, stride: Int): Int =
    if (stride != AutoStride) stride
    else regimeStride(corpus.count())

  /** The deterministic coarse-centroid seed for [[ivfTopK]]: every
    * `stride`-th vector. A pure narrow filter over the corpus scan —
    * no sampling RNG, so every recomputation agrees. `stride` defaults
    * to [[AutoStride]] (one count() at plan-build time — pass an
    * explicit stride for fully-lazy construction or oracle replay).
    */
  def strideCentroids(corpus: DataFrame,
                      stride: Int = AutoStride): DataFrame = {
    val s = resolveStride(corpus, stride)
    corpus.filter(pmod(col("vec_id"), lit(s)) === 0)
      .select(col("vec_id").as("cell_id"), col("embedding").as("centroid"))
  }

  /** IVF-style ANN: the scale path.
    *
    * Coarse centroids default to the deterministic stride seed
    * ([[strideCentroids]]); pass `centroids` to slot in refined ones —
    * [[kmeansRefine]] output has exactly the required (cell_id,
    * centroid) shape, and SimilaritySpec asserts the refined cells
    * don't degrade recall vs the seed. Corpus assigned to its nearest
    * cell once, probes search only their `nProbeCells` closest cells.
    * The centroid table is a driver-collected task-constant in both
    * phases (the [[nearestCells]] kernel); the corpus is scanned once
    * and shuffled once on cell_id.
    */
  /** Top-`n` nearest cells (by centroid cosine) per row of `df` —
    * the assignment scan shared by [[ivfTopK]], [[ivfPqTopK]] and
    * [[refreshAssignments]]. Keeps (idCol, embCol, cell_id).
    *
    * One codegen'd projection over the `df` scan: the centroid table
    * is collected driver-side (model-sized — the PQ-codebook
    * precedent; an IVF quantizer is 2^14–2^16 cells × dim floats,
    * megabytes) and rides into [[graft.functions.NearestCells]] as a
    * task-constant, so the scan emits exactly `n` rows per vector.
    * The crossJoin + rank-window form this replaced materialized a
    * corpus×cells fan-out into the window's exchange — 10⁴–10⁵× row
    * inflation at a realistic quantizer, the one shape that could
    * not survive a 100× scale-up. Ordering/tie/NaN parity with that
    * window form is spec-pinned at 1k+ cells (NearestCellsSpec).
    */
  private def nearestCells(df: DataFrame, cents: DataFrame,
                           idCol: String, embCol: String, n: Int): DataFrame = {
    val rows = cents
      .select(col("cell_id").cast("long"), col("centroid")).collect()
      .sortBy(_.getLong(0))
    // empty centroid table (empty corpus seed) -> empty assignment,
    // matching the crossJoin-form's natural behavior
    if (rows.isEmpty)
      return df.select(col(idCol), col(embCol), lit(0L).as("cell_id"))
        .where(lit(false))
    val ids = rows.map(_.getLong(0))
    require(ids.distinct.length == ids.length,
      "nearestCells: duplicate cell_id in centroid table")
    val dim = rows.head.getSeq[Float](1).length
    val flat = new Array[Float](rows.length * dim)
    var r = 0
    while (r < rows.length) {
      val cent = rows(r).getSeq[Float](1)
      require(cent.length == dim,
        s"nearestCells: centroid dim ${cent.length} != $dim for cell ${ids(r)}")
      var i = 0
      while (i < dim) { flat(r * dim + i) = cent(i); i += 1 }
      r += 1
    }
    df.select(col(idCol), col(embCol),
      explode(graft.functions.GraftFunctions.nearestCells(
        col(embCol), ids, flat, dim, n)).as("cell_id"))
  }

  /** The corpus half of the IVF index, made explicit for persistence:
    * (vec_id, embedding, cell_id) — every vector tagged with its
    * nearest coarse cell. At 100 TB this frame (plus its small
    * centroid table) is built ONCE, written partitioned/bucketed by
    * `cell_id` (cell-pruned scans at query time), and
    * [[ivfTopKIndexed]] serves every query batch from it — the inline
    * [[ivfTopK]] re-assigns the whole corpus per call, which is a
    * backfill/test convenience, not the deployment shape.
    */
  def ivfAssignments(corpus: DataFrame, centroids: DataFrame): DataFrame =
    nearestCells(corpus, centroids, "vec_id", "embedding", 1)

  /** IVF index maintenance under centroid DRIFT: bring a PERSISTED
    * cell_id-partitioned [[ivfAssignments]] directory current against
    * refreshed centroids (a [[kmeansRefine]] round, a periodic
    * retrain) while rewriting ONLY the affected cell partitions.
    *
    * One scan of the stored index computes every vector's new nearest
    * cell (the assignment function changed globally, so the COMPUTE
    * is irreducible — but it is a single broadcast-join projection,
    * no shuffle); vectors whose cell CHANGED define the affected set
    * (their old cells ∪ new cells — bounded by the centroid count,
    * collected driver-side), and dynamic partition overwrite rewrites
    * exactly those partitions with their re-assigned content. At
    * index scale the WRITE is the expensive half, and incremental
    * drift touches few cells — untouched partitions' files are never
    * rewritten (spec asserts byte-identical listings). A cell fully
    * drained by the drift is deleted explicitly (dynamic overwrite
    * only replaces partitions it writes rows into).
    *
    * Idempotent / crash-convergent: re-running against the same
    * centroids re-reads whatever state is on disk and moves any
    * still-misassigned vector; a refreshed index is row-identical to
    * a fresh [[ivfAssignments]] build (spec-pinned).
    */
  def refreshAssignments(spark: SparkSession, indexDir: String,
                         newCentroids: DataFrame): Unit = {
    val stored = spark.read.parquet(indexDir)
    // dedup by vec_id BEFORE ranking: a crash between the partition
    // write and the drained-cell delete below can leave a moved
    // vector present in BOTH its old and new partitions; ranking the
    // duplicates would pick one nondeterministically
    val winner = nearestCells(
        stored.select("vec_id", "embedding").dropDuplicates("vec_id"),
        newCentroids, "vec_id", "embedding", n = 1)
      .withColumnRenamed("cell_id", "__new_cell")
      // read twice (affected set + content) and the write below
      // overwrites the dirs it reads
      .transform(graft.core.Pin.pin(_))
    // the affected set derives from ALL stored rows, not a per-vec
    // survivor: ANY stored copy sitting in a cell other than its
    // winner cell marks both that cell and the winner cell — so a
    // stale duplicate a previous crash left behind is itself swept
    // into the rewrite (its partition is re-emitted without it), and
    // re-running against the same centroids converges to exactly the
    // fresh-build state no matter where the last run stopped
    val affected = stored.select(col("vec_id"), col("cell_id").as("__old_cell"))
      .join(winner.select("vec_id", "__new_cell"), Seq("vec_id"))
      .filter(col("__old_cell") =!= col("__new_cell"))
      .select(explode(array(col("__old_cell").cast("long"),
        col("__new_cell"))).as("cell_id"))
      .distinct().collect().map(_.getLong(0)).toSeq
    if (affected.isEmpty) return
    val newContent = winner
      .filter(col("__new_cell").isin(affected: _*))
      .select(col("vec_id"), col("embedding"),
        col("__new_cell").as("cell_id"))
    val present = newContent.select("cell_id").distinct()
      .collect().map(_.get(0)).toSet
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try newContent.write.mode("overwrite").partitionBy("cell_id")
      .parquet(indexDir)
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    // a drained cell receives no rows, so dynamic overwrite leaves its
    // stale partition behind — drop it explicitly
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    affected.filterNot(present).foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"cell_id=$c"), true)
    }
  }

  /** [[ivfTopK]] against PERSISTED index frames ([[ivfAssignments]] +
    * its centroid table): probes are assigned to their `nProbeCells`
    * closest cells via the broadcast centroids and scored ONLY
    * against the matching cells' vectors — the corpus table itself is
    * never read, and with the assignments stored partitioned by
    * cell_id the scan prunes to the probed cells.
    */
  def ivfTopKIndexed(assigned: DataFrame, centroids: DataFrame,
                     probes: DataFrame, k: Int = 5,
                     nProbeCells: Int = 2): DataFrame = {
    val probeCells = nearestCells(
      probes.select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb")),
      centroids, "probe_id", "probe_emb", nProbeCells)
    probeCells.join(assigned, "cell_id")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine(col("probe_emb"), col("embedding")).as("cos_sim"))
      .groupBy("probe_id", "neighbor_id").agg(max("cos_sim").as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("cos_sim"), 4).as("cos_sim"))
      .orderBy("probe_id", "rank")
  }

  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int = 5,
              centroidStride: Int = AutoStride, nProbeCells: Int = 2,
              centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(strideCentroids(corpus, centroidStride))
    ivfTopKIndexed(ivfAssignments(corpus, cents), cents, probes, k, nProbeCells)
  }

  /** Embedding-cosine near-duplicate pairs via random-hyperplane LSH,
    * cosine-verified.
    *
    *  1. signatures: hyperplanes are generated driver-side (splitmix64,
    *     deterministic — no stored model, no RNG in the plan) and
    *     embedded as array literals, so each sign-bit is ONE native
    *     [[graft.functions.VectorDot]] against a constant — a single
    *     codegen'd projection over the corpus scan, no shuffle.
    *  2. candidates: same-band-bucket self-join (identical subtrees
    *     share one exchange), deduped BEFORE any verification.
    *  3. verify: exact native cosine per unique candidate pair after
    *     joining the embeddings back — precision is exact, only recall
    *     is probabilistic (≥ 1-(1-p^r)^b with p = 1 - θ/π).
    *
    * Bucket count per band is 2^rowsPerBand — size it so expected
    * bucket occupancy stays executor-friendly (more bits = fewer
    * collisions = lower recall at a given threshold). The one-shot
    * mining family DEFAULTS to [[AutoWidth]]: a corpus-count occupancy
    * probe picks the width ([[regimeRowsPerBand]]), so a caller that
    * omits the parameter gets the sparse regime at every scale — the
    * demo width r=6 is an explicit opt-in. MEASURED at sf1 (200k
    * planted true pairs — LSH_SCALE.md): r=6's 64 buckets/band
    * saturate and candidates grow corpus-quadratically (257k → 25.8M
    * at 10× corpus, 100.4×); r=16 holds candidates at 1.53× the true
    * pairs with IDENTICAL output at τ=0.9 and 138× less shuffle.
    * This rule is sign-LSH-specific: MinHash band-buckets
    * ([[graft.operators.Dedup.bandedBuckets]]) fold into an unbounded
    * hash space and sit at the candidate floor without widening.
    */
  /** Sentinel for `rowsPerBand` on the one-shot sign-LSH mining family
    * ([[nearDupPairs]] / [[embeddingNearDup]] / [[semanticDedup]] /
    * [[knnGraph]] / [[labelAgreement]] / [[embeddingIncremental]]):
    * resolve the band width from a corpus-count occupancy probe at
    * plan-build time ([[regimeRowsPerBand]]). This is the DEFAULT —
    * the demo width r=6 measured corpus-quadratic at one decade of
    * growth (LSH_SCALE.md: 25.8M candidates at 200k vectors, 100.4×
    * per 10× corpus) is now an explicit opt-in, never what a caller
    * gets by omission.
    */
  val AutoWidth = 0

  /** Sentinel for `bands` on the same one-shot mining family — and the
    * other half of the [[AutoWidth]] contract. Widening `r` at FIXED
    * bands guts recall (p^r decay: at cos 0.35, r=16, b=8 recall is
    * ~0.3%), so a caller that lets the occupancy probe widen the bucket
    * space must also let the recall formula raise the band count:
    * AutoBands resolves to [[regimeBands]](resolved r, the call's own
    * `minCosine`, R=0.95) at plan-build time. When no band count ≤ 4096
    * can hold the recall floor (threshold too low for sign-LSH at the
    * occupancy-required width), the resolution FAILS LOUDLY and points
    * at [[ivfTopKIndexed]] — a near-empty knn graph / dedup set by
    * omission is the one outcome this family must never produce. The
    * sole exception is the demo regime (auto width at its r=6 floor,
    * i.e. corpus ≤ ~256 rows): there low-τ mining keeps the historical
    * best-effort 8 bands, because a handful of rows cannot reproduce
    * the silent-collapse failure mode and demo calls (e.g. τ = -1,
    * "rank every LSH candidate") are legitimate.
    */
  val AutoBands = 0

  /** Resolve the (bands, rowsPerBand) geometry for a one-shot mining
    * call: [[AutoWidth]] → occupancy probe ([[regimeRowsPerBand]]),
    * [[AutoBands]] → recall compensation ([[regimeBands]]) at the
    * call's own threshold. Explicit values pass through untouched.
    * (The SparkEntry gate entries run bands=8 × AutoWidth since r13 —
    * their DuckDB oracles regenerate the plane literals at the
    * resolved width per SF, so nothing pins the demo width anymore.)
    */
  private def resolveGeometry(corpus: DataFrame, bands: Int,
                              rowsPerBand: Int,
                              minCosine: Double): (Int, Int) = {
    val r = if (rowsPerBand != AutoWidth) rowsPerBand
            else regimeRowsPerBand(corpus.count())
    val b =
      if (bands != AutoBands) bands
      else {
        val needed =
          if (minCosine > -1.0 && minCosine < 1.0)
            regimeBandsUncapped(r, minCosine, recall = 0.95)
          else Long.MaxValue // τ ≤ -1: no recall floor is definable
        if (needed <= 4096) needed.toInt
        else if (r <= 6) 8
        // r == 6 is the demo regime (corpus ≤ ~256 rows at occupancy
        // 4): low-τ mining there is best-effort by construction and
        // the historical 8-band default stands — a handful of rows
        // cannot silently produce the near-empty-result failure mode.
        else throw new IllegalArgumentException(
          s"sign-LSH cannot hold recall 0.95 at cosine >= $minCosine " +
            s"with the occupancy-required rowsPerBand=$r (needs " +
            s"$needed bands > 4096): the threshold is too low for " +
            "this corpus size. Mine via ivfTopKIndexed cells at this " +
            "scale, or pass an explicit (bands, rowsPerBand) " +
            "consciously at demo scale.")
      }
    (b, r)
  }

  /** Occupancy-driven sign-LSH band width: the smallest `r` with
    * expected bucket occupancy `corpusRows / 2^r ≤ targetOccupancy`,
    * clamped to [6, 24]. MEASURED basis (LSH_SCALE.md, sf1 = 200k
    * vectors / 90k planted true pairs): this rule selects r=16, which
    * holds the candidate multiset at 1.53× the true-pair floor with
    * output IDENTICAL to the saturated r=6 run at the dedup threshold
    * (τ = 0.9) and 138× less verify shuffle; r=6's 64 buckets/band
    * saturate and candidates grow ∝ corpus² instead.
    *
    * The width moves the band S-curve midpoint (≈ cos(π(1−(1/b)^(1/r))))
    * toward 1 as r grows, so AUTO WIDTH TARGETS THE NEAR-DUP REGIME
    * (τ ≳ 0.9, where measured recall is 1.0). Low-threshold similarity
    * MINING (τ ≈ 0.35) on a corpus big enough to push r past ~8 is a
    * different problem: no sign-LSH width is both sparse and
    * high-recall there — pass a small explicit width consciously at
    * demo scale, or mine via [[ivfTopKIndexed]] cells at cluster
    * scale. The clamp at 24 (16.7M buckets/band) exists because
    * recall at fixed bands decays as p^r: past it, raise `bands`
    * in tandem (recall ≥ 1−(1−p^r)^b with p = 1−θ/π) rather than
    * silently widening further.
    */
  def regimeRowsPerBand(corpusRows: Long,
                        targetOccupancy: Double = 4.0): Int = {
    val n = math.max(corpusRows, 1L).toDouble
    val needed =
      math.ceil(math.log(n / targetOccupancy) / math.log(2.0)).toInt
    math.min(24, math.max(6, needed))
  }

  /** The companion knob to [[regimeRowsPerBand]]: the smallest `bands`
    * holding sign-LSH recall ≥ `recall` for pairs at cosine ≥ `tau`
    * under width `rowsPerBand` — b = ⌈ln(1−R)/ln(1−pʳ)⌉ with
    * p = 1−θ/π. Use when a corpus is dense enough to push the
    * occupancy rule past the width your threshold tolerates: widen r
    * for sparsity AND raise bands from this formula to keep the
    * recall floor (bands cost linearly in corpus size; saturated
    * buckets cost quadratically — LSH_SCALE.md's trade, as a
    * function). Sanity-capped at 4096 bands: needing more means the
    * threshold is too low for sign-LSH at that width — mine via
    * [[ivfTopKIndexed]] cells instead.
    */
  def regimeBands(rowsPerBand: Int, tau: Double,
                  recall: Double = 0.95): Int =
    math.min(4096L, regimeBandsUncapped(rowsPerBand, tau, recall)).toInt

  /** [[regimeBands]] before the 4096 sanity cap — the [[AutoBands]]
    * resolution needs the uncapped count to FAIL (route to IVF) rather
    * than silently run a capped-but-still-insufficient geometry.
    */
  private def regimeBandsUncapped(rowsPerBand: Int, tau: Double,
                                  recall: Double): Long = {
    require(tau > -1.0 && tau < 1.0 && recall > 0.0 && recall < 1.0,
      s"tau in (-1,1), recall in (0,1) (got $tau, $recall)")
    val p = 1.0 - math.acos(tau) / math.Pi
    val pr = math.pow(p, rowsPerBand.toDouble)
    val b = math.ceil(math.log1p(-recall) / math.log1p(-pr))
    math.max(1L, if (b.isFinite) b.toLong else Long.MaxValue)
  }

  /** Deterministic LSH hyperplane `p` (splitmix64-derived — no stored
    * model, no RNG in the plan). Public so the oracle SQL can embed the
    * SAME planes as literals.
    */
  def hyperplane(p: Int, dims: Int = 64): Array[Float] = {
    def splitmix64(seed: Long): Long = {
      var z = seed + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.tabulate(dims) { d =>
      (((splitmix64(p * 1009L + d) >>> 11).toDouble / (1L << 53)) - 0.5).toFloat
    }
  }

  /** SemDeDup-style semantic deduplication: resolve the embedding
    * near-dup pair graph ([[embeddingNearDup]]) into clusters
    * (connected components) and keep ONE representative per cluster
    * (the minimum vec_id — deterministic). Returns the DROP list:
    * (vec_id, keeper_id) for every vector whose cluster keeps someone
    * else; vectors outside any pair are implicitly kept.
    *
    * Scale shape: inherits the LSH-bucketed pair mining (never
    * all-pairs) and the pointer-jumping label propagation (O(log
    * diameter) rounds even when LSH chains run long).
    */
  def semanticDedup(corpus: DataFrame, minCosine: Double = 0.35,
                    bands: Int = AutoBands,
                    rowsPerBand: Int = AutoWidth): DataFrame =
    Corpus.connectedComponents(
      nearDupPairs(corpus, minCosine, bands, rowsPerBand), "vec_a", "vec_b")
      .filter(col("doc_id") =!= col("component_id"))
      .select(col("doc_id").as("vec_id"), col("component_id").as("keeper_id"))

  /** kNN graph: each vector's top-`k` most-similar neighbors among its
    * LSH candidates (same banded hyperplane buckets as
    * [[nearDupPairs]]). This is the per-document neighbor list a
    * curriculum/retrieval pipeline materializes — APPROXIMATE by
    * construction: a neighbor must share ≥1 of the 8 band buckets, so
    * the candidate set is bucket-bounded, never all-pairs.
    *
    * Scale shape: symmetrizing the mined pairs is a union of two
    * projections (no extra shuffle beyond the pair mining), and the
    * top-k rank is a per-vec_id window that WindowGroupLimit prunes
    * to k rows per key before the final exchange. Ties on the rounded
    * cosine break by neighbor id — total order, hash-stable.
    */
  def knnGraph(corpus: DataFrame, k: Int = 5,
               minCosine: Double = 0.2,
               bands: Int = AutoBands, rowsPerBand: Int = AutoWidth,
               maxCandidatesPerBand: Int = AutoCap): DataFrame =
    knnPairs(corpus, k, minCosine, bands, rowsPerBand, maxCandidatesPerBand)

  /** Sentinel for `maxCandidatesPerBand` on the kNN family: resolves
    * to max(32, 8·k). The cap exists because kNN output is k-bounded
    * while bucket-mate candidates grow with near-dup CLIQUE size
    * (MEASURED, KNN_SHAPE_r15: ScaleUp's factor-sized cliques put
    * label_noise 6.8× over-linear at sf10 — candidates ∝ N·clique,
    * output ≤ k·N). 0 < cap < k is rejected; pass Int.MaxValue to
    * consciously disable the cap.
    */
  val AutoCap = 0

  /** [[knnGraph]] without the output sort, for composers that
    * re-shuffle anyway ([[labelAgreement]]).
    *
    * Mining is DIRECTED and candidate-capped (VERDICT r14 #3): for
    * each (vector, band), only the `cap` bucket-mates nearest by a
    * 1-D ranking projection (one extra deterministic hyperplane,
    * index bands·rows — disjoint from the banding planes) are
    * cosine-verified, so verify work per vector is ≤ bands·cap — a
    * CONSTANT — instead of growing with bucket density (at 100 TB a
    * viral near-dup clique would otherwise make one vector's
    * neighborhood cost ∝ clique size). The projection is a cheap
    * similarity proxy: |proj(a) − proj(b)| orders bucket-mates
    * roughly by true distance (random-line projection), so the true
    * top-k survive the cap with high probability — recall vs the
    * exact brute-force top-k is pinned by KnnCapSpec on
    * factor-100 planted cliques (the sf10 regime). row_number ≤ cap
    * is WindowGroupLimit-pruned map-side before the rank exchange.
    * The cap binds only when a (vec, band) bucket holds more than
    * `cap` mates — at the driver gate corpora (occupancy ≈ 4) capped
    * and uncapped mining are identical.
    */
  private[graft] def knnPairs(corpus: DataFrame, k: Int = 5,
                              minCosine: Double = 0.2,
                              bands: Int = AutoBands,
                              rowsPerBand: Int = AutoWidth,
                              maxCandidatesPerBand: Int = AutoCap): DataFrame = {
    val emb = corpus.select(col("vec_id"), col("embedding"))
    val (b, r) = resolveGeometry(emb, bands, rowsPerBand, minCosine)
    val cap =
      if (maxCandidatesPerBand == AutoCap) math.max(32, 8 * k)
      else maxCandidatesPerBand
    require(cap >= k,
      s"maxCandidatesPerBand=$cap < k=$k would truncate the result set")
    val banded = emb.select(col("vec_id"),
      dot(col("embedding"), typedlit(hyperplane(b * r).toSeq)).as("proj"),
      explode(bandStructs(b, r, 64)).as("bb"))
      .select(col("vec_id"), col("proj"), col("bb.band"), col("bb.bucket"))
    val directed = Banding.selfJoin(banded, Banding.BandBucket,
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
        col("a.band").as("band"),
        abs(col("a.proj") - col("b.proj")).as("proj_dist"))
    val wCap = Window.partitionBy("vec_id", "band")
      .orderBy(col("proj_dist"), col("neighbor_id"))
    val capped = directed
      .withColumn("crk", row_number().over(wCap))
      .filter(col("crk") <= cap)
      .select("vec_id", "neighbor_id").distinct()
    val verified = capped
      .join(emb.select(col("vec_id"), col("embedding").as("emb_a")), "vec_id")
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("emb_b")), "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"),
        cosine(col("emb_a"), col("emb_b")).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
      .select(col("vec_id"), col("neighbor_id"),
        round(col("cos_sim"), 4).as("cos_sim"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    verified.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Label-noise detection by neighborhood agreement (the
    * confident-learning signal): for each labeled vector, what
    * fraction of its kNN-graph neighbors carry the same label. Low
    * agreement flags probable mislabels (or boundary points) for
    * relabeling/exclusion before training.
    *
    * Scale shape: the kNN edge list is bucket-bounded (≤ k·N rows);
    * both label lookups are hash joins on vec-id keys, then one
    * per-vector aggregate. Vectors with no LSH candidate neighbors are
    * absent (no evidence either way) — documented, matches the oracle.
    */
  def labelAgreement(embeddings: DataFrame, k: Int = 5,
                     minCosine: Double = 0.2,
                     bands: Int = AutoBands,
                     rowsPerBand: Int = AutoWidth,
                     maxCandidatesPerBand: Int = AutoCap): DataFrame = {
    val lab = embeddings.select(col("vec_id"), col("label").cast("long"))
    knnPairs(embeddings, k, minCosine, bands, rowsPerBand, maxCandidatesPerBand)
      .join(lab.select(col("vec_id"), col("label").as("own_label")), "vec_id")
      .join(lab.select(col("vec_id").as("neighbor_id"),
        col("label").as("nbr_label")), "neighbor_id")
      .groupBy("vec_id", "own_label")
      .agg(count(lit(1)).as("n_neighbors"),
        sum((col("nbr_label") === col("own_label")).cast("long")).as("n_agree"))
      .select(col("vec_id"), col("own_label").as("label"), col("n_neighbors"),
        col("n_agree"),
        round(col("n_agree").cast("double") / col("n_neighbors"), 4)
          .as("agreement"))
  }

  def embeddingNearDup(corpus: DataFrame, minCosine: Double = 0.35,
                       bands: Int = AutoBands, rowsPerBand: Int = AutoWidth,
                       dims: Int = 64): DataFrame =
    nearDupPairs(corpus, minCosine, bands, rowsPerBand, dims)

  /** (vec_id, band, bucket) sign-bit LSH postings — bucket = the
    * band's sign bits against the deterministic [[hyperplane]]s packed
    * into an integer (exact bucket identity — a hash here would only
    * ADD murmur-collision candidates — and plain integer arithmetic
    * any engine reproduces). One codegen'd projection over the scan,
    * no shuffle. This IS the persistable embedding near-dup index: a
    * warehouse stores these postings (plus the vectors for the exact
    * verify) once per corpus and [[embeddingProbe]] probes them per
    * batch without re-deriving a single corpus signature —
    * [[graft.streaming.EmbeddingIndex]] is the foreachBatch
    * deployment.
    */
  def embeddingPostings(corpus: DataFrame, bands: Int,
                        rowsPerBand: Int, dims: Int = 64): DataFrame = {
    require(rowsPerBand > 0 && rowsPerBand <= 62,
      s"rowsPerBand must be in [1, 62] (got $rowsPerBand) — the index " +
        "geometry is a capacity-planning choice bound to the persisted " +
        "index (StreamDedup.bindGeometry); size it from the EXPECTED " +
        "corpus with regimeRowsPerBand, never by omission")
    corpus.select(col("vec_id"),
      explode(bandStructs(bands, rowsPerBand, dims)).as("bb"))
      .select(col("vec_id"), col("bb.band"), col("bb.bucket"))
  }

  /** The (band, bucket) struct-array expression shared by
    * [[embeddingPostings]] and the capped kNN mining — one definition
    * so the two can never drift on the banding rule.
    */
  private def bandStructs(bands: Int, rowsPerBand: Int, dims: Int): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        (b * rowsPerBand until (b + 1) * rowsPerBand).zipWithIndex.map {
          case (p, i) =>
            (dot(col("embedding"), typedlit(hyperplane(p, dims).toSeq)) > 0)
              .cast("long") * (1L << i)
        }.reduce(_ + _).as("bucket"))): _*)

  /** [[embeddingNearDup]] without the hash-stability output sort —
    * the form graph consumers (connected components, kNN ranking)
    * compose with, since they re-shuffle anyway. Candidates are the
    * [[Banding.pairs]] of the [[embeddingPostings]].
    */
  def nearDupPairs(corpus: DataFrame, minCosine: Double = 0.35,
                   bands: Int = AutoBands, rowsPerBand: Int = AutoWidth,
                   dims: Int = 64): DataFrame = {
    val emb = corpus.select(col("vec_id"), col("embedding"))
    val (b, r) = resolveGeometry(emb, bands, rowsPerBand, minCosine)
    Banding.pairs(embeddingPostings(emb, b, r, dims), Banding.BandBucket,
        "vec_id", "vec_a", "vec_b")
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")),
        "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")),
        "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cosine(col("emb_a"), col("emb_b")).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
      .select(col("vec_a"), col("vec_b"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** The [[Banding.batchPairs]] of a vector batch against stored
    * postings — the shared mining step of [[embeddingProbe]] and
    * [[pqEmbeddingProbe]], so the two verify paths (exact cosine vs
    * ADC) can never diverge on WHICH pairs they verify: (new_id,
    * corpus_id) index candidates, and in-batch (id_a < id_b) pairs with
    * both embeddings attached (emb_a/emb_b). The caller applies its
    * verify predicate and drops id_b (greedy min-id keeper).
    */
  private def probeCandidates(newEmb: DataFrame, corpusPostings: DataFrame,
                              bands: Int, rowsPerBand: Int,
                              dims: Int): (DataFrame, DataFrame) = {
    val (candidates, inBatch) = Banding.batchPairs(
      embeddingPostings(newEmb, bands, rowsPerBand, dims), corpusPostings,
      Banding.BandBucket, "vec_id")
    (candidates, inBatch
      .join(newEmb.select(col("vec_id").as("id_a"),
        col("embedding").as("emb_a")), "id_a")
      .join(newEmb.select(col("vec_id").as("id_b"),
        col("embedding").as("emb_b")), "id_b"))
  }

  private def guardedProbeSide(df: DataFrame): DataFrame =
    graft.core.ProbeGuard.guarded(df)

  /** Incremental-append EMBEDDING near-dup scrub against a PERSISTED
    * corpus index — the [[graft.operators.Dedup.minhashProbe]]
    * discipline on the semantic column of the dedup matrix. Of a new
    * batch of vectors, keep only those that are (a) not a cosine
    * near-dup (≥ `minCosine`) of any indexed corpus vector and (b) the
    * min-id keeper among their batch-local near-dup matches (greedy: a
    * near-dup of a dropped vector is still dropped, consistent with
    * the sequential-accept semantics the spec pins).
    *
    * The corpus side is the stored (vec_id, band, bucket) postings
    * ([[embeddingPostings]]) plus the stored (vec_id, embedding)
    * vectors for the exact-cosine verify — the corpus TABLE is never
    * rescanned, and only bucket-colliding candidates ever load a
    * stored vector. Work per batch ∝ batch + bucket collisions, never
    * corpus size. Precision is exact (native cosine per candidate);
    * only recall is probabilistic, same curve as [[nearDupPairs]].
    */
  def embeddingProbe(newVecs: DataFrame, corpusPostings: DataFrame,
                     corpusVectors: DataFrame, minCosine: Double = 0.35,
                     bands: Int, rowsPerBand: Int,
                     dims: Int = 64): DataFrame = {
    val newEmb = newVecs.select(col("vec_id"), col("embedding"))
    val (candidates, inBatch) =
      probeCandidates(newEmb, corpusPostings, bands, rowsPerBand, dims)
    // candidates + batch vectors probe a streaming scan of the stored
    // vector frame — the verify-side index never shuffles. Whether the
    // probe side BROADCASTS (the flat-cost fast path) or shuffle-hashes
    // (the fail-soft path on collision-heavy corpora) is decided from
    // its measured row count — see guardedProbeSide.
    val matched = corpusVectors
      .select(col("vec_id").as("corpus_id"), col("embedding").as("emb_b"))
      .join(guardedProbeSide(candidates
        .join(newEmb.select(col("vec_id").as("new_id"),
          col("embedding").as("emb_a")), "new_id")), "corpus_id")
      .filter(cosine(col("emb_a"), col("emb_b")) >= minCosine)
      .select(col("new_id").as("vec_id")).distinct()
    val inBatchDropped = inBatch
      .filter(cosine(col("emb_a"), col("emb_b")) >= minCosine)
      .select(col("id_b").as("vec_id")).distinct()
    Banding.keep(newVecs, "vec_id", matched, inBatchDropped)
  }

  /** [[embeddingProbe]] with the corpus index derived inline — fine
    * for a one-shot backfill, but it re-scans corpus vectors on every
    * call; the deployment shape for a growing corpus is
    * [[graft.streaming.EmbeddingIndex]]. Spec-pinned row-identical to
    * the probe form.
    */
  def embeddingIncremental(newVecs: DataFrame, corpus: DataFrame,
                           minCosine: Double = 0.35, bands: Int = AutoBands,
                           rowsPerBand: Int = AutoWidth,
                           dims: Int = 64): DataFrame = {
    // both sides are derived in-call, so auto geometry is safe here:
    // resolve ONCE against the corpus (the bigger side — its occupancy
    // is what saturates) and thread the SAME (bands, width) through
    // build and probe. The raw probe entry points keep geometry
    // REQUIRED because there the index side is prebuilt and a
    // mismatched batch width silently probes a disjoint bucket space.
    val emb = corpus.select(col("vec_id"), col("embedding"))
    val (b, r) = resolveGeometry(emb, bands, rowsPerBand, minCosine)
    embeddingProbe(newVecs,
      embeddingPostings(emb, b, r, dims),
      emb, minCosine, b, r, dims)
  }

  /** [[embeddingProbe]] with the corpus verify side stored as PQ CODES
    * instead of raw vectors — the footprint that makes a
    * trillion-vector dedup index feasible (8 B/vector vs 256 B at
    * 64-dim float32, 32×). Candidates still come from the exact
    * sign-bit postings; verification is ASYMMETRIC-DISTANCE (the
    * [[pqTopK]] kernel restricted to candidate pairs): the batch side
    * keeps full precision, the stored side contributes only its
    * codes, and a pair with ADC d² ≤ `maxD2` is a near-dup. Work in
    * L2 — for unit-normalized vectors cos ≥ τ ⟺ d² ≤ 2(1−τ), so
    * normalize before indexing and train the codebook on the
    * normalized corpus. In-batch pairs verify with the exact codegen
    * distance (both sides are full precision — no reason to quantize
    * them). APPROXIMATE by construction: quantization error can admit
    * or miss pairs near the threshold — that is the documented PQ
    * trade, spec-bounded on a codebook that covers the fixture
    * corpus; the raw-vector [[embeddingProbe]] remains the exact
    * form.
    */
  def pqEmbeddingProbe(newVecs: DataFrame, corpusPostings: DataFrame,
                       corpusCodes: DataFrame, codebook: DataFrame,
                       maxD2: Double, bands: Int, rowsPerBand: Int,
                       dims: Int = 64, m: Int = 8): DataFrame = {
    val newEmb = newVecs.select(col("vec_id"), col("embedding"))
    val (mined, inBatch) =
      probeCandidates(newEmb, corpusPostings, bands, rowsPerBand, dims)
    // guarded once: the pinned frame feeds both the dtab semi-join and
    // the code-frame probe (broadcast below threshold, shuffle_hash
    // fail-soft above — see graft.core.ProbeGuard)
    val candidates = guardedProbeSide(mined)
    // ADC distance table restricted to batch vectors that actually
    // collided (semi-join first): its size is |colliding vectors|·m·k,
    // NOT |batch|·m·k — a giant backfill batch with few collisions
    // stays cheap, and no batch-proportional broadcast is forced (the
    // planner / AQE picks the join strategy for the (new_id, sub_id,
    // code) equi-join; a hot batch simply shuffles)
    val dtab = subspaces(
      newEmb.join(candidates.select(col("new_id").as("vec_id")),
        Seq("vec_id"), "left_semi"), m, dims)
      .join(codebook, "sub_id")
      .select(col("vec_id").as("new_id"), col("sub_id"), col("code"),
        sqDist(col("sub_vec"), col("centroid")).as("d2"))
    // candidates probe a streaming scan of the stored code frame — the
    // 8 B/vector code index never shuffles on the fast path
    val matched = corpusCodes
      .select(col("vec_id").as("corpus_id"), col("codes"))
      .join(candidates, "corpus_id")
      .select(col("new_id"), col("corpus_id"), posexplode(col("codes")))
      .select(col("new_id"), col("corpus_id"),
        col("pos").cast("int").as("sub_id"), col("col").cast("int").as("code"))
      .join(dtab, Seq("new_id", "sub_id", "code"))
      .groupBy("new_id", "corpus_id")
      .agg(sum("d2").as("adc_d2"))
      .filter(col("adc_d2") <= maxD2)
      .select(col("new_id").as("vec_id")).distinct()
    // in-batch pairs verify with the exact codegen distance — both
    // sides are full precision, no reason to quantize them
    val inBatchDropped = inBatch
      .filter(sqDist(col("emb_a"), col("emb_b")) <= maxD2)
      .select(col("id_b").as("vec_id")).distinct()
    Banding.keep(newVecs, "vec_id", matched, inBatchDropped)
  }

  // ---------------------------------------------------------------- PQ

  /** Squared L2 distance via three [[dot]] kernels — stays inside
    * whole-stage codegen (an array subtraction would need the
    * interpreted `zip_with`).
    */
  private def sqDist(a: Column, b: Column): Column =
    dot(a, a) - lit(2d) * dot(a, b) + dot(b, b)

  /** The m-th of `m` equal subspace slices of a `dims`-dim embedding,
    * exploded to (vec_id, sub_id, sub_vec) — `m` rows per vector.
    * `slice` is a native codegen function: no shuffle, no UDF.
    */
  private def subspaces(corpus: DataFrame, m: Int, dims: Int): DataFrame =
    subspacesOf(corpus, Seq("vec_id"), "embedding", m, dims)

  /** [[subspaces]] generalized to arbitrary carried id columns and
    * embedding column name (IVF-PQ slices per-(probe, cell) residuals).
    */
  private def subspacesOf(df: DataFrame, keep: Seq[String], embCol: String,
                          m: Int, dims: Int): DataFrame = {
    val subDim = dims / m
    df.select(keep.map(col) :+
      explode(array((0 until m).map(s =>
        struct(lit(s).as("sub_id"),
          slice(col(embCol), s * subDim + 1, subDim).as("sub_vec"))): _*))
        .as("sv"): _*)
      .select(keep.map(col) :+ col("sv.sub_id") :+ col("sv.sub_vec"): _*)
  }

  /** Nearest codebook entry per (vector, subspace): broadcast the
    * (m×k)-row codebook, score each candidate with the codegen
    * [[sqDist]], keep the argmin via a partial-aggregate-friendly
    * struct-min — (d2, code) cannot tie, so the result is
    * deterministic. `sub_vec` rides inside the min struct so the
    * training update can re-aggregate the winners without a second
    * scan.
    */
  private def nearestCode(sv: DataFrame, codebook: DataFrame): DataFrame =
    sv.join(broadcast(codebook), "sub_id")
      .select(col("vec_id"), col("sub_id"),
        struct(sqDist(col("sub_vec"), col("centroid")).as("d2"),
          col("code"), col("sub_vec")).as("cand"))
      .groupBy("vec_id", "sub_id").agg(min(col("cand")).as("win"))
      .select(col("vec_id"), col("sub_id"), col("win.code").as("code"),
        col("win.d2").as("d2"), col("win.sub_vec").as("sub_vec"))

  /** Train a product-quantization codebook: `m` subspaces × `k`
    * centroids, (sub_id, code, centroid) — m·k rows, kilobytes,
    * broadcast everywhere it is used.
    *
    * Why PQ at 100 TB: raw 64-dim float32 embeddings cost 256 B/vector
    * (25 TB per 10^11 vectors); `m = 8` byte codes (`k = 256`, the
    * standard 8-bit setting) cost 8 B — 32× less — and ADC search
    * ([[pqTopK]]) never touches the raw vectors on the corpus side, so
    * the working set of a trillion-vector scan drops by the same
    * factor. Quantization noise makes exact-rank ADC recall corpus
    * dependent (PqSpec measures ~0.3 on the near-uniform test
    * embeddings, far above chance 0.01 but noisy by nature); the
    * production pattern is [[pqShortlistTopK]] — ADC shortlist, exact
    * re-rank — which PqSpec pins at ≥0.9 recall with a 10%-of-corpus
    * shortlist.
    *
    * Seeding is deterministic (no RNG, no stored model): code `c` of
    * every subspace starts at the sub-slices of the vector with
    * `vec_id = c·seedStride` — the [[strideCentroids]] idea with a
    * dense code index; ids missing from the corpus just leave those
    * codes unused (documented degradation, never a crash). Each Lloyd
    * iteration is ALL subspaces jointly: one broadcast-join argmin
    * scan ([[nearestCode]]) + one (sub, code, dim) hash aggregate —
    * two partitioned shuffles per round, the [[kmeansRefine]] scale
    * shape, nothing corpus-funneling. Cells that lose every member
    * keep their previous centroid (left join + coalesce) so the
    * codebook never shrinks. Float means are order-dependent in the
    * last ulp, so PQ is spec-verified (PqSpec: shape, determinism,
    * non-increasing quantization error, recall floor), not an oracle
    * query.
    */
  def pqTrain(corpus: DataFrame, m: Int = 8, k: Int = 256, iters: Int = 2,
              seedStride: Int = 1, dims: Int = 64): DataFrame = {
    require(m >= 1 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val subDim = dims / m
    val sv = subspaces(corpus, m, dims)
    var codebook = corpus
      .filter(pmod(col("vec_id"), lit(seedStride)) === 0 &&
        col("vec_id") < k.toLong * seedStride)
      .select((col("vec_id") / seedStride).cast("int").as("code"),
        col("embedding"))
      .select(col("code"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("sub_id"),
            slice(col("embedding"), s * subDim + 1, subDim).as("centroid"))): _*))
          .as("sc"))
      .select(col("sc.sub_id"), col("code"), col("sc.centroid"))
    for (_ <- 1 to iters) {
      val updated = nearestCode(sv, codebook)
        .select(col("sub_id"), col("code"), posexplode(col("sub_vec")))
        .groupBy("sub_id", "code", "pos").agg(avg(col("col")).as("mval"))
        .groupBy("sub_id", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mval")))),
          _.getField("mval").cast("float")).as("centroid"))
      codebook = codebook.as("o")
        .join(updated.as("u"), Seq("sub_id", "code"), "left")
        .select(col("sub_id"), col("code"),
          coalesce(col("u.centroid"), col("o.centroid")).as("centroid"))
        .transform(graft.core.Pin.pin(_))
    }
    codebook
  }

  /** Mean total squared quantization error per vector — the PQ
    * objective, for convergence checks (the [[assignmentQuality]]
    * twin). Lloyd iterations must not increase it.
    */
  def pqError(corpus: DataFrame, codebook: DataFrame,
              m: Int = 8, dims: Int = 64): Double =
    nearestCode(subspaces(corpus, m, dims), codebook)
      .groupBy("vec_id").agg(sum(col("d2")).as("err"))
      .agg(avg("err")).head().getDouble(0)

  /** Encode each vector as `m` codebook indices — (vec_id, codes:
    * array<int> of length m), the 8-byte representation ADC search
    * reads instead of the 256-byte embedding. One broadcast-join
    * argmin scan + one vec_id regroup; codes order by sub_id via the
    * same array_sort(collect_list) fold the trainer uses.
    */
  def pqEncode(corpus: DataFrame, codebook: DataFrame,
               m: Int = 8, dims: Int = 64): DataFrame =
    nearestCode(subspaces(corpus, m, dims), codebook)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("sub_id"), col("code")))),
        _.getField("code")).as("codes"))

  /** Asymmetric-distance (ADC) top-k over PQ codes: the probe keeps
    * full precision, the corpus contributes only its codes.
    *
    *  1. distance table: probes × codebook → (probe_id, sub_id, code,
    *     d2) — p·m·k rows (tiny), built with the codegen [[sqDist]]
    *     and broadcast.
    *  2. scan: explode `codes` (m ints per corpus row), hash-join the
    *     broadcast table on (sub_id, code), partial-sum d2 per
    *     (probe_id, vec_id) — map-side combine shrinks the exchange to
    *     one row per (probe, vector) pair.
    *  3. rank: per-probe ascending-d2 top-k, WindowGroupLimit-pruned
    *     like [[bruteForceTopK]]; ties break on neighbor id.
    *
    * Approximation error vs exact L2 comes only from quantization;
    * PqSpec pins a recall floor against the exact scan on the fixed
    * corpus.
    */
  def pqTopK(codes: DataFrame, probes: DataFrame, codebook: DataFrame,
             k: Int = 5, m: Int = 8, dims: Int = 64): DataFrame = {
    val dtab = subspaces(
      probes.select(col("vec_id"), col("embedding")), m, dims)
      .join(codebook, "sub_id")
      .select(col("vec_id").as("probe_id"), col("sub_id"), col("code"),
        sqDist(col("sub_vec"), col("centroid")).as("d2"))
    codes
      .select(col("vec_id"), posexplode(col("codes")))
      .select(col("vec_id"), col("pos").cast("int").as("sub_id"),
        col("col").cast("int").as("code"))
      .join(broadcast(dtab), Seq("sub_id", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d2")).as("adc_d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("adc_d2").asc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("adc_d2"), 4).as("adc_d2"))
      .orderBy("probe_id", "rank")
  }

  /** [[pqEncode]] as a single codegen'd projection — the scan-speed
    * path. The trained codebook is collected to the driver (m·k rows;
    * model-sized BY CONSTRUCTION, the same bounded-collect class as
    * BloomJoin's documented filter build — 64 KB at the default 8×256×
    * 8-float shape) and shipped inside a native
    * [[graft.functions.PqCodes]] expression, so encoding a trillion
    * vectors is one WholeStageCodegen scan: no broadcast join, no
    * k-per-subspace row inflation, no shuffle, no aggregate. PqSpec
    * asserts exact code parity with the relational [[pqEncode]] and a
    * join-free plan.
    */
  def pqEncodeNative(corpus: DataFrame, codebook: DataFrame,
                     m: Int = 8, k: Int = 256, dims: Int = 64): DataFrame = {
    val (flat, present) = flattenCodebook(codebook, m, k, dims / m)
    corpus.select(col("vec_id"),
      graft.functions.GraftFunctions
        .pqCodes(col("embedding"), flat, present, m, k).as("codes"))
  }

  /** Collect a trained codebook into the flat array + presence mask
    * [[graft.functions.PqCodes]] consumes. Bounded by construction:
    * m·k rows (the model), never corpus-sized.
    */
  private def flattenCodebook(codebook: DataFrame, m: Int, k: Int,
                              subDim: Int): (Array[Float], Array[Boolean]) = {
    val flat = new Array[Float](m * k * subDim)
    val present = new Array[Boolean](m * k)
    codebook.select(col("sub_id"), col("code"), col("centroid")).collect()
      .foreach { r =>
        val slot = r.getAs[Int]("sub_id") * k + r.getAs[Int]("code")
        present(slot) = true
        val cent = r.getAs[scala.collection.Seq[Float]]("centroid")
        var i = 0
        while (i < subDim) { flat(slot * subDim + i) = cent(i); i += 1 }
      }
    require((0 until m).forall(s => (s * k until (s + 1) * k).exists(present)),
      "every subspace needs at least one trained code")
    (flat, present)
  }

  /** The production PQ deployment: ADC shortlist, exact re-rank.
    *
    * [[pqTopK]] alone ranks by distance-to-reconstruction, so its
    * exact-rank recall degrades when neighbor gaps are smaller than
    * the quantization noise (typical for near-uniform high-dim data).
    * Re-ranking fixes that at bounded cost: take the ADC top
    * `shortlist` per probe from the code scan, join the RAW embeddings
    * back for those `probes × shortlist` rows only, and rank the
    * exact L2 distance. The corpus-wide scan still reads only the
    * m-byte codes; full vectors are fetched for a per-probe-constant
    * row count — at 10^11 vectors and a 1024-row shortlist, the
    * re-rank join touches 10^-7 of the raw embedding bytes. The
    * shortlist join is a hash join on vec_id; the final top-k reuses
    * the WindowGroupLimit shape of [[bruteForceTopK]].
    */
  def pqShortlistTopK(corpus: DataFrame, codes: DataFrame, probes: DataFrame,
                      codebook: DataFrame, k: Int = 5, shortlist: Int = 50,
                      m: Int = 8, dims: Int = 64): DataFrame =
    exactRerank(pqTopK(codes, probes, codebook, shortlist, m, dims)
      .select(col("probe_id"), col("neighbor_id")), corpus, probes, k)

  /** Exact L2 re-rank of (probe_id, neighbor_id) shortlist pairs:
    * fetch raw embeddings for the pairs only (hash join on vec_id;
    * probes broadcast), rank by true distance. Shared tail of
    * [[pqShortlistTopK]] and [[ivfPqTopK]].
    */
  private def exactRerank(pairs: DataFrame, corpus: DataFrame,
                          probes: DataFrame, k: Int): DataFrame =
    pairs
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nbr_emb")), "neighbor_id")
      .join(broadcast(probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("probe_emb"))), "probe_id")
      .select(col("probe_id"), col("neighbor_id"),
        (dot(col("nbr_emb"), col("nbr_emb"))
          - lit(2d) * dot(col("probe_emb"), col("nbr_emb"))
          + dot(col("probe_emb"), col("probe_emb"))).as("d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("d2").asc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("d2"), 4).as("d2"))
      .orderBy("probe_id", "rank")

  /** IVF-PQ: the composed billion-scale ANN layout — coarse cells
    * bound the candidate set, PQ codes bound the bytes per candidate.
    *
    *  1. assign: corpus → nearest cell (broadcast centroids, one scan).
    *  2. residual-encode: `x - centroid(cell)` via the codegen
    *     [[graft.functions.VectorSub]], PQ-train ONE shared codebook
    *     over the residuals (residuals cluster tighter than raw
    *     vectors, so the same k codes quantize finer — the reason
    *     IVFADC encodes residuals), then the join-free native encoder.
    *     Corpus state after this: (vec_id, cell_id, m bytes).
    *  3. search: probes pick `nProbeCells` cells; per (probe, cell) a
    *     residual ADC table (p·cells·m·k rows, broadcast); candidates
    *     join it on (cell_id, sub_id, code) — so only probed cells'
    *     members are ever scored — partial-sum to one row per
    *     (probe, candidate), shortlist by ADC, exact re-rank the
    *     shortlist ([[exactRerank]]).
    *
    * Recall decomposes as cell coverage (the [[ivfTopK]] term, tuned
    * by `nProbeCells`) × shortlist coverage (the PQ term, tuned by
    * `shortlist`); PqSpec pins the composed floor and asserts the
    * candidate set never leaves the probed cells.
    */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, k: Int = 5,
                centroidStride: Int = AutoStride, nProbeCells: Int = 2,
                centroids: Option[DataFrame] = None,
                m: Int = 8, codebookSize: Int = 256, iters: Int = 2,
                seedStride: Int = 1, shortlist: Int = 50,
                dims: Int = 64): DataFrame = {
    import graft.functions.GraftFunctions.{pqCodes, vectorSub}
    val cents = broadcast(
      centroids.getOrElse(strideCentroids(corpus, centroidStride)))
    val resid = nearestCells(corpus, cents, "vec_id", "embedding", 1)
      .join(cents, "cell_id")
      .select(col("vec_id"), col("cell_id"),
        vectorSub(col("embedding"), col("centroid")).as("resid"))
    val cb = pqTrain(resid.select(col("vec_id"), col("resid").as("embedding")),
      m, codebookSize, iters, seedStride, dims)
    val (flat, present) = flattenCodebook(cb, m, codebookSize, dims / m)
    val encoded = resid.select(col("vec_id"), col("cell_id"),
      pqCodes(col("resid"), flat, present, m, codebookSize).as("codes"))
    val probeResid = nearestCells(
      probes.select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb")),
      cents, "probe_id", "probe_emb", nProbeCells)
      .join(cents, "cell_id")
      .select(col("probe_id"), col("cell_id"),
        vectorSub(col("probe_emb"), col("centroid")).as("q_resid"))
    val dtab = subspacesOf(probeResid, Seq("probe_id", "cell_id"), "q_resid",
      m, dims)
      .join(cb, "sub_id")
      .select(col("probe_id"), col("cell_id"), col("sub_id"), col("code"),
        sqDist(col("sub_vec"), col("centroid")).as("d2"))
    val short = encoded
      .select(col("vec_id"), col("cell_id"), posexplode(col("codes")))
      .select(col("vec_id"), col("cell_id"), col("pos").cast("int").as("sub_id"),
        col("col").cast("int").as("code"))
      .join(broadcast(dtab), Seq("cell_id", "sub_id", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d2")).as("adc_d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("adc_d2").asc, col("neighbor_id"))))
      .filter(col("rank") <= shortlist)
      .select(col("probe_id"), col("neighbor_id"))
    exactRerank(short, corpus, probes, k)
  }
}
