package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.sum

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  // 4-dim toy corpus: 1 and 2 nearly parallel, 3 orthogonal, 4 opposite.
  private val corpus = vecs(
    0L -> Seq(1f, 0f, 0f, 0f),
    1L -> Seq(0.9f, 0.1f, 0f, 0f),
    2L -> Seq(0f, 1f, 0f, 0f),
    3L -> Seq(-1f, 0f, 0f, 0f))

  test("bruteForceTopK ranks by cosine with deterministic ties") {
    val out = Similarity.bruteForceTopK(corpus,
      corpus.filter($"vec_id" === 0L), k = 3).collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L, 3L))
    assert(out.head.getAs[Double]("cos_sim") > 0.99)
    assert(out.last.getAs[Double]("cos_sim") == -1.0)
  }

  test("dense-regime sign-LSH (r = 16, LSH_SCALE.md): planted 10-clique fully " +
       "recovered at cos >= 0.9, bucket collisions stay clique-bound") {
    // the cluster-scale parameterization the Scaladoc prescribes for
    // high-threshold near-dup mining: 2^16 buckets/band keeps unrelated
    // vectors apart (collision odds (1-θ/π)^16 ~ 1.5e-5 at 90°) while a
    // near-parallel clique (θ ~ 0) collides in every band — candidates
    // stay ∝ true pairs, not corpus². Deterministic end to end (fixed
    // seed, fixed hyperplanes), so this either always passes or never.
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val clique = (0 until 10).map { k =>
      (100L + k) -> base.zipWithIndex.map { case (x, i) =>
        if (i == 0) x + 0.001f * k else x }.toSeq }
    val noise = (0 until 40).map { k =>
      (500L + k) -> Array.fill(64)(rnd.nextFloat() - 0.5f).toSeq }
    val wide = vecs(clique ++ noise: _*)
    val pairs = Similarity.nearDupPairs(wide, minCosine = 0.9,
      bands = 8, rowsPerBand = 16).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val expected = (for { a <- 0 until 10; b <- a + 1 until 10 }
      yield (100L + a, 100L + b)).toSet
    assert(expected.subsetOf(pairs),
      s"planted-clique recall must be 1.0 at r=16: missing ${expected -- pairs}")
    assert(pairs == expected, s"non-clique pair above 0.9: ${pairs -- expected}")
    val multi = Similarity.embeddingPostings(wide, bands = 8, rowsPerBand = 16)
      .groupBy("band", "bucket")
      .agg(org.apache.spark.sql.functions.collect_set("vec_id").as("ids"))
      .filter(org.apache.spark.sql.functions.size($"ids") > 1)
      .collect()
    assert(multi.nonEmpty, "the clique must collide somewhere")
    multi.foreach { r =>
      val ids = r.getSeq[Long](r.fieldIndex("ids"))
      assert(ids.forall(id => id >= 100L && id < 110L),
        s"non-clique bucket collision at r=16: $ids")
    }
  }

  test("AutoWidth default is regime-aware: occupancy rule picks the width, " +
       "default call equals the explicit dense call on a planted clique") {
    // the occupancy rule itself (r = ceil(log2(n/4)), clamped [6, 24])
    assert(Similarity.regimeRowsPerBand(1) == 6)
    assert(Similarity.regimeRowsPerBand(256) == 6)
    assert(Similarity.regimeRowsPerBand(2048) == 9)
    assert(Similarity.regimeRowsPerBand(20000) == 13)  // the LSH_SCALE sf1 point
    assert(Similarity.regimeRowsPerBand(200000) == 16) // the measured-optimal width
    assert(Similarity.regimeRowsPerBand(Long.MaxValue) == 24)

    // a corpus big enough that AUTO leaves the demo width (1010 rows →
    // r = 8): a caller who omits rowsPerBand must get the sparse
    // regime — exact clique recovery at τ = 0.9, and bit-identical to
    // explicitly passing the width the rule selects. The demo r=6 is
    // reachable only by explicit opt-in now.
    val rnd = new scala.util.Random(11)
    val base = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val clique = (0 until 10).map { k =>
      (100L + k) -> base.zipWithIndex.map { case (x, i) =>
        if (i == 0) x + 0.001f * k else x }.toSeq }
    val noise = (0 until 1000).map { k =>
      (1000L + k) -> Array.fill(64)(rnd.nextFloat() - 0.5f).toSeq }
    val wide = vecs(clique ++ noise: _*).localCheckpoint()

    val auto = Similarity.nearDupPairs(wide, minCosine = 0.9).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val explicit = Similarity.nearDupPairs(wide, minCosine = 0.9,
      rowsPerBand = Similarity.regimeRowsPerBand(1010)).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val expected = (for { a <- 0 until 10; b <- a + 1 until 10 }
      yield (100L + a, 100L + b)).toSet
    assert(auto == expected,
      s"auto-width must recover exactly the planted clique: " +
        s"missing ${expected -- auto}, extra ${auto -- expected}")
    assert(auto == explicit, "AutoWidth must equal the rule's explicit width")

    // the companion bands knob: recall compensation is monotone in the
    // right directions and matches hand-computed anchor points
    // (p(0.9) = 1 - acos(0.9)/pi ≈ 0.8564; p^16 ≈ 0.0837 →
    //  b(0.95) = ceil(ln 0.05 / ln(1-0.0837)) = 35)
    assert(Similarity.regimeBands(16, 0.9) == 35)
    assert(Similarity.regimeBands(6, 0.9) < Similarity.regimeBands(16, 0.9),
      "wider rows need more bands at fixed recall")
    assert(Similarity.regimeBands(16, 0.99) < Similarity.regimeBands(16, 0.9),
      "easier (higher-cos) pairs need fewer bands")
    assert(Similarity.regimeBands(16, 0.35) == 4096,
      "low-threshold mining at wide r must hit the sanity cap")

    // AutoBands (ADVICE r11): when AutoWidth widens r, the band count
    // must follow the recall formula at the CALL's own threshold —
    // default call ≡ explicitly passing (regimeBands(r, τ), r). Fixed
    // bands=8 at auto width silently gutted recall on big corpora.
    val autoBoth = Similarity.nearDupPairs(wide, minCosine = 0.9).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val explicitBoth = Similarity.nearDupPairs(wide, minCosine = 0.9,
      bands = Similarity.regimeBands(Similarity.regimeRowsPerBand(1010), 0.9),
      rowsPerBand = Similarity.regimeRowsPerBand(1010)).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(autoBoth == explicitBoth,
      "AutoBands must equal the recall formula's explicit band count")
    // and when NO sign-LSH geometry holds the recall floor (low-τ
    // mining at wide r), the resolution fails LOUDLY toward IVF
    // instead of returning a silently near-empty result
    val e = intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(wide, minCosine = 0.2, rowsPerBand = 24)
    }
    assert(e.getMessage.contains("ivfTopKIndexed"),
      s"low-τ auto-bands failure must route to IVF: ${e.getMessage}")

    // the IVF cell grid has the same auto discipline: stride ≈ √n
    // (cells ≈ √n minimizes k + nProbe·n/k per probe)
    assert(Similarity.regimeStride(2000) == 45)
    assert(Similarity.regimeStride(1000000000L) == 31623)
    assert(Similarity.regimeStride(1) == 2)
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val autoCents = Similarity.strideCentroids(emb).collect().map(_.getLong(0)).toSet
    val explicitCents = Similarity.strideCentroids(emb,
      Similarity.regimeStride(emb.count())).collect().map(_.getLong(0)).toSet
    assert(autoCents == explicitCents && autoCents.nonEmpty,
      "AutoStride must equal the rule's explicit stride")
  }

  test("dense-regime params thread through the composed wrappers: " +
       "semanticDedup keeps one clique representative, knnGraph ranks " +
       "clique neighbors, at r = 16") {
    // same planted 10-clique + noise as the nearDupPairs case — the
    // wrappers (semanticDedup / knnGraph) must honor non-default
    // bands/rowsPerBand all the way down (at sf10 the AutoWidth query
    // entries resolve to this width, and graft.Verify dumps them there)
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val clique = (0 until 10).map { k =>
      (100L + k) -> base.zipWithIndex.map { case (x, i) =>
        if (i == 0) x + 0.001f * k else x }.toSeq }
    val noise = (0 until 40).map { k =>
      (500L + k) -> Array.fill(64)(rnd.nextFloat() - 0.5f).toSeq }
    val wide = vecs(clique ++ noise: _*)
    val drops = Similarity.semanticDedup(wide, minCosine = 0.9,
      bands = 8, rowsPerBand = 16).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("keeper_id"))
    assert(drops.toSet == (1 until 10).map(k => (100L + k) -> 100L).toSet,
      s"dense semanticDedup must drop 9 clique members to keeper 100: " +
        s"${drops.toSeq.sorted}")
    val knn = Similarity.knnGraph(wide, k = 5, minCosine = 0.9,
      bands = 8, rowsPerBand = 16).collect()
    val byVec = knn.groupBy(_.getAs[Long]("vec_id"))
    assert(byVec.keySet == (0 until 10).map(100L + _).toSet)
    byVec.foreach { case (v, rows) =>
      assert(rows.length == 5, s"vec $v must have exactly 5 neighbors")
      assert(rows.forall { r =>
        val nb = r.getAs[Long]("neighbor_id"); nb >= 100L && nb < 110L
      }, s"vec $v has a non-clique neighbor above 0.9")
    }
  }

  test("embeddingNearDup finds the near-parallel pair only") {
    val out = Similarity.embeddingNearDup(corpus, minCosine = 0.9).collect()
    val pairs = out.map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("normalize emits unit vectors (norm 1 after regrouping)") {
    val emb = graft.core.Tables(spark, sf(), "embeddings")
    val out = Similarity.normalize(emb)
    assert(out.count() == emb.count() * 64)
    // sum of squares per vector ≈ 1 (rounding each element to 4dp
    // perturbs the sum by at most 64 * (1e-4)^2 + cross terms)
    val norms = out.groupBy("vec_id")
      .agg(sum($"unit_val" * $"unit_val").as("ss")).collect()
    norms.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-2,
      s"vec ${r.getLong(0)} not unit: ${r.getDouble(1)}"))
  }

  test("kmeansRefine never degrades the assignment objective") {
    val emb = graft.core.Tables(spark, sf(), "embeddings")
    val init = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("cell_id"), $"embedding".as("centroid"))
    val q0 = Similarity.assignmentQuality(emb, init)
    val refined1 = Similarity.kmeansRefine(emb, init, iters = 1)
    val q1 = Similarity.assignmentQuality(emb, refined1)
    val refined2 = Similarity.kmeansRefine(emb, refined1, iters = 1)
    val q2 = Similarity.assignmentQuality(emb, refined2)
    assert(q1 >= q0 - 1e-9 && q2 >= q1 - 1e-9, s"objective degraded: $q0 $q1 $q2")
    assert(q1 > q0 + 1e-4, s"first Lloyd step should visibly improve: $q0 -> $q1")
    // centroids keep the cell count and dimensionality
    val rows = refined2.collect()
    assert(rows.length == init.count().toInt)
    assert(rows.forall(_.getAs[Seq[Float]]("centroid").length == 64))
  }

  test("ivfTopK returns k ranked neighbors per probe on the real table") {
    val emb = graft.core.Tables(spark, sf(), "embeddings")
    val out = Similarity.ivfTopK(emb, emb.filter($"vec_id" < 3), k = 5)
      .collect()
    assert(out.length == 15)
    val perProbe = out.groupBy(_.getAs[Long]("probe_id"))
    assert(perProbe.values.forall(_.map(_.getAs[Long]("rank")).toSeq
      .sorted == Seq(1L, 2L, 3L, 4L, 5L)))
  }

  test("ivfTopKIndexed against PERSISTED index frames equals the inline run " +
       "and scans only index files") {
    val emb = graft.core.Tables(spark, sf(), "embeddings")
      .select("vec_id", "embedding")
    val probes = emb.filter($"vec_id" < 3)
    val root = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    // build once: centroid table + cell-partitioned assignments — the
    // deployment layout (query-time scans prune to the probed cells)
    val cents = Similarity.strideCentroids(emb)
    cents.write.parquet(s"$root/centroids")
    Similarity.ivfAssignments(emb, cents)
      .write.partitionBy("cell_id").parquet(s"$root/assigned")
    val storedCents = spark.read.parquet(s"$root/centroids")
    val storedAssigned = spark.read.parquet(s"$root/assigned")
    val indexed = Similarity.ivfTopKIndexed(storedAssigned, storedCents, probes)
    val inline = Similarity.ivfTopK(emb, probes).collect().toSeq
    assert(indexed.collect().toSeq == inline, "indexed ≠ inline ivf results")
    // the probe plan's file scans are the index frames only — the
    // embeddings table is never re-read or re-assigned at query time
    val planFull = indexed.queryExecution.executedPlan.toString
    val plan = planFull.indexOf("== Initial Plan ==") match {
      case -1 => planFull
      case i  => planFull.substring(0, i)
    }
    val locs = "InMemoryFileIndex\\(\\d+ paths\\)\\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    // embeddings-table scans are PROBE-side only (the main read plus
    // the dynamic-pruning subquery's copy); the corpus side comes
    // exclusively from the persisted index frames
    assert(locs.count(_.contains("embeddings.parquet")) <= 2,
      s"corpus re-read/re-assigned at query time:\n$plan")
    // exactly the ASSIGNED frame scans at query time; the centroid
    // frame is a driver-collected task-constant inside the
    // NearestCells kernel (it no longer appears as a plan-side scan)
    assert(locs.count(_.contains(s"$root/assigned")) >= 1,
      s"index frames not the corpus source:\n$plan")
    // cell-partitioned layout pays off at query time: the assigned
    // scan carries a dynamic partition-pruning filter on cell_id, so
    // only the probed cells' files are read
    assert(plan.contains("dynamicpruning"),
      s"assigned scan not cell-pruned:\n$plan")
  }

  test("kmeans-refined centroids slot into ivfTopK without degrading recall") {
    val emb = graft.core.Tables(spark, sf(), "embeddings")
    val probes = emb.filter($"vec_id" < 10)
    val truth = Similarity.bruteForceTopK(emb, probes, k = 5).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recall(centroids: Option[org.apache.spark.sql.DataFrame]): Double = {
      val got = Similarity.ivfTopK(emb, probes, k = 5, centroids = centroids)
        .collect()
        .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val seed = Similarity.strideCentroids(emb)
    val rStride = recall(None)
    val rRefined = recall(Some(Similarity.kmeansRefine(emb, seed, iters = 2)))
    // Lloyd refinement tightens cells around the data, so probing the
    // same nProbeCells must find at least as much of the true top-5
    // (deterministic fixed corpus — no tolerance needed).
    assert(rRefined >= rStride,
      s"refined centroids degraded recall: $rRefined < $rStride")
    assert(rStride > 0.2, s"IVF baseline recall implausibly low: $rStride")
  }

  test("knnGraph emits symmetric ranked edges capped at k") {
    val out = Similarity.knnGraph(corpus, k = 2, minCosine = -1.0).collect()
    val byVec = out.groupBy(_.getAs[Long]("vec_id"))
    // 2 and 3 share no band bucket with anyone (orthogonal/opposite
    // sign patterns) — LSH correctly leaves them edgeless
    assert(byVec.keySet == Set(0L, 1L))
    assert(byVec.values.forall(_.length <= 2))
    // 0's nearest is 1 (cos ~0.994) and vice versa — rank 1 both ways
    val top = out.filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(top(0L) == 1L && top(1L) == 0L)
  }

  test("labelAgreement scores neighborhood label consistency") {
    val labeled = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 7),
      (1L, Seq(0.9f, 0.1f, 0f, 0f), 7),
      (2L, Seq(0.8f, 0.2f, 0f, 0f), 9), // same cluster, odd label out
      (3L, Seq(0f, 0f, 1f, 0f), 5))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelAgreement(labeled, k = 2, minCosine = 0.9)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("label"), r.getAs[Double]("agreement"))).toMap
    // 0,1,2 are mutual neighbors; 3 has none (absent from output)
    assert(!out.contains(3L))
    assert(out(0L)._1 == 7L && out(0L)._2 == 0.5)  // neighbors 1 (7), 2 (9)
    assert(out(2L)._1 == 9L && out(2L)._2 == 0.0)  // both neighbors are 7
  }

  test("refreshAssignments under centroid drift: refreshed index ≡ fresh " +
       "build, untouched cells' files never rewritten, drained cells " +
       "deleted") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables(spark, sf(), "embeddings")
      .select("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft_ivfref").toString
    val dir = s"$root/assigned"
    val c1 = Similarity.strideCentroids(emb).localCheckpoint()
    Similarity.ivfAssignments(emb, c1)
      .write.partitionBy("cell_id").parquet(dir)

    // drift: nudge ONE centroid gently toward vector 1 — only
    // boundary vectors flip cells, so most cells stay untouched (the
    // incremental-drift regime the operator exists for)
    val driftedId = c1.select(max("cell_id")).head().getLong(0)
    val donor = emb.filter($"vec_id" === 1L)
      .select($"embedding").head().getSeq[Float](0)
    val c2 = c1.collect().map { r =>
      val id = r.getLong(0)
      val cent = r.getSeq[Float](1)
      if (id == driftedId)
        (id, cent.zip(donor).map { case (a, b) => 0.85f * a + 0.15f * b })
      else (id, cent)
    }.toSeq.toDF("cell_id", "centroid")
    def listing(): Map[String, (Long, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(p).flatMap(st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st)).toSeq
      walk(new org.apache.hadoop.fs.Path(dir))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => st.getPath.toString ->
          (st.getLen, st.getModificationTime)).toMap
    }
    val before = listing()
    Similarity.refreshAssignments(spark, dir, c2)
    val after = listing()

    // refreshed ≡ fresh build (cell per vector)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"cell_id".cast("long")).as[(Long, Long)]
        .collect().toMap
    val refreshed = cells(spark.read.parquet(dir))
    val fresh = cells(Similarity.ivfAssignments(emb, c2))
    assert(refreshed == fresh, "refreshed index diverged from fresh build")

    // some vectors must actually have moved for the test to bite
    val freshC1 = cells(Similarity.ivfAssignments(emb, c1))
    val movedCells = freshC1.toSeq.collect {
      case (v, c) if fresh(v) != c => Seq(c, fresh(v)) }.flatten.toSet
    assert(movedCells.nonEmpty, "drift fixture moved nothing — weak test")

    // untouched cells' files are byte-for-byte the ORIGINAL files
    val untouchedFiles = before.keys.filterNot(f =>
      movedCells.exists(c => f.contains(s"cell_id=$c")))
    assert(untouchedFiles.nonEmpty)
    untouchedFiles.foreach { f =>
      assert(after.get(f).contains(before(f)),
        s"untouched cell file rewritten: $f")
    }

    // drained-cell path: two clustered centroids, then drift the only
    // populated cell's centroid away so everything lands in the other
    import spark.implicits._
    val tiny = Seq(
      (1L, Array.fill(64)(1.0f).toSeq), (2L, Array.fill(64)(0.9f).toSeq))
      .toDF("vec_id", "embedding")
    val tc1 = Seq((10L, Array.fill(64)(1.0f).toSeq),
      (20L, Array.fill(64)(-1.0f).toSeq)).toDF("cell_id", "centroid")
    val tdir = s"$root/tiny"
    Similarity.ivfAssignments(tiny, tc1)
      .write.partitionBy("cell_id").parquet(tdir)
    // drift: cell 10 flees, cell 20 lands on the data
    val tc2 = Seq((10L, Array.fill(64)(-1.0f).toSeq),
      (20L, Array.fill(64)(1.0f).toSeq)).toDF("cell_id", "centroid")
    Similarity.refreshAssignments(spark, tdir, tc2)
    val tGot = cells(spark.read.parquet(tdir))
    assert(tGot == cells(Similarity.ivfAssignments(tiny, tc2)))
    val fs = new org.apache.hadoop.fs.Path(tdir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tdir, "cell_id=10")),
      "drained cell's stale partition survived the refresh")
  }

  test("refreshAssignments converges after a crash that left a moved " +
       "vector duplicated across its old and new partitions — even when " +
       "the duplicate's cell EQUALS the winner cell") {
    import spark.implicits._
    // two well-separated cells; vec 1 belongs to cell 20 under the
    // (unchanged) centroids, but a crashed previous refresh left a
    // STALE copy of it in cell 10 alongside the correct copy in 20.
    // The winner cell (20) equals one stored copy's cell — the exact
    // case where deriving the affected set from the per-vec window
    // winner alone could leave the stale copy in 10 forever.
    val cents = Seq((10L, Array.fill(64)(-1.0f).toSeq),
      (20L, Array.fill(64)(1.0f).toSeq)).toDF("cell_id", "centroid")
    val v1 = Array.fill(64)(1.0f).toSeq
    val v2 = Array.fill(64)(-0.9f).toSeq
    val root = java.nio.file.Files.createTempDirectory("graft_ivfcrash")
    val dir = s"$root/assigned"
    // crash state on disk: vec 1 in BOTH partitions, vec 2 only in 10
    Seq((1L, v1, 20L), (1L, v1, 10L), (2L, v2, 10L))
      .toDF("vec_id", "embedding", "cell_id")
      .write.partitionBy("cell_id").parquet(dir)
    // re-run against the SAME centroids (nothing "moved" — the only
    // work is scrubbing the crash residue)
    Similarity.refreshAssignments(spark, dir, cents)
    val got = spark.read.parquet(dir)
      .select($"vec_id", $"cell_id".cast("long")).as[(Long, Long)]
      .collect().sorted.toSeq
    assert(got == Seq((1L, 20L), (2L, 10L)),
      s"crash residue not scrubbed, index holds $got")
    // and a second run is a no-op (idempotent once converged)
    Similarity.refreshAssignments(spark, dir, cents)
    val again = spark.read.parquet(dir)
      .select($"vec_id", $"cell_id".cast("long")).as[(Long, Long)]
      .collect().sorted.toSeq
    assert(again == got)
  }
}
