package graft.streaming

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The persisted embedding index: cross-batch semantic near-dup drops,
  * replay safety, corpus-never-rescanned probe plans, compaction, and
  * parity with the batch operators ([[Similarity.embeddingIncremental]]
  * wrapper and [[Similarity.semanticDedup]] on clique-shaped corpora).
  */
class EmbeddingIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Unit axis vector e_axis, optionally perturbed by `eps` along a
    * second axis — cos(e_i, e_i + eps·e_j) ≈ 1 (near-dup), while
    * distinct axes are exactly orthogonal (cos 0, never a near-dup
    * regardless of bucket luck).
    */
  private def vec(axis: Int, eps: Float = 0f, epsAxis: Int = 1): Array[Float] = {
    val a = Array.fill(64)(0f)
    a(axis) = 1f
    if (eps != 0f) a(epsAxis) = eps
    a
  }

  private def vdf(rows: (Long, Array[Float])*) =
    rows.toDF("vec_id", "embedding")

  /** Every FILE scan in a probe plan must read from under the index
    * directory: the corpus table (raw vectors) is never rescanned —
    * the EmbeddingIndex analog of DedupSpec's no-text-column audit.
    */
  private def assertIndexOnlyScans(df: org.apache.spark.sql.DataFrame,
                                   indexDir: String): Unit = {
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val locs = "InMemoryFileIndex\\(\\d+ paths\\)\\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(locs.nonEmpty, s"expected parquet index scans in:\n$plan")
    locs.foreach(l => assert(l.contains(indexDir),
      s"probe plan scans a file outside the index dir ($l):\n$plan"))
  }

  test("EmbeddingIndex: cross-batch semantic near-dups drop via the persisted " +
       "index; replay converges; probe scans only index files") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_emb").toString
    val indexDir = s"$root/index"
    val sink = s"$root/accepted"
    val idx = new EmbeddingIndex(spark, indexDir, bands = 8, rowsPerBand = 6)
    idx.append(vdf(1L -> vec(0), 2L -> vec(1))) // one-time corpus seed

    val mem = MemoryStream[(Long, Array[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_emb_ck").toString
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        idx.accept(b, id).write.mode("overwrite").parquet(s"$sink/batch=$id")
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // batch 0: near-dup of seeded 1 (drop), fresh keeper (keep),
      // in-batch near-dup of the keeper (drop)
      mem.addData((10L, vec(0, 0.1f)), (11L, vec(2)), (12L, vec(2, 0.1f, 3)))
      q.processAllAvailable()
      // batch 1: cross-batch near-dup of accepted 11 — only the
      // APPENDED index rows can catch it — plus a novel vector (keep)
      mem.addData((13L, vec(2, 0.1f, 4)), (14L, vec(5)))
      q.processAllAvailable()
    } finally q.stop()

    val accepted = spark.read.parquet(sink)
      .select("vec_id").as[Long].collect().toSet
    assert(accepted == Set(11L, 14L), s"accepted $accepted")

    // parity with the inline (corpus-rescanning) wrapper, sequentially
    val static = vdf(1L -> vec(0), 2L -> vec(1))
    val batch0 = vdf(10L -> vec(0, 0.1f), 11L -> vec(2), 12L -> vec(2, 0.1f, 3))
    val kept0 = Similarity.embeddingIncremental(batch0, static)
      .as[Long].collect().toSet
    assert(kept0 == Set(11L), s"wrapper kept $kept0")

    // probe plans read ONLY index files — the corpus table is never
    // rescanned even as the index grows
    val batch1 = vdf(13L -> vec(2, 0.1f, 4), 14L -> vec(5))
    assertIndexOnlyScans(Similarity.embeddingProbe(
      batch1, idx.postings, idx.vectors,
      bands = 8, rowsPerBand = 6), indexDir)

    // REPLAY of batch id 1 (at-least-once delivery): must neither match
    // the batch against its own prior rows nor grow the index
    val before = idx.postings.count()
    val replayKept = idx.accept(batch1, 1L).select("vec_id")
      .as[Long].collect().toSet
    assert(replayKept == Set(14L), s"replay changed the outcome: $replayKept")
    assert(idx.postings.count() == before, "replay grew the index")

    // compaction proves its precondition from the stream's commit log,
    // and the folded index still catches near-dups of accepted vectors
    idx.compact(ckpt)
    assert(idx.postings.select("batch").distinct().count() == 1,
      "compaction left extra partitions")
    val afterCompact = idx.accept(vdf(30L -> vec(5, 0.1f, 6)), 2L)
      .select("vec_id").as[Long].collect()
    assert(afterCompact.isEmpty,
      "compacted index missed a near-dup of an accepted vector")
  }

  test("forExpectedRows derives the occupancy-regime geometry and binds it " +
       "to disk like an explicit width") {
    val root = java.nio.file.Files.createTempDirectory("graft_efr").toString
    // 200k expected rows → r=16 (the LSH_SCALE measured-optimal point)
    val idx = EmbeddingIndex.forExpectedRows(spark, s"$root/idx",
      expectedRows = 200000L)
    idx.append(vdf(1L -> vec(0)))
    // the derived geometry is the binding one: reopening with the demo
    // width must throw (bindGeometry), reopening with the same
    // expectedRows must not
    intercept[IllegalStateException](
      new EmbeddingIndex(spark, s"$root/idx", bands = 8, rowsPerBand = 6))
    EmbeddingIndex.forExpectedRows(spark, s"$root/idx",
      expectedRows = 200000L) // same estimate → same width → reopens fine
    // and the postings really are 16-bit buckets: with one vector the
    // bucket values occupy the 2^16 space, not the demo 2^6
    val buckets = idx.postings.select("bucket")
      .collect().map(_.getLong(0))
    assert(buckets.exists(_ >= 64),
      s"expected 2^16-space buckets, got ${buckets.toSeq}")
  }

  test("accept keeps NULL-vec_id batch rows (pass-through, never indexed)") {
    val root = java.nio.file.Files.createTempDirectory("graft_enull").toString
    val idx = new EmbeddingIndex(spark, s"$root/index", bands = 8, rowsPerBand = 6)
    idx.append(vdf(1L -> vec(0)))
    val batch = Seq((Option(10L), vec(0, 0.1f)), (None: Option[Long], vec(7)))
      .toDF("vec_id", "embedding")
    val out = idx.accept(batch, 0L).collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSet
    assert(out == Set(None), s"got $out") // near-dup drops, NULL-id survives
    assert(idx.postings.filter(org.apache.spark.sql.functions.col("vec_id").isNull)
      .count() == 0, "a NULL-id row leaked into the index")
  }

  test("PqEmbeddingIndex: stored side is 8-byte codes (no embedding column " +
       "in any frame), ADC catches cross-batch near-dups, replay converges") {
    // codebook trained on the fixture family (ids 0..7 seed the k=8
    // codes), so quantization error on in-family vectors is ~0 and the
    // ADC accept/drop decisions are deterministic
    val train = vdf(0L -> vec(0), 1L -> vec(2), 2L -> vec(5),
      3L -> vec(0, 0.05f, 1), 4L -> vec(2, 0.05f, 3), 5L -> vec(7),
      6L -> vec(8), 7L -> vec(9))
    val cb = Similarity.pqTrain(train, m = 8, k = 8, iters = 2, seedStride = 1)
    val root = java.nio.file.Files.createTempDirectory("graft_pqe").toString
    val indexDir = s"$root/index"
    val idx = new PqEmbeddingIndex(spark, indexDir, cb, maxD2 = 0.5, bands = 8, rowsPerBand = 6)
    idx.append(vdf(1L -> vec(0)))

    // batch 0: ADC near-dup of the seed (drop), fresh keeper (keep)
    val kept0 = idx.accept(vdf(10L -> vec(0, 0.1f), 11L -> vec(2)), 0L)
      .select("vec_id").as[Long].collect().toSet
    assert(kept0 == Set(11L), s"kept $kept0")
    // batch 1: cross-batch ADC near-dup of accepted 11 (drop), novel (keep)
    val b1 = vdf(12L -> vec(2, 0.1f, 4), 13L -> vec(5))
    val kept1 = idx.accept(b1, 1L).select("vec_id").as[Long].collect().toSet
    assert(kept1 == Set(13L), s"kept $kept1")

    // the footprint claim, structurally: NO index frame carries an
    // embedding column — the corpus side is postings + m-byte codes
    assert(!idx.postings.columns.contains("embedding"))
    assert(!idx.codes.columns.contains("embedding"))
    assert(idx.codes.schema("codes").dataType.typeName == "array")

    // replay of batch 1: same outcome, index unchanged
    val before = idx.codes.count()
    val replay = idx.accept(b1, 1L).select("vec_id").as[Long].collect().toSet
    assert(replay == Set(13L), s"replay changed the outcome: $replay")
    assert(idx.codes.count() == before, "replay grew the index")

    // probe plans scan only index files (the batch is an in-memory
    // relation; corpus vectors exist nowhere to scan)
    assertIndexOnlyScans(Similarity.pqEmbeddingProbe(
      b1, idx.postings, idx.codes, idx.codebook, 0.5,
      bands = 8, rowsPerBand = 6), indexDir)

    // compaction + the folded index still catches an accepted vector
    idx.compact(1L)
    val afterCompact = idx.accept(vdf(30L -> vec(5, 0.1f, 6)), 2L)
      .select("vec_id").as[Long].collect()
    assert(afterCompact.isEmpty,
      "compacted PQ index missed a near-dup of an accepted vector")
  }

  test("sequential accepts equal semanticDedup keepers on a clique-shaped " +
       "corpus (union-run parity)") {
    // three exact cliques: {1,2,3} around e0, {4,5} around e3, and a
    // singleton 6 — every within-clique pair is a near-dup, so greedy
    // sequential acceptance and connected-components keeper selection
    // agree (divergence is only possible on non-transitive chains)
    val all = Seq(
      1L -> vec(0), 2L -> vec(0, 0.05f, 1), 3L -> vec(0, 0.05f, 2),
      4L -> vec(3), 5L -> vec(3, 0.05f, 4), 6L -> vec(6))
    val dropList = Similarity.semanticDedup(vdf(all: _*))
      .select("vec_id").as[Long].collect().toSet
    assert(dropList == Set(2L, 3L, 5L), s"semanticDedup dropped $dropList")

    val root = java.nio.file.Files.createTempDirectory("graft_embp").toString
    val idx = new EmbeddingIndex(spark, s"$root/index", bands = 8, rowsPerBand = 6)
    val batches = Seq(Seq(1L, 4L), Seq(2L, 6L), Seq(3L, 5L))
    val byId = all.toMap
    val survivors = batches.zipWithIndex.flatMap { case (ids, bid) =>
      idx.accept(vdf(ids.map(i => i -> byId(i)): _*), bid.toLong)
        .select("vec_id").as[Long].collect()
    }.toSet
    assert(survivors == all.map(_._1).toSet -- dropList,
      s"sequential survivors $survivors diverge from semanticDedup keepers")
  }

  test("backfill: chunked == one-shot on clique corpora; re-run converges; " +
       "backfilled vectors dedup live batches") {
    // two near-dup cliques (ids spread across chunk ranges) + singletons
    val corpus = Seq(
      1L -> vec(0), 12L -> vec(0, 0.01f), 23L -> vec(0, -0.01f),
      5L -> vec(2), 30L -> vec(2, 0.01f, 3),
      8L -> vec(4), 17L -> vec(6))
    val root = java.nio.file.Files.createTempDirectory("graft_embbf").toString

    def kept(chunks: Int): Set[Long] = {
      val idx = new EmbeddingIndex(spark, s"$root/idx$chunks", bands = 8, rowsPerBand = 6)
      idx.backfill(vdf(corpus: _*), chunks)
        .select("vec_id").as[Long].collect().toSet
    }
    val oneShot = {
      val idx = new EmbeddingIndex(spark, s"$root/one", bands = 8, rowsPerBand = 6)
      idx.accept(vdf(corpus: _*), 0L).select("vec_id").as[Long].collect().toSet
    }
    assert(kept(1) == oneShot && kept(3) == oneShot && oneShot ==
      Set(1L, 5L, 8L, 17L), s"chunked embedding backfill diverged: $oneShot")

    val idx = new EmbeddingIndex(spark, s"$root/rerun", bands = 8, rowsPerBand = 6)
    val first = idx.backfill(vdf(corpus: _*), 3)
      .select("vec_id").as[Long].collect().toSet
    val n = idx.postings.count()
    assert(idx.backfill(vdf(corpus: _*), 3)
      .select("vec_id").as[Long].collect().toSet == first)
    assert(idx.postings.count() == n, "re-run grew the index")
    // a live batch re-crawling a backfilled vector drops
    assert(idx.accept(vdf(99L -> vec(2, -0.01f, 3)), 0L).isEmpty)
  }
}
