package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

class StreamDedupSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming dedup keeps first arrival per content hash across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = StreamDedup.firstArrivals(
      mem.toDF().toDF("ts", "doc_id", "text"), watermark = Some("1 hour"))
    val q = out.writeStream
      .format("memory").queryName("dedup_test").outputMode("append").start()
    try {
      // batch 1: two distinct docs + an in-batch duplicate of doc 1
      mem.addData(
        (ts("2024-01-01 00:00:00"), 1L, "alpha"),
        (ts("2024-01-01 00:01:00"), 2L, "beta"),
        (ts("2024-01-01 00:02:00"), 3L, "alpha"))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate (state catches it) + a new doc
      mem.addData(
        (ts("2024-01-01 00:10:00"), 4L, "beta"),
        (ts("2024-01-01 00:11:00"), 5L, "gamma"))
      q.processAllAvailable()

      val got = spark.table("dedup_test")
        .select("doc_id", "text").as[(Long, String)].collect().toSet
      assert(got == Set((1L, "alpha"), (2L, "beta"), (5L, "gamma")),
        s"expected first arrivals only, got $got")
    } finally q.stop()
  }

  test("near-dup scrub over a growing corpus catches cross-batch near-dups") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val fresh = (1 to 40).map(i => s"new$i").mkString(" ")
    val novel = (1 to 40).map(i => s"alt$i").mkString(" ")
    val static = Seq((1L, base), (2L, "unrelated corpus text entirely here"))
      .toDF("doc_id", "text")
    val sink = java.nio.file.Files
      .createTempDirectory("graft_scrub").toString + "/accepted"
    Seq.empty[(Timestamp, Long, String)].toDF("ts", "doc_id", "text")
      .write.parquet(sink)

    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = mem.toDF().toDF("ts", "doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val corpusNow = static.union(
          spark.read.parquet(sink).select("doc_id", "text"))
        StreamDedup.scrubNearDups(b, corpusNow)
          .write.mode("append").parquet(sink)
      }
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_scrub_ck").toString)
      .start()
    try {
      // batch A: near-dup of static 1 (drop), fresh keeper (keep),
      // in-batch near-dup of the keeper (drop)
      mem.addData(
        (ts("2024-01-01 00:00:00"), 10L, base.replace("tok40", "x")),
        (ts("2024-01-01 00:01:00"), 11L, fresh),
        (ts("2024-01-01 00:02:00"), 12L, fresh.replace("new40", "y")))
      q.processAllAvailable()
      // batch B: cross-batch near-dup of accepted 11 (drop), novel (keep)
      mem.addData(
        (ts("2024-01-01 00:10:00"), 13L, fresh.replace("new39", "z")),
        (ts("2024-01-01 00:11:00"), 14L, novel))
      q.processAllAvailable()
    } finally q.stop()

    val accepted = spark.read.parquet(sink)
      .select("doc_id").as[Long].collect().toSet
    assert(accepted == Set(11L, 14L), s"accepted $accepted")

    // sequential-batch parity: the same two batches through the batch
    // API against the same growing corpus accept the same ids
    val batchA = Seq((10L, base.replace("tok40", "x")), (11L, fresh),
      (12L, fresh.replace("new40", "y"))).toDF("doc_id", "text")
    val batchB = Seq((13L, fresh.replace("new39", "z")), (14L, novel))
      .toDF("doc_id", "text")
    val keptA = graft.operators.Dedup.minhashIncremental(batchA, static)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val corpus2 = static.union(batchA.filter($"doc_id".isin(keptA.toSeq: _*))
      .select("doc_id", "text"))
    val keptB = graft.operators.Dedup.minhashIncremental(batchB, corpus2)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptA ++ keptB == accepted)
  }

  test("NearDupIndex: persisted index catches cross-batch near-dups; " +
       "per-batch probe plans never scan corpus text") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val fresh = (1 to 40).map(i => s"new$i").mkString(" ")
    val novel = (1 to 40).map(i => s"alt$i").mkString(" ")
    val static = Seq((1L, base), (2L, "unrelated corpus text entirely here"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_ndi").toString
    val sink = s"$root/accepted"

    val idx = new NearDupIndex(spark, s"$root/index")
    idx.append(static) // one-time seed: corpus text read here, never again

    val mem = MemoryStream[(Timestamp, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ndi_ck").toString
    val q = mem.toDF().toDF("ts", "doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        idx.accept(b, id).write.mode("overwrite").parquet(s"$sink/batch=$id")
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      // batch A: near-dup of seeded 1 (drop), fresh keeper (keep),
      // in-batch near-dup of the keeper (drop)
      mem.addData(
        (ts("2024-01-01 00:00:00"), 10L, base.replace("tok40", "x")),
        (ts("2024-01-01 00:01:00"), 11L, fresh),
        (ts("2024-01-01 00:02:00"), 12L, fresh.replace("new40", "y")))
      q.processAllAvailable()
      // batch B: cross-batch near-dup of accepted 11 — only the APPENDED
      // index rows can catch it (drop) — plus a novel doc (keep)
      mem.addData(
        (ts("2024-01-01 00:10:00"), 13L, fresh.replace("new39", "z")),
        (ts("2024-01-01 00:11:00"), 14L, novel))
      q.processAllAvailable()
    } finally q.stop()

    val accepted = spark.read.parquet(sink)
      .select("doc_id").as[Long].collect().toSet
    assert(accepted == Set(11L, 14L), s"accepted $accepted")

    // parity with the inline (text-rescanning) sequential path
    val batchA = Seq((10L, base.replace("tok40", "x")), (11L, fresh),
      (12L, fresh.replace("new40", "y"))).toDF("doc_id", "text")
    val keptA = graft.operators.Dedup.minhashIncremental(batchA, static)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val corpus2 = static.union(batchA.filter($"doc_id".isin(keptA.toSeq: _*))
      .select("doc_id", "text"))
    val batchB = Seq((13L, fresh.replace("new39", "z")), (14L, novel))
      .toDF("doc_id", "text")
    val keptB = graft.operators.Dedup.minhashIncremental(batchB, corpus2)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptA ++ keptB == accepted)

    // the probe plan a batch executes reads ONLY index frames from
    // files: no ReadSchema may contain a text column, even with the
    // grown index (post-batch-B state)
    assertNoTextScan(StreamDedup.scrubNearDupsIndexed(
      batchB, idx.postings, idx.shingles))

    // REPLAY of batch id 1 (at-least-once delivery): must neither
    // match the batch against its own prior-attempt index rows (which
    // would drop 14 as a self-dup) nor grow the index
    val before = idx.postings.count()
    val replayKept = idx.accept(batchB, 1L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(replayKept == Set(14L), s"replay changed the outcome: $replayKept")
    assert(idx.postings.count() == before, "replay grew the index")

    // offline compaction folds the batch partitions, proving the
    // precondition from the STOPPED stream's own commit log (batches
    // 0 and 1 committed → high-water mark 1 covers every partition);
    // the folded index must still catch near-dups of everything
    // accepted so far
    assert(StreamDedup.lastCommittedBatch(spark, ckpt).contains(1L))
    idx.compact(ckpt)
    assert(idx.postings.select("batch").distinct().count() == 1,
      "compaction left extra partitions")
    val afterCompact = idx.accept(
      Seq((30L, novel.replace("alt40", "q"))).toDF("doc_id", "text"), 2L)
      .collect()
    assert(afterCompact.isEmpty,
      "compacted index missed a near-dup of an accepted doc")
  }

  test("SpanIndex: duplicate passages excised across batches; " +
       "probe plans read only gram hashes") {
    val passage = (1 to 16).map(i => s"p$i").mkString(" ")
    val q = (1 to 16).map(i => s"q$i").mkString(" ")
    val static = Seq((1L, passage)).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_span").toString
    val idx = new SpanIndex(spark, s"$root/index")
    idx.append(static) // seed: the static corpus's passages are "seen"

    // batch A: doc 10 embeds the seeded passage (excised), doc 11 is a
    // fresh passage (kept whole, but now indexed); the ts column must
    // ride through the scrub untouched
    val batchA = Seq(
      (ts("2024-01-01 00:00:00"), 10L, "a1 a2 a3 " + passage + " a4 a5"),
      (ts("2024-01-01 00:01:00"), 11L, q)).toDF("ts", "doc_id", "text")
    val outA = idx.scrub(batchA, 0L)
    assert(outA.columns.contains("ts"), "non-text batch columns must survive")
    val cleanA = outA.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("n_removed"))).toSeq.sortBy(_._1)
    assert(cleanA == Seq((10L, "a1 a2 a3 a4 a5", 16L), (11L, q, 0L)),
      s"got $cleanA")

    // batch B: doc 20 re-crawls batch A's fresh passage — only the
    // APPENDED index rows can catch it; doc 21 is novel
    val batchB = Seq(
      (ts("2024-01-01 00:10:00"), 20L, "b1 " + q + " b2"),
      (ts("2024-01-01 00:11:00"), 21L, (1 to 10).map(i => s"r$i").mkString(" ")))
      .toDF("ts", "doc_id", "text")
    def runB() = idx.scrub(batchB, 1L).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("n_removed"))).toSeq.sortBy(_._1)
    val expectedB = Seq((20L, "b1 b2", 16L),
      (21L, (1 to 10).map(i => s"r$i").mkString(" "), 0L))
    val cleanB = runB()
    assert(cleanB == expectedB, s"got $cleanB")

    // REPLAY of batch id 1: excluding its own prior grams, the re-run
    // must produce the identical output (unguarded, every gram of the
    // batch would be "seen" and every doc gutted to "")
    assert(runB() == expectedB, "replayed batch was gutted by its own grams")

    // the probe plan reads ONLY gram hashes from files — never text —
    // and the own-batch exclusion is a PARTITION filter (the replayed
    // batch's prior rows are pruned at the source, zero data read, not
    // row-filtered after a scan)
    val probe = idx.spans(batchB, 1L)
    assertNoTextScan(probe)
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*batch".r.findFirstIn(plan).isDefined,
      s"own-batch exclusion not pushed to partition pruning:\n$plan")

    // offline compaction folds the batch partitions (ids 0 and 1, so
    // a high-water mark of 1 proves the precondition); passages
    // accepted before the fold must still be caught afterwards
    idx.compact(1L)
    assert(idx.grams.select("batch").distinct().count() == 1,
      "compaction left extra partitions")
    val afterCompact = idx.scrub(
      Seq((ts("2024-01-01 00:20:00"), 30L, "c1 " + passage + " c2"))
        .toDF("ts", "doc_id", "text"), 2L)
      .collect().map(r => (r.getAs[String]("clean_text"),
        r.getAs[Long]("n_removed"))).toSeq
    assert(afterCompact == Seq(("c1 c2", 16L)),
      s"compacted index missed a seeded passage: $afterCompact")
  }

  test("batch mode matches the batch dedup operator's clusters") {
    val docs = Seq(
      (ts("2024-01-01 00:00:00"), 1L, "alpha"),
      (ts("2024-01-01 00:01:00"), 2L, "beta"),
      (ts("2024-01-01 00:02:00"), 3L, "alpha"))
      .toDF("ts", "doc_id", "text")
    val kept = StreamDedup.firstArrivals(docs)
      .select("content_hash").as[String].collect().toSet
    val clusters = graft.operators.Dedup.exact(docs)
      .select("content_hash").as[String].collect().toSet
    assert(kept == clusters)
  }

  test("NearDupIndex.accept keeps NULL-doc_id batch rows (pass-through, " +
       "never indexed)") {
    val root = java.nio.file.Files.createTempDirectory("graft_nnull").toString
    val idx = new NearDupIndex(spark, s"$root/index")
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    idx.append(Seq((1L, base)).toDF("doc_id", "text"))
    val batch = Seq((Option(10L), base.replace("tok40", "x")),
      (None: Option[Long], "null id survives untouched"))
      .toDF("doc_id", "text")
    val out = idx.accept(batch, 0L).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getAs[String]("text"))).toSet
    // near-dup of the seed drops; the NULL-id row survives
    assert(out == Set((None, "null id survives untouched")), s"got $out")
    assert(idx.postings.filter($"doc_id".isNull).count() == 0,
      "a NULL-id row leaked into the index")
  }

  test("SpanIndex.scrub keeps NULL-doc_id batch rows (pass-through, not a " +
       "silent equi-join drop)") {
    val root = java.nio.file.Files.createTempDirectory("graft_snull").toString
    val idx = new SpanIndex(spark, s"$root/index")
    val passage = (1 to 16).map(i => s"p$i").mkString(" ")
    idx.append(Seq((1L, passage)).toDF("doc_id", "text"))
    val batch = Seq((Option(10L), "a1 " + passage + " a2"),
      (None: Option[Long], "keep me whole"))
      .toDF("doc_id", "text")
    val out = idx.scrub(batch, 0L).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"))).toSet
    assert(out == Set((Some(10L), "a1 a2", 16L), (None, "keep me whole", 0L)),
      s"got $out")
  }

  test("backfill: chunked == one-shot on clique clusters; re-run converges; " +
       "sub-seed partitions survive horizon expiry") {
    // three exact-dup cliques + singletons, ids spread so every chunk
    // count splits at least one clique across chunks
    val t1 = (1 to 40).map(i => s"aa$i").mkString(" ")
    val t2 = (1 to 40).map(i => s"bb$i").mkString(" ")
    val t3 = (1 to 40).map(i => s"cc$i").mkString(" ")
    val corpus = Seq(
      (1L, t1), (12L, t1), (23L, t1),            // clique of 3
      (5L, t2), (30L, t2),                       // clique of 2
      (8L, t3), (17L, "solo " + (1 to 39).map(i => s"dd$i").mkString(" ")))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_bf").toString

    def keptSet(chunks: Int): Set[Long] = {
      val idx = new NearDupIndex(spark, s"$root/idx$chunks")
      idx.backfill(corpus, chunks)
        .select("doc_id").as[Long].collect().toSet
    }
    val oneShot = {
      val idx = new NearDupIndex(spark, s"$root/one")
      idx.accept(corpus, 0L).select("doc_id").as[Long].collect().toSet
    }
    assert(keptSet(1) == oneShot && keptSet(3) == oneShot,
      "chunked backfill diverged from the one-shot accept on cliques")
    assert(oneShot == Set(1L, 5L, 8L, 17L))

    // crashed-backfill re-run: same kept set, no index growth
    val idx = new NearDupIndex(spark, s"$root/rerun")
    val first = idx.backfill(corpus, 3).select("doc_id").as[Long].collect().toSet
    val postings = idx.postings.count()
    val second = idx.backfill(corpus, 3).select("doc_id").as[Long].collect().toSet
    assert(second == first, s"re-run diverged: $second vs $first")
    assert(idx.postings.count() == postings, "re-run grew the index")

    // the backfilled index serves live batches: a novel doc lands (and
    // is indexed under its stream batch id), a re-crawl of backfilled
    // t2 drops
    val novel = (1 to 40).map(i => s"ee$i").mkString(" ")
    assert(idx.accept(Seq((99L, novel)).toDF("doc_id", "text"), 0L).count() == 1)
    assert(idx.postings.filter($"batch" === 0L).count() > 0)

    // horizon expiry deletes only STREAM batches — the backfill's
    // sub-seed partitions are permanent corpus
    idx.expireBatchesBelow(cutoff = 1L, lastCommittedBatchId = 0L)
    assert(idx.postings.filter($"batch" < StreamDedup.SeedBatchId).count() > 0,
      "expiry deleted backfill partitions")
    assert(idx.postings.filter($"batch" === 0L).count() == 0,
      "expiry missed the stream batch below the cutoff")
    assert(idx.accept(Seq((100L, t2)).toDF("doc_id", "text"), 1L).isEmpty,
      "backfilled dedup protection lost after expiry")

    // a SECOND corpus backfills under a fresh backfillId into its own
    // id block: nothing of backfill 0 is overwritten, and the new
    // corpus is deduped against it
    val before2 = idx.postings.count()
    assert(idx.backfill(Seq((200L, t1)).toDF("doc_id", "text"),
      chunks = 2, backfillId = 1).isEmpty,
      "second backfill missed a dup of the first backfill's corpus")
    assert(idx.postings.count() == before2,
      "second backfill clobbered or grew partitions it should not")
  }

  test("layout geometry binds to disk: reconstruction under different " +
       "params throws; query-time thresholds stay tunable") {
    val root = java.nio.file.Files.createTempDirectory("graft_geom").toString
    new NearDupIndex(spark, s"$root/idx", bands = 8)
    new NearDupIndex(spark, s"$root/idx", bands = 8) // same layout: fine
    val e = intercept[IllegalStateException](
      new NearDupIndex(spark, s"$root/idx", bands = 16))
    assert(e.getMessage.contains("geometry"))
    // minJaccard is query-time — not bound, legitimately tunable
    new NearDupIndex(spark, s"$root/idx", minJaccard = 0.9)
    new SpanIndex(spark, s"$root/span", k = 8)
    intercept[IllegalStateException](new SpanIndex(spark, s"$root/span", k = 4))
    new EmbeddingIndex(spark, s"$root/emb", bands = 8, rowsPerBand = 6)
    intercept[IllegalStateException](
      new EmbeddingIndex(spark, s"$root/emb", bands = 8, rowsPerBand = 6, dims = 32))
  }

  test("compact refuses to fold a batch the checkpoint has not committed") {
    val root = java.nio.file.Files.createTempDirectory("graft_cpre").toString
    val idx = new SpanIndex(spark, s"$root/index")
    val passage = (1 to 16).map(i => s"p$i").mkString(" ")
    idx.scrub(Seq((1L, passage)).toDF("doc_id", "text"), 0L)
    idx.scrub(Seq((2L, (1 to 16).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text"), 5L)
    // partition batch=5 exists but the claimed commit high-water mark
    // is 4: folding would let a replay of batch 5 match its own grams
    val e = intercept[IllegalStateException] { idx.compact(4L) }
    assert(e.getMessage.contains("5"), e.getMessage)
    // nothing was touched: both data-bearing partitions intact (the
    // bootstrap seed is row-empty), then a proven compact works
    assert(idx.grams.select("batch").distinct().count() == 2)
    idx.compact(5L)
    assert(idx.grams.select("batch").distinct().count() == 1)
    // a checkpoint dir with no commits proves nothing beyond the seed
    val emptyCkpt = java.nio.file.Files.createTempDirectory("graft_eck").toString
    assert(StreamDedup.lastCommittedBatch(spark, emptyCkpt).isEmpty)
    idx.scrub(Seq((3L, (1 to 16).map(i => s"r$i").mkString(" ")))
      .toDF("doc_id", "text"), 6L)
    intercept[IllegalStateException] { idx.compact(emptyCkpt) }
  }

  test("expireBatchesBelow bounds the index to the re-crawl window: old " +
       "batches lose protection, the seed keeps it, uncommitted cutoffs refuse") {
    val root = java.nio.file.Files.createTempDirectory("graft_exp").toString
    val idx = new SpanIndex(spark, s"$root/index")
    val seeded = (1 to 16).map(i => s"s$i").mkString(" ")
    val old = (1 to 16).map(i => s"o$i").mkString(" ")
    val recent = (1 to 16).map(i => s"r$i").mkString(" ")
    idx.append(Seq((100L, seeded)).toDF("doc_id", "text"))
    idx.scrub(Seq((1L, old)).toDF("doc_id", "text"), 0L)
    idx.scrub(Seq((2L, recent)).toDF("doc_id", "text"), 5L)

    // a cutoff past the committed high-water mark refuses: batch 7
    // could still replay after its partition vanished
    intercept[IllegalStateException] { idx.expireBatchesBelow(8L, 6L) }

    // an unfinished compaction stage must block expiry: re-running the
    // interrupted compact would fold the stage — expired rows included
    // — into the seed partition retention never touches
    val stage = new org.apache.hadoop.fs.Path(s"$root/index/grams/.compacting-0")
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(stage)
    intercept[IllegalStateException] { idx.expireBatchesBelow(5L, 5L) }
    fs.delete(stage, true)

    idx.expireBatchesBelow(5L, 5L)
    def scrubbed(doc: (Long, String), id: Long) =
      idx.spans(Seq(doc).toDF("doc_id", "text"), id).count() > 0
    // the expired batch's passage is re-acceptable (no span found)...
    assert(!scrubbed(10L -> ("a " + old + " b"), 6L),
      "expired batch still protects")
    // ...while the recent batch and the SEED both still protect
    assert(scrubbed(11L -> ("a " + recent + " b"), 7L))
    assert(scrubbed(12L -> ("a " + seeded + " b"), 8L))
  }

  test("compact is crash-safe: a leftover stage dir is folded back in and " +
       "an interrupted run never loses seed rows") {
    val root = java.nio.file.Files.createTempDirectory("graft_ccrash").toString
    val dir = s"$root/index"
    val idx = new SpanIndex(spark, dir)
    val passage = (1 to 16).map(i => s"p$i").mkString(" ")
    val other = (1 to 16).map(i => s"q$i").mkString(" ")
    idx.append(Seq((1L, passage)).toDF("doc_id", "text")) // seed rows
    idx.scrub(Seq((2L, other)).toDF("doc_id", "text"), 0L)
    val allGrams = idx.grams.select("h").distinct().count()

    // simulate a run that crashed AFTER staging the fold and deleting
    // the old partitions (the maximal-damage point): the stage holds
    // the superset, the visible frame is empty
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gramsDir = s"$dir/grams"
    idx.grams.select("h").distinct()
      .write.parquet(s"$gramsDir/.compacting-0")
    fs.listStatus(new org.apache.hadoop.fs.Path(gramsDir))
      .filter(_.getPath.getName.startsWith("batch="))
      .foreach(s => fs.delete(s.getPath, true))

    // the re-run converges: every gram — including the seed-resident
    // passage the old in-place overwrite could permanently lose — is
    // back in the seed partition, stage dirs are gone
    idx.compact(0L)
    assert(idx.grams.select("batch").distinct().count() == 1)
    assert(idx.grams.select("h").distinct().count() == allGrams,
      "compaction lost rows across the simulated crash")
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(gramsDir))
      .exists(_.getPath.getName.startsWith(".compacting-")),
      "stage dir not cleaned up")
    // and the folded index still catches a re-crawl of the seed passage
    val out = idx.scrub(
      Seq((9L, "c1 " + passage + " c2")).toDF("doc_id", "text"), 1L)
      .collect().map(r => (r.getAs[String]("clean_text"),
        r.getAs[Long]("n_removed"))).toSeq
    assert(out == Seq(("c1 c2", 16L)), s"got $out")
  }
}
