package graft.streaming

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** [[BatchFrame]], the per-batch layout every persisted index shares:
  * the frame schema is read once at open (reads start no job), `batch`
  * is bound as `long` (sub-seed backfill ids below the int range stay
  * readable), stored-format drift still fails loudly, and an index
  * reopened in a crashed compaction's window opens with every row.
  */
class BatchFrameSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  private def jobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    graft.core.GraftSession.drainListeners(spark)
    spark.sparkContext.addSparkListener(counter)
    try { body; graft.core.GraftSession.drainListeners(spark) }
    finally spark.sparkContext.removeSparkListener(counter)
    n.get
  }

  private def vec(axis: Int): Array[Float] = {
    val a = Array.fill(64)(0f)
    a(axis) = 1f
    a
  }

  test("building every index's frame-read DataFrame starts no job") {
    val root = tmp("graft_bf_jobs")
    val docs = Seq((1L, (1 to 40).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val vecs = Seq((0L, vec(0)), (1L, vec(1))).toDF("vec_id", "embedding")
    val near = new NearDupIndex(spark, s"$root/near")
    val exact = new ExactIndex(spark, s"$root/exact")
    val spans = new SpanIndex(spark, s"$root/spans")
    val emb = new EmbeddingIndex(spark, s"$root/emb", bands = 8, rowsPerBand = 6)
    val pq = new PqEmbeddingIndex(spark, s"$root/pq",
      Similarity.pqTrain(vecs, m = 8, k = 2, iters = 1, seedStride = 1),
      maxD2 = 0.5, bands = 8, rowsPerBand = 6)
    val search = new KeywordIndex(spark, s"$root/search")
    val quantiles = new QuantileIndex(spark, s"$root/quantiles",
      template = Seq.empty[(Long, String, Double)]
        .toDF("event_id", "event_type", "value"),
      group = Seq("event_type"), value = col("value"), rowId = col("event_id"))
    val rollup = new RollupState(spark, s"$root/rollup",
      template = Seq.empty[(String, Long)].toDF("event_type", "n"),
      groupCols = Seq("event_type"), sumCols = Seq("n"))
    // frames holding rows of a stream batch, not just the bootstrap seed
    near.accept(docs, 0L); exact.accept(docs, 0L); spans.scrub(docs, 0L)
    emb.accept(vecs, 0L)

    val reads: Seq[(String, () => DataFrame)] = Seq(
      "near.postings" -> (() => near.postings),
      "near.shingles" -> (() => near.shingles),
      "exact.hashes" -> (() => exact.hashes),
      "spans.grams" -> (() => spans.grams),
      "emb.postings" -> (() => emb.postings),
      "emb.vectors" -> (() => emb.vectors),
      "pq.postings" -> (() => pq.postings),
      "pq.codes" -> (() => pq.codes),
      "search.postings" -> (() => search.postings),
      "search.positional" -> (() => search.positional),
      "quantiles.sketch" -> (() => quantiles.sketch),
      "rollup.current" -> (() => rollup.current))
    for ((name, read) <- reads) {
      val n = jobs(read())
      assert(n == 0, s"building $name started $n jobs")
    }
    assert(near.postings.schema("batch").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("a backfill id past 2^21 writes sub-seed partitions below the int " +
       "range; they are still read and probed") {
    val root = tmp("graft_bf_long")
    val t1 = (1 to 40).map(i => s"aa$i").mkString(" ")
    val t2 = (1 to 40).map(i => s"bb$i").mkString(" ")
    val idx = new NearDupIndex(spark, s"$root/index")
    val kept = idx.backfill(Seq((1L, t1), (2L, t2)).toDF("doc_id", "text"),
      chunks = 2, backfillId = 1 << 21)
    assert(kept.count() == 2)
    assert(idx.postings.filter($"batch" < Int.MinValue.toLong).count() > 0,
      "no backfill partition below the int range")
    // near-dups of both backfilled docs drop, a novel doc is kept
    val novel = (1 to 40).map(i => s"cc$i").mkString(" ")
    val out = idx.accept(Seq((10L, t1.replace("aa40", "x")),
      (11L, t2.replace("bb40", "y")), (12L, novel)).toDF("doc_id", "text"), 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(12L), s"backfilled partitions were not probed: $out")
  }

  test("a stored frame lacking a column the probe reads makes accept throw") {
    val root = tmp("graft_bf_drift")
    // an ExactIndex frame whose seed partition stores its hashes under
    // another column name
    Seq("d41d8cd98f00b204e9800998ecf8427e").toDF("hash")
      .write.parquet(s"$root/index/hashes/batch=${StreamDedup.SeedBatchId}")
    val idx = new ExactIndex(spark, s"$root/index")
    intercept[org.apache.spark.sql.AnalysisException] {
      idx.accept(Seq((1L, "alpha")).toDF("doc_id", "text"), 0L).collect()
    }
  }

  test("an index reopened after compaction crashed before its rename opens " +
       "with every row") {
    val root = tmp("graft_bf_reopen")
    val dir = s"$root/index"
    val idx = new SpanIndex(spark, dir)
    val passage = (1 to 16).map(i => s"p$i").mkString(" ")
    idx.append(Seq((1L, passage)).toDF("doc_id", "text"))
    idx.scrub(Seq((2L, (1 to 16).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text"), 0L)
    val allGrams = idx.grams.select("h").distinct().count()
    // the crash point: the fold is staged, every partition is deleted
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    idx.grams.select("h").distinct().write.parquet(s"$dir/grams/.compacting-0")
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/grams"))
      .filter(_.getPath.getName.startsWith("batch="))
      .foreach(s => fs.delete(s.getPath, true))

    val reopened = new SpanIndex(spark, dir)
    assert(reopened.grams.select("batch").distinct().as[Long].collect().toSeq ==
      Seq(StreamDedup.SeedBatchId))
    assert(reopened.grams.select("h").distinct().count() == allGrams)
    val out = reopened.scrub(
      Seq((9L, "c1 " + passage + " c2")).toDF("doc_id", "text"), 1L)
      .select("clean_text").as[String].collect().toSeq
    assert(out == Seq("c1 c2"), s"got $out")
  }
}
