package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.StructType
import java.nio.file.Files

/** Streaming write path: [[StreamSink.idempotentParquet]] (foreachBatch
  * with per-batch-id overwrite — exactly-once parquet output under
  * replay) and [[StreamSink.ingestAvailableNow]] (checkpointed
  * incremental file ingest).
  */
class StreamSinkSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch parquet sink is idempotent per batch id") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_sink").toString
    val mem = MemoryStream[(Long, Double)]
    val q = mem.toDF().toDF("id", "value").writeStream
      .foreachBatch(StreamSink.idempotentParquet(dir))
      .start()
    try {
      mem.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      mem.addData((3L, 4.0))
      q.processAllAvailable()
      val out = spark.read.parquet(dir)
      assert(out.count() == 3)
      assert(out.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
      // simulate a replay of batch 0: re-delivering the same rows to the
      // sink writer leaves totals unchanged (append would duplicate)
      val b0 = spark.read.parquet(s"$dir/batch=0")
      StreamSink.idempotentParquet(dir)(
        spark.createDataFrame(
          spark.sparkContext.parallelize(b0.collect().toSeq), b0.schema),
        0L)
      assert(spark.read.parquet(dir).count() == 3)
    } finally q.stop()
  }

  test("file-source incremental ingest processes each drop exactly once (AvailableNow)") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_ingest_incr").toString
    val (in, out, ckpt) = (s"$root/landing", s"$root/mart", s"$root/ckpt")

    def drop(ids: Range): Unit = ids.map(i => (i.toLong, i * 1.5))
      .toDF("id", "value").write.mode("append").parquet(in)
    def runOnce(): Unit = StreamSink.ingestAvailableNow(
      spark, in, StructType.fromDDL("id LONG, value DOUBLE"), out, ckpt,
      _.withColumn("doubled", col("value") * 2))

    drop(1 to 5)
    runOnce()
    assert(spark.read.parquet(out).count() == 5)
    drop(6 to 8)
    runOnce()
    val rows = spark.read.parquet(out)
    // 8 rows total: the second run ingested ONLY the new drop (the
    // checkpoint remembers processed files), the first 5 not re-read
    assert(rows.count() == 8)
    assert(rows.select("id").as[Long].collect().toSet == (1L to 8L).toSet)
    // the transform applied on the stream path
    assert(rows.filter(col("doubled") =!= col("value") * 2).count() == 0)
    // re-running with nothing new is a no-op
    runOnce()
    assert(spark.read.parquet(out).count() == 8)
  }

  test("file-drop span dedup end to end: ingest -> SpanIndex.scrub -> " +
       "idempotent sink; re-runs are no-ops, re-crawled passages drop " +
       "across drops") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_span_e2e").toString
    val (in, out, ckpt) = (s"$root/landing", s"$root/clean", s"$root/ckpt")
    val idx = new SpanIndex(spark, s"$root/index")
    val seeded = (1 to 16).map(i => s"s$i").mkString(" ")
    idx.append(Seq((100L, seeded)).toDF("doc_id", "text"))

    def drop(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(in)
    // the full deployment composition: each unprocessed file drop is
    // scrubbed against (and grows) the persisted gram index, then
    // lands exactly-once under its batch id
    def runOnce(): Unit = StreamSink.ingestAvailableNowBatches(
      spark, in, StructType.fromDDL("doc_id LONG, text STRING"), ckpt,
      (b, id) => StreamSink.idempotentParquet(out)(idx.scrub(b, id), id))
    def cleaned(): Map[Long, (String, Long)] =
      spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"))).toMap

    val fresh = (1 to 16).map(i => s"f$i").mkString(" ")
    // drop 1: doc 1 re-crawls the SEEDED passage (excised), doc 2 is new
    drop(1L -> ("a1 " + seeded + " a2"), 2L -> fresh)
    runOnce()
    assert(cleaned() == Map(1L -> ("a1 a2", 16L), 2L -> (fresh, 0L)),
      s"got ${cleaned()}")
    // re-run with no new files: a NO-OP — no new batches, sink and
    // index byte-identical
    val gramsBefore = idx.grams.count()
    runOnce()
    assert(cleaned() == Map(1L -> ("a1 a2", 16L), 2L -> (fresh, 0L)))
    assert(idx.grams.count() == gramsBefore, "no-op re-run grew the index")
    // drop 2: doc 3 re-crawls doc 2's passage from the PREVIOUS drop —
    // only the grown index can catch it; doc 4 is novel
    val novel = (1 to 10).map(i => s"n$i").mkString(" ")
    drop(3L -> ("b1 " + fresh + " b2"), 4L -> novel)
    runOnce()
    assert(cleaned() == Map(1L -> ("a1 a2", 16L), 2L -> (fresh, 0L),
      3L -> ("b1 b2", 16L), 4L -> (novel, 0L)), s"got ${cleaned()}")
    // offline compaction proves its precondition from THIS stream's
    // commit log, and the folded index still catches the seeds
    idx.compact(ckpt)
    val after = idx.scrub(
      Seq((9L, "c1 " + seeded + " c2")).toDF("doc_id", "text"),
      StreamDedup.lastCommittedBatch(spark, ckpt).get + 1)
      .select("clean_text").as[String].collect().toSeq
    assert(after == Seq("c1 c2"), s"got $after")
  }
}
