package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** [[ExactIndex]] — the persisted content-hash member of the index
  * quartet: cross-batch exact drops, in-batch keeper, replay
  * convergence, NULL pass-through, text-free probe scans, and the
  * inherited maintenance contract.
  */
class ExactIndexSpec extends SparkSpec {
  import spark.implicits._

  test("persisted hashes catch exact re-crawls across batches; replay converges") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_exi").toString
    val idx = new ExactIndex(spark, s"$root/index")
    idx.append(Seq((1L, "seeded corpus document text")).toDF("doc_id", "text"))

    val mem = MemoryStream[(Long, String)]
    val sink = s"$root/accepted"
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        idx.accept(b, id).write.mode("overwrite").parquet(s"$sink/batch=$id")
      }
      .start()
    try {
      // batch 0: re-crawl of the seed (drop), fresh keeper (keep),
      // in-batch exact dup of the keeper — higher id loses (drop)
      mem.addData((10L, "seeded corpus document text"),
        (11L, "a brand new document"), (12L, "a brand new document"))
      q.processAllAvailable()
      // batch 1: cross-batch re-crawl of accepted 11 — only the
      // APPENDED batch-0 hashes can catch it (drop) — plus novel (keep)
      mem.addData((13L, "a brand new document"), (14L, "another novel doc"))
      q.processAllAvailable()
    } finally q.stop()

    val accepted = spark.read.parquet(sink)
      .select("doc_id").as[Long].collect().toSet
    assert(accepted == Set(11L, 14L), s"accepted $accepted")

    // replay of batch 1: its own prior hashes are excluded (14 must
    // not self-match) and the index does not grow
    val before = idx.hashes.count()
    val batch1 = Seq((13L, "a brand new document"), (14L, "another novel doc"))
      .toDF("doc_id", "text")
    val replay = idx.accept(batch1, 1L).select("doc_id").as[Long].collect().toSet
    assert(replay == Set(14L), s"replay diverged: $replay")
    assert(idx.hashes.count() == before, "replay grew the index")

    // the probe reads ONLY the 16-byte hash frame from files
    assertNoTextScan(batch1.join(
      graft.operators.Dedup.exactProbe(batch1, idx.hashes).select("doc_id"),
      Seq("doc_id"), "left_semi"))
  }

  test("NULL doc_id and NULL text rows pass through un-deduped, un-indexed") {
    val root = java.nio.file.Files.createTempDirectory("graft_exi_null").toString
    val idx = new ExactIndex(spark, s"$root/index")
    val batch = Seq[(Option[Long], Option[String])](
      (Some(1L), Some("real doc")), (None, Some("real doc")),
      (Some(2L), None)).toDF("doc_id", "text")
    val kept = idx.accept(batch, 0L)
    // the NULL-id row survives even though its text duplicates doc 1
    // (no identity to dedup on); the NULL-text row survives too
    assert(kept.count() == 3)
    assert(idx.hashes.filter($"content_hash".isNull).count() == 0,
      "indexed a NULL hash")
    assert(idx.hashes.count() == 1, "indexed more than the one real doc")
  }

  test("compact folds partitions under the commit-log proof; refuses uncommitted") {
    val root = java.nio.file.Files.createTempDirectory("graft_exi_cmp").toString
    val idx = new ExactIndex(spark, s"$root/index")
    idx.accept(Seq((1L, "first")).toDF("doc_id", "text"), 0L)
    idx.accept(Seq((2L, "second")).toDF("doc_id", "text"), 1L)
    intercept[IllegalStateException](idx.compact(0L))
    idx.compact(1L)
    assert(idx.hashes.count() == 2)
    // folded hashes still dedup a re-crawl
    val kept = idx.accept(Seq((9L, "first")).toDF("doc_id", "text"), 2L)
    assert(kept.isEmpty)
  }
}
