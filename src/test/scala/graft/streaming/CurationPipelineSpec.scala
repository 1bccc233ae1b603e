package graft.streaming

import graft.SparkSpec
import graft.operators.Corpus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** [[CurationPipeline]] — the composed deployment shape: file drop →
  * PII scrub → quality gate → exact → near-dup → span excision →
  * idempotent sink, with every index persisted and the whole chain
  * replay-safe. This is the integration spec the individual stage
  * specs build toward.
  */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  // gate-passing English text (en markers, no punct, distinct trigrams)
  private val docA = "the quick brown fox jumps over a lazy dog of winter " +
    "and early snow to chase small white rabbits around fields"
  private val docB = "please send the annual report of march and april to " +
    "bob@example.com with a copy for all records team members today"
  private val docCShort = "too short here now" // 4 tokens < minTokens
  private val docE = docA.replace("fields", "meadows") // near-dup of A
  // novel doc quoting a 12-token passage of A verbatim (span overlap,
  // but 3-shingle Jaccard vs A stays below 0.5)
  private val docF = "history archives preserve many curious passages like " +
    "the quick brown fox jumps over a lazy dog of winter and " +
    "which scholars keep to study again"
  private val docG = "a completely novel essay about the habits of river " +
    "otters and their playful nature written to delight curious readers"

  private def mkPipeline(root: String) = new CurationPipeline(
    spark, s"$root/indexes", gate = Corpus.gopherGateKeep(_, minTokens = 5))

  private def drop(landing: String, rows: (Long, String)*): Unit =
    rows.toSeq.toDF("doc_id", "text").write.mode("append").parquet(landing)

  /** `rows` as a file-backed frame, the shape a streaming micro-batch
    * has (an in-memory frame's filters are folded by the optimizer).
    */
  private def fileBatch(root: String, rows: (Long, String)*): DataFrame = {
    drop(s"$root/batch", rows: _*)
    spark.read.parquet(s"$root/batch")
  }

  /** [[mkPipeline]]'s gate behind a UDF that counts its calls. */
  private def countingGate(calls: org.apache.spark.util.LongAccumulator)
      : DataFrame => DataFrame = {
    val counted = org.apache.spark.sql.functions.udf { (t: String) =>
      calls.add(1); t != null
    }
    df => Corpus.gopherGateKeep(df.filter(counted($"text")), minTokens = 5)
  }

  test("file drops flow scrub → gate → exact → near → span → sink; " +
       "cross-drop duplicates drop; quoted passages are excised") {
    val root = java.nio.file.Files.createTempDirectory("graft_cur").toString
    val (landing, out, ckpt) = (s"$root/landing", s"$root/out", s"$root/ckpt")
    val schema = StructType.fromDDL("doc_id LONG, text STRING")
    val pipe = mkPipeline(root)

    // drop 1: A keeps; B keeps (email scrubbed); C gated out (too
    // short); D is an in-batch exact dup of A (drop)
    drop(landing, 1L -> docA, 2L -> docB, 3L -> docCShort, 4L -> docA)
    pipe.ingest(landing, schema, ckpt, out, statsDir = Some(s"$root/stats"))
    val sink0 = spark.read.parquet(out)
    assert(sink0.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // the sink never stores raw PII: the email was scrubbed BEFORE
    // every downstream stage and the sentinel is what shipped
    val bText = sink0.filter($"doc_id" === 2L)
      .select("clean_text").as[String].head()
    assert(!bText.contains("bob@example.com") && bText.contains("<email>"))
    // nothing was excised in drop 1 (no prior index state)
    assert(sink0.agg(org.apache.spark.sql.functions.sum("n_removed"))
      .head().getLong(0) == 0L)

    // the funnel row attributes drop 1's shrinkage stage by stage
    val st0 = spark.read.parquet(s"$root/stats/batch=0").head()
    assert((st0.getAs[Long]("n_in"), st0.getAs[Long]("n_gated"),
      st0.getAs[Long]("n_after_exact"), st0.getAs[Long]("n_out"),
      st0.getAs[Long]("n_tokens_removed")) == ((4L, 3L, 2L, 2L, 0L)),
      s"drop-1 funnel wrong: $st0")

    // drop 2: A' re-crawl of A (exact-index drop), E near-dup of A
    // (near-index drop), F quotes a 12-token passage of A (kept, span
    // EXCISED), G novel (kept intact)
    drop(landing, 5L -> docA, 6L -> docE, 7L -> docF, 8L -> docG)
    pipe.ingest(landing, schema, ckpt, out, statsDir = Some(s"$root/stats"))
    val st1 = spark.read.parquet(s"$root/stats/batch=1").head()
    assert((st1.getAs[Long]("n_in"), st1.getAs[Long]("n_gated"),
      st1.getAs[Long]("n_after_exact"), st1.getAs[Long]("n_after_near"),
      st1.getAs[Long]("n_out"), st1.getAs[Long]("n_tokens_removed"))
      == ((4L, 4L, 3L, 2L, 2L, 12L)), s"drop-2 funnel wrong: $st1")
    val sink1 = spark.read.parquet(s"$out/batch=1")
    assert(sink1.select("doc_id").as[Long].collect().toSet == Set(7L, 8L))
    val f = sink1.filter($"doc_id" === 7L).head()
    assert(f.getAs[Long]("n_removed") == 12L,
      s"expected the 12-token quoted passage excised, got $f")
    val fClean = f.getAs[String]("clean_text")
    assert(!fClean.contains("quick brown fox"))
    assert(fClean.contains("history archives preserve"))
    assert(sink1.filter($"doc_id" === 8L).head().getAs[Long]("n_removed") == 0L)

    // drained re-run: no new files → no new batch, sink unchanged
    pipe.ingest(landing, schema, ckpt, out)
    assert(spark.read.parquet(out).count() == 4)

    // offline maintenance composes across all three indexes under the
    // stopped stream's commit-log proof...
    pipe.compact(StreamDedup.lastCommittedBatch(spark, ckpt).get)
    Seq(pipe.exact.hashes, pipe.near.postings, pipe.spans.grams).foreach(f =>
      assert(f.select("batch").distinct().count() == 1,
        "compaction left extra partitions"))
    // ...and the folded indexes still dedup: a re-crawl of G drops
    drop(landing, 9L -> docG)
    pipe.ingest(landing, schema, ckpt, out)
    assert(spark.read.parquet(s"$out/batch=2").count() == 0)
  }

  test("a replayed batch converges: same output, no index growth") {
    val root = java.nio.file.Files.createTempDirectory("graft_cur_rp").toString
    val pipe = mkPipeline(root)
    val batch = Seq(1L -> docA, 2L -> docB).toDF("doc_id", "text")
    val first = pipe.accept(batch, 0L).select("doc_id").as[Long].collect().toSet
    val counts = Seq(pipe.exact.hashes.count(), pipe.near.postings.count(),
      pipe.spans.grams.count())
    // at-least-once delivery: the SAME batch id runs again after its
    // index writes landed — own-batch exclusion must keep A and B from
    // matching their prior attempt's rows
    val replay = pipe.accept(batch, 0L).select("doc_id").as[Long].collect().toSet
    assert(replay == first && first == Set(1L, 2L), s"replay diverged: $replay")
    assert(Seq(pipe.exact.hashes.count(), pipe.near.postings.count(),
      pipe.spans.grams.count()) == counts, "replay grew an index")
  }

  test("gate rejections never inoculate the indexes") {
    val root = java.nio.file.Files.createTempDirectory("graft_cur_gate").toString
    val pipe = mkPipeline(root)
    // a quality-rejected doc must not grow any index: a clean later
    // copy of the SAME text (here: gate-passing because long enough
    // after a re-edit) must be judged fresh
    pipe.accept(Seq(1L -> docCShort).toDF("doc_id", "text"), 0L)
    assert(pipe.exact.hashes.count() == 0 && pipe.near.postings.count() == 0 &&
      pipe.spans.grams.count() == 0,
      "a gated-out doc left traces in an index")
  }

  test("the optional benchmark stage drops embedding-near-benchmark docs " +
       "BEFORE any index sees them; embedding-less rows pass through") {
    val root = java.nio.file.Files.createTempDirectory("graft_cur_dec").toString
    // benchmark vector + a train doc embedded almost on top of it
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() - 0.5f)
    }
    val benchVec = vec(1)
    val nearBench = benchVec.map(v => v + 0.001f) // cosine ≈ 1
    val farVec = vec(2)
    val bench = Seq((100L, benchVec)).toDF("vec_id", "embedding")
    val calls = spark.sparkContext.longAccumulator("gate_calls")
    val pipe = new CurationPipeline(spark, s"$root/indexes",
      gate = countingGate(calls),
      benchEmbeddings = Some(bench), minBenchCosine = 0.9)
    val batch = Seq(
      (1L, docA, Some(nearBench.toSeq)),  // paraphrased leak → drop
      (2L, docB, Some(farVec.toSeq)),     // semantically far → keep
      (3L, docG, None))                   // no embedding → pass through
      .toDF("doc_id", "text", "embedding")
    pipe.sinkTo(s"$root/out", Some(s"$root/stats"))(batch, 0L)
    val kept = spark.read.parquet(s"$root/out/batch=0")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L), s"benchmark stage kept $kept, want {2,3}")
    // the stage reads the gated frame three times; each row is gated
    // and counted once
    assert(calls.value == 3L, s"gate ran ${calls.value} times for 3 rows")
    val st = spark.read.parquet(s"$root/stats/batch=0").head()
    assert((1 to 6).map(st.getLong) == Seq(3L, 2L, 2L, 2L, 2L, 0L),
      s"benchmark-stage funnel wrong: $st")
    // the contaminated doc never grew an index (it can't inoculate
    // the corpus against an honest later duplicate)
    assert(pipe.exact.hashes.count() == 2 &&
      pipe.near.postings.count() > 0,
      "index state inconsistent with the 2 accepted docs")
  }

  test("NULL-id rows ride the uniform pass-through to the sink") {
    val root = java.nio.file.Files.createTempDirectory("graft_cur_null").toString
    val pipe = mkPipeline(root)
    val batch = Seq[(Option[Long], String)](Some(1L) -> docA, None -> docG)
      .toDF("doc_id", "text")
    val kept = pipe.accept(batch, 0L)
    assert(kept.count() == 2, "NULL-id row was dropped by a keyed stage")
    assert(kept.filter($"doc_id".isNull).count() == 1)
  }

  test("on the plain accept path the gate runs once per batch row") {
    val root = java.nio.file.Files.createTempDirectory("graft_cur_once").toString
    val calls = spark.sparkContext.longAccumulator("gate_calls")
    val pipe = new CurationPipeline(spark, s"$root/indexes", gate = countingGate(calls))
    val batch = fileBatch(root, 1L -> docA, 2L -> docB, 3L -> docG)
    assert(pipe.accept(batch, 0L).count() == 3)
    // unpinned, every read of the gated frame by the exact stage re-runs
    // the gate: 12 calls for these 3 rows
    assert(calls.value == 3L, s"gate ran ${calls.value} times for 3 rows")
  }

  test("a batch the gate rejects entirely still writes its funnel row") {
    val root = java.nio.file.Files.createTempDirectory("graft_cur_empty").toString
    val (landing, out, stats) = (s"$root/landing", s"$root/out", s"$root/stats")
    drop(landing, 1L -> docCShort)
    mkPipeline(root).ingest(landing, StructType.fromDDL("doc_id LONG, text STRING"),
      s"$root/ckpt", out, statsDir = Some(stats))
    assert(spark.read.parquet(s"$out/batch=0").count() == 0)
    val st = spark.read.parquet(s"$stats/batch=0").head()
    assert((1 to 6).map(st.getLong) == Seq(1L, 0L, 0L, 0L, 0L, 0L),
      s"empty-gate funnel wrong: $st")
  }

  test("without a stats dir, sinkTo starts no job beyond accept and the " +
       "sink write") {
    val root = java.nio.file.Files.createTempDirectory("graft_cur_jobs").toString
    val batch = fileBatch(root, 1L -> docA, 2L -> docB, 3L -> docCShort,
      4L -> docA)
    val (viaSink, viaAccept) = (mkPipeline(s"$root/a"), mkPipeline(s"$root/b"))
    def jobs(body: => Unit): Int = {
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
    val sinkJobs = jobs(viaSink.sinkTo(s"$root/out_a")(batch, 0L))
    val acceptJobs = jobs(StreamSink.idempotentParquet(s"$root/out_b")(
      viaAccept.accept(batch, 0L), 0L))
    assert(sinkJobs == acceptJobs,
      s"sinkTo without stats ran $sinkJobs jobs, accept + sink $acceptJobs")
  }
}
