package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the pluggable pin strategy (VERDICT r11 #6): `graft.pin.mode`
  * = reliable routes every [[Pin.pin]] through a fault-tolerant
  * `checkpoint()` (survives executor loss on dynamic-allocation
  * clusters) instead of `localCheckpoint` (blocks die with their
  * executor), with IDENTICAL results — exercised on the one genuinely
  * iterative operator (connectedComponents: unbounded lineage without
  * the pin), on a guarded probe, and on the mart build, whose pins
  * reach [[Pin.pin]] from the ETL library.
  */
class PinModeSpec extends SparkSpec {
  import spark.implicits._

  private def withMode[T](mode: String)(body: => T): T = {
    spark.conf.set(Pin.ConfKey, mode)
    try body finally spark.conf.unset(Pin.ConfKey)
  }

  // registered FIRST: the missing-dir branch is only observable before
  // the later tests set a checkpoint dir on the shared session
  test("reliable mode without a checkpoint dir fails fast with a clear " +
       "message; an unknown mode is rejected") {
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val e = intercept[IllegalArgumentException] {
        withMode(Pin.Reliable) {
          Pin.pin(Seq(1, 2).toDF("x")).collect()
        }
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
    val bad = intercept[IllegalArgumentException] {
      withMode("ramdisk") { Pin.pin(Seq(1, 2).toDF("x")) }
    }
    assert(bad.getMessage.contains(Pin.ConfKey))
  }

  test("connectedComponents under reliable checkpoint labels identically " +
       "to the localCheckpoint default") {
    val prevDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    try {
      // a 60-node chain forces the ITERATIVE path (localThreshold = 0)
      // through several pointer-jump rounds — every round pins
      val chain = (0L until 59L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val local = graft.operators.Corpus
        .connectedComponents(chain, "doc_a", "doc_b", localThreshold = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val reliable = withMode(Pin.Reliable) {
        graft.operators.Corpus
          .connectedComponents(chain, "doc_a", "doc_b", localThreshold = 0L)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      }
      assert(local.values.toSet == Set(0L) && local.size == 60,
        s"chain must collapse to component 0 (got $local)")
      assert(reliable == local,
        "reliable-checkpoint labels diverge from localCheckpoint labels")
    } finally {
      prevDir.foreach(spark.sparkContext.setCheckpointDir)
    }
  }

  test("ProbeGuard pins under reliable mode with identical survivors") {
    val prevDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft_ckpt_pg").toString)
    try {
      val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
        .select(col("doc_id"), col("text")).limit(120)
      val batch = docs.limit(30).select(
        (col("doc_id") + 900000L).as("doc_id"),
        concat(lit("zq "), col("text")).as("text")).localCheckpoint()
      batch.count()
      val dir = java.nio.file.Files
        .createTempDirectory("graft_pin_nd").toString
      val nd = new graft.streaming.NearDupIndex(spark, dir)
      nd.append(docs)
      val local = graft.operators.Dedup
        .minhashProbe(batch, nd.postings, nd.shingles)
        .as[Long].collect().toSet
      val reliable = withMode(Pin.Reliable) {
        graft.operators.Dedup
          .minhashProbe(batch, nd.postings, nd.shingles)
          .as[Long].collect().toSet
      }
      assert(reliable == local,
        "probe survivors diverge between pin modes")
    } finally {
      prevDir.foreach(spark.sparkContext.setCheckpointDir)
    }
  }

  test("Mart.materialize under reliable mode checkpoints its pins and " +
       "writes the same tables as the local default") {
    val prevDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft_ckpt_mart").toString)
    try {
      val tmp = (n: String) =>
        java.nio.file.Files.createTempDirectory(n).toString
      val (localOut, reliableOut) = (tmp("graft_mart_l"), tmp("graft_mart_r"))
      graft.etl.Mart.materialize(spark, sf(), localOut)
      withMode(Pin.Reliable) {
        graft.etl.Mart.materialize(spark, sf(), reliableOut)
      }
      (graft.etl.Mart.DimTables :+ graft.etl.Mart.FactTable).foreach { t =>
        val l = graft.etl.Mart.table(spark, localOut, t)
        val r = graft.etl.Mart.table(spark, reliableOut, t)
        assert(l.count() > 0 && l.exceptAll(r).isEmpty &&
          r.exceptAll(l).isEmpty, s"$t differs between pin modes")
      }
      // setCheckpointDir made a fresh per-context subdirectory: only a
      // reliable checkpoint() writes into it
      val ckpt = new org.apache.hadoop.fs.Path(
        spark.sparkContext.getCheckpointDir.get)
      assert(ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(ckpt).nonEmpty,
        s"reliable mode wrote no checkpoint under $ckpt")
    } finally {
      prevDir.foreach(spark.sparkContext.setCheckpointDir)
    }
  }

  test("CurationPipeline under reliable mode sinks the same rows and " +
       "funnel as the local default") {
    val prevDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft_ckpt_cur").toString)
    try {
      val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
        .select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
      // batch 1 re-sends batch 0's docs, so the exact stage drops rows
      // (the observations ride the pin, which runs differently per mode)
      def run(): (Set[org.apache.spark.sql.Row], Set[org.apache.spark.sql.Row]) = {
        val root = java.nio.file.Files.createTempDirectory("graft_pin_cur").toString
        val sink = new graft.streaming.CurationPipeline(spark, s"$root/indexes")
          .sinkTo(s"$root/out", Some(s"$root/stats"))
        sink(docs.filter(col("doc_id") < 120), 0L)
        sink(docs, 1L)
        (spark.read.parquet(s"$root/out").collect().toSet,
          spark.read.parquet(s"$root/stats").collect().toSet)
      }
      val (localOut, localStats) = run()
      val (reliableOut, reliableStats) = withMode(Pin.Reliable)(run())
      val b1 = localStats.find(_.getAs[Long]("batch_id") == 1L).get
      assert(b1.getAs[Long]("n_gated") > b1.getAs[Long]("n_after_exact") &&
        b1.getAs[Long]("n_out") > 0, s"vacuous funnel: $b1")
      assert(reliableOut == localOut, "sink rows diverge between pin modes")
      assert(reliableStats == localStats,
        s"funnel rows diverge: $reliableStats vs $localStats")
    } finally {
      prevDir.foreach(spark.sparkContext.setCheckpointDir)
    }
  }
}
