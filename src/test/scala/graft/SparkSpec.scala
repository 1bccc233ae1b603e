package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (UTC, small shuffle count). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `body` with the session confs `kv` set, then restores them. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** The Spark jobs that start while `body` runs. */
  def jobsStartedBy(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    graft.core.GraftSession.drainListeners(spark)
    spark.sparkContext.addSparkListener(counter)
    try {
      body
      graft.core.GraftSession.drainListeners(spark)
    } finally spark.sparkContext.removeSparkListener(counter)
    jobs.get
  }

  /** Executes `df` and asserts no FILE scan in its plan reads a `text`
    * column — the shared audit for probe-an-index-not-the-corpus
    * operators (in-memory batch scans don't appear as ReadSchema).
    */
  def assertNoTextScan(df: org.apache.spark.sql.DataFrame): Unit = {
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(schemas.nonEmpty, s"expected parquet index scans in:\n$plan")
    schemas.foreach(s => assert(!s.contains("text"),
      s"plan reads a text column ($s):\n$plan"))
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // saveAsTable (bucketed-table specs) must not litter the repo
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
}
