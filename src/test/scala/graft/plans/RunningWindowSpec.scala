package graft.plans

import graft.SparkSpec
import graft.etl.WeatherMart
import org.apache.spark.sql.functions._

class RunningWindowSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("fact (single-pass) is row-identical to the Window-form twin") {
    val fast = WeatherMart.fact(spark, sfDir)
    val slow = WeatherMart.factWindowForm(spark, sfDir)
    assert(fast.schema == slow.schema)
    // bit-exact on every column, both directions
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
    assert(fast.count() == slow.count() && fast.count() > 0)
  }

  test("delta/rolling semantics on a hand-built group incl. nulls") {
    val df = Seq[(Long, Long, java.lang.Double, java.lang.Double)](
      // (loc, seq, lagVal, sumVal)
      (1L, 1L, 10.0, 1.0),
      (1L, 2L, 12.5, null),
      (1L, 3L, null, 2.0),
      (1L, 4L, 11.0, 3.0),
      (2L, 1L, 5.0, 4.0)
    ).toDF("loc", "seq", "v", "p")
    val out = RunningWindow.lagDeltaAndRollingSum(
      df, "loc", Seq(col("seq")), "v", "p", n = 3, "d", "s")
      .orderBy("loc", "seq").collect()
    def dOf(i: Int) = if (out(i).isNullAt(4)) None else Some(out(i).getDouble(4))
    def sOf(i: Int) = if (out(i).isNullAt(5)) None else Some(out(i).getDouble(5))
    assert(dOf(0).isEmpty)                 // first row of group
    assert(dOf(1).contains(2.5))           // 12.5 - 10.0
    assert(dOf(2).isEmpty)                 // current null
    assert(dOf(3).isEmpty)                 // previous null
    assert(dOf(4).isEmpty)                 // new group
    assert(sOf(0).contains(1.0))           // frame [1.0]
    assert(sOf(1).contains(1.0))           // [1.0, null]
    assert(sOf(2).contains(3.0))           // [1.0, null, 2.0]
    assert(sOf(3).contains(5.0))           // [null, 2.0, 3.0] — 1.0 slid out
    assert(sOf(4).contains(4.0))           // group reset
  }

  test("NULL partCol is its own group, matching the Window twin") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq[(java.lang.Long, Long, java.lang.Double, java.lang.Double)](
      // a NULL-keyed group interleaved with the 0L group it would
      // silently merge into if getLong read the null slot as 0
      (null, 1L, 1.0, 1.0),
      (null, 2L, 3.0, 2.0),
      (0L, 1L, 10.0, 10.0),
      (0L, 2L, 14.0, 20.0)
    ).toDF("loc", "seq", "v", "p")
    val fast = RunningWindow.lagDeltaAndRollingSum(
      df, "loc", Seq(col("seq")), "v", "p", n = 3, "d", "s")
    val w = Window.partitionBy("loc").orderBy("seq")
    val slow = df
      .withColumn("d", round(col("v") - lag("v", 1).over(w), 4))
      .withColumn("s", round(sum("p").over(w.rowsBetween(-2, 0)), 4))
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
    // and concretely: the null group's second row deltas within ITS
    // group (2.0), not against the 0L group
    val nullRows = fast.filter(col("loc").isNull).orderBy("seq").collect()
    assert(nullRows(1).getDouble(4) == 2.0 && nullRows(1).getDouble(5) == 3.0)
  }

  test("NaN input is rejected loudly (ring-sentinel contract)") {
    val nanSum = Seq((1L, 1L, 1.0, Double.NaN)).toDF("loc", "seq", "v", "p")
    val e1 = intercept[org.apache.spark.SparkException] {
      RunningWindow.lagDeltaAndRollingSum(
        nanSum, "loc", Seq(col("seq")), "v", "p", n = 3, "d", "s").collect()
    }
    assert(e1.getMessage.contains("NaN") || e1.getCause.getMessage.contains("NaN"))
    val nanLag = Seq((1L, 1L, Double.NaN, 1.0)).toDF("loc", "seq", "v", "p")
    val e2 = intercept[org.apache.spark.SparkException] {
      RunningWindow.lagDeltaAndRollingSum(
        nanLag, "loc", Seq(col("seq")), "v", "p", n = 3, "d", "s").collect()
    }
    assert(e2.getMessage.contains("NaN") || e2.getCause.getMessage.contains("NaN"))
  }

  test("matches the generic Window twin on adversarial random data") {
    import org.apache.spark.sql.expressions.Window
    // deterministic pseudo-random frame: many small groups, ties, nulls
    val keyed = spark.range(5000).select(
      col("id"), // breaks all ties in the order
      pmod(col("id"), lit(37)).as("loc"),
      pmod(col("id") * 7919, lit(101)).cast("long").as("seq"),
      when(pmod(col("id"), lit(13)) === 0, lit(null))
        .otherwise(sin(col("id")) * 100).cast("double").as("v"),
      when(pmod(col("id"), lit(17)) === 0, lit(null))
        .otherwise(cos(col("id"))).cast("double").as("p"))
    val order = Seq(col("seq"), col("v"), col("p"), col("id"))
    val fast = RunningWindow.lagDeltaAndRollingSum(
      keyed, "loc", order, "v", "p", n = 7, "d", "s")
    val w = Window.partitionBy("loc").orderBy(order: _*)
    val slow = keyed
      .withColumn("d", round(col("v") - lag("v", 1).over(w), 4))
      .withColumn("s", round(sum("p").over(w.rowsBetween(-6, 0)), 4))
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }

  test("building the fact over its inputs plans only: no Spark job runs " +
       "before an action") {
    // the inputs' own construction runs the parquet schema reads; the
    // window node itself must add no job
    val staging = WeatherMart.staging(spark, sfDir)
    val dimLocation = WeatherMart.dimLocation(spark, sfDir)
    val jobs = jobsStartedBy(WeatherMart.fact(staging, dimLocation))
    assert(jobs == 0, s"building the fact started $jobs job(s)")
  }

  test("a fresh session plans the node, which counts its output rows") {
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraStrategies.contains(RunningWindow.Planning))
    val fast = WeatherMart.fact(fresh, sfDir)
    val n = fast.count()
    assert(n > 0 && n == WeatherMart.factFrame(fresh, sfDir).count())
    fast.collect()
    val node = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectFirst(fast.queryExecution.executedPlan) { case w: RunningWindowExec => w }
    assert(node.exists(_.metrics("numOutputRows").value == n),
      s"no RunningWindow node counting $n rows:\n${fast.queryExecution.executedPlan}")
  }

  test("the strategy is registered once however many frames are built") {
    RunningWindow.lagDeltaAndRollingSum(spark.range(3).toDF("loc")
      .select(col("loc"), col("loc").cast("double").as("v")),
      "loc", Seq(col("v")), "v", "v", n = 2, "d", "s")
    WeatherMart.fact(spark, sfDir)
    WeatherMart.fact(spark, sfDir)
    assert(spark.experimental.extraStrategies.count(_ == RunningWindow.Planning) == 1)
  }
}
