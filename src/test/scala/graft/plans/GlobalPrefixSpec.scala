package graft.plans

import graft.SparkSpec
import graft.etl.{StarSchema, WeatherMart}
import org.apache.spark.sql.functions._

/** The planner-node contract of [[GlobalPrefix]]; its semantics against
  * the Spark `Window` twins are PropertySpec's.
  */
class GlobalPrefixSpec extends SparkSpec {
  import spark.implicits._


  test("building a global rank, prefix sum or prefix max plans only: " +
       "no Spark job runs before an action") {
    val df = (1 to 50).map(i => (i.toLong, i % 7)).toDF("k", "v")
    val builds = Seq[(String, () => Any)](
      "rank" -> (() => StarSchema.globalRank(df, Seq("k"), "r")),
      "sum" -> (() => StarSchema.globalPrefixSum(df, Seq("k"), "v", "s")),
      "max" -> (() => StarSchema.globalPrefixMax(df, Seq("k"), "v", "m")))
    for ((name, build) <- builds) {
      val jobs = jobsStartedBy(build())
      assert(jobs == 0, s"building the $name started $jobs job(s)")
    }
  }

  test("building the fact starts only its 4 parquet schema reads") {
    // lineitem, supplier, nation, region: the dim_location rank under
    // the fact's broadcast adds none
    val jobs = jobsStartedBy(WeatherMart.fact(spark, sf()))
    assert(jobs == 4, s"building the fact started $jobs job(s)")
  }

  test("one range exchange and one sort; no window, join or pin") {
    val df = (1 to 50).map(i => (i.toLong, i % 7)).toDF("k", "v")
      .repartition(3)
    val ranked = StarSchema.globalRank(df, Seq("k"), "r")
    assert(ranked.collect().map(_.getLong(2)).sorted.toSeq == (1L to 50L))
    val plan = ranked.queryExecution.executedPlan.toString
    val fin = plan.substring(0, plan.indexOf("== Initial Plan =="))
    assert("rangepartitioning\\(k".r.findAllMatchIn(fin).length == 1, fin)
    assert("\\bSort \\[k".r.findAllMatchIn(fin).length == 1, fin)
    Seq("Window", "Join", "ExistingRDD").foreach(n =>
      assert(!fin.contains(n), s"$n in the rank plan:\n$fin"))
  }

  test("a ranked frame joins a copy of itself") {
    val df = (1 to 20).map(i => (i.toLong, i % 5)).toDF("k", "v")
    val r = StarSchema.globalRank(df, Seq("k"), "r")
    val next = r.as("a").join(r.as("b"), col("a.r") === col("b.r") + 1)
      .select(col("a.k") - col("b.k")).as[Long].collect()
    assert(next.length == 19 && next.forall(_ == 1L))
  }

  test("value columns other than int or long are rejected at build time") {
    val df = Seq((1L, 1.5)).toDF("k", "v")
    val e = intercept[IllegalArgumentException](
      StarSchema.globalPrefixSum(df, Seq("k"), "v", "s"))
    assert(e.getMessage.contains("v must be int or long"))
  }
}
