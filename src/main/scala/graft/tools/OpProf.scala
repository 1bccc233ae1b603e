package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Headless stand-in for the Spark UI's SQL tab (guide §7.2): run a
  * named query through the noop sink, then walk the EXECUTED
  * (post-AQE) plan printing each operator with its SQL metrics —
  * output rows, wall/duration metrics, shuffle bytes, spill. This is
  * how the optimization rounds decide WHERE a query's seconds go
  * without a UI: the per-operator `duration`/`time` metrics map the
  * stage wall clock onto operators, and `number of output rows`
  * exposes fan-out surprises (a candidate join exploding, a filter
  * not pruning).
  *
  * Usage: runMain graft.tools.OpProf <sfDir> <query> [query ...]
  * Not part of the driver contract.
  */
object OpProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSet
    val spark = graft.core.GraftSession()
    graft.core.Tuning.autoShufflePartitions(spark, sfDir)

    // the metric names worth printing; everything else is noise here
    val keep = Set("number of output rows", "duration", "time in aggregation build",
      "scan time", "shuffle bytes written", "local bytes read",
      "remote bytes read", "spill size", "time to build hash map",
      "sort time", "shuffle write time", "fetch wait time",
      "time in batch dedup", "data size",
      // scan-volume receipts (r16: the expectations_check claim is
      // "removed fact scans at 100 TB" — show the bytes, not just the
      // node count)
      "size of files read", "number of files read")

    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case q: QueryStageExec => q.plan
      case other => other
    }
    def walk(p0: SparkPlan, depth: Int): Unit = {
      val p = unwrap(p0)
      if (p ne p0) { walk(p, depth); return }
      val ms = p.metrics.toSeq
        .filter { case (_, m) => keep(m.name.getOrElse("")) && m.value > 0 }
        .sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }
      println("  " * depth + p.nodeName +
        (if (ms.isEmpty) "" else ms.mkString("  [", ", ", "]")))
      p.children.foreach(walk(_, depth + 1))
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case _ => ()
      }
    }

    // the noop write runs its own QueryExecution — capture it, or the
    // walked plan is the never-executed logical twin with zero metrics
    @volatile var lastQe: org.apache.spark.sql.execution.QueryExecution = null
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit = lastQe = qe
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })

    graft.SparkEntry.queries
      .filter { case (n, _) => names.isEmpty || names(n) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        val df = fn(spark, sfDir)
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        graft.core.GraftSession.drainListeners(spark)
        println(f"========== $name ($sec%.2f s) ==========")
        walk(if (lastQe != null) lastQe.executedPlan
             else df.queryExecution.executedPlan, 0)
      }
    spark.stop()
  }
}
