package graft.tools

/** Scratch harness for plan auditing: prints formatted plans and wall
  * times for named queries so shuffle/reuse regressions are visible.
  * Not part of the driver contract.
  */
object PlanLab {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = graft.core.GraftSession()
    // the materialized-mart read twins (q1m..q5m) live outside
    // SparkEntry.queries (Bench builds them around an untimed
    // materialize); mirror that here so their plans are dumpable too,
    // both when named and in dump-all mode (no names given)
    val martQs = graft.etl.Dashboard.martQueries
    val martDir = System.getProperty("java.io.tmpdir") + "/graft_planlab_mart"
    if (names.isEmpty || names.exists(martQs.contains))
      graft.etl.Mart.materialize(spark, sfDir, martDir)
    (graft.SparkEntry.queries.toSeq.map { case (n, f) => n -> (() => f(spark, sfDir)) } ++
      martQs.toSeq.map { case (n, f) => n -> (() => f(spark, martDir)) })
      .filter { case (n, _) => names.isEmpty || names(n) }
      .sortBy(_._1)
      .foreach { case (name, fn) =>
        val df = fn()
        println(s"========== $name ==========")
        df.explain("formatted")
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        println(f"[planlab] $name took ${(System.nanoTime() - t0) / 1e9}%.2f s")
        // The formatted plan above is the INITIAL one (AQE not yet
        // run: isFinalPlan=false, join strategies provisional). Run
        // the df's own QueryExecution to completion (the noop write
        // above executed a SEPARATE QueryExecution wrapping the write
        // command) and print what actually ran — AQE's final join
        // strategies, ReusedExchange/AQEShuffleRead nodes — i.e. the
        // shape the optimization claims are about (guide §7.2).
        val qe = df.queryExecution
        qe.toRdd.foreach(_ => ())
        println(s"---------- $name executed (post-AQE) ----------")
        println(qe.executedPlan.toString)
      }
    spark.stop()
  }
}
