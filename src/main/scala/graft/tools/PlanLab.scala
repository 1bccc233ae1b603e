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
    // every registered query (all of them when no names are given),
    // after its untimed setup, as the driver sees it: the verify dump
    // for a contract query, the bench builder for a bench-only one
    val specs = graft.queries.QueryRegistry.all
      .filter(q => names.isEmpty || names(q.name)).sortBy(_.name)
    val failed = graft.queries.QuerySpec.runSetups(spark, sfDir, specs)
    specs.filterNot(q => failed(q.name))
      .foreach { q =>
        val name = q.name
        val df = if (q.oracle.isDefined) q.verify(spark, sfDir) else q.build(spark, sfDir)
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
