package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result (the
  * verify twin of each contract QuerySpec) → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = graft.core.GraftSession()
    // scale shuffle width with the data, not the host (VERDICT r12 #3)
    graft.core.Tuning.autoShufflePartitions(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // Single-file output (coalesce(1)) is the driver default — one
    // part per query keeps the sf0.01 compare trivial. At synthetic
    // scale sweeps (sf10: 60M-row outputs) coalesce(1) collapses the
    // final stage to ONE thread and the dump crawls at 1/32 of the
    // host; SPARK_GRAFT_VERIFY_PARTS=many keeps natural partitioning
    // (the selfcheck compare globs part files and sorts rows anyway).
    val onePart = !sys.env.get("SPARK_GRAFT_VERIFY_PARTS").contains("many")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        (if (onePart) df.coalesce(1) else df)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // SF-resolved oracles: the embedding-LSH entries regenerate their
    // hyperplane literals at the geometry the AutoWidth query entries
    // resolve against THIS corpus (VERDICT r12 #1) — the static
    // SparkEntry.oracleSql holds only at the 500-vector gate corpora.
    val json = SparkEntry.oracleSqlFor(spark, sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
