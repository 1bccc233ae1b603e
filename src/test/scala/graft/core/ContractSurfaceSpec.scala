package graft.core

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract surface invariants that don't need a SparkSession.
  *
  * The driver records a WEAKER rows-only check for any `queries` entry
  * without a matching `oracleSql` — an easy silent downgrade when a
  * query lands without its oracle. Every query here is deliberately
  * SQL-expressible, so the full map must stay total, and orphan oracle
  * keys (a renamed query leaving its SQL behind) must not linger. Both
  * maps derive from [[graft.queries.QueryRegistry]], where a spec
  * without an oracle is bench-only, so the bench-only set is pinned.
  * Source audits keep the mains' session setup and byte counting in
  * [[GraftSession]] instead of per-main copies, and query registrations
  * in the registry instead of a second map in SparkEntry, keep every
  * operator inside Catalyst (no RDD round-trip out of the planner), and
  * keep the persisted indexes' per-batch layout in one type.
  */
class ContractSurfaceSpec extends AnyFunSuite {

  private def sources: List[java.nio.file.Path] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("every contract query has a DuckDB oracle (no silent rows-only downgrades)") {
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty,
      s"queries without an oracle (driver downgrades them): ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty,
      s"orphan oracle keys (renamed or removed queries): ${(o -- q).toSeq.sorted}")
    val benchOnly = graft.queries.QueryRegistry.all.filter(_.oracle.isEmpty)
      .map(_.name).toSet
    assert(benchOnly == Set("ann_ivf_probe", "q1m", "q2m", "q3m", "q4m", "q5m"),
      s"registered without an oracle: ${benchOnly.toSeq.sorted}")
  }

  test("the registry refuses a query name registered twice") {
    val q = graft.queries.QueryRegistry.named("dim_source")
    val e = intercept[IllegalArgumentException](
      graft.queries.QueryRegistry.checked(Seq(q, q)))
    assert(e.getMessage.contains("dim_source"))
    assert(graft.queries.QueryRegistry.all.map(_.name).distinct.size ==
      graft.queries.QueryRegistry.all.size)
  }

  test("SparkEntry derives from the registry: no oracle SQL, no builder map") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    for (token <- Seq("SELECT", "-> ((s, d) =>"))
      assert(!text.contains(token),
        s"SparkEntry.scala holds '$token': register the query as a QuerySpec in its family")
  }

  test("the mains share one session builder and one task-byte listener, " +
       "both in GraftSession") {
    assert(sources.nonEmpty, "run from the repository root")
    for (token <- Seq("SparkSession.builder", "onTaskEnd")) {
      val hits = sources.flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        Seq.fill(text.split(java.util.regex.Pattern.quote(token), -1)
          .length - 1)(p.getFileName.toString)
      }
      assert(hits == Seq("GraftSession.scala"),
        s"$token must occur once, in GraftSession.scala (found in: $hits)")
    }
  }

  test("no RDD islands: no operator leaves the planner through an " +
       "InternalRow RDD and back") {
    assert(sources.nonEmpty, "run from the repository root")
    for (token <- Seq("internalCreateDataFrame", "toRdd.mapPartitions")) {
      val hits = sources.filter { p =>
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains(token)
      }.map(_.getFileName.toString)
      assert(hits.isEmpty,
        s"$token in $hits: plan the operator as a logical + exec node instead")
    }
  }

  test("the per-batch index layout lives in BatchFrame: no other " +
       "streaming source spells a batch= path or infers a frame schema") {
    val streaming = sources.filter(_.toString.contains("graft/streaming/"))
    assert(streaming.nonEmpty, "run from the repository root")
    // code lines only: the docs describe the layout in these terms
    val hits = for {
      p <- streaming if p.getFileName.toString != "BatchFrame.scala"
      line <- java.nio.file.Files.readAllLines(p).asScala
      code = line.trim if !Seq("*", "/*", "//").exists(code.startsWith)
      token <- Seq("batch=", "spark.read.parquet(") if code.contains(token)
    } yield (p.getFileName.toString, token)
    // the sink's own batch dirs and the PQ codebook are not index frames
    assert(hits.sorted == Seq(("EmbeddingIndex.scala", "spark.read.parquet("),
      ("StreamSink.scala", "batch=")),
      s"layout spelled outside BatchFrame: $hits")
  }

  test("bench surface covers every contract query") {
    val missing = graft.SparkEntry.queries.keySet -- graft.SparkEntry.benchQueries.keySet
    assert(missing.isEmpty,
      s"contract queries absent from the bench surface: ${missing.toSeq.sorted}")
    assert(graft.SparkEntry.benchQueries.keySet.subsetOf(graft.Bench.legendNames.toSet))
  }
}
