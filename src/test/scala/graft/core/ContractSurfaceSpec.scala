package graft.core

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract surface invariants that don't need a SparkSession.
  *
  * The driver records a WEAKER rows-only check for any `queries` entry
  * without a matching `oracleSql` — an easy silent downgrade when a
  * query lands without its oracle. Every query here is deliberately
  * SQL-expressible, so the full map must stay total, and orphan oracle
  * keys (a renamed query leaving its SQL behind) must not linger. A
  * source audit keeps the mains' session setup and byte counting in
  * [[GraftSession]] instead of per-main copies.
  */
class ContractSurfaceSpec extends AnyFunSuite {

  test("every contract query has a DuckDB oracle (no silent rows-only downgrades)") {
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty,
      s"queries without an oracle (driver downgrades them): ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty,
      s"orphan oracle keys (renamed or removed queries): ${(o -- q).toSeq.sorted}")
  }

  test("the mains share one session builder and one task-byte listener, " +
       "both in GraftSession") {
    val sources = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
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

  test("bench surface covers every contract query") {
    val missing = graft.SparkEntry.queries.keySet -- graft.SparkEntry.benchQueries.keySet
    assert(missing.isEmpty,
      s"contract queries absent from the bench surface: ${missing.toSeq.sorted}")
  }
}
