package graft

import graft.etl.WeatherMart
import graft.queries.{LshRows, QueryRegistry}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §2 for the inventory. Every map here
  * is derived from [[QueryRegistry]], where each query is one
  * [[graft.queries.QuerySpec]].
  *
  * Every query is deterministically ordered and every computed double is
  * rounded to 4 decimals on BOTH the Spark side and the DuckDB oracle side
  * (SURVEY.md §5) so value hashes compare exactly.
  */
object SparkEntry {

  /** Flagship: the full mart build (star join + window metrics). */
  def entry(spark: SparkSession): DataFrame =
    WeatherMart.fact(spark, "/root/testdata/sf0.001")

  /** The verify surface: each contract query's dump (dates as ISO
    * strings, hash-stability sort).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.contract.map(q => q.name -> (q.verify _)).toMap

  /** Bench surface over the SF directory: identical operator cores,
    * minus the global output sorts that exist ONLY to make the verify
    * dump hash-stable (a warehouse CTAS does not sort its table).
    * Semantic orderings (top-N limits, per-key session order) are
    * untouched.
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.overSf.map(q => q.name -> q.build).toMap

  /** The DuckDB oracles at the driver gate corpora's sign-LSH geometry. */
  def oracleSql: Map[String, String] = oraclesAt(LshRows.Gate)

  /** SF-resolved oracle map: the sign-LSH entries regenerated at the
    * geometry the AutoWidth query entries resolve against THIS corpus
    * (occupancy probe over the actual row counts). Verify dumps this —
    * not the static map — so the DuckDB gate replays the same
    * hyperplane buckets at every SF.
    */
  def oracleSqlFor(spark: SparkSession, sfDir: String): Map[String, String] =
    oraclesAt(LshRows.of(spark, sfDir))

  private def oraclesAt(w: LshRows): Map[String, String] =
    QueryRegistry.contract.flatMap(q => q.oracle.map(o => q.name -> o(w))).toMap
}
