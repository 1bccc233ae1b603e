package graft.queries

import graft.core.{SmallSort, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

/** One query of graft's surface, recorded once: what it computes, how
  * the DuckDB oracle proves it, how the verify dump orders it, and what
  * must exist before it runs.
  *
  * @param build    the operator core over an SF directory, UNSORTED
  *                 unless the order is semantic (top-N limits, per-key
  *                 session order). Bench times exactly this.
  * @param oracle   the DuckDB SQL that replays the query from the raw
  *                 tables, as a function of the sign-LSH geometry
  *                 resolved for the corpus ([[LshRows]]); every oracle
  *                 but the five sign-LSH ones ignores it. `None` for
  *                 bench-only queries, which the driver does not check.
  * @param sortKeys the hash-stability output sort of the verify dump.
  *                 The driver's row-hash compare is order-sensitive,
  *                 so the dump must be totally ordered; a production
  *                 caller (and the bench) must not pay a corpus-sized
  *                 output sort the operator semantics never needed.
  * @param bigSort  range-sort the verify dump in parallel instead of
  *                 through [[SmallSort]]: for outputs that stay
  *                 fact-scale (≳10⁶ rows at the sweep SFs), where a
  *                 1-partition funnel is its own bottleneck. The
  *                 subtree double execution of `orderBy` (range-
  *                 partitioner sampling) is a verify-only cost.
  * @param setup    untimed work the builder needs first; Bench and
  *                 PlanLab run each distinct setup once via
  *                 [[QuerySpec.runSetups]].
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[LshRows => String],
    sortKeys: Seq[Column] = Nil,
    bigSort: Boolean = false,
    setup: Option[QuerySpec.Setup] = None) {

  /** The verify dump: dates as ISO strings, then the hash-stability
    * sort. SmallSort (1-partition + local sort) keeps the expensive
    * subtree at full parallelism and executes it once — acceptable for
    * a verify dump, wrong inside an operator.
    */
  def verify(spark: SparkSession, sfDir: String): DataFrame = {
    val df = QuerySpec.datesAsStrings(build(spark, sfDir))
    if (sortKeys.isEmpty) df
    else if (bigSort) df.orderBy(sortKeys: _*)
    else SmallSort(df, sortKeys: _*)
  }
}

object QuerySpec {

  /** Untimed preparation shared by the specs that hold the same
    * instance (`name` labels the log line).
    */
  final case class Setup(name: String, run: (SparkSession, String) => Unit)

  /** An oracle that does not depend on the sign-LSH geometry. */
  def sql(text: String): Option[LshRows => String] = Some(_ => text)

  /** An oracle regenerated at the resolved sign-LSH geometry. */
  def signLsh(at: LshRows => String): Option[LshRows => String] = Some(at)

  def by(names: String*): Seq[Column] = names.map(col)

  /** Runs each distinct setup of `specs` once, untimed, logging its
    * seconds; returns the names of the specs whose setup failed.
    */
  def runSetups(spark: SparkSession, sfDir: String,
                specs: Seq[QuerySpec]): Set[String] =
    specs.flatMap(_.setup).distinct.flatMap { st =>
      val t0 = System.nanoTime()
      try {
        st.run(spark, sfDir)
        System.err.println(
          f"[setup] ${st.name}: ${(System.nanoTime() - t0) / 1e9}%.2f sec (untimed)")
        Nil
      } catch { case e: Throwable =>
        System.err.println(s"[setup] ${st.name} failed: ${e.getMessage}")
        specs.filter(_.setup.contains(st)).map(_.name)
      }
    }.toSet

  /** Dump DATE columns as ISO strings: pandas renders Spark's date32 and
    * DuckDB's DATE differently ("1995-01-02" vs "1995-01-02 00:00:00"),
    * which would fail a value-hash compare even though values are equal.
    * ISO strings sort identically to dates, so ordering is unaffected.
    */
  private def datesAsStrings(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    df.schema.fields
      .filter(f => f.dataType == DateType || f.dataType == TimestampType)
      .foldLeft(df) { (d, f) =>
        d.withColumn(f.name, col(f.name).cast("string"))
      }
  }
}

/** The sign-LSH geometry the AutoWidth query entries resolve: rows per
  * band over the whole embedding corpus (`all`) and over its train
  * split (`train`, the 19 of every 20 vec_ids that
  * decontaminate_semantic indexes; the 1-in-20 benchmark rows are the
  * probe side). Bands stay 8.
  */
final case class LshRows(all: Int, train: Int)

object LshRows {
  private def at(n: Long, nTrain: Long): LshRows =
    LshRows(Similarity.regimeRowsPerBand(n), Similarity.regimeRowsPerBand(nTrain))

  /** The geometry at the driver gate corpora: sf0.001 and sf0.01 both
    * ship 500 vectors (TESTDATA.md), so the static oracle map is
    * self-consistent at the driver's gate SFs.
    */
  val Gate: LshRows = at(500L, 500L - 500L / 20)

  /** The geometry resolved from THIS corpus's counts (sf0.1's 2000
    * vectors resolve r=9, sf10's 200k resolve r=16; VERDICT r12 #1:
    * the demo r=6 pin was measured corpus-quadratic at sf10).
    */
  def of(spark: SparkSession, sfDir: String): LshRows = {
    val emb = Tables(spark, sfDir, "embeddings")
    at(emb.count(), emb.filter(pmod(col("vec_id"), lit(20)) =!= 0).count())
  }
}
