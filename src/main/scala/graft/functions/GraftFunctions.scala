package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Column-API and SQL-registration surface for graft's native expressions. */
object GraftFunctions {

  /** Column wrapper for [[RollingFingerprint]]. */
  def rollingFingerprint(c: Column, window: Int = 64): Column =
    org.apache.spark.sql.graft.Bridge.column(
      RollingFingerprint(org.apache.spark.sql.graft.Bridge.expression(c), window))

  /** Column wrapper for [[VectorDot]]. */
  def vectorDot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      VectorDot(org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** Column wrapper for [[VectorCosine]]. */
  def vectorCosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      VectorCosine(org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** Column wrapper for [[VectorSub]]. */
  def vectorSub(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      VectorSub(org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** Column wrapper for [[PqCodes]] — the codebook travels as a
    * reference object, so callers pass plain driver-side arrays.
    */
  def pqCodes(emb: Column, codebook: Array[Float], present: Array[Boolean],
              m: Int, k: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      PqCodes(org.apache.spark.sql.graft.Bridge.expression(emb),
        codebook, present, m, k))

  /** Column wrapper for [[NearestCells]] — the centroid matrix travels
    * as a reference object; `cellIds` must be sorted ascending (the
    * tie-break contract).
    */
  def nearestCells(emb: Column, cellIds: Array[Long],
                   centroids: Array[Float], dim: Int, n: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      NearestCells(org.apache.spark.sql.graft.Bridge.expression(emb),
        cellIds, centroids, dim, n))

  /** Column wrapper for [[WordShingles]]. */
  def wordShingles(text: Column, n: Int, keepDuplicates: Boolean = false): Column =
    org.apache.spark.sql.graft.Bridge.column(
      WordShingles(org.apache.spark.sql.graft.Bridge.expression(text), n,
        keepDuplicates))

  /** Column wrapper for [[SimHash64]] (word n-gram shingle features). */
  def simhash64(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.graft.Bridge.column(
      SimHash64(org.apache.spark.sql.graft.Bridge.expression(text), n))

  /** Column wrapper for [[RepetitionStats]]. */
  def repetitionStats(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      RepetitionStats(org.apache.spark.sql.graft.Bridge.expression(text), n))

  /** Column wrapper for [[StringHash31]]. */
  def stringHash31(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      StringHash31(org.apache.spark.sql.graft.Bridge.expression(c)))

  /** Column wrapper for [[MarkerCounts]]. */
  def markerCounts(text: Column, markers: Seq[Seq[String]]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      MarkerCounts(org.apache.spark.sql.graft.Bridge.expression(text), markers))

  /** Column wrapper for [[MinHashSig]]. */
  def minhashSig(text: Column, n: Int, k: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      MinHashSig(org.apache.spark.sql.graft.Bridge.expression(text), n, k))

  /** Column wrapper for [[ShingleHashes]]. */
  def shingleHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      ShingleHashes(org.apache.spark.sql.graft.Bridge.expression(text), n))

  /** Column wrapper for [[SortedArrayJaccard]]. */
  def sortedArrayJaccard(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      SortedArrayJaccard(org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** graft's SQL functions, one row each: name, expression class (its
    * `DESCRIBE FUNCTION` entry) and builder. [[register]] and
    * [[GraftExtensions]] both read this table, so a function cannot
    * reach one path and miss the other.
    */
  private[functions] val sqlFunctions
      : Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = {
    def usage(signature: String) = throw new IllegalArgumentException(signature)
    Seq(
      ("rolling_fingerprint", classOf[RollingFingerprint], {
        case Seq(c) => RollingFingerprint(c, 64)
        case Seq(c, Literal(w: Int, _)) => RollingFingerprint(c, w)
        case _ => usage("rolling_fingerprint(text[, window_literal])")
      }),
      ("vector_dot", classOf[VectorDot], {
        case Seq(a, b) => VectorDot(a, b)
        case _ => usage("vector_dot(a, b)")
      }),
      ("vector_cosine", classOf[VectorCosine], {
        case Seq(a, b) => VectorCosine(a, b)
        case _ => usage("vector_cosine(a, b)")
      }),
      ("word_shingles", classOf[WordShingles], {
        case Seq(c, Literal(n: Int, _)) => WordShingles(c, n)
        case _ => usage("word_shingles(text, n_literal)")
      }),
      ("simhash64", classOf[SimHash64], {
        case Seq(c) => SimHash64(c, 3)
        case Seq(c, Literal(n: Int, _)) => SimHash64(c, n)
        case _ => usage("simhash64(text[, n_literal])")
      }),
      ("repetition_stats", classOf[RepetitionStats], {
        case Seq(c, Literal(n: Int, _)) => RepetitionStats(c, n)
        case _ => usage("repetition_stats(text, n_literal)")
      }))
  }

  /** Register into an already-built session (idempotent), so
    * `expr("rolling_fingerprint(text, 64)")` and spark.sql work.
    */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "scala_udf")
    }
}

/** SparkSessionExtensions hook: add
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * at session build to get graft's SQL functions in every new session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach { case (name, cls, build) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
}
