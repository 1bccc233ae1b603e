package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature (k 31-bit mins) over the distinct word n-gram
  * shingles of a document, in one native codegen pass.
  *
  * Each shingle is hashed once — Horner polynomial over its UTF-8
  * bytes (base 257 mod the Mersenne prime 2^31-1) + xorshift-multiply
  * avalanche, shared with [[SimHash64]] — then run through k affine
  * permutations h_i(x) = (a_i·x + b_i) mod 2^31-1, the classic
  * universal MinHash family. The coefficients are deterministic
  * ([[MinHashSig.coeffA]]/[[coeffB]]).
  *
  * Every intermediate fits a signed 64-bit integer (a·x < 2^62), so
  * the exact signature — and the exact LSH band buckets and candidate
  * pairs built from it — can be replayed by any engine with plain
  * BIGINT arithmetic; the DuckDB oracle hash-checks the pair set
  * end to end. A murmur-family signature (Spark's `hash`) cannot be
  * replayed outside the JVM, which is why this family exists.
  *
  * The declarative build explodes shingles and groupBys the doc for k
  * min-aggregates; a document's shingles are colocated in its row, so
  * that exchange moves data for nothing. Returns null when the document
  * has no shingles (shorter than n tokens) — matching the explode
  * formulation, where such documents produce no rows.
  */
case class MinHashSig(child: Expression, n: Int, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // null for documents shorter than n tokens, whatever the child's
  // nullability: doGenCode assigns ev.isNull, which must then be a
  // variable, not the literal `false` of a non-nullable expression
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sig needs a string input, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[UTF8String], n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val out = ctx.freshName("mhs")
    nullSafeCodeGen(ctx, ev, c => s"""
      org.apache.spark.sql.catalyst.util.ArrayData $out =
        graft.functions.MinHashSig.compute($c, $n, $k);
      if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

object MinHashSig {
  final val Mod = SimHash64.Mod // 2^31 - 1
  final val MaxK = 256

  /** Deterministic affine coefficients: a_i ∈ [1, Mod), b_i ∈ [0, Mod),
    * derived from the avalanche mixer so they are reproducible both
    * here and as literals in the SQL oracle.
    */
  def coeffA(i: Int): Long =
    (SimHash64.mix(2L * i + 1L, 16, 13, 16) % (Mod - 1)) + 1
  def coeffB(i: Int): Long =
    SimHash64.mix(2L * i + 2L, 15, 14, 15) % Mod

  private val As = Array.tabulate(MaxK)(coeffA)
  private val Bs = Array.tabulate(MaxK)(coeffB)

  /** Returns null when the document yields no shingles. */
  def compute(text: UTF8String, n: Int, k: Int): ArrayData = {
    require(k <= MaxK, s"minhash k must be <= $MaxK")
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return null
    val seen = new java.util.HashSet[String](toks.length * 2)
    val mins = Array.fill(k)(Int.MaxValue)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val s = sb.toString
      if (seen.add(s)) {
        val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val x = SimHash64.mix(
          SimHash64.polyHash(bytes, SimHash64.BaseA), 16, 13, 16)
        var h = 0
        while (h < k) {
          val v = ((As(h) * x + Bs(h)) % Mod).toInt
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}
