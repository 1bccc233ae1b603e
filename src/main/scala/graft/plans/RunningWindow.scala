package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

/** Single-pass LAG-delta + N-row rolling sum — the fact-build window
  * re-expressed as one streaming pass over the sorted exchange.
  *
  * Why not `WindowExec` (measured, sf10, VERDICT r13 #1): Spark's
  * window buffers every partition GROUP into an
  * ExternalAppendOnlyUnsafeRowArray (a full copy of the 60M-row fact)
  * and evaluates the sliding ROWS frame by RE-aggregating all 7 frame
  * rows through an interpreted AggregateProcessor for EVERY output
  * row — ~8 interpreted projection evaluations per row across the two
  * frames. Isolated at sf10: sort alone 59 s, LAG-only +76 s,
  * SUM-only +53 s, both frames ~300 s, all CPU/memory-stall bound
  * with zero spill. Both metrics need only (previous row's value) and
  * (ring of the last 7 values) of state, so a single iterator pass
  * computes them with no group buffer, no frame re-aggregation, and
  * no per-row allocation beyond the output row itself.
  *
  * This is the charter's sanctioned last resort — compose > custom
  * Expression > custom plan > mapPartitions — taken at the
  * InternalRow level (`queryExecution.toRdd`, so no Row
  * encoder round-trip) only after the composed form was measured as
  * the scale bottleneck on the flagship reference query. The
  * partition+sort exchange stays fully declarative: `repartition` on
  * the window key + `sortWithinPartitions` on the SAME total order
  * the WindowExec form used, so plan-level guarantees (AQE sizing,
  * shuffle reuse) are untouched and results are deterministic for the
  * same reason the window form was (the order is total up to full-row
  * duplicates, which are interchangeable).
  *
  * Semantics parity, pinned by RunningWindowSpec against the
  * Window-form twin ([[graft.etl.StarSchema.dayDelta]]/[[graft.etl
  * .StarSchema.rollingSum]]):
  *  - delta = round(value − previous value, 4); null for the first
  *    row of a group and when either value is null;
  *  - rolling = round(sum of the last ≤ n non-null values, 4) summed
  *    OLDEST→NEWEST (the exact order SlidingWindowFunctionFrame adds
  *    them, so float results are bit-identical); null only when the
  *    whole frame is null;
  *  - round replays Catalyst's Round: BigDecimal.valueOf → setScale
  *    HALF_UP;
  *  - a NULL `partCol` is its own group, exactly as Window partitions
  *    (NULL keys hash together and sort first);
  *  - NaN in `lagCol`/`sumCol` is REJECTED loudly (SparkException from
  *    the task): NaN is this pass's internal NULL sentinel for the
  *    ring, and Catalyst's Round(NaN) semantics would diverge from
  *    BigDecimal.valueOf (which throws) anyway. The fact pipeline
  *    feeds exact-cents doubles; a caller with NaN data must filter or
  *    null it first.
  */
object RunningWindow {

  /** The declarative exchange stage the streaming pass consumes: ONE
    * hash exchange on the window key + partition-local sort. Public so
    * plan audits can assert the production subtree's shape (all-
    * broadcast star join, exactly one exchange) — the RDD boundary
    * the pass introduces hides it from the outer plan otherwise.
    */
  def sortedInput(df: DataFrame, partCol: String, order: Seq[Column]): DataFrame =
    df.repartition(col(partCol))
      .sortWithinPartitions(col(partCol) +: order: _*)

  /** Append `round(lagCol − lag(lagCol), 4)` and
    * `round(sum(sumCol) over last n rows, 4)` per `partCol` group in
    * `order`. `partCol` must be LONG, `lagCol`/`sumCol` DOUBLE (the
    * fact-build shapes; widen when a second caller needs it).
    */
  def lagDeltaAndRollingSum(df: DataFrame, partCol: String,
                            order: Seq[Column], lagCol: String,
                            sumCol: String, n: Int,
                            deltaName: String, sumName: String): DataFrame = {
    val sorted = sortedInput(df, partCol, order)
    val schema = sorted.schema
    val pIdx = schema.fieldIndex(partCol)
    val lIdx = schema.fieldIndex(lagCol)
    val sIdx = schema.fieldIndex(sumCol)
    require(schema(pIdx).dataType == LongType,
      s"$partCol must be long, got ${schema(pIdx).dataType.simpleString}")
    require(schema(lIdx).dataType == DoubleType &&
      schema(sIdx).dataType == DoubleType,
      s"$lagCol/$sumCol must be double")
    val outSchema = StructType(schema.fields)
      .add(deltaName, DoubleType).add(sumName, DoubleType)
    val nFields = schema.fields.length
    val ringN = n
    // Allocation discipline (the first cut boxed every input field into
    // a fresh Any array per row and measured SLOWER than WindowExec at
    // sf10 — ~15 allocations × 60M rows is a GC storm, not an
    // operator): the input UnsafeRow is joined to a reused 2-slot
    // append row, the codegen'd UnsafeProjection reads both through
    // typed getters, and the only per-row allocations are the output
    // row copy (unavoidable: downstream operators may buffer) and the
    // two boxed appended doubles.
    val rdd = sorted.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(outSchema)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val append = new GenericInternalRow(2)
      var curPart = 0L
      var curPartNull = false
      var hasPart = false
      var prevValue = 0.0
      var prevNull = true
      var hasPrev = false
      // ring of the last ringN sumCol values; NaN marks SQL NULL
      val ring = new Array[Double](ringN)
      var groupRow = 0L // rows seen in the current group
      def round4(v: Double): Double =
        java.math.BigDecimal.valueOf(v)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      it.map { row =>
        // NULL keys form their own group (repartition hashes them to
        // one partition, the sort puts them first) — the Window twin's
        // behavior, pinned by spec; getLong on a null slot would
        // silently read 0L and merge them into the key-0 group.
        val pNull = row.isNullAt(pIdx)
        val p = if (pNull) 0L else row.getLong(pIdx)
        if (!hasPart || pNull != curPartNull || p != curPart) {
          curPart = p; curPartNull = pNull; hasPart = true
          hasPrev = false; prevNull = true; groupRow = 0L
        }
        // delta vs previous row's lag value
        val curNull = row.isNullAt(lIdx)
        val cur = if (curNull) 0.0 else row.getDouble(lIdx)
        if (java.lang.Double.isNaN(cur))
          throw new IllegalArgumentException(
            s"RunningWindow: NaN in $lagCol is unsupported (NaN is the " +
              "internal NULL sentinel); filter or null NaN rows first")
        val deltaIsNull = curNull || !hasPrev || prevNull
        if (deltaIsNull) append.setNullAt(0)
        else append.update(0, round4(cur - prevValue))
        prevValue = cur; prevNull = curNull; hasPrev = true
        // rolling sum over the last <= ringN values, oldest -> newest
        val sNull = row.isNullAt(sIdx)
        val sVal = if (sNull) Double.NaN else row.getDouble(sIdx)
        if (!sNull && java.lang.Double.isNaN(sVal))
          throw new IllegalArgumentException(
            s"RunningWindow: NaN in $sumCol is unsupported (NaN is the " +
              "internal NULL sentinel); filter or null NaN rows first")
        ring((groupRow % ringN).toInt) = sVal
        groupRow += 1L
        var k = math.max(0L, groupRow - ringN)
        var acc = 0.0
        var any = false
        while (k < groupRow) {
          val v = ring((k % ringN).toInt)
          if (!java.lang.Double.isNaN(v)) { acc += v; any = true }
          k += 1L
        }
        if (any) append.update(1, round4(acc)) else append.setNullAt(1)
        proj(joined(row, append)).copy(): InternalRow
      }
    }
    org.apache.spark.sql.graft.Bridge.internalDf(df.sparkSession, rdd, outSchema)
  }
}
