package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference,
  GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DoubleType, LongType}

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
  * This is one of graft's two custom planner nodes (compose > custom
  * Expression > custom plan; the other is [[GlobalPrefix]]), taken only
  * after the composed form was measured as the scale bottleneck on the
  * flagship reference query:
  * the logical [[RunningWindowNode]], planned by [[RunningWindow.Planning]]
  * into [[RunningWindowExec]]. The exec node states what it needs —
  * rows clustered by the window key and sorted by (key, order) — so
  * EnsureRequirements places the one hash exchange and the sort, on
  * the SAME total order the WindowExec form used; AQE, SQL metrics and
  * plan audits see the whole subtree, and results are deterministic
  * for the same reason the window form was (the order is total up to
  * full-row duplicates, which are interchangeable).
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

  /** Append `round(lagCol − lag(lagCol), 4)` and
    * `round(sum(sumCol) over last n rows, 4)` per `partCol` group in
    * `order`. `partCol` must be LONG, `lagCol`/`sumCol` DOUBLE (the
    * fact-build shapes; widen when a second caller needs it). Builds a
    * plan only: nothing runs until an action.
    */
  def lagDeltaAndRollingSum(df: DataFrame, partCol: String,
                            order: Seq[Column], lagCol: String,
                            sumCol: String, n: Int,
                            deltaName: String, sumName: String): DataFrame = {
    Planning.install(df.sparkSession)
    val (ordering, child) = NodePlanning.sortedChild(df, col(partCol) +: order)
    val schema = df.schema
    def attr(name: String): Attribute = child.output(schema.fieldIndex(name))
    require(attr(partCol).dataType == LongType,
      s"$partCol must be long, got ${attr(partCol).dataType.simpleString}")
    require(attr(lagCol).dataType == DoubleType &&
      attr(sumCol).dataType == DoubleType,
      s"$lagCol/$sumCol must be double")
    Bridge.ofRows(df.sparkSession, RunningWindowNode(attr(partCol), ordering,
      attr(lagCol), attr(sumCol), n, AttributeReference(deltaName, DoubleType)(),
      AttributeReference(sumName, DoubleType)(), child))
  }

  /** Plans [[RunningWindowNode]]; [[lagDeltaAndRollingSum]] installs it. */
  private[graft] object Planning extends NodePlanning {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case w: RunningWindowNode =>
        RunningWindowExec(w.partCol, w.ordering, w.lagCol, w.sumCol, w.n,
          w.delta, w.rolling, planLater(w.child)) :: Nil
      case _ => Nil
    }
  }
}

/** The columns pass through, so ColumnPruning narrows the child to what
  * the parent and the metrics read; nothing prunes the node itself when
  * its metrics go unused, which is why readers of the plain star join
  * (the inline dashboards, `validateFact`) build on `factFrame`.
  */
case class RunningWindowNode(partCol: Attribute, ordering: Seq[SortOrder],
                             lagCol: Attribute, sumCol: Attribute, n: Int,
                             delta: Attribute, rolling: Attribute,
                             child: LogicalPlan)
    extends UnaryNode with AppendsColumns[LogicalPlan] {
  override def appended: Seq[Attribute] = Seq(delta, rolling)
  override protected def withNewChildInternal(c: LogicalPlan): RunningWindowNode =
    copy(child = c)
}

case class RunningWindowExec(partCol: Attribute, ordering: Seq[SortOrder],
                             lagCol: Attribute, sumCol: Attribute, n: Int,
                             delta: Attribute, rolling: Attribute,
                             child: SparkPlan)
    extends UnaryExecNode with AppendsColumns[SparkPlan] {
  override def appended: Seq[Attribute] = Seq(delta, rolling)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(partCol)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = ordering :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))
  override protected def withNewChildInternal(c: SparkPlan): RunningWindowExec =
    copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    def ordinal(a: Attribute): Int = child.output.indexWhere(_.exprId == a.exprId)
    val pIdx = ordinal(partCol)
    val lIdx = ordinal(lagCol)
    val sIdx = ordinal(sumCol)
    val lagName = lagCol.name
    val sumName = sumCol.name
    val outSchema = schema
    val ringN = n
    // Allocation discipline (the first cut boxed every input field into
    // a fresh Any array per row and measured SLOWER than WindowExec at
    // sf10 — ~15 allocations × 60M rows is a GC storm, not an
    // operator): the input UnsafeRow is joined to a reused 2-slot
    // append row, the codegen'd UnsafeProjection reads both through
    // typed getters, and the only per-row allocations are the output
    // row copy (unavoidable: downstream operators may buffer) and the
    // two boxed appended doubles.
    child.execute().mapPartitions { it =>
      val proj = UnsafeProjection.create(outSchema)
      val joined = new JoinedRow
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
        // NULL keys form their own group (the exchange hashes them to
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
            s"RunningWindow: NaN in $lagName is unsupported (NaN is the " +
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
            s"RunningWindow: NaN in $sumName is unsupported (NaN is the " +
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
        numOutputRows += 1
        proj(joined(row, append)).copy(): InternalRow
      }
    }
  }
}
