package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference,
  JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution,
  OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType}

import GlobalPrefix.Fold

/** Global ordered aggregates — ROW_NUMBER, the inclusive running SUM and
  * the exclusive running MAX over one total order of the WHOLE input —
  * as one planner node, never an unpartitioned window.
  *
  * `ROW_NUMBER() OVER (ORDER BY …)` funnels every row through one task:
  * fine for a 5-row dim, fatal for a billion-row entity table. The
  * composed alternative (order-preserving buckets, a per-bucket window,
  * a totals self-join and a broadcast of the offsets back) planned a
  * stats subtree that recomputed its input, a pin, and ~45 generated
  * classes for a 1,000-row dimension. This node needs one range
  * exchange, one sort and two passes over the sorted partitions:
  *
  *  1. [[GlobalPrefixExec]] requires `OrderedDistribution(order)` and
  *     the same child ordering, so EnsureRequirements places the range
  *     exchange and the sort: partition i holds a contiguous slice of
  *     the global order, sorted;
  *  2. one job reduces each sorted partition to its total (row count,
  *     long sum or max), and the driver folds those totals into each
  *     partition's EXCLUSIVE offset — the fold of every earlier
  *     partition;
  *  3. a `mapPartitionsWithIndex` pass emits the offset combined with
  *     the running local value.
  *
  * The second pass re-reads the range shuffle's files and re-sorts
  * them; it does not recompute anything upstream of the exchange
  * (a child that already arrives range-partitioned gets no exchange,
  * and then both passes run it). Offsets depend only on which rows a
  * partition holds, never on their order inside it, so rows tied on
  * the order keys get a valid — not a unique — numbering, as with
  * ROW_NUMBER.
  *
  * Semantics, pinned by PropertySpec against the Spark `Window` twins:
  *  - [[rank]] is `row_number() over (order by …)`; order columns sort
  *    ascending with Spark's default NULLS FIRST, for every type;
  *  - [[sum]] is the inclusive `sum(v) over (… rows between unbounded
  *    preceding and current row)` cast to long: NULL until the first
  *    non-NULL value, and overflow fails (as ANSI `sum` does);
  *  - [[priorMax]] is the exclusive `max(v) over (… rows between
  *    unbounded preceding and 1 preceding)`, in `v`'s type: NULL
  *    where no earlier row has a non-NULL value.
  *  Values must be int or long — the types today's callers pass;
  *  anything else is rejected at build time.
  */
object GlobalPrefix {

  /** Appends long `outName` = `row_number() over (order by orderBy)`. */
  def rank(df: DataFrame, orderBy: Seq[String], outName: String): DataFrame =
    build(df, orderBy, Fold.RowNumber, None, outName)

  /** Appends long `outName` = inclusive running sum of `valueCol`. */
  def sum(df: DataFrame, orderBy: Seq[String], valueCol: String,
          outName: String): DataFrame =
    build(df, orderBy, Fold.Sum, Some(valueCol), outName)

  /** Appends `outName` = max of `valueCol` over strictly earlier rows. */
  def priorMax(df: DataFrame, orderBy: Seq[String], valueCol: String,
               outName: String): DataFrame =
    build(df, orderBy, Fold.PriorMax, Some(valueCol), outName)

  /** Builds a plan only: nothing runs until an action. */
  private def build(df: DataFrame, orderBy: Seq[String], fold: Fold,
                    valueCol: Option[String], outName: String): DataFrame = {
    Planning.install(df.sparkSession)
    val (ordering, child) = NodePlanning.sortedChild(df, orderBy.map(col))
    val value = valueCol.map(v => child.output(df.schema.fieldIndex(v)))
    value.foreach(v => require(v.dataType == IntegerType || v.dataType == LongType,
      s"${v.name} must be int or long, got ${v.dataType.simpleString}"))
    val out = fold match {
      case Fold.RowNumber => AttributeReference(outName, LongType, nullable = false)()
      case Fold.Sum => AttributeReference(outName, LongType, value.get.nullable)()
      case Fold.PriorMax => AttributeReference(outName, value.get.dataType)()
    }
    // the re-alias is a Project, which the analyzer knows how to give a
    // fresh attribute when the frame meets a copy of itself (a
    // self-join); the optimizer drops it again everywhere else
    Bridge.ofRows(df.sparkSession, GlobalPrefixNode(fold, ordering, value, out, child))
      .withColumn(outName, col(outName))
  }

  /** What the node folds along the order: an associative `combine`
    * with identity `zero` over long images of the values, applied before
    * a row's output (`inclusive`) or after it.
    */
  sealed abstract class Fold(val inclusive: Boolean, val zero: Long) extends Serializable {
    def combine(acc: Long, v: Long): Long
  }

  object Fold {
    /** Each row contributes 1. */
    case object RowNumber extends Fold(true, 0L) {
      def combine(acc: Long, v: Long): Long = acc + v
    }
    case object Sum extends Fold(true, 0L) {
      def combine(acc: Long, v: Long): Long = Math.addExact(acc, v)
    }
    case object PriorMax extends Fold(false, Long.MinValue) {
      def combine(acc: Long, v: Long): Long = math.max(acc, v)
    }
  }

  /** Plans [[GlobalPrefixNode]]; every builder above installs it. */
  private[graft] object Planning extends NodePlanning {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case p: GlobalPrefixNode =>
        GlobalPrefixExec(p.fold, p.ordering, p.value, p.out, planLater(p.child)) :: Nil
      case _ => Nil
    }
  }
}

case class GlobalPrefixNode(fold: Fold, ordering: Seq[SortOrder],
                            value: Option[Attribute], out: Attribute,
                            child: LogicalPlan)
    extends UnaryNode with AppendsColumns[LogicalPlan] {
  override def appended: Seq[Attribute] = out :: Nil
  override protected def withNewChildInternal(c: LogicalPlan): GlobalPrefixNode =
    copy(child = c)
}

case class GlobalPrefixExec(fold: Fold, ordering: Seq[SortOrder],
                            value: Option[Attribute], out: Attribute,
                            child: SparkPlan)
    extends UnaryExecNode with AppendsColumns[SparkPlan] {
  override def appended: Seq[Attribute] = out :: Nil
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(ordering) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = ordering :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))
  override protected def withNewChildInternal(c: SparkPlan): GlobalPrefixExec =
    copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val f = fold
    val vIdx = value.fold(-1)(v => child.output.indexWhere(_.exprId == v.exprId))
    // a row's long image; RowNumber counts every row as 1
    val read: (InternalRow, Int) => Long = value.map(_.dataType) match {
      case None => (_, _) => 1L
      case Some(IntegerType) => (r, i) => r.getInt(i).toLong
      case Some(_) => (r, i) => r.getLong(i)
    }
    val write: (InternalRow, Long) => Unit =
      if (out.dataType == IntegerType) (r, v) => r.setInt(0, v.toInt)
      else (r, v) => r.setLong(0, v)
    val outType = out.dataType
    val outSchema = schema
    val rows = child.execute()
    // pass 1: per-partition (total, any non-NULL value)
    val totals = sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
      var acc = f.zero
      var any = false
      it.foreach { r =>
        if (vIdx < 0 || !r.isNullAt(vIdx)) { acc = f.combine(acc, read(r, vIdx)); any = true }
      }
      (acc, any)
    })
    // exclusive offsets: partition i starts from the fold of 0 until i
    val offsets = totals.scanLeft((f.zero, false)) {
      case ((a, x), (b, y)) => (f.combine(a, b), x || y)
    }
    // pass 2: one reused projection, join row and append slot per task;
    // the output row copy is the only per-row allocation
    rows.mapPartitionsWithIndex { (i, it) =>
      val proj = UnsafeProjection.create(outSchema)
      val joined = new JoinedRow
      val append = new SpecificInternalRow(outType :: Nil)
      var (acc, any) = offsets(i)
      it.map { r =>
        val present = vIdx < 0 || !r.isNullAt(vIdx)
        if (present && f.inclusive) { acc = f.combine(acc, read(r, vIdx)); any = true }
        if (any) write(append, acc) else append.setNullAt(0)
        if (present && !f.inclusive) { acc = f.combine(acc, read(r, vIdx)); any = true }
        numOutputRows += 1
        proj(joined(r, append)).copy(): InternalRow
      }
    }
  }
}
