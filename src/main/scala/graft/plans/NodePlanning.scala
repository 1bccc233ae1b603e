package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.SparkStrategy

/** The strategy that plans one of graft's logical nodes. A session
  * without it fails with "No plan for <node>", so each node's builder
  * calls [[install]] on the session it builds in.
  */
private[graft] abstract class NodePlanning extends SparkStrategy {

  /** Idempotent: a session holds the strategy at most once. */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(this))
        exp.extraStrategies = this +: exp.extraStrategies
    }
  }
}

private[plans] object NodePlanning {

  /** `order` resolved against `df` exactly as a sortWithinPartitions
    * would, and the plan it sorts: a node keeps the ordering as its
    * child requirement and drops the Sort itself.
    */
  def sortedChild(df: DataFrame, order: Seq[Column]): (Seq[SortOrder], LogicalPlan) =
    df.sortWithinPartitions(order: _*).queryExecution.analyzed match {
      case Sort(o, false, c, _) => (o, c)
      case p => throw new IllegalStateException(s"unexpected sort plan:\n$p")
    }
}

/** The output of a node (logical or exec) that passes its child's
  * columns through and appends the columns it produces.
  */
private[plans] trait AppendsColumns[T <: QueryPlan[T]] extends QueryPlan[T] {
  self: T =>
  def child: T
  def appended: Seq[Attribute]
  override def output: Seq[Attribute] = child.output ++ appended
  override def producedAttributes: AttributeSet = AttributeSet(appended)
}
