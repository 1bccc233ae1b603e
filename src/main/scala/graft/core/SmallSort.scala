package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** Total-order output sort for SMALL results of EXPENSIVE subtrees.
  *
  * `orderBy` plans a range exchange whose partitioner SAMPLES the
  * child with a separate job — the entire unmaterialized subtree
  * executes TWICE (measured: gopher_gate 3.0 s with orderBy vs 1.65 s
  * without — the sampling pass re-ran the whole gate scan). When the
  * result is known to be small (an audit table, a filtered survivor
  * set, a top-k), a 1-partition shuffle + local sort produces the
  * identical global order with ONE execution of the subtree: the
  * round-robin exchange keeps every upstream stage at full
  * parallelism (repartition, NOT coalesce — coalesce would collapse
  * the expensive subtree itself onto one task) and only the final
  * row-count-sized sort is single-threaded.
  *
  * Use ONLY where the output is bounded small (≲ a few hundred
  * thousand rows): for large results the parallel range sort wins and
  * the double execution is the lesser cost — or checkpoint the child.
  */
object SmallSort {
  def apply(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)
}
