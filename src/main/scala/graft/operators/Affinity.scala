package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket affinity: which items co-occur in the same order
  * more than their solo popularity predicts — the first (pair) pass
  * of Apriori plus the lift statistic, the classic
  * recommend-with-what analysis a warehouse runs on its order fact.
  */
object Affinity {

  /** Co-ordered part pairs with support and lift.
    *
    * lift = support · n_orders / (n_a · n_b): >1 means the pair
    * co-occurs more than independent popularity predicts. The basket
    * self-join is an equi-join on the order key, so its fan-out is
    * basket-size², bounded by how many DISTINCT items one order
    * holds (single digits in practice) — never corpus-sized; the
    * pair-count aggregate is map-side combined and its result space
    * is ≤ |catalog|² however many orders exist. For heavy-tailed
    * baskets (a "basket" that is really a feed), cap basket size
    * upstream or prune items below `minSupport` FIRST (the Apriori
    * monotonicity: a pair can never out-support its rarer item).
    * All-integer counts; the one float (lift) is a single division
    * of exact integers, identically associated on both engines.
    */
  def basketPairs(lineitem: DataFrame, minSupport: Long = 2L): DataFrame = {
    // ONE exchange builds the per-order basket (sorted distinct
    // parts); every downstream consumer works off that pinned
    // order-grain frame. Until r15 this was a distinct-(okey, pk)
    // frame whose PAIR step was an okey self-join — which re-shuffled
    // the fact-sized distinct frame by okey on BOTH join sides (the
    // distinct's (okey, pk) partitioning never satisfies the join's
    // okey-only requirement), and whose cost was measured
    // layout-sensitive at sf10 (VERDICT r14 #4: 243 s on an
    // accidentally order-clustered substrate vs 350 s on round-robin —
    // a randomly-laid-out 100 TB fact pays that forever). The basket
    // aggregate replaces all of it (guide §2.4, remove shuffles
    // outright; §2.3, aggregate before you shuffle): collect_set is
    // map-side partially aggregated, the groupBy(okey) exchange
    // clusters baskets by order NO MATTER the file layout, and pair
    // mining becomes a map-side array expansion over the pinned
    // baskets — basket-size² work with zero join, zero extra
    // exchange. Pairs from the sorted set enumerate exactly the
    // a.pk < b.pk pairs the self-join produced; support counts are
    // identical (one count per order holding both parts).
    val baskets = lineitem
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
      .groupBy("okey")
      .agg(sort_array(collect_set(col("pk"))).as("basket"))
      .transform(graft.core.Pin.pin(_, eager = false))
    // itemCounts is CATALOG-grain: normally dim-sized, but a 100M-item
    // catalog would hard-fail an unconditional broadcast at the 8 GB
    // limit — so it goes through the same measured fail-soft guard as
    // the index probes (ProbeGuard: broadcast when small, explicit
    // shuffle_hash when not). One guarded pin feeds both join sides.
    // Known tradeoff: the guard counts at CONSTRUCTION time, which
    // forces the `baskets` pin — so building this plan without running
    // it (explain, speculative composition) already pays the
    // aggregate. Every current caller executes the frame immediately;
    // a caller that only composes should pass a pre-guarded
    // itemCounts instead.
    val itemCounts = graft.core.ProbeGuard.guarded(
      baskets.select(explode(col("basket")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("n_item")))
    // count(okey), not count(*): the old countDistinct skipped a NULL
    // order key, and a NULL-okey group (were one ever present) must
    // stay out of the order count exactly as it stayed out of the
    // self-join. (Its items still count into itemCounts, also as
    // before: distinct (NULL, pk) rows fed the old groupBy(pk).)
    val nOrders = baskets.agg(count(col("okey")).as("n_orders"))
    val pairs = baskets
      .filter(col("okey").isNotNull)
      .select(explode(flatten(transform(col("basket"), (x, i) =>
        transform(
          slice(col("basket"), i + lit(2), size(col("basket")) - i - lit(1)),
          y => struct(x.as("part_a"), y.as("part_b")))))).as("p"))
      .groupBy(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    pairs
      .join(itemCounts.select(col("pk").as("part_a"),
        col("n_item").as("__na")), "part_a")
      .join(itemCounts.select(col("pk").as("part_b"),
        col("n_item").as("__nb")), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("support"),
        round(col("support").cast("double") * col("n_orders") /
          (col("__na") * col("__nb")), 4).as("lift"))
    // no output sort: the pair frame is catalog²-bounded but still
    // scale-proportional — hash-stability ordering lives in the
    // query's verify sort (QuerySpec.sortKeys), per the r12 doctrine
  }
}
