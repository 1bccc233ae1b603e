package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Customer-base segmentation: RFM (recency / frequency / monetary)
  * quartile banding — the classic mart-level scoring a warehouse
  * derives from its order fact.
  *
  * Bands are VALUE-based (metric vs the exact corpus quartiles), not
  * ntile-based: equal metric values always land in the same band, so
  * the segmentation is stable under re-ingestion and re-partitioning —
  * the same property the content-hash split chooses over random
  * assignment. Quartile fractions are dyadic and the metrics are
  * integers (days / counts / cents), so the interpolated cuts are
  * exactly representable doubles and every engine computes the same
  * bands (the oracle hash-checks the whole segmentation).
  *
  * Scale shape: one custkey aggregate over orders (partial-agg
  * friendly), one single-row quartile aggregate over the CUSTOMER-
  * dimension-sized result broadcast back, then a |4³|-row segment
  * aggregate. The fact is scanned once.
  */
object Segmentation {

  /** Per-customer RFM metrics as exact integers: days since last order
    * at `asOf`, order count, lifetime cents.
    */
  private def rfmMetrics(orders: DataFrame, asOf: String): DataFrame =
    orders.groupBy(col("o_custkey"))
      .agg(
        datediff(lit(asOf).cast("date"), max(to_date(col("o_orderdate"))))
          .cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("monetary_c"))

  private def band(metric: Column, q1: Column, q2: Column, q3: Column): Column =
    when(metric <= q1, 1L).when(metric <= q2, 2L)
      .when(metric <= q3, 3L).otherwise(4L)

  /** Segment counts: every (r_band, f_band, m_band) cell with its
    * customer count and total monetary value. Band 1 = lowest metric
    * value (so r_band 1 = most recent, m_band 4 = biggest spenders).
    */
  def rfmSegments(orders: DataFrame, asOf: String = "1998-08-01"): DataFrame = {
    val m = rfmMetrics(orders, asOf)
    val cutCols = Seq("recency_days", "frequency", "monetary_c").flatMap(c =>
      Seq(0.25, 0.5, 0.75).zipWithIndex.map { case (q, i) =>
        expr(s"percentile($c, $q)").as(s"${c}_q${i + 1}")
      })
    val cuts = m.agg(cutCols.head, cutCols.tail: _*)
    m.crossJoin(broadcast(cuts))
      .select(
        band(col("recency_days"), col("recency_days_q1"),
          col("recency_days_q2"), col("recency_days_q3")).as("r_band"),
        band(col("frequency"), col("frequency_q1"),
          col("frequency_q2"), col("frequency_q3")).as("f_band"),
        band(col("monetary_c"), col("monetary_c_q1"),
          col("monetary_c_q2"), col("monetary_c_q3")).as("m_band"),
        col("monetary_c"))
      .groupBy("r_band", "f_band", "m_band")
      .agg(count(lit(1)).as("n_customers"),
        (sum("monetary_c").cast("double") / 100.0).as("total_monetary"))
      .orderBy("r_band", "f_band", "m_band")
  }

  /** Pareto concentration curve: for each revenue threshold (25/50/75/
    * 90 %), the minimum number of top-spending customers whose combined
    * spend reaches it, plus the share they actually cover — the "how
    * top-heavy is the customer base" planning query.
    *
    * Scale shape: one custkey aggregate over the fact, then rank and
    * running total both come from the bucketed two-phase primitives
    * ([[graft.etl.StarSchema.globalRank]] / `globalPrefixSum`) — a
    * billion-customer spend table never funnels through one window
    * task. The threshold probe is ONE conditional aggregate (min rank
    * whose running total clears each cut) unstacked to |thresholds|
    * rows, joined back to fetch the covered share. All arithmetic is
    * exact BIGINT cents until the final share division.
    */
  def paretoCoverage(orders: DataFrame,
                     thresholds: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    val spend = orders.groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("spend_c"))
    val ranked = graft.etl.StarSchema.globalRank(
      spend.withColumn("__neg", -col("spend_c")), Seq("__neg", "o_custkey"), "rank")
    val cum = graft.etl.StarSchema.globalPrefixSum(
      ranked, Seq("rank"), "spend_c", "cum_c")
    val total = spend.agg(sum("spend_c").as("__tot"))
    val sorted = thresholds.sorted
    // the ×100/×threshold probe widens to decimal(38,0): total cents
    // ×100 can overflow a LONG at 100 TB row counts (the oracle's
    // HUGEINT SUM is immune — the Spark side must match it exactly)
    val dec38 = "decimal(38,0)"
    val probes = sorted.map(t =>
      min(when(col("cum_c").cast(dec38) * 100 >= col("__tot").cast(dec38) * t,
        col("rank"))).as(s"__r_$t"))
    val stackExpr = s"stack(${sorted.size}, " +
      sorted.map(t => s"${t}L, __r_$t").mkString(", ") +
      ") AS (threshold_pct, n_customers)"
    val hits = cum.crossJoin(broadcast(total))
      .agg(probes.head, probes.tail: _*)
      .select(expr(stackExpr))
    cum.join(broadcast(hits), col("rank") === col("n_customers"))
      .crossJoin(broadcast(total))
      .select(col("threshold_pct"), col("n_customers"),
        round(col("cum_c").cast("double") / col("__tot").cast("double"), 6)
          .as("covered_share"))
      .orderBy("threshold_pct")
  }

  /** 2-D skyline (Pareto frontier) under (minimize `costCol`,
    * maximize `gainCol`): the rows no other row beats on one axis
    * without losing on the other — the "cheapest at every capability
    * level" catalog query.
    *
    * Sweep formulation, never the O(n²) dominance self-join: a row
    * survives iff its gain equals its cost-group's max AND strictly
    * exceeds the best gain among all STRICTLY cheaper rows — one
    * cost-grain aggregate plus the exclusive
    * [[graft.etl.StarSchema.globalPrefixMax]] (bucketed two-phase, no
    * unpartitioned window), then a hash join back to the rows. The
    * oracle replays the QUADRATIC dominance definition, so the sweep
    * is cross-checked against the definition it optimizes. Ties on
    * both axes all survive (neither dominates). NULL cost/gain rows
    * are excluded — dominance is undefined on missing axes.
    */
  def skyline(df: DataFrame, costCol: String, gainCol: String): DataFrame = {
    val clean = df.filter(col(costCol).isNotNull && col(gainCol).isNotNull)
    val grp = clean.groupBy(costCol).agg(max(col(gainCol)).as("__gmax"))
    val best = graft.etl.StarSchema
      .globalPrefixMax(grp, Seq(costCol), "__gmax", "__prev")
    clean.join(best, Seq(costCol))
      .filter(col(gainCol) === col("__gmax") &&
        (col("__prev").isNull || col("__gmax") > col("__prev")))
      .drop("__gmax", "__prev")
  }

  /** Churn audit per market segment: customers whose LAST order is
    * older than `horizonDays` before the corpus's newest order date
    * (plus never-ordered customers — silent in the fact, churned for
    * any revenue purpose). One custkey max-aggregate over orders
    * (map-side combined), a co-partitioned left join onto the
    * customer dimension, a 1-row broadcast anchor date, a
    * segment-sized rollup. Rate is one exact-integer division.
    */
  def churnBySegment(customer: DataFrame, orders: DataFrame,
                     horizonDays: Int = 90): DataFrame = {
    val lastOrder = orders.groupBy(col("o_custkey").as("c_custkey"))
      .agg(max("o_orderdate").as("__last"))
    val anchor = orders.agg(max("o_orderdate").as("__max"))
    customer.select("c_custkey", "c_mktsegment")
      .join(lastOrder, Seq("c_custkey"), "left")
      .crossJoin(broadcast(anchor))
      .withColumn("__churned",
        col("__last").isNull ||
          datediff(col("__max"), col("__last")) > horizonDays)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("__churned"), 1L).otherwise(0L)).as("n_churned"))
      .withColumn("churn_rate",
        round(col("n_churned").cast("double") / col("n_customers"), 4))
      .orderBy("c_mktsegment")
  }

  /** Supplier fulfillment lead time: days from order placement to
    * line shipment, per supplier — the operational SLA rollup. The
    * orderkey join is big⋈big but co-partitioned on the join key;
    * day diffs are exact integers, the average uses the
    * integer-cents trick (scale by 100 before the division) so the
    * oracle hash-matches.
    */
  def supplierLeadTime(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_suppkey"),
        col("l_shipdate").cast("date").as("__ship"))
      .join(orders.select(col("o_orderkey").as("l_orderkey"),
        col("o_orderdate").cast("date").as("__ord")), "l_orderkey")
      .withColumn("__lead", datediff(col("__ship"), col("__ord")).cast("long"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_lines"),
        (round(sum("__lead") * 100 / count(lit(1)), 0) / 100.0)
          .as("avg_lead_days"),
        max("__lead").as("max_lead_days"))
      .orderBy("l_suppkey")

  /** Fuzzy duplicate-name pairs (the candidate-match step of entity
    * resolution): every DISTINCT-name pair within Levenshtein
    * distance `maxDist`, each unordered pair exactly once.
    *
    * Scale shape: (1) collapse the table to NAME grain first — the
    * entity vocabulary is orders of magnitude smaller than the rows
    * mentioning it, and the distinct is a map-side-combined hash
    * aggregate; (2) LOSSLESS length-band blocking: |len(a) − len(b)|
    * ≤ editDist(a, b) always (each edit changes length by at most 1),
    * so an equi-join on length keys drops no true pair and no
    * cartesian ever forms. Each name fans out to the maxDist+1
    * lengths of the equal-or-longer partners it could match; the
    * build side keys on its own length; the off==0 band breaks ties
    * lexicographically — so every unordered pair is produced by
    * exactly one (probe, build) orientation and no distinct pass is
    * needed. The verify uses Spark's THRESHOLDED levenshtein (early
    * abandon at maxDist+1: O(maxDist·n) per pair, not O(n²)).
    *
    * Hot-band guard: length alone is a LOW-cardinality key (natural
    * names concentrate on a few lengths — at web scale "every name of
    * length 12" is one giant band), so a second lossless axis divides
    * it: the count of characters in a fixed alphabet half (a–m /
    * A–M). Every single edit changes that count by at most 1,
    * so \|cnt(a) − cnt(b)\| ≤ editDist(a, b) — same pigeonhole as the
    * length axis — and blocking on (length, count) drops no true pair
    * while splitting each length band ~by the count spread. The
    * canonical orientation generalizes lexicographically: the probe
    * side expands only toward (len, cnt, name) tuples ≥ its own, so
    * each unordered pair still materializes exactly once. For
    * web-scale vocabularies compose a rare-ngram candidate cut (the
    * [[Dedup.ngramJaccard]] df-cut pattern) in front of the verify.
    */
  def fuzzyNamePairs(df: DataFrame, nameCol: String,
                     maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    // the distinct-name frame feeds both join sides; pin it so the
    // corpus scan + distinct run once, not once per side
    val names = df.select(col(nameCol).as("name"))
      .filter(col("name").isNotNull).distinct()
      .transform(graft.core.Pin.pin(_, eager = false))
    // case handled by the character class, NOT lower(): Unicode
    // lowercasing can map one char to two (İ → i̇), which would break
    // the per-edit ≤1 count-change bound the blocking's losslessness
    // rests on
    def grpCnt(c: Column): Column =
      length(regexp_replace(c, "[^a-mA-M]", ""))
    // probe fan-out: toward equal-or-larger (len, cnt) only — off==0
    // restricts the cnt offset to 0..t, off>0 allows the full ±t
    val offs = (0 to maxDist).flatMap { o =>
      (if (o == 0) 0 to maxDist else -maxDist to maxDist).map(o2 => (o, o2))
    }
    val offDf = names.sparkSession.createDataFrame(offs).toDF("off", "off2")
    val probe = names.crossJoin(broadcast(offDf))
      .select(col("name").as("name_l"), col("off"), col("off2"),
        (length(col("name")) + col("off")).as("klen"),
        (grpCnt(col("name")) + col("off2")).as("kcnt"))
    val build = names.select(col("name").as("name_r"),
      length(col("name")).as("klen"), grpCnt(col("name")).as("kcnt"))
    val dist = levenshtein(col("name_l"), col("name_r"), maxDist)
    probe.join(build, Seq("klen", "kcnt"))
      .filter(col("off") > 0 || col("off2") > 0 || col("name_l") < col("name_r"))
      .filter(dist >= 0)
      .select(least(col("name_l"), col("name_r")).as("name_a"),
        greatest(col("name_l"), col("name_r")).as("name_b"),
        dist.cast("long").as("dist"))
  }

  /** Entity resolution end-to-end: names within `maxDist` edits of
    * each other (transitively) collapse to one canonical entity id —
    * [[fuzzyNamePairs]] edges fed through
    * [[Corpus.connectedComponents]] over min-row-key node ids, then
    * every DISTINCT name labeled with its component's minimum key
    * (singletons label themselves). Returns (name, entity_id,
    * canonical) where `canonical` is the entity's minimum-key name —
    * join it back to the source table to rewrite mentions. The graph
    * is pair-sized (≪ corpus); components resolve with the
    * size-adaptive union-find.
    */
  def resolveEntities(df: DataFrame, nameCol: String, keyCol: String,
                      maxDist: Int = 2): DataFrame = {
    val ids = df.groupBy(col(nameCol).as("name"))
      .agg(min(col(keyCol)).as("nid"))
      .filter(col("name").isNotNull)
    val pairs = fuzzyNamePairs(df, nameCol, maxDist)
      .join(ids.select(col("name").as("name_a"), col("nid").as("id_a")), "name_a")
      .join(ids.select(col("name").as("name_b"), col("nid").as("id_b")), "name_b")
    val comp = Corpus.connectedComponents(pairs, "id_a", "id_b")
      .select(col("doc_id").as("nid"), col("component_id"))
    val labeled = ids.join(comp, Seq("nid"), "left")
      .select(col("name"), col("nid"),
        coalesce(col("component_id"), col("nid")).as("entity_id"))
    val canon = labeled.groupBy(col("entity_id"))
      .agg(min(struct(col("nid"), col("name"))).as("__c"))
      .select(col("entity_id"), col("__c.name").as("canonical"))
    labeled.join(canon, "entity_id")
      .select("name", "entity_id", "canonical")
  }
}
