package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic N× scale-up of a driver testdata directory — the
  * local stand-in for a larger scale factor (the driver generates
  * sf ≤ 0.1; the scale claims in SURVEY deserve at least one run
  * against data big enough to trigger AQE skew handling, sketch-path
  * defaults, and spill).
  *
  * Each fact-side table is replicated `factor`× in ONE scan
  * (crossJoin with a tiny replica range) with every key column
  * offset by `replica × 10^8`, so foreign keys stay consistent
  * WITHIN a replica and replicas never collide. The fixed dimensions
  * (region, nation) are copied verbatim — TPC-H semantics: dims
  * don't scale — and fact rows keep their original nation keys, so
  * dimension joins fan exactly as before. Dates/timestamps are kept
  * verbatim: a date at sf1 carries ~10× the rows, which is precisely
  * the per-key-depth growth a real scale-up produces.
  *
  * Text/name/vector payloads get a tiny per-replica perturbation
  * (prefix token / name suffix / ε on one component) so EXACT
  * duplicate detection isn't trivially saturated by the replication
  * itself, while near-dup operators see realistic heavy duplication
  * (each replica group IS a near-dup cluster — the hard case a
  * 100 TB corpus actually presents).
  *
  * Everything is a pure column expression over the source scan —
  * deterministic, re-runnable, no RNG.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.GraftSession()
    // scale shuffle width with the OUTPUT size: the source dir is the
    // small corpus, so probe it and multiply by the replication factor
    // (VERDICT r12 #3 — a constant 32 at factor-100 output starved the
    // sf10 writes). No fallback: a failed probe would size the output at
    // the core-count floor, the JVM-death mode Tuning is loud about.
    val srcRows = spark.read.parquet(s"$src/lineitem.parquet").count()
    val shufP = graft.core.Tuning.shufflePartitions(
      srcRows * factor, spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", shufP.toString)
    System.err.println(s"[scaleup] shuffle partitions: $shufP")

    val K = 100000000L // per-replica key offset; far above any sf0.1 key

    def table(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    /** Replicate with per-column rewrite rules; unlisted columns pass
      * through verbatim. One scan, `factor`× output, types preserved.
      */
    def replicate(df: DataFrame, rules: Map[String, Column => Column]): DataFrame = {
      val reps = spark.range(factor).select(col("id").as("__rep"))
      val cols = df.columns.map { c =>
        rules.get(c).map(f => f(col(c)).as(c)).getOrElse(col(c))
      }
      df.crossJoin(broadcast(reps)).select(cols.toIndexedSeq: _*)
    }

    val rep = col("__rep")
    /** Key offset preserving the column's original integer type. */
    def off(c: Column) = (c.cast("long") + rep * K).cast("long")
    /** Name/text perturbation: replica 0 verbatim (the original data
      * survives byte-identical), others tagged.
      */
    def tagName(c: Column) = when(rep === 0, c)
      .otherwise(concat(c, lit(" r"), rep.cast("string")))
    def tagText(c: Column) = when(rep === 0, c)
      .otherwise(concat(lit("r"), rep.cast("string"), lit(" "), c))

    /** Planted rare-shingle PAIR family (round 11): at factor ≥ 100
      * every replica clique has 100 members, so each clique shingle's
      * df blows past ngramJaccard's maxDf cut and the four pairwise
      * near-dup queries (ngram_jaccard / dedup_containment /
      * dedup_cluster / dedup_cluster_best) go validly EMPTY at sf10 —
      * green-but-vacuous evidence. Plant `nPairs` doc PAIRS per
      * replica (rep > 0) whose token material embeds the pair's own
      * uid: every shingle has df = 2 — far under any df cut at any
      * factor — so the pair family survives 100× replication and those
      * rows are non-trivially exercised. Members share tokens 0..10 of
      * 12 (jaccard 9/11 ≈ 0.82 ≥ 0.6, containment 0.9 ≥ 0.8). ids sit
      * at PairBase = 10^7 inside the replica's id block — disjoint
      * from every offset real id (driver doc ids < 10^4) and from
      * other replicas; different-replica members carry different uids,
      * so they neither pair across replicas nor perturb the
      * same-residue planted-clique ground truth LshScale verifies.
      * factor = 1 plants nothing (passthrough stays byte-identical).
      */
    def plantedPairDocs(): DataFrame = {
      val PairBase = 10000000L
      val nPairs = 20
      val base = spark.range(nPairs).select(col("id").as("__pair"))
        .crossJoin(broadcast(
          spark.range(1, factor.toLong).select(col("id").as("__rep"))))
        .select((col("__rep") * K + PairBase + col("__pair") * 2).as("pair_a"))
        .select(col("pair_a"), explode(array(lit(0L), lit(1L))).as("m"))
      val uid = concat(lit("u"), col("pair_a").cast("string"))
      val toks = (0 until 11).map(j => concat(uid, lit(s"t$j"))) :+
        when(col("m") === 0L, concat(uid, lit("t11")))
          .otherwise(concat(uid, lit("alt")))
      val text = concat_ws(" ", toks: _*)
      base.select(
        (col("pair_a") + col("m")).as("doc_id"), text.as("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(text).cast("long").as("n_chars"))
    }

    val plans: Seq[(String, DataFrame)] = Seq(
      "region" -> table("region"),
      "nation" -> table("nation"),
      "customer" -> replicate(table("customer"), Map(
        "c_custkey" -> off, "c_name" -> tagName)),
      "supplier" -> replicate(table("supplier"), Map(
        "s_suppkey" -> off, "s_name" -> tagName)),
      "part" -> replicate(table("part"), Map(
        "p_partkey" -> off, "p_name" -> tagName)),
      "orders" -> replicate(table("orders"), Map(
        "o_orderkey" -> off, "o_custkey" -> off)),
      "lineitem" -> replicate(table("lineitem"), Map(
        "l_orderkey" -> off, "l_partkey" -> off, "l_suppkey" -> off)),
      "events" -> replicate(table("events"), Map(
        "event_id" -> off, "user_id" -> off)),
      "documents" -> replicate(table("documents"), Map(
        "doc_id" -> off, "text" -> tagText))
        .unionByName(plantedPairDocs()),
      // ε on component 0 keeps replicas near-parallel (cos ≈ 1-ε²/2):
      // semantic dedup sees them as the near-dup clusters they are,
      // while exact float equality no longer holds
      "embeddings" -> replicate(table("embeddings"), Map(
        "vec_id" -> off,
        "embedding" -> (c => when(rep === 0, c).otherwise(
          transform(c, (x, i) =>
            when(i === 0, x + rep.cast("float") * lit(0.001f))
              .otherwise(x).cast("float")))))))

    // Output layout IS scan parallelism (found the hard way in r14):
    // the old coalesce(8) collapsed to the SOURCE's 1-2 partitions, so
    // sf10syn shipped 60M-row lineitem in 7 row groups and 10M-row
    // events in ONE — and a parquet scan cannot split inside a row
    // group, so every sf10 lineitem query ran 7-way and every events
    // query SINGLE-threaded on a 32-core host, silently inflating the
    // whole measured sf10 surface (fact_build's map stage alone: 341 s
    // at 7-way where the same work is ~75 s at 32-way). No production
    // warehouse ships 700 MB row groups; write rows-proportional files
    // (~TargetRowsPerPartition rows each, floor 8 so small text/vector
    // tables keep at least host-order scan-parallelism, cap 256)
    // instead. Fixed dims stay single-file. Row CONTENT is unchanged
    // and deterministic; only row-to-file assignment (round-robin,
    // with Spark's deterministic local sort) differs from the old
    // layout.
    plans.foreach { case (name, df) =>
      val fixedDim = name == "region" || name == "nation"
      val outDf = if (fixedDim) df.coalesce(1) else {
        // source count is parquet-footer-only (no data scan). The
        // estimate assumes pure factor-× replication; the documents
        // plan also unions a small planted-pair family, so it slightly
        // underestimates there — harmless, the count only drives file
        // layout, never content (ADVICE r14).
        val outRows = table(name).count() * factor
        val parts = math.min(256L, math.max(8L,
          outRows / graft.core.Tuning.TargetRowsPerPartition)).toInt
        df.repartition(parts)
      }
      outDf.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scaleup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    spark.stop()
  }
}
