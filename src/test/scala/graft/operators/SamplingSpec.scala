package graft.operators

import graft.SparkSpec
import graft.core.Tables
import graft.etl.StarSchema
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables(spark, sf(), "documents")

  test("sourceQuota keeps exactly k docs per source with dense ranks") {
    val out = Sampling.sourceQuota(docs, k = 10).collect()
    val bySource = out.groupBy(_.getString(0))
    assert(bySource.size == 20)
    bySource.foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to 10L))
    }
  }

  test("samplers are invariant under repartitioning (content-keyed, not random)") {
    val shuffled = docs.repartition(7, col("text"))
    assert(Sampling.sourceQuota(docs).collect().toSeq ==
      Sampling.sourceQuota(shuffled).collect().toSeq)
    val rates = Map("src1" -> 0.5, "src2" -> 0.25)
    assert(Sampling.mixture(docs, rates).collect().toSeq ==
      Sampling.mixture(shuffled, rates).collect().toSeq)
  }

  test("mixture keeps everything at rate 1.0 and nothing at rate 0.0") {
    val n = docs.filter(col("source") === "src5").count()
    val all = Sampling.mixture(docs, Map.empty)
      .filter(col("source") === "src5").collect()
    assert(all.head.getLong(1) == n)
    val none = Sampling.mixture(docs, Map("src5" -> 0.0)).collect()
    assert(!none.exists(_.getString(0) == "src5"))
  }

  test("temperature: smallest source keeps all, rates flatten with size") {
    import spark.implicits._
    val skew = ((1 to 4).map(i => (i.toLong, s"tiny doc number $i", "small"))
      ++ (1 to 400).map(i => (100L + i, s"big corpus doc $i word", "large")))
      .toDF("doc_id", "text", "source")
    val out = Sampling.temperature(skew).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    val (nS, rateS, keptS) = out("small")
    assert(nS == 4L && rateS == 1.0 && keptS == 4L) // min source keeps all
    val (nL, rateL, keptL) = out("large")
    assert(nL == 400L && rateL == 0.1) // sqrt(4/400)
    // accepted fraction tracks the rate (content-hash uniform)
    assert(keptL > 20L && keptL < 60L, s"kept $keptL of 400 at rate 0.1")
  }

  test("shardPack conserves docs and tokens, shards are consecutive and bounded") {
    val budget = 4096L
    val out = Sampling.shardPack(docs, budget).collect()
    val shards = out.map(_.getLong(0)).toSeq
    assert(shards == (0L until shards.length).toSeq)
    val withTok = docs.select(TextAnalysis.nTokensExpr(col("text")).as("nt"))
    assert(out.map(_.getLong(1)).sum == docs.count())
    assert(out.map(_.getLong(2)).sum ==
      withTok.agg(sum("nt")).head.getLong(0))
    val maxDoc = withTok.agg(max("nt")).head.getLong(0)
    // a shard closes once it crosses the budget, so it can overshoot by
    // at most one document
    out.foreach(r => assert(r.getLong(2) < budget + maxDoc))
  }

  test("globalPrefixSum equals the unpartitioned running sum, any partition count") {
    val rnd = new scala.util.Random(42)
    import spark.implicits._
    val data = Seq.fill(500)((rnd.nextInt(100000), rnd.nextInt(50).toLong))
      .distinctBy(_._1).toDF("k", "v")
    val expected = data
      .withColumn("cum", sum("v").over(Window.orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("k").collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
    for (parts <- Seq(1, 7, 64)) withConf(
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> parts.toString) {
      val got = StarSchema.globalPrefixSum(data, Seq("k"), "v", "cum")
        .orderBy("k").collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
      assert(got == expected, s"partitions=$parts")
    }
  }

  test("temperature reports a sampled-to-zero source as n_kept = 0, not " +
       "a missing row") {
    // pick texts whose deterministic draws all exceed the source's
    // rate (sqrt(1/4) = 0.5), so every acceptance fails
    def draw(s: String): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) / 4294967296.0
    }
    val high = (1 to 1000).map(i => s"candidate doc number $i")
      .filter(t => draw(t) > 0.5).take(4)
    assert(high.size == 4)
    val rows: Seq[(String, String)] =
      high.toList.map(s => ("a", s)) :+ (("b", "the single tiny source doc"))
    val docs = rows.toDF("source", "text")
    val out = Sampling.temperature(docs).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("rate"),
          r.getAs[Long]("n_kept"))).toMap
    assert(out("a") == ((4L, 0.5, 0L)), s"zero-kept source misreported: $out")
    assert(out("b") == ((1L, 1.0, 1L)))
  }

  test("mixtureWeights: binding source gets the cap exactly, planned chars " +
       "realise the target shares, untargeted sources are excluded") {
    // chars: a=1000 b=4000 c=400 d=999999 (untargeted)
    val rows = Seq(
      ("a", 1000L), ("b", 4000L), ("c", 400L), ("d", 999999L))
      .flatMap { case (s, n) => Seq((s, "x", n / 2), (s, "y", n - n / 2)) }
    val docs = rows.toDF("source", "text", "n_chars")
    val targets = Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25)
    val out = Sampling.mixtureWeights(docs, targets, cap = 2.0).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("total_chars"), r.getAs[Double]("weight"),
          r.getAs[Double]("planned_chars"))).toMap
    assert(!out.contains("d"), s"untargeted source leaked into the mix: $out")
    // N* = min(2*1000/0.5, 2*4000/0.25, 2*400/0.25) = min(4000,32000,3200)
    // = 3200 — c binds at the cap; planned = N*·p
    assert(out("c") == ((400L, 2.0, 800.0)), s"binding source wrong: $out")
    assert(out("a") == ((1000L, 1.6, 1600.0)), s"a wrong: $out")
    assert(out("b") == ((4000L, 0.2, 800.0)), s"b wrong: $out")
    // realised shares are exactly the targets
    val planned = out.view.mapValues(_._3).toMap
    val total = planned.values.sum
    assert(targets.forall { case (s, p) => planned(s) / total == p },
      s"planned shares off-target: $planned")
  }

  test("solver → sampler loop closes: epoch-mixing with mixtureWeights' " +
       "weights realises the target shares on the real corpus") {
    val targets = Map("src0" -> 0.5, "src3" -> 0.25, "src7" -> 0.25)
    val solved = Sampling.mixtureWeights(docs, targets, cap = 4.0)
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Double]("weight")).toMap
    // epochMix defaults unlisted sources to weight 1.0 — restrict the
    // corpus to the mix first (the solver already excluded the rest)
    val mixDocs = docs.filter(col("source").isin(targets.keys.toSeq: _*))
    val realized = Sampling.epochMix(mixDocs, solved)
      .join(docs.select("doc_id", "source", "n_chars"), Seq("doc_id", "source"))
      .groupBy("source").agg(sum("n_chars").as("chars"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val total = realized.values.sum
    targets.foreach { case (s, p) =>
      val got = realized(s) / total
      // the integer-copy + hash-acceptance realization is stochastic
      // at the margin; 10% relative tolerance on a 25-doc source
      assert(math.abs(got - p) / p < 0.10,
        s"$s realised share $got vs target $p (all: $realized)")
    }
  }

  test("packTrainingMix: manifest conserves the mixed copies' tokens, " +
       "shards are consecutive, layout-independent") {
    val targets = Map("src0" -> 0.5, "src3" -> 0.5)
    val manifest = Sampling.packTrainingMix(docs, targets, cap = 2.0,
      budget = 2048L).collect()
    val shards = manifest.map(_.getLong(0)).toSeq
    assert(shards == (shards.min to shards.max), s"shard gaps: $shards")
    // conservation: manifest totals == the mix's own token count
    val weights = Sampling.mixtureWeights(docs, targets, 2.0)
      .select("source", "weight").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val expected = Sampling.epochMix(
        docs.filter(col("source").isin(targets.keys.toSeq: _*)), weights)
      .join(docs.select(col("doc_id"),
        graft.operators.TextAnalysis.nTokensExpr(col("text")).as("t")),
        "doc_id")
      .agg(sum("t")).head().getLong(0)
    assert(manifest.map(_.getLong(2)).sum == expected,
      "manifest lost or duplicated tokens")
    val re = Sampling.packTrainingMix(docs.repartition(7), targets,
      cap = 2.0, budget = 2048L).collect().toSeq
    assert(re.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      manifest.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }
}
