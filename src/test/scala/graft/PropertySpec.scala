package graft

import graft.etl.StarSchema
import graft.operators.{AsOfJoin, Corpus, RangeJoin}
import graft.plans.GlobalPrefixExec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, max, row_number, sum, when}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}
import scala.util.Random

/** Randomized equivalence: the scale-shaped operators must produce the
  * SAME results as brute-force reference implementations on arbitrary
  * inputs — not just the hand-picked spec cases. Fixed seeds keep every
  * trial reproducible.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** The global prefix properties run over 5 uncoalesced range
    * partitions, so the per-partition offsets really cross partitions.
    */
  private def spread[T](body: => T): T =
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "5")(body)

  /** Unique keys `k` (long, or string when `strings`) with one NULL key,
    * and int values `v` with about one NULL in six.
    */
  private def keyed(rnd: Random, strings: Boolean): DataFrame = {
    val n = 1 + rnd.nextInt(200)
    val keys: Seq[Option[Any]] = None +: (
      if (strings) List.fill(n)(Some(rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString))
      else List.fill(n)(Some(rnd.nextLong() % 1000000))).distinct
    val rows = keys.map(k => Row(k.orNull,
      if (rnd.nextInt(6) == 0) null else Integer.valueOf(rnd.nextInt(2001) - 1000)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("k", if (strings) StringType else LongType),
      StructField("v", IntegerType))))
  }

  /** Same rows, NULLs equal; returns the sizes of the node's input
    * partitions, read back from its executed child.
    */
  private def sameAsTwin(got: DataFrame, twin: DataFrame): Seq[Long] = {
    assert(got.exceptAll(twin).isEmpty && twin.exceptAll(got).isEmpty,
      s"\n${got.orderBy("k").collect().toSeq}\n${twin.orderBy("k").collect().toSeq}")
    got.collect()
    val node = new AdaptiveSparkPlanHelper {}.collectFirst(
      got.queryExecution.executedPlan) { case g: GlobalPrefixExec => g }
    node.get.child.execute().mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq
  }

  private val byK = Window.orderBy("k")
  private def rankTwin(df: DataFrame): DataFrame =
    df.withColumn("rank", row_number().over(byK).cast("long"))
  private def sumTwin(df: DataFrame): DataFrame =
    df.withColumn("cum", sum("v").over(byK.rowsBetween(
      Window.unboundedPreceding, Window.currentRow)).cast("long"))
  private def maxTwin(df: DataFrame): DataFrame =
    df.withColumn("prev", max("v").over(byK.rowsBetween(Window.unboundedPreceding, -1)))

  /** Trials over random inputs; at least one crosses 3 non-empty partitions. */
  private def trials(seed: Int, strings: Boolean)(check: DataFrame => Seq[Long]): Unit = spread {
    val rnd = new Random(seed)
    val spreads = (1 to 8).map(_ => check(keyed(rnd, strings)).count(_ > 0))
    assert(spreads.max >= 3, s"non-empty input partitions per trial: $spreads")
  }

  test("globalRank == unpartitioned ROW_NUMBER for arbitrary numeric keys") {
    trials(101, strings = false)(df =>
      sameAsTwin(StarSchema.globalRank(df, Seq("k"), "rank"), rankTwin(df)))
  }

  test("globalRank == unpartitioned ROW_NUMBER for arbitrary string keys") {
    trials(202, strings = true)(df =>
      sameAsTwin(StarSchema.globalRank(df, Seq("k"), "rank"), rankTwin(df)))
  }

  test("globalPrefixSum == the windowed running sum, numeric and string keys") {
    for (strings <- Seq(false, true)) trials(505, strings)(df =>
      sameAsTwin(StarSchema.globalPrefixSum(df, Seq("k"), "v", "cum"), sumTwin(df)))
  }

  test("globalPrefixMax == the windowed prior max, numeric and string keys") {
    for (strings <- Seq(false, true)) trials(606, strings)(df =>
      sameAsTwin(StarSchema.globalPrefixMax(df, Seq("k"), "v", "prev"), maxTwin(df)))
  }

  test("global prefix offsets cross empty input partitions") {
    // 12 ids in 16 slices: the range already arrives range-partitioned
    // and sorted on k, so the node reads its slices as they are, four
    // of them empty
    val df = spark.range(0, 12, 1, 16).select(col("id").as("k"),
      when(col("id") % 4 =!= 1, (col("id") * 7919 % 13 - 6).cast("int")).as("v"))
    spread {
      val sizes = Seq(
        sameAsTwin(StarSchema.globalRank(df, Seq("k"), "rank"), rankTwin(df)),
        sameAsTwin(StarSchema.globalPrefixSum(df, Seq("k"), "v", "cum"), sumTwin(df)),
        sameAsTwin(StarSchema.globalPrefixMax(df, Seq("k"), "v", "prev"), maxTwin(df)))
      sizes.foreach(s => assert(s.indexOf(0L) >= 0 &&
        s.indexOf(0L) < s.lastIndexWhere(_ > 0), s"no interior empty slice: $s"))
    }
  }

  test("asof backward == brute-force latest-at-or-before scan") {
    val rnd = new Random(303)
    for (trial <- 1 to 8) {
      val ls = List.fill(1 + rnd.nextInt(60))(
        (rnd.nextInt(4) + 1L, rnd.nextInt(50).toLong))
      val rs = List.fill(rnd.nextInt(60))(
        (rnd.nextInt(4) + 1L, rnd.nextInt(50).toLong, rnd.nextInt(99) + 1.0))
      val left = ls.zipWithIndex.map { case ((u, t), i) => (i.toLong, u, t) }
        .toDF("event_id", "user_id", "us")
      val right = rs.zipWithIndex.map { case ((u, t, v), i) => (i.toLong, u, t, v) }
        .toDF("event_id", "user_id", "us", "value")
      val got = AsOfJoin.backward(left, right, Seq("user_id"), "us", "us",
        Seq("value"), "event_id", "p_")
        .select("event_id", "p_us", "p_value").collect()
        .map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[Any]("p_us")).map(_ =>
            (r.getAs[Long]("p_us"), r.getAs[Double]("p_value"))))
        .toMap
      val indexed = rs.zipWithIndex.map { case ((u, t, v), i) => (i.toLong, u, t, v) }
      val want = ls.zipWithIndex.map { case ((u, t), i) =>
        val cands = indexed.filter(r => r._2 == u && r._3 <= t)
        i.toLong -> (if (cands.isEmpty) None
        else Some(cands.maxBy(r => (r._3, r._1))).map(b => (b._3, b._4)))
      }.toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("bucketed range join == brute-force BETWEEN for arbitrary ranges") {
    val rnd = new Random(404)
    for (trial <- 1 to 8) {
      val ps = List.fill(1 + rnd.nextInt(80))(rnd.nextDouble() * 150 - 60)
      val rgs = List.fill(1 + rnd.nextInt(12)) {
        val lo = rnd.nextDouble() * 100 - 50
        (lo, lo + rnd.nextDouble() * 30)
      }
      val facts = ps.toDF("v")
      val ranges = rgs.zipWithIndex
        .map { case ((lo, hi), i) => (i.toLong, lo, hi) }.toDF("tier", "lo", "hi")
      val got = RangeJoin.pointInRange(facts, "v", ranges, "lo", "hi", 10.0)
        .select("v", "tier").as[(Double, Long)].collect().sorted.toSeq
      val want = (for {
        v <- ps
        ((lo, hi), i) <- rgs.zipWithIndex if v >= lo && v <= hi
      } yield (v, i.toLong)).sorted
      assert(got == want, s"trial $trial")
    }
  }

  test("simhash blocking finds EVERY pair within the Hamming radius") {
    // pigeonhole completeness: 4 blocks cover Hamming <= 3 exactly —
    // compare against brute-force over the signatures themselves
    val rnd = new Random(606)
    for (trial <- 1 to 3) {
      val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
        "zeta", "eta", "theta", "iota", "kappa")
      val docs = (1L to 40L).map { i =>
        (i, Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val sigs = docs.select(col("doc_id"),
        graft.functions.GraftFunctions.simhash64(col("text")).as("sig"))
        .as[(Long, Long)].collect().toMap
      val want = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
      } yield (a, b)).toSet
      val got = graft.operators.Dedup.simhash(docs)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got == want, s"trial $trial: missing ${want -- got}, extra ${got -- want}")
    }
  }

  test("minhash LSH finds every near-identical pair (recall at s≈0.97)") {
    // one-token edits of 40-token docs: band-collision miss probability
    // is ~3e-8 per pair at 8 bands × 4 rows — deterministic in practice
    val rnd = new Random(707)
    for (trial <- 1 to 3) {
      val docs = (0 until 10).flatMap { g =>
        val base = Seq.fill(40)("w" + (rnd.nextInt(500) + g * 1000)).mkString(" ")
        val edited = base.split(" ").zipWithIndex
          .map { case (w, i) => if (i == 39) "EDIT" + g else w }.mkString(" ")
        Seq((g * 2L, base), (g * 2L + 1, edited))
      }.toDF("doc_id", "text")
      val got = graft.operators.Dedup.minhashLsh(docs)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val wantPairs = (0 until 10).map(g => (g * 2L, g * 2L + 1))
      wantPairs.foreach { p =>
        assert(got.contains(p), s"trial $trial: LSH missed near-dup pair $p")
      }
    }
  }

  test("connectedComponents == union-find on arbitrary graphs") {
    val rnd = new Random(505)
    for (trial <- 1 to 5) {
      val edges = List.fill(1 + rnd.nextInt(40)) {
        val a = rnd.nextInt(30) + 1L
        var b = rnd.nextInt(30) + 1L
        while (b == a) b = rnd.nextInt(30) + 1L
        (a, b)
      }
      // odd trials force the distributed pointer-jumping loop, even
      // trials take the default (union-find fast path) — BOTH paths
      // must match the reference on every graph
      val threshold = if (trial % 2 == 1) 0L else 2000000L
      val got = Corpus.connectedComponents(
        edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b",
        localThreshold = threshold)
        .as[(Long, Long)].collect().toMap
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.groupBy(find).flatMap { case (_, members) =>
        val m = members.min; members.map(_ -> m)
      }
      assert(got == want, s"trial $trial")
    }
  }

  test("avalanche mixer is a bijection with balanced output bits") {
    import graft.functions.SimHash64
    val rnd = new Random(707)
    val inputs = Array.fill(200000)(math.abs(rnd.nextLong()) % SimHash64.Mod)
    val mixed = inputs.map(SimHash64.mix(_, 16, 13, 16))
    // bijective per construction → zero NEW collisions beyond input dups
    assert(mixed.distinct.length == inputs.distinct.length)
    // every output bit near 50% — the property the quadratic finalizer
    // failed (quadratic residues + 2-to-1 folding skew the bits)
    for (b <- 0 until 31) {
      val ones = mixed.count(h => ((h >>> b) & 1L) == 1L).toDouble / mixed.length
      assert(math.abs(ones - 0.5) < 0.01, s"bit $b biased: $ones")
    }
    // small inputs (the short-token case) spread over the full range
    val small = (0L until 256L).map(SimHash64.mix(_, 16, 13, 16))
    assert(small.count(_ > SimHash64.Mod / 2) > 80,
      "small inputs not spread across the range")
  }

  test("funnel == brute-force ordered-stage scan on arbitrary event streams") {
    val rnd = new Random(909)
    for (trial <- 1 to 6) {
      val types = Seq("signup", "click", "purchase", "view")
      val evs = (1 to 200 + rnd.nextInt(200)).map { i =>
        (i.toLong, rnd.nextInt(12).toLong, types(rnd.nextInt(types.length)),
          new java.sql.Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L),
          1.0)
      }
      val df = evs.toDF("event_id", "user_id", "event_type", "ts", "value")
      val r = graft.operators.Sessionize.funnel(df).head()
      // brute force: per user, one ordered walk — a stage flag flips
      // once its predecessor has flipped at-or-before this row (the
      // running-min window semantics, one type per row)
      val want = evs.groupBy(_._2).values.map { rows =>
        var s, c, p = false
        rows.sortBy(e => (e._4.getTime, e._1)).foreach { e =>
          if (e._3 == "signup") s = true
          if (e._3 == "click" && s) c = true
          if (e._3 == "purchase" && c) p = true
        }
        (s, c, p)
      }.toSeq
      assert(r.getAs[Long]("n_users") == want.length.toLong, s"trial $trial users")
      assert(r.getAs[Long]("n_signup") == want.count(_._1).toLong, s"trial $trial signup")
      assert(r.getAs[Long]("n_click_after_signup") == want.count(_._2).toLong,
        s"trial $trial click")
      assert(r.getAs[Long]("n_purchase_after_click") == want.count(_._3).toLong,
        s"trial $trial purchase")
    }
  }

  test("shardPack == single-window prefix packing on arbitrary corpora") {
    val rnd = new Random(1010)
    for (trial <- 1 to 5) {
      val docs = (1 to 100 + rnd.nextInt(300)).map { i =>
        (i.toLong, List.fill(1 + rnd.nextInt(30))("w").mkString(" "))
      }
      val budget = 16L + rnd.nextInt(64)
      val got = graft.operators.Sampling
        .shardPack(docs.toDF("doc_id", "text"), budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      var cum = 0L
      val shardOf = docs.map { case (_, text) =>
        val nt = text.split(" ", -1).length.toLong
        val shard = cum / budget; cum += nt; (shard, nt)
      }
      val want = shardOf.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (s, g) => (s, g.size.toLong, g.map(_._2).sum) }
      assert(got == want, s"trial $trial budget $budget")
    }
  }

  test("minhash signature match-rate estimates true Jaccard (universal family)") {
    import graft.functions.MinHashSig
    val rnd = new Random(808)
    for (trial <- 1 to 5) {
      // two token sets with controlled overlap, realistic word shapes
      val shared = List.fill(30 + rnd.nextInt(40))(
        rnd.alphanumeric.take(3 + rnd.nextInt(6)).mkString)
      def own = List.fill(10 + rnd.nextInt(30))(
        rnd.alphanumeric.take(3 + rnd.nextInt(6)).mkString)
      val (a, b) = ((shared ++ own).distinct, (shared ++ own).distinct)
      val docA = a.mkString(" ")
      val docB = b.mkString(" ")
      val k = 128
      val sigA = MinHashSig.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(docA), 1, k)
      val sigB = MinHashSig.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(docB), 1, k)
      val matches = (0 until k).count(i => sigA.getInt(i) == sigB.getInt(i))
      val est = matches.toDouble / k
      val sa = a.toSet; val sb = b.toSet
      val truth = sa.intersect(sb).size.toDouble / sa.union(sb).size
      // k=128 → σ = sqrt(J(1-J)/k) ≤ 0.045; allow 3.5σ
      assert(math.abs(est - truth) <= 0.16,
        s"trial $trial: minhash est $est vs true jaccard $truth")
    }
  }

  test("PII scrub is idempotent and leaves no matchable pattern on arbitrary text") {
    import graft.operators.Redact
    val rnd = new Random(909)
    val piiBits = Seq("a.b+x@mail-host.co.uk", "10.20.30.40", "+14155550137",
      "415-555-0199", "+44 20 7183 8750", "bob@ex.io")
    val fillers = Seq("hello", "v1.2.3", "2024-01-01", "12345", "x" * 10,
      "(note)", "a+b=c", "@", "+", "...", "the end.")
    val docs = (1 to 60).map { i =>
      val parts = List.fill(3 + rnd.nextInt(10))(
        if (rnd.nextBoolean()) piiBits(rnd.nextInt(piiBits.size))
        else fillers(rnd.nextInt(fillers.size)))
      (i.toLong, parts.mkString(" "))
    }.toDF("doc_id", "text")
    val once = Redact.scrub(docs).cache()
    val twice = Redact.scrub(once)
    // fixed point after one pass: same text, zero residual matches
    assert(twice.select("doc_id", "text").collect().toSeq
      == once.select("doc_id", "text").collect().toSeq)
    assert(twice.filter(col("n_emails") + col("n_ips") + col("n_phones") > 0)
      .count() == 0)
    // and the scrub actually fired: every PII bit occurrence became a
    // sentinel — zero residual matches of any redaction pattern
    assert(once.filter(col("text").rlike(Redact.EmailRe)).count() == 0)
    assert(once.filter(col("text").rlike(Redact.Ipv4Re)).count() == 0)
    assert(once.filter(col("text").rlike(Redact.PhoneRe)).count() == 0)
    once.unpersist()
  }

  test("URL canonical form is a fixed point of normalizeUrl on arbitrary URLs") {
    import graft.operators.Redact
    val rnd = new Random(1010)
    val schemes = Seq("http", "HTTP", "https", "HTTPS")
    val hosts = Seq("Example.com", "sub.EX.org", "x.io")
    val ports = Seq("", ":80", ":443", ":8080")
    val paths = Seq("", "/", "/A/b", "/a%20b", "/index.html")
    val queries = Seq("", "?a=1", "?utm_source=x", "?b=2&utm_medium=m&a=1",
      "?ref=r&z=9", "?gclid=g", "?k")
    val frags = Seq("", "#top", "#a/b")
    val urls = (1 to 120).map { i =>
      (i.toLong, schemes(rnd.nextInt(schemes.size)) + "://" +
        hosts(rnd.nextInt(hosts.size)) + ports(rnd.nextInt(ports.size)) +
        paths(rnd.nextInt(paths.size)) + queries(rnd.nextInt(queries.size)) +
        frags(rnd.nextInt(frags.size)))
    }.toDF("id", "u")
    val got = urls.select(col("id"), Redact.normalizeUrl(col("u")).as("c1"))
      .withColumn("c2", Redact.normalizeUrl(col("c1")))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (c1, c2) = (r.getString(1), r.getString(2))
      assert(c1 != null, s"canonicalization nulled a well-formed URL: ${r}")
      assert(c1 == c2, s"not a fixed point: $c1 -> $c2")
    }
  }

  test("PQ encode: native == relational == brute-force argmin on arbitrary corpora") {
    import graft.operators.Similarity
    val rnd = new Random(1111)
    for (trial <- 1 to 5) {
      val dims = Seq(8, 16)(rnd.nextInt(2))
      val m = Seq(2, 4)(rnd.nextInt(2))
      val subDim = dims / m
      val k = 4 + rnd.nextInt(5)
      val n = k + rnd.nextInt(40)
      val vecs = (0 until n).map(i =>
        (i.toLong, Seq.fill(dims)(rnd.nextFloat() * 2f - 1f)))
      val corpus = vecs.toDF("vec_id", "embedding")
      val cb = Similarity.pqTrain(corpus, m = m, k = k, iters = 1, dims = dims)
      val rel = Similarity.pqEncode(corpus, cb, m = m, dims = dims)
      val nat = Similarity.pqEncodeNative(corpus, cb, m = m, k = k, dims = dims)
      val toMapOf = (df: org.apache.spark.sql.DataFrame) => df.collect()
        .map(r => r.getAs[Long]("vec_id") ->
          r.getAs[scala.collection.Seq[Int]]("codes").toList).toMap
      val relM = toMapOf(rel); val natM = toMapOf(nat)
      assert(relM == natM, s"trial $trial: native != relational")
      // brute-force reference with the exact same float semantics:
      // index-order double sums, (saa - 2*sab) + sbb, low-code ties
      val cents = cb.collect().map(r => (r.getAs[Int]("sub_id"),
        r.getAs[Int]("code")) ->
        r.getAs[scala.collection.Seq[Float]]("centroid").toArray).toMap
      val want = vecs.map { case (id, emb) =>
        id -> (0 until m).map { s =>
          val sub = emb.slice(s * subDim, (s + 1) * subDim)
          var saa = 0.0
          sub.foreach(x => saa += x.toDouble * x.toDouble)
          var best = -1; var bestD = Double.PositiveInfinity
          (0 until k).foreach { c =>
            cents.get((s, c)).foreach { cent =>
              var sab = 0.0; var sbb = 0.0
              var i = 0
              while (i < subDim) {
                sab += sub(i).toDouble * cent(i).toDouble
                sbb += cent(i).toDouble * cent(i).toDouble
                i += 1
              }
              val d2 = (saa - 2.0 * sab) + sbb
              if (d2 < bestD) { bestD = d2; best = c }
            }
          }
          best
        }.toList
      }.toMap
      assert(relM == want, s"trial $trial: relational != brute force")
    }
  }
}
