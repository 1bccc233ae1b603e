package graft.operators

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("exact dedup clusters identical texts, keeper = min doc_id") {
    val out = Dedup.exact(docs(
      1L -> "a b c", 2L -> "a b c", 3L -> "x y z")).collect()
    assert(out.length == 2)
    val cluster = out.find(_.getAs[Long]("n_dupes") == 2L).get
    assert(cluster.getAs[Long]("keeper_doc_id") == 1L)
  }

  test("ngramJaccard finds identical and near-identical docs only") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = (1 to 30).map(i => if (i == 30) "CHANGED" else s"w$i").mkString(" ")
    val out = Dedup.ngramJaccard(docs(
      1L -> base, 2L -> base, 3L -> near, 4L -> "totally different words here now"),
      minJaccard = 0.5).collect()
    val pairs = out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 2L))) // identical: jaccard 1.0
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // one-word edit
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    val j12 = out.find(r => r.getAs[Long]("doc_a") == 1L &&
      r.getAs[Long]("doc_b") == 2L).get.getAs[Double]("jaccard")
    assert(j12 == 1.0)
  }

  test("size-ratio candidate prune is exact: a pair AT the threshold " +
       "boundary survives, cross-size non-candidates vanish pre-aggregate") {
    // doc 2's 3-gram set is a strict subset of doc 1's: 30 tokens →
    // 28 grams vs 20 tokens → 18 grams, all shared ⇒
    // J = 18/28 ≈ 0.6429, size ratio 18/28 ≈ 0.6429 — with the
    // threshold AT the true J the ratio bound sits exactly on the
    // boundary (J == min/max here) and must keep the pair
    val big = (1 to 30).map(i => s"w$i").mkString(" ")
    val sub = (1 to 20).map(i => s"w$i").mkString(" ")
    val t = 18.0 / 28.0
    val out = Dedup.ngramJaccard(docs(1L -> big, 2L -> sub), minJaccard = t)
      .collect()
    assert(out.length == 1)
    assert(math.abs(out.head.getAs[Double]("jaccard") - t) < 1e-9)
    // same corpus, threshold a hair above the ratio: pair gone
    assert(Dedup.ngramJaccard(docs(1L -> big, 2L -> sub),
      minJaccard = t + 0.01).count() == 0)
  }

  test("ngramContainment catches subset duplication that Jaccard misses") {
    val fragment = (1 to 12).map(i => s"w$i").mkString(" ")
    val wrapper = ((1 to 12).map(i => s"w$i") ++
      (1 to 40).map(i => s"pad$i")).mkString(" ")
    val corpus = docs(1L -> fragment, 2L -> wrapper,
      3L -> "entirely unrelated content sits here")
    // Jaccard sees ~10/50 shared shingles: below any useful threshold
    assert(Dedup.ngramJaccard(corpus, minJaccard = 0.5).count() == 0)
    // containment sees the fragment fully inside the wrapper
    val out = Dedup.ngramContainment(corpus, minContainment = 0.8).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) == ((1L, 2L)))
    assert(r.getAs[Double]("containment_a") == 1.0) // fragment ⊂ wrapper
    assert(r.getAs[Double]("containment_b") < 0.5)  // direction is informative
  }

  test("minhashLsh finds high-jaccard pairs and verifies exactly") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok40", "other")
    val out = Dedup.minhashLsh(docs(
      10L -> base, 20L -> near, 30L -> "nothing in common at all whatsoever"))
      .collect()
    val pairs = out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs == Set((10L, 20L)))
    assert(out.head.getAs[Double]("jaccard") > 0.8)
  }

  test("dense-regime minhash (rows/band = 16, LSH_SCALE.md): planted 10-clique " +
       "fully recovered at the dedup threshold, unrelated docs never collide") {
    // the cluster-scale parameterization: 16 bands x 16 rows centers the
    // S-curve near j = (1/16)^(1/16) ~ 0.84 — high-jaccard near-dup
    // cliques (re-crawls, replicas) stay above it while weak pairs'
    // band-collision odds die as j^16
    val body = (1 to 100).map(i => s"tok$i").mkString(" ")
    val clique = (0 until 10).map(k => (100L + k) -> s"r$k $body")
    val noise = (0 until 50).map(k =>
      (500L + k) -> (1 to 40).map(i => s"n${k}x$i").mkString(" "))
    val corpus = docs(clique ++ noise: _*)
    val out = Dedup.minhashLsh(corpus, n = 3, numHashes = 256, bands = 16,
      minJaccard = 0.9).collect()
    val pairs = out.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val expected = (for { a <- 0 until 10; b <- a + 1 until 10 }
      yield (100L + a, 100L + b)).toSet
    assert(pairs == expected,
      s"planted-clique recall must be 1.0 at the wide setting: $pairs")
    // candidate density is clique-bound: every multi-occupancy LSH
    // bucket holds clique members only (the true-pair floor — no
    // corpus-driven candidate in the probe's verify join)
    val multi = Dedup.bandedBuckets(corpus, 3, 256, 16)
      .groupBy("band", "bucket")
      .agg(org.apache.spark.sql.functions.collect_set("doc_id").as("ids"))
      .filter(org.apache.spark.sql.functions.size($"ids") > 1)
      .collect()
    assert(multi.nonEmpty, "the clique must collide somewhere")
    multi.foreach { r =>
      val ids = r.getSeq[Long](r.fieldIndex("ids"))
      assert(ids.forall(id => id >= 100L && id < 110L),
        s"non-clique bucket collision: $ids")
    }
  }

  test("minhashIncremental probes the corpus, never re-dedups it") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearBase = base.replace("tok40", "other")
    val fresh = (1 to 40).map(i => s"new$i").mkString(" ")
    val nearFresh = fresh.replace("new40", "changed")
    val corpus = docs(1L -> base, 2L -> "some unrelated corpus text entirely")
    val batch = docs(
      10L -> nearBase, // near-dup of corpus doc 1 -> dropped
      20L -> fresh, // genuinely new -> kept
      30L -> nearFresh, // near-dup of batch keeper 20 -> dropped
      40L -> "another novel document nothing shares")
    val kept = Dedup.minhashIncremental(batch, corpus)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(20L, 40L))
    // corpus ids can never appear: the output is batch-only
    assert(kept.intersect(Set(1L, 2L)).isEmpty)
  }

  test("minhashIncremental agrees with a from-scratch union run") {
    val mk = (seed: Int) =>
      (1 to 35).map(i => s"s${seed}w$i").mkString(" ")
    val corpus = docs(1L -> mk(1), 2L -> mk(2), 3L -> mk(3))
    val batch = docs(
      11L -> mk(1).replace("s1w35", "x"), // near-dups corpus 1
      12L -> mk(9), // new
      13L -> mk(9).replace("s9w35", "y"), // near-dups batch 12
      14L -> mk(2), // identical to corpus 2
      15L -> mk(7))
    val kept = Dedup.minhashIncremental(batch, corpus)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // expectation from a full union re-dedup: a batch doc survives iff
    // it has no near-dup pair with a corpus doc or a lower batch id
    val union = Dedup.minhashLsh(corpus.union(batch)).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val batchIds = Set(11L, 12L, 13L, 14L, 15L)
    val expected = batchIds.filterNot(id => union.exists {
      case (a, b) => b == id && (a < 10L || batchIds.contains(a))
    })
    assert(kept == expected, s"kept $kept vs union-derived $expected")
  }

  test("minhashProbe: persisted index frames, no corpus-text column read, " +
       "row parity with the inline wrapper") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_probe").toString
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val fresh = (1 to 40).map(i => s"new$i").mkString(" ")
    val corpus = docs(1L -> base, 2L -> "some unrelated corpus text entirely")
    // persist the index the way a warehouse would — once, from text
    Dedup.bandedBuckets(corpus).write.parquet(s"$tmp/postings")
    Dedup.shingleTable(corpus).write.parquet(s"$tmp/shingles")
    val postings = spark.read.parquet(s"$tmp/postings")
    val shingles = spark.read.parquet(s"$tmp/shingles")
    val batch = docs(
      10L -> base.replace("tok40", "x"), // near-dup of indexed doc 1 -> drop
      20L -> fresh, // genuinely new -> keep
      30L -> fresh.replace("new40", "y"), // in-batch near-dup of 20 -> drop
      40L -> "another novel document nothing shares")
    val out = Dedup.minhashProbe(batch, postings, shingles)
    assert(out.collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(20L, 40L))
    // the probe plan's only FILE scans are the two index frames: every
    // ReadSchema must be index columns, never a corpus text column
    // (the batch's own text comes from the in-memory local scan)
    assertNoTextScan(out)
    // row parity with the text-rescanning convenience wrapper
    val viaWrapper = Dedup.minhashIncremental(batch, corpus)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(out.collect().map(_.getAs[Long]("doc_id")).toSeq == viaWrapper)
  }

  test("duplicateSpans merges adjacent duplicated grams into maximal spans, " +
       "ignores within-doc-only repeats") {
    // doc 1 tokens w1..w30 (positions 0..29); doc 2 embeds w5..w20
    // (doc-1 positions 4..19) at its own positions 3..18; doc 3 is
    // unrelated; doc 4 repeats ITS OWN 8-gram twice (1 distinct doc —
    // below minDocs, no span); doc 5 is too short for any 8-gram
    val d1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val d2 = ("x1 x2 x3 " + (5 to 20).map(i => s"w$i").mkString(" ") + " y1 y2")
    val d3 = (1 to 20).map(i => s"z$i").mkString(" ")
    val d4 = ((1 to 8).map(i => s"q$i") ++ (1 to 8).map(i => s"q$i")).mkString(" ")
    val d5 = "a b c"
    val out = Dedup.duplicateSpans(docs(1L -> d1, 2L -> d2, 3L -> d3,
      4L -> d4, 5L -> d5)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_tokens"),
        r.getAs[Long]("n_grams"))).toSeq
    // shared 16-token run ⇒ 9 consecutive duplicated 8-grams per doc,
    // one maximal span each: doc 1 tokens 4..19, doc 2 tokens 3..18
    assert(out == Seq((1L, 4L, 19L, 16L, 9L), (2L, 3L, 18L, 16L, 9L)),
      s"got $out")
  }

  test("duplicateSpans hot gram: boilerplate shared by 100 docs marks every " +
       "instance; a gram hot ONLY by within-doc repetition never does") {
    // the 100-TB failure shape in miniature: one 8-gram carried by
    // every doc (a licence header), plus one doc that repeats a
    // DIFFERENT 8-gram 50 times by itself — instance-count-hot but in
    // a single doc, so it must NOT be marked (min = max in the
    // dup-gram aggregate). Also pins that the gram-grain build path
    // and the per-doc island merge agree on a corpus whose gram df is
    // far above anything the oracle tables produce.
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    val hot = (1L to 100L).map(i => i -> s"u${i}x $boiler u${i}y")
    val selfRep = 200L ->
      Seq.fill(50)((1 to 8).map(i => s"s$i").mkString(" ")).mkString(" ")
    val out = Dedup.duplicateSpans(docs((hot :+ selfRep): _*)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"))).toSeq
    // each hot doc: exactly the boilerplate tokens 1..8; doc 200: nothing
    assert(out == (1L to 100L).map(i => (i, 1L, 8L)), s"got $out")
  }

  test("exciseSpans drops exactly the duplicated spans and keeps everything else") {
    val d1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val d2 = ("x1 x2 x3 " + (5 to 20).map(i => s"w$i").mkString(" ") + " y1 y2")
    val d3 = (1 to 20).map(i => s"z$i").mkString(" ")
    // doc 4 has NULL text: it must SURVIVE the excision (clean '',
    // 0 removed) — an exploded-to-zero-rows doc silently vanishing
    // from the output was the round-6 review's data-loss finding
    val out = Dedup.exciseSpans(
      docs(1L -> d1, 2L -> d2, 3L -> d3, 4L -> (null: String))).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("n_removed"))).toSeq
    val d1clean = ((1 to 4) ++ (21 to 30)).map(i => s"w$i").mkString(" ")
    assert(out == Seq(
      (1L, d1clean, 16L),
      (2L, "x1 x2 x3 y1 y2", 16L),
      (3L, d3, 0L),
      (4L, "", 0L)), s"got $out")
  }

  test("exciseSpans routes NULL-doc_id docs through untouched (and they " +
       "never contribute to span detection)") {
    val d1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val d2 = "x1 x2 x3 " + (5 to 20).map(i => s"w$i").mkString(" ") + " y1 y2"
    // the NULL-id doc ALSO carries the shared passage: it must neither
    // be excised itself (no dedup identity) nor be what makes the
    // passage "duplicated" (two real docs already share it)
    val df = Seq((Option(1L), d1), (Option(2L), d2),
      (None: Option[Long], "n1 " + (5 to 20).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.exciseSpans(df).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"))).toSeq
    val d1clean = ((1 to 4) ++ (21 to 30)).map(i => s"w$i").mkString(" ")
    assert(out.toSet == Set(
      (None, "n1 " + (5 to 20).map(i => s"w$i").mkString(" "), 0L),
      (Some(1L), d1clean, 16L),
      (Some(2L), "x1 x2 x3 y1 y2", 16L)), s"got $out")
  }

  test("exciseSpans counts overlapping-island coverage once (union, not span-width sum)") {
    // doc 1 = t0..t12; doc 2 duplicates its first 8-gram, doc 3 its
    // last — doc 1 gets TWO islands ({0} and {5}) whose token ranges
    // [0,7] and [5,12] overlap on 5..7. The removed count must be the
    // UNION (all 13 tokens), not the 16 a span-width sum reports.
    val a = (0 to 12).map(i => s"t$i").mkString(" ")
    val x = (0 to 7).map(i => s"t$i").mkString(" ")
    val y = (5 to 12).map(i => s"t$i").mkString(" ")
    val spans = Dedup.duplicateSpans(docs(1L -> a, 2L -> x, 3L -> y))
      .filter($"doc_id" === 1L).collect()
      .map(r => (r.getAs[Long]("span_start"), r.getAs[Long]("span_end"))).toSeq
    assert(spans == Seq((0L, 7L), (5L, 12L)), s"got $spans") // fixture sanity
    val out = Dedup.exciseSpans(docs(1L -> a, 2L -> x, 3L -> y)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("n_removed"))).toSeq
    assert(out == Seq((1L, "", 13L), (2L, "", 8L), (3L, "", 8L)), s"got $out")
  }

  test("duplicateSpansProbe against a gram index equals the union run " +
       "restricted to the batch") {
    val d1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val d3 = (1 to 20).map(i => s"z$i").mkString(" ")
    val fresh = (1 to 20).map(i => s"f$i").mkString(" ")
    val corpus = docs(1L -> d1, 2L -> d3)
    val batch = docs(
      10L -> ("x1 x2 x3 " + (5 to 20).map(i => s"w$i").mkString(" ") + " y1 y2"),
      11L -> ("pre " + fresh), // shares `fresh` with batch doc 12
      12L -> (fresh + " post"),
      13L -> (1 to 15).map(i => s"n$i").mkString(" "))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_tokens"),
        r.getAs[Long]("n_grams"))).toSeq
    val probe = rows(Dedup.duplicateSpansProbe(batch, Dedup.gramTable(corpus)))
    val union = rows(Dedup.duplicateSpans(corpus.union(batch))
      .filter($"doc_id" >= 10L))
    assert(probe == union, s"probe $probe vs union $union")
    // sanity on content: corpus-hit span in 10, batch-internal in 11+12,
    // nothing in 13
    assert(probe.map(_._1).toSet == Set(10L, 11L, 12L))
  }

  test("simhash: identical docs collide at hamming 0; disjoint docs do not pair") {
    val t = (1 to 50).map(i => s"word$i").mkString(" ")
    val out = Dedup.simhash(docs(1L -> t, 2L -> t,
      3L -> (51 to 120).map(i => s"zz$i").mkString(" "))).collect()
    val p = out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
      r.getAs[Int]("hamming"))).toSet
    assert(p.exists(x => x._1 == 1L && x._2 == 2L && x._3 == 0))
    assert(!p.exists(x => x._2 == 3L))
  }

  test("sourceProfile: per-source dup accounting") {
    val out = Dedup.sourceProfile(Seq(
      (1L, "aa", "web"), (2L, "aa", "web"), (3L, "aa", "web"),
      (4L, "bb", "web"),
      (5L, "cc", "books"), (6L, "dd", "books"))
      .toDF("doc_id", "text", "source")).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_unique"),
          r.getAs[Double]("dup_rate"))).toMap
    assert(out("web") == ((4L, 2L, 0.5)))
    assert(out("books") == ((2L, 2L, 0.0)))
  }

  test("degenerate hot bucket: one boilerplate doc duplicated 600x — the " +
       "hinted shuffled-hash self-joins survive and find every pair") {
    // VERDICT r15 watch item: every Banding self-join forces a shuffled
    // hash join, whose build side holds a whole (band, bucket) posting
    // list in one task's hash map. The degenerate corpus — one
    // boilerplate doc (or vector) duplicated D times — puts all D
    // postings of every band into ONE bucket, the worst case the
    // banding admits. The bound argument (see the Banding scaladoc) is
    // that build memory is O(D) while the join's unavoidable OUTPUT is
    // O(D²), so the build map can never be the binding constraint;
    // this pins the plan (hint engaged, not silently broadcast) and the
    // exact output at a D large enough that a per-bucket quadratic
    // blowup would be visible.
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    val d = 600L
    val boiler = (1 to 30).map(i => s"plate$i").mkString(" ")
    val dup = spark.range(d)
      .select(col("id").as("doc_id"), lit(boiler).as("text"))
    val expect = d * (d - 1) / 2

    val mh = Dedup.minhashLsh(dup)
    assert(mh.count() == expect)
    val mhPlan = mh.queryExecution.executedPlan.toString
    assert(mhPlan.contains("ShuffledHashJoin"),
      s"banded self-join must stay a shuffled hash join:\n$mhPlan")

    val sh = Dedup.simhash(dup)
    assert(sh.count() == expect)
    val shPlan = sh.queryExecution.executedPlan.toString
    assert(shPlan.contains("ShuffledHashJoin"),
      s"blocked self-join must stay a shuffled hash join:\n$shPlan")

    // the embedding-side callers at the gate's 8 bands: D identical
    // vectors share every band's bucket. nearDupPairs finds all
    // D·(D−1)/2 pairs; the kNN graph keeps exactly k of the D−1
    // equally-near neighbors each.
    val vecs = spark.range(d).select(col("id").as("vec_id"),
      typedLit((1 to 64).map(i => (i % 7 - 3).toFloat)).as("embedding"))
    val nd = Similarity.nearDupPairs(vecs, bands = 8)
    assert(nd.count() == expect)
    val ndPlan = nd.queryExecution.executedPlan.toString
    assert(ndPlan.contains("ShuffledHashJoin"),
      s"sign-LSH self-join must stay a shuffled hash join:\n$ndPlan")

    val k = 5
    val knn = Similarity.knnGraph(vecs, k, bands = 8)
    assert(knn.count() == d * k)
    val knnPlan = knn.queryExecution.executedPlan.toString
    assert(knnPlan.contains("ShuffledHashJoin"),
      s"kNN mining self-join must stay a shuffled hash join:\n$knnPlan")
  }

  test("exactProbe matches incremental's keeper/anti-join semantics on a " +
       "hash-only corpus frame") {
    val corpus = docs(1L -> "seen before", 2L -> "also seen")
    val batch = docs(10L -> "seen before", 11L -> "novel text",
      12L -> "novel text")
    val viaProbe = Dedup.exactProbe(batch,
      corpus.select(org.apache.spark.sql.functions.md5($"text")
        .as("content_hash")))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val viaIncremental = Dedup.incremental(batch, corpus)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(viaProbe == viaIncremental && viaProbe == Set(11L))
  }
}
