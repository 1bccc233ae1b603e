package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Banding, Dedup, Similarity, TextOps}

/** Dense-regime LSH measurement: executes the cluster-scale band
  * parameters the Scaladoc prescribes (MinHash rows/band ≥ 16,
  * sign-LSH r = 16) against a replica-scaled corpus and records what
  * the demo parameters (tuned for oracle replay, not density) cost at
  * the same scale — candidate volume, verified-pair volume, planted
  * 10-clique recall, and measured shuffle bytes vs the true-pair
  * floor. Produces the numbers behind LSH_SCALE.md.
  *
  * Usage: runMain graft.tools.LshScale <sfDir> [outJson]
  *
  * The corpus is expected to be a [[ScaleUp]] output (or raw driver
  * testdata): ScaleUp offsets ids by replica·10^8, so the planted
  * near-dup cliques are exactly the same-residue id groups — ground
  * truth is computable EXACTLY by verifying only same-residue pairs
  * (replicas·C(factor,2) pairs, linear in corpus, never corpus²).
  */
object LshScale {
  private val K = 100000000L // ScaleUp per-replica id offset

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = if (args.length > 1) args(1) else "target/lsh_scale.json"
    val spark = graft.core.GraftSession()
    val bytes = new graft.core.GraftSession.TaskBytes(spark)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val results = scala.collection.mutable.ArrayBuffer[String]()

    def jn(pairs: (String, Any)*): String =
      pairs.map { case (k, v) =>
        val vs = v match {
          case s: String => "\"" + s + "\""
          case d: Double => f"$d%.4f"
          case x => x.toString
        }
        s""""$k": $vs"""
      }.mkString("{", ", ", "}")

    // ---------- ground truth: planted same-residue cliques ----------
    // MinHash side: same-residue doc pairs verified with the EXACT
    // Jaccard the query itself uses — the planted-true set.
    val docSh = docs
      .select(col("doc_id"), TextOps.shingleHashes(col("text"), 3).as("sh"),
        pmod(col("doc_id"), lit(K)).as("base"))
      .localCheckpoint()
    val plantedDocs = docSh.as("a").join(docSh.as("b"),
        col("a.base") === col("b.base") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.functions.GraftFunctions.sortedArrayJaccard(
          col("a.sh"), col("b.sh")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .localCheckpoint()
    def nPlantedDocsAt(minJ: Double): Long =
      plantedDocs.filter(col("jaccard") >= minJ).count()
    val nPlantedDocs = nPlantedDocsAt(0.5)

    // sign-LSH side: same-residue vector pairs at the query's cosine
    val embBase = emb
      .select(col("vec_id"), col("embedding"), pmod(col("vec_id"), lit(K)).as("base"))
      .localCheckpoint()
    val plantedVecs = embBase.as("a").join(embBase.as("b"),
        col("a.base") === col("b.base") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= 0.35)
      .localCheckpoint()
    def nPlantedVecsAt(minC: Double): Long =
      plantedVecs.filter(col("cos") >= minC).count()
    val nPlantedVecs = nPlantedVecsAt(0.35)
    System.err.println(s"[lsh] planted true pairs: docs=$nPlantedDocs vecs=$nPlantedVecs")

    // ---------- MinHash configs ----------
    def minhashConfig(label: String, nh: Int, bands: Int,
                      minJ: Double = 0.5): Unit = {
      val rows = nh / bands
      val planted = nPlantedDocsAt(minJ)
      // candidate diagnostics from the postings alone: Σ C(occ,2) per
      // (band,bucket) = candidate-pair INSTANCES the self-join emits
      val banded = Dedup.bandedBuckets(docs, 3, nh, bands).localCheckpoint()
      val postingsRows = banded.count()
      val bucketPairs = banded.groupBy("band", "bucket").count()
        .agg(sum(expr("count*(count-1)/2")).cast("long")).head().getLong(0)
      val candidates = Banding.pairs(banded, Banding.BandBucket,
        "doc_id", "doc_a", "doc_b").count()
      // full query end-to-end, shuffle-measured
      val ((nFound, nPlantedFound), _, shufFull, secs) = bytes.measured {
        val f = Dedup.minhashLsh(docs, 3, nh, bands, minJ)
          .select(col("doc_a"), col("doc_b"),
            (pmod(col("doc_a"), lit(K)) === pmod(col("doc_b"), lit(K)))
              .cast("long").as("planted"))
          .agg(count(lit(1)), coalesce(sum("planted"), lit(0L))).head()
        (f.getLong(0), f.getLong(1))
      }
      val recall =
        if (planted == 0) 1.0 else nPlantedFound.toDouble / planted
      results += jn("machinery" -> "minhash", "config" -> label,
        "numHashes" -> nh, "bands" -> bands, "rowsPerBand" -> rows,
        "minJaccard" -> minJ,
        "postings_rows" -> postingsRows, "bucket_pair_instances" -> bucketPairs,
        "candidates_distinct" -> candidates, "pairs_found" -> nFound,
        "planted_true" -> planted, "planted_found" -> nPlantedFound,
        "planted_recall" -> recall, "shuffle_bytes" -> shufFull,
        "secs" -> secs)
      System.err.println(s"[lsh] minhash $label: cand=$candidates found=$nFound recall=$recall shuf=$shufFull (${secs}s)")
    }

    // ---------- sign-LSH configs ----------
    // `useDefault = true` measures the library DEFAULT call
    // (rowsPerBand omitted → Similarity.AutoWidth occupancy probe);
    // `r` is then only the width the rule is EXPECTED to pick, for
    // the postings-side diagnostics.
    def signConfig(label: String, bands: Int, r: Int,
                   minCos: Double = 0.35,
                   useDefault: Boolean = false): Unit = {
      val planted = nPlantedVecsAt(minCos)
      val banded = Similarity.embeddingPostings(emb, bands, r).localCheckpoint()
      val postingsRows = banded.count()
      val bucketPairs = banded.groupBy("band", "bucket").count()
        .agg(sum(expr("count*(count-1)/2")).cast("long")).head().getLong(0)
      val candidates = Banding.pairs(banded, Banding.BandBucket,
        "vec_id", "vec_a", "vec_b").count()
      val ((nFound, nPlantedFound), _, shufFull, secs) = bytes.measured {
        val f = (if (useDefault) Similarity.nearDupPairs(emb, minCos, bands)
                 else Similarity.nearDupPairs(emb, minCos, bands, r))
          .select(col("vec_a"), col("vec_b"),
            (pmod(col("vec_a"), lit(K)) === pmod(col("vec_b"), lit(K)))
              .cast("long").as("planted"))
          .agg(count(lit(1)), coalesce(sum("planted"), lit(0L))).head()
        (f.getLong(0), f.getLong(1))
      }
      val recall =
        if (planted == 0) 1.0 else nPlantedFound.toDouble / planted
      results += jn("machinery" -> "sign_lsh", "config" -> label,
        "bands" -> bands, "rowsPerBand" -> r, "minCosine" -> minCos,
        "postings_rows" -> postingsRows, "bucket_pair_instances" -> bucketPairs,
        "candidates_distinct" -> candidates, "pairs_found" -> nFound,
        "planted_true" -> planted, "planted_found" -> nPlantedFound,
        "planted_recall" -> recall, "shuffle_bytes" -> shufFull,
        "secs" -> secs)
      System.err.println(s"[lsh] sign $label: cand=$candidates found=$nFound recall=$recall shuf=$shufFull (${secs}s)")
    }

    // ---------- true-pair verify floor ----------
    // the shuffle a verify stage pays if candidates were EXACTLY the
    // true pairs — the lower bound any candidate generator competes
    // against (plus the postings exchange every LSH pays)
    def docFloor(): Unit = {
      val ((n, _), _, shuf, secs) = bytes.measured {
        val sh = docs.select(col("doc_id"),
          TextOps.shingleHashes(col("text"), 3).as("sh"))
        val f = plantedDocs
          .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
          .select(graft.functions.GraftFunctions.sortedArrayJaccard(
            col("sh_a"), col("sh_b")).as("j"))
          .filter(col("j") >= 0.5).count()
        (f, 0L)
      }
      results += jn("machinery" -> "minhash", "config" -> "verify_floor",
        "pairs_verified" -> n, "shuffle_bytes" -> shuf, "secs" -> secs)
      System.err.println(s"[lsh] doc verify floor: $n pairs shuf=$shuf (${secs}s)")
    }
    def vecFloor(): Unit = {
      val ((n, _), _, shuf, secs) = bytes.measured {
        val e = emb.select(col("vec_id"), col("embedding"))
        val f = plantedVecs
          .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
          .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
          .select(Similarity.cosine(col("emb_a"), col("emb_b")).as("c"))
          .filter(col("c") >= 0.35).count()
        (f, 0L)
      }
      results += jn("machinery" -> "sign_lsh", "config" -> "verify_floor",
        "pairs_verified" -> n, "shuffle_bytes" -> shuf, "secs" -> secs)
      System.err.println(s"[lsh] vec verify floor: $n pairs shuf=$shuf (${secs}s)")
    }

    docFloor()
    vecFloor()
    minhashConfig("demo_8x4", nh = 32, bands = 8)
    minhashConfig("wide_4x16", nh = 64, bands = 4)
    // the DEDUP threshold (j >= 0.9): where the rows/band >= 16 rule
    // actually applies — the wide S-curve centers near 0.92, so the
    // high-jaccard planted pairs survive while weak-pair candidates
    // vanish by j^16
    minhashConfig("demo_8x4_t90", nh = 32, bands = 8, minJ = 0.9)
    minhashConfig("wide_4x16_t90", nh = 64, bands = 4, minJ = 0.9)
    minhashConfig("wide_16x16_t90", nh = 256, bands = 16, minJ = 0.9)
    signConfig("demo_8x6", bands = 8, r = 6)
    signConfig("wide_8x16", bands = 8, r = 16)
    // recall-compensated wide regime: more bands steepen the S-curve
    // around a HIGHER threshold (50%-recall point ≈ cos 0.79) while
    // candidates stay ∝ genuinely-similar pairs
    signConfig("wide_32x16", bands = 32, r = 16)
    // the semantic-dedup threshold (cos >= 0.9): the regime the
    // Scaladoc's r=16+ rule prescribes
    signConfig("demo_8x6_t90", bands = 8, r = 6, minCos = 0.9)
    signConfig("wide_8x16_t90", bands = 8, r = 16, minCos = 0.9)
    // the library DEFAULT (round 11): rowsPerBand omitted — the
    // AutoWidth occupancy probe must land in the dense regime unaided
    // (candidates ∝ true pairs, never the demo width's corpus²)
    val rAuto = Similarity.regimeRowsPerBand(emb.count())
    System.err.println(s"[lsh] AutoWidth occupancy probe resolves r=$rAuto")
    signConfig(s"auto_default_r$rAuto", bands = 8, r = rAuto, useDefault = true)
    signConfig(s"auto_default_r${rAuto}_t90", bands = 8, r = rAuto,
      minCos = 0.9, useDefault = true)

    val json = "{\"sfDir\": \"" + sfDir + "\", \"runs\": [\n  " +
      results.mkString(",\n  ") + "\n]}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(json)
    spark.stop()
  }
}
