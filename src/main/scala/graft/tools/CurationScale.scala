package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.CurationPipeline

/** Measures the COMPOSED curation pipeline's throughput curve — the
  * per-index probe curves exist (INDEX_SCALE.md / IndexScale), but the
  * deployment shape is the whole `foreachBatch` chain
  * (scrub → gopher gate → ExactIndex → NearDupIndex → SpanIndex →
  * idempotent sink) and composition could hide a corpus-proportional
  * stage the per-index curves can't see. Contract under test: docs/s
  * through the composed chain against a 1×-seeded index set vs the
  * SAME batches against a 10×-seeded set stays flat (per-batch cost ∝
  * batch + collisions, never corpus).
  *
  * Usage: runMain graft.tools.CurationScale <sfSmall> <sfBig> <batchSrc> [outJson]
  *   e.g.  /root/testdata/sf0.1 target/sf1syn /root/testdata/sf0.01
  *
  * Batch construction: per-batch id offsets, and every THIRD word
  * gets a per-batch suffix — every 3-shingle (and k=8 span gram)
  * contains a mutated word, so each batch is genuinely new content vs
  * the seed corpus and vs every other batch, while the text still
  * PASSES the gopher gate (IndexScale's interleave-a-token-everywhere
  * construction trips the top-ngram-ratio rule at ~0.5 and the gate
  * rejects the whole batch — the composed curve then measures empty
  * probes, which is exactly the vacuity this tool must not have; the
  * per-batch funnel is recorded in the artifact so the non-vacuity is
  * auditable). The sink writes through [[CurationPipeline.sinkTo]]
  * with its stats side-channel, so measured cost is the full
  * observability-enabled deployment path including the parquet write.
  */
object CurationScale {
  def main(args: Array[String]): Unit = {
    val (sfSmall, sfBig, batchSrc) = (args(0), args(1), args(2))
    val outPath = if (args.length > 3) args(3) else "target/curation_scale.json"
    val spark = graft.core.GraftSession()
    val bytes = new graft.core.GraftSession.TaskBytes(spark)

    val src = spark.read.parquet(s"$batchSrc/documents.parquet")
    val nBatches = 10
    val batches: Seq[DataFrame] = (0 until nBatches).map { b =>
      src.select(
        (col("doc_id") + lit((b + 1) * 1000000000L)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          (w, i) => when(i % 3 === 0, concat(w, lit(s"zb$b")))
            .otherwise(w))).as("text"),
        col("source"), col("lang"))
        .localCheckpoint()
    }
    batches.foreach(_.count())

    val results = scala.collection.mutable.ArrayBuffer[String]()
    def rec(pairs: (String, Any)*): Unit = {
      results += pairs.map { case (k, v) =>
        val vs = v match {
          case s: String => "\"" + s + "\""
          case d: Double => f"$d%.3f"
          case x => x.toString
        }
        s""""$k": $vs"""
      }.mkString("{", ", ", "}")
      System.err.println(s"[cur] ${results.last}")
    }
    def rmrf(p: String): Unit = {
      def rec0(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rec0)
        f.delete()
      }
      rec0(new java.io.File(p))
    }

    val seeds = Seq(
      "1x" -> spark.read.parquet(s"$sfSmall/documents.parquet"),
      "10x" -> spark.read.parquet(s"$sfBig/documents.parquet"))

    for ((seedName, seedDocs) <- seeds) {
      val dir = s"target/curscale/pipe_$seedName"
      val sinkDir = s"$dir/sink"
      val statsDir = s"$dir/stats"
      rmrf(dir)
      val pipe = new CurationPipeline(spark, dir)
      // Seed all three indexes through the pipeline's own backfill path
      // (batch id 0) — the 10× seed is what the probes must stay flat
      // against. Seeding cost is recorded but not part of the curve.
      val (_, _, _, seedSecs) = bytes.measured {
        pipe.sinkTo(sinkDir, Some(statsDir))(seedDocs, 0L)
      }
      val nSeed = seedDocs.count()
      rec("seed" -> seedName, "batch" -> "seed", "docs" -> nSeed,
        "secs" -> seedSecs)
      for (b <- 0 until nBatches) {
        val nIn = batches(b).count()
        val (_, rd, sh, secs) = bytes.measured {
          pipe.sinkTo(sinkDir, Some(statsDir))(batches(b), (b + 1).toLong)
        }
        // funnel read-back (outside the measurement): the artifact must
        // show the probes were NON-vacuous — gate survivors flowed into
        // every dedup stage and accepts grew the indexes
        val st = spark.read.parquet(statsDir)
          .filter(col("batch_id") === (b + 1).toLong).head()
        rec("seed" -> seedName, "batch" -> b, "docs" -> nIn,
          "n_gated" -> st.getLong(2), "n_after_exact" -> st.getLong(3),
          "n_after_near" -> st.getLong(4), "n_out" -> st.getLong(5),
          "docs_per_sec" -> nIn / secs, "bytes_read" -> rd,
          "shuffle" -> sh, "secs" -> secs)
      }
    }

    val json = "{\"runs\": [\n  " + results.mkString(",\n  ") + "\n]}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(json)
    spark.stop()
  }
}
