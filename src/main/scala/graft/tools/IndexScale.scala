package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{ExactIndex, KeywordIndex, NearDupIndex}

/** Measures the persisted-index cost curve the Scaladoc claims but no
  * artifact had shown: per-batch `accept()` wall / bytes-read /
  * shuffle against an index seeded from a 1× corpus vs the SAME
  * batches against a 10× corpus, for the ExactIndex / NearDupIndex /
  * KeywordIndex trio (plus KeywordIndex.search at both sizes). The
  * contract under test: probe cost is index-column-bound (16-byte
  * hashes, 8-byte gram/posting keys — never corpus TEXT), so growing
  * the corpus 10× must grow per-batch cost by at most the narrow
  * index-frame scan — orders of magnitude under the corpus text bytes
  * an inline re-dedup would rescan. Produces INDEX_SCALE.md's numbers.
  *
  * Usage: runMain graft.tools.IndexScale <sfSmall> <sfBig> <batchSrc> [outJson]
  *   e.g.  /root/testdata/sf0.1 target/sf1syn /root/testdata/sf0.01
  *
  * Batches are derived from `batchSrc` documents with per-batch id
  * offsets and a per-batch token interleaved between every word — so
  * every batch is genuinely new content (no 3-shingle survives) both
  * vs the corpus and vs every other batch: accepts don't collapse to
  * drops and the index grows realistically.
  */
object IndexScale {
  def main(args: Array[String]): Unit = {
    val (sfSmall, sfBig, batchSrc) = (args(0), args(1), args(2))
    val outPath = if (args.length > 3) args(3) else "target/index_scale.json"
    val spark = graft.core.GraftSession()
    val bytes = new graft.core.GraftSession.TaskBytes(spark)

    // per-batch NEW content: ids offset per batch, a batch token
    // interleaved between every word (no shared 3-shingles with
    // anything else); localCheckpoint so reading the batch itself
    // never counts as parquet input bytes
    val src = spark.read.parquet(s"$batchSrc/documents.parquet")
    val nBatches = 10
    val batches: Seq[DataFrame] = (0 until nBatches).map { b =>
      src.select(
        (col("doc_id") + lit((b + 1) * 1000000000L)).as("doc_id"),
        regexp_replace(col("text"), lit(" "), lit(s" zb$b ")).as("text"),
        col("source"), col("lang"))
        .localCheckpoint()
    }
    batches.foreach(_.count()) // materialize outside any measurement

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
      System.err.println(s"[idx] ${results.last}")
    }
    def rmrf(p: String): Unit = {
      def rec0(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rec0)
        f.delete()
      }
      rec0(new java.io.File(p))
    }
    def dirBytes(p: String): Long = {
      def rec0(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(rec0).sum
        else f.length()
      val f = new java.io.File(p)
      if (f.exists()) rec0(f) else 0L
    }

    val seeds = Seq(
      "1x" -> spark.read.parquet(s"$sfSmall/documents.parquet"),
      "10x" -> spark.read.parquet(s"$sfBig/documents.parquet"))

    for ((seedName, seedDocs) <- seeds) {
      val seedTextBytes = seedDocs
        .agg(sum(octet_length(col("text")))).head().getLong(0)

      // ---- ExactIndex ----
      locally {
        val dir = s"target/idxscale/exact_$seedName"
        rmrf(dir)
        val idx = new ExactIndex(spark, dir)
        idx.append(seedDocs)
        for (b <- 0 until nBatches) {
          val (kept, rd, sh, secs) = bytes.measured {
            idx.accept(batches(b), b + 1).count()
          }
          rec("index" -> "exact", "seed" -> seedName, "batch" -> b,
            "kept" -> kept, "bytes_read" -> rd, "shuffle" -> sh,
            "secs" -> secs)
        }
        rec("index" -> "exact", "seed" -> seedName, "batch" -> "size",
          "index_bytes" -> dirBytes(dir), "seed_text_bytes" -> seedTextBytes)
      }

      // ---- NearDupIndex ----
      locally {
        val dir = s"target/idxscale/neardup_$seedName"
        rmrf(dir)
        val idx = new NearDupIndex(spark, dir)
        idx.append(seedDocs)
        for (b <- 0 until nBatches) {
          val (kept, rd, sh, secs) = bytes.measured {
            idx.accept(batches(b), b + 1).count()
          }
          rec("index" -> "neardup", "seed" -> seedName, "batch" -> b,
            "kept" -> kept, "bytes_read" -> rd, "shuffle" -> sh,
            "secs" -> secs)
        }
        rec("index" -> "neardup", "seed" -> seedName, "batch" -> "size",
          "index_bytes" -> dirBytes(dir), "seed_text_bytes" -> seedTextBytes)
      }

      // ---- KeywordIndex (accept is write-only; search is the probe) ----
      locally {
        val dir = s"target/idxscale/keyword_$seedName"
        rmrf(dir)
        val idx = new KeywordIndex(spark, dir)
        idx.accept(seedDocs, 0L)
        for (b <- 0 until nBatches) {
          val (_, rd, sh, secs) = bytes.measured {
            idx.accept(batches(b), b + 1); () // writes happen inside accept
          }
          rec("index" -> "keyword", "seed" -> seedName, "batch" -> b,
            "kept" -> batches(b).count(), "bytes_read" -> rd, "shuffle" -> sh,
            "secs" -> secs)
        }
        val queries = Seq(1 -> Seq("the", "of"), 2 -> Seq("data", "with"),
          3 -> Seq("zb3"))
        val (hits, rd, sh, secs) = bytes.measured {
          idx.search(queries, k = 10).count()
        }
        rec("index" -> "keyword", "seed" -> seedName, "batch" -> "search",
          "kept" -> hits, "bytes_read" -> rd, "shuffle" -> sh, "secs" -> secs)
        rec("index" -> "keyword", "seed" -> seedName, "batch" -> "size",
          "index_bytes" -> dirBytes(dir), "seed_text_bytes" -> seedTextBytes)
      }
    }

    val json = "{\"runs\": [\n  " + results.mkString(",\n  ") + "\n]}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(json)
    spark.stop()
  }
}
