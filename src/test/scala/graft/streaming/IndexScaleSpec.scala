package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Regression gate for INDEX_SCALE.md: probing a persisted index must
  * cost ∝ batch + index key columns, NOT corpus text. Seeds ExactIndex
  * and NearDupIndex from a 1× corpus and an 8×-replicated copy, probes
  * both with the SAME batch, and asserts the probe's task-level
  * bytesRead grows by under 25% of the corpus-text growth (the
  * measured value at sf0.1→sf1 is <2%; the slack absorbs parquet
  * footer/stat overhead at test scale). A change that sneaks a corpus
  * text scan into accept() fails here, not just in the artifact.
  */
class IndexScaleSpec extends SparkSpec {
  private lazy val bytes = new graft.core.GraftSession.TaskBytes(spark)

  /** Task input bytes attributable to `f`. */
  private def bytesReadOf(f: => Unit): Long = bytes.measured(f)._2

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_idxscale_$name").toString

  test("accept() probe bytes are flat under 8x corpus growth") {
    val docs1 = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    // 8x corpus: per-replica id offset + a replica token interleaved
    // between every word (same recipe as tools.IndexScale — replicas
    // share no 3-shingle, so the index genuinely grows 8x)
    val reps = spark.range(8).select(col("id").as("__rep"))
    val docs8 = docs1.crossJoin(broadcast(reps)).select(
      (col("doc_id") + col("__rep") * 100000000L).as("doc_id"),
      when(col("__rep") === 0, col("text")).otherwise(
        regexp_replace(col("text"), lit(" "),
          concat(lit(" rp"), col("__rep").cast("string"), lit(" "))))
        .as("text"),
      col("source"), col("lang"))
    val (p1, p8) = (tmp("c1"), tmp("c8"))
    docs1.write.mode("overwrite").parquet(p1)
    docs8.write.mode("overwrite").parquet(p8)
    val (seed1, seed8) =
      (spark.read.parquet(p1), spark.read.parquet(p8))
    val textBytes = (df: DataFrame) =>
      df.agg(sum(octet_length(col("text")))).head().getLong(0)
    val textGrowth = textBytes(seed8) - textBytes(seed1)
    assert(textGrowth > 6L * textBytes(seed1), "replication sanity")

    // batch of NEW content (no shingle survives the interleave)
    val batch = docs1.limit(200).select(
      (col("doc_id") + 900000000L).as("doc_id"),
      regexp_replace(col("text"), lit(" "), lit(" zq "))
        .as("text"),
      col("source"), col("lang"))
      .localCheckpoint()
    batch.count()

    // (append1x, accept1x, append8x, accept8x) per index family —
    // the two classes share no accept/append supertype
    type Accept = (DataFrame, Long) => DataFrame
    def exact(d: String): (DataFrame => Unit, Accept) = {
      val i = new ExactIndex(spark, d); (i.append, i.accept)
    }
    def neardup(d: String): (DataFrame => Unit, Accept) = {
      val i = new NearDupIndex(spark, d); (i.append, i.accept)
    }
    for ((mk, label) <- Seq(
        (exact _, "exact"), (neardup _, "neardup"))) {
      val ((ap1, ac1), (ap8, ac8)) =
        (mk(tmp(s"${label}_i1")), mk(tmp(s"${label}_i8")))
      ap1(seed1); ap8(seed8)
      val b1 = bytesReadOf { ac1(batch, 1L).count() }
      val b8 = bytesReadOf { ac8(batch, 1L).count() }
      assert(b8 - b1 < textGrowth / 4,
        s"$label probe bytes grew ${b8 - b1} for $textGrowth corpus-text " +
          s"growth (1x=$b1, 8x=$b8) — accept() is scanning corpus text")
    }
  }

  test("composed CurationPipeline accept bytes are flat under 8x corpus " +
       "growth, with a non-vacuous funnel") {
    // the CURATION_SCALE.md gate: the whole foreachBatch chain (scrub →
    // gopher gate → exact → near → span) probes three persisted indexes
    // in one accept — composition must not reintroduce a corpus scan
    // any single-index curve would have caught
    val docs1 = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val reps = spark.range(8).select(col("id").as("__rep"))
    val docs8 = docs1.crossJoin(broadcast(reps)).select(
      (col("doc_id") + col("__rep") * 100000000L).as("doc_id"),
      when(col("__rep") === 0, col("text")).otherwise(
        regexp_replace(col("text"), lit(" "),
          concat(lit(" rp"), col("__rep").cast("string"), lit(" "))))
        .as("text"),
      col("source"), col("lang"))
    val (p1, p8) = (tmp("cp1"), tmp("cp8"))
    docs1.write.mode("overwrite").parquet(p1)
    docs8.write.mode("overwrite").parquet(p8)
    val (seed1, seed8) = (spark.read.parquet(p1), spark.read.parquet(p8))
    val textBytes = (df: DataFrame) =>
      df.agg(sum(octet_length(col("text")))).head().getLong(0)
    val textGrowth = textBytes(seed8) - textBytes(seed1)

    // batch that both PASSES the gate (suffixing every 3rd word keeps
    // token-frequency/repetition signals — an interleaved constant
    // token trips the top-ngram rule and would make the probes
    // vacuously empty) and shares no 3-shingle with either seed
    val batch = docs1.limit(200).select(
      (col("doc_id") + 900000000L).as("doc_id"),
      concat_ws(" ", transform(split(col("text"), " "),
        (w, i) => when(i % 3 === 0, concat(w, lit("zq")))
          .otherwise(w))).as("text"),
      col("source"), col("lang"))
      .localCheckpoint()
    val nBatch = batch.count()

    val pipe1 = new CurationPipeline(spark, tmp("pipe1"))
    val pipe8 = new CurationPipeline(spark, tmp("pipe8"))
    pipe1.accept(seed1, 0L).count()
    pipe8.accept(seed8, 0L).count()
    val (kept1 : Long, b1) = {
      var k = 0L; val b = bytesReadOf { k = pipe1.accept(batch, 1L).count() }
      (k, b)
    }
    val (kept8 : Long, b8) = {
      var k = 0L; val b = bytesReadOf { k = pipe8.accept(batch, 1L).count() }
      (k, b)
    }
    // non-vacuity: the gate must pass a substantial share of the batch
    // into the dedup probes (all-novel content: kept == gate survivors)
    assert(kept1 > nBatch / 2 && kept1 == kept8,
      s"funnel vacuous or seed-dependent: kept1=$kept1 kept8=$kept8 of $nBatch")
    assert(b8 - b1 < textGrowth / 4,
      s"composed accept bytes grew ${b8 - b1} for $textGrowth corpus-text " +
        s"growth (1x=$b1, 8x=$b8) — some stage is scanning corpus text")
  }
}
