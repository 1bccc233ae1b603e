package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A persisted, incrementally-maintained sign-bit-LSH embedding index
  * for ingest-time SEMANTIC near-dup scrubbing — the `foreachBatch`
  * deployment of [[graft.operators.Similarity.embeddingProbe]], and
  * the embedding-column sibling of [[NearDupIndex]] (text MinHash) and
  * [[SpanIndex]] (gram spans): with it, every column of the dedup
  * matrix (exact / near / span / semantic) has a batch, an
  * incremental, and a persisted-streaming shape.
  *
  * Layout: two parquet frames under `dir` — `postings/` (vec_id, band,
  * bucket), exactly what [[graft.operators.Similarity.embeddingPostings]]
  * emits, and `vectors/` (vec_id, embedding) for the exact-cosine
  * verify — each partitioned by the writing micro-batch's id
  * (`batch=<id>/`), bootstrapped independently-if-missing with their
  * real schemas so the per-batch probe plan is identical from batch 0
  * onward.
  *
  * Replay safety mirrors [[NearDupIndex]] exactly (the shared
  * [[StreamDedup.exceptBatch]] filter and own-partition overwrite):
  * [[accept]] probes the index EXCLUDING the current batch id — a
  * replayed batch never matches its own prior attempt's rows — and
  * overwrites its own partitions, so at-least-once foreachBatch
  * delivery converges to the same index state.
  *
  * Scale shape: per-batch work is O(batch + bucket collisions) even as
  * the indexed corpus grows — the corpus TABLE is never rescanned
  * (EmbeddingIndexSpec pins that every file scan in a probe plan reads
  * from under the index directory), signatures come from one codegen'd
  * projection per side, and only bucket-colliding candidates ever load
  * a stored vector. Raw vectors at 64-dim float are 256 B each; for a
  * trillion-vector corpus, swap the `vectors/` frame for PQ codes
  * ([[graft.operators.Similarity.pqEncode]], 8 B, 32×) and verify by
  * asymmetric distance with an exact re-rank — same frames, same
  * replay contract.
  */
/** The accept template shared by [[EmbeddingIndex]] and
  * [[PqEmbeddingIndex]]: identical replay / NULL-pass-through /
  * checkpoint-before-write contract, differing only in HOW candidates
  * are verified (`probe`) and what the index remembers per vector
  * (`writeIndexRows`). One body, so a future fix to the contract
  * cannot land in one class and silently miss the other.
  */
private[streaming] object EmbeddingIndexOps {
  def accept(batch: DataFrame, batchId: Long,
             probe: DataFrame => DataFrame,
             writeIndexRows: (DataFrame, Long) => Unit): DataFrame = {
    // NULL-id rows pass through by construction (no dedup identity; an
    // id-keyed semi-join would silently lose them from the sink) and
    // stay out of the index — mirrors SpanIndex.scrub/NearDupIndex
    val realIds = batch.filter(col("vec_id").isNotNull)
    val kept = realIds.join(probe(realIds), Seq("vec_id"), "left_semi")
      .unionByName(batch.filter(col("vec_id").isNull))
      // pin BEFORE the write: the kept plan reads the very
      // parquet dirs being written
      .transform(graft.core.Pin.pin(_))
    writeIndexRows(kept.filter(col("vec_id").isNotNull)
      .select(col("vec_id"), col("embedding")), batchId)
    kept
  }
}

/** Band geometry (`bands`, `rowsPerBand`) is REQUIRED: it is the
  * persisted index's capacity-planning contract (bound to disk by
  * bindGeometry below — reopening under different geometry throws),
  * and a demo-width default silently built a 64-buckets/band index
  * whose probe collisions grow with the corpus (LSH_SCALE.md). Size
  * from the EXPECTED corpus:
  * `Similarity.regimeRowsPerBand(expectedRows)`.
  */
class EmbeddingIndex(protected val spark: SparkSession, dir: String,
                     bands: Int, rowsPerBand: Int,
                     minCosine: Double = 0.35, dims: Int = 64)
    extends IndexMaintenance {
  private val postingsDir = s"$dir/postings"
  private val vectorsDir = s"$dir/vectors"
  protected def frameDirs: Seq[String] = Seq(postingsDir, vectorsDir)

  locally {
    // layout params bound to disk (minCosine is query-time, tunable)
    StreamDedup.bindGeometry(spark, dir,
      Seq("bands" -> bands, "rowsPerBand" -> rowsPerBand, "dims" -> dims))
    StreamDedup.bootstrapFrame(spark, postingsDir,
      Similarity.embeddingPostings(StreamDedup.emptyVecs(spark),
        bands, rowsPerBand, dims))
    StreamDedup.bootstrapFrame(spark, vectorsDir, StreamDedup.emptyVecs(spark))
  }

  def postings: DataFrame = spark.read.parquet(postingsDir)
  def vectors: DataFrame = spark.read.parquet(vectorsDir)

  /** Index `vecs` (vec_id, embedding, ...) without scrubbing — the
    * one-time backfill that seeds the index from an existing corpus
    * (read once, here; never again at probe time).
    */
  def append(vecs: DataFrame): Unit =
    writeIndexRows(vecs.select(col("vec_id"), col("embedding")),
      StreamDedup.SeedBatchId, "append")

  private def writeIndexRows(v: DataFrame, batchId: Long, mode: String): Unit = {
    Similarity.embeddingPostings(v, bands, rowsPerBand, dims)
      .write.mode(mode).parquet(s"$postingsDir/batch=$batchId")
    v.write.mode(mode).parquet(s"$vectorsDir/batch=$batchId")
  }

  /** Scrub one micro-batch against the index and grow it: returns the
    * accepted rows (all batch columns) and overwrites the batch's own
    * index partitions — cross-batch semantic near-dups drop, a replay
    * of this batch id neither matches its own prior rows nor
    * duplicates them. Contract body: [[EmbeddingIndexOps.accept]].
    */
  def accept(batch: DataFrame, batchId: Long): DataFrame =
    EmbeddingIndexOps.accept(batch, batchId,
      realIds => Similarity.embeddingProbe(realIds,
        StreamDedup.exceptBatch(postings, batchId),
        StreamDedup.exceptBatch(vectors, batchId),
        minCosine, bands, rowsPerBand, dims),
      (v, bid) => writeIndexRows(v, bid, "overwrite"))

  /** Chunked backfill of a static vector corpus — same contract and
    * sub-seed id blocks as [[NearDupIndex.backfill]]
    * ([[StreamDedup.chunkedBackfill]]): the in-batch bucket-pair
    * verify is bounded by the slice, never the corpus.
    */
  def backfill(vecs: DataFrame, chunks: Int = 8,
               backfillId: Int = 0): DataFrame =
    StreamDedup.chunkedBackfill(vecs, "vec_id", chunks, backfillId)(accept)

  /** Fold all batch partitions of both frames into their seed
    * partitions. `lastCommittedBatchId` is the stopped stream's
    * commit-log high-water mark ([[StreamDedup.lastCommittedBatch]]);
    * a partition beyond it throws instead of silently breaking the
    * replay contract — see [[StreamDedup.compactFrame]].
    */
}

/** [[EmbeddingIndex]] with the verify side stored as PQ CODES — the
  * trillion-vector footprint (8 B/vector vs 256 B raw at 64-dim
  * float32). Same frames-per-batch-id layout, replay exclusion,
  * own-partition overwrite, staged compaction, and horizon expiry;
  * what changes is only what the index REMEMBERS about each vector:
  * its sign-bit postings plus an m-byte code, never the vector
  * itself. Verification is asymmetric-distance
  * ([[graft.operators.Similarity.pqEmbeddingProbe]]) and therefore
  * APPROXIMATE near the threshold — the documented PQ trade; use
  * [[EmbeddingIndex]] when exactness beats footprint.
  *
  * The codebook is persisted INSIDE the index (`codebook/`, written
  * once at first construction, read back ever after), so codes stay
  * decodable across restarts no matter what the caller passes later —
  * an index whose codes and codebook drift apart is silently garbage.
  * Train it on (a normalized sample of) the corpus the index will
  * serve, and pick `maxD2` as 2·(1 − minCosine) for unit vectors.
  */
object EmbeddingIndex {
  /** Construct with occupancy-derived geometry for an EXPECTED corpus
    * size — [[graft.operators.Similarity.regimeRowsPerBand]] applied
    * at the index layer, so capacity planning is one number instead
    * of a band-width choice. The resolved width binds to disk like
    * any explicit one; reopening later requires the SAME
    * expectedRows-derived width (geometry is the contract, not the
    * estimate — document the number you sized with).
    */
  def forExpectedRows(spark: SparkSession, dir: String,
                      expectedRows: Long, minCosine: Double = 0.35,
                      bands: Int = 8, dims: Int = 64): EmbeddingIndex =
    new EmbeddingIndex(spark, dir, bands,
      Similarity.regimeRowsPerBand(expectedRows), minCosine, dims)
}

/** Geometry REQUIRED — see [[EmbeddingIndex]]'s contract note. */
class PqEmbeddingIndex(protected val spark: SparkSession, dir: String,
                       codebookIn: => DataFrame, maxD2: Double,
                       bands: Int, rowsPerBand: Int,
                       dims: Int = 64, m: Int = 8)
    extends IndexMaintenance {
  private val postingsDir = s"$dir/postings"
  private val codesDir = s"$dir/codes"
  private val codebookDir = s"$dir/codebook"
  protected def frameDirs: Seq[String] = Seq(postingsDir, codesDir)

  locally {
    // layout params bound to disk like the codebook below — codes
    // decoded under a different (m, dims) split or postings probed
    // under different banding are silent garbage (maxD2 is
    // query-time, tunable)
    StreamDedup.bindGeometry(spark, dir,
      Seq("bands" -> bands, "rowsPerBand" -> rowsPerBand,
        "dims" -> dims, "m" -> m))
    // staged write + rename: pathExists must imply a COMPLETE
    // codebook. A bare write could crash after some tasks committed,
    // and every later construction would silently decode against the
    // partial model — codes scored in the wrong subspaces, exactly
    // the drift this persistence exists to prevent. Stale stages from
    // crashed attempts are cleared first; the rename is the atomic
    // claim (the compactFrame discipline).
    if (!StreamDedup.pathExists(spark, codebookDir)) {
      val stagePath = new org.apache.hadoop.fs.Path(s"$dir/.codebook-staging")
      val fs = stagePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(stagePath, true)
      codebookIn.write.parquet(stagePath.toString)
      if (!fs.rename(stagePath, new org.apache.hadoop.fs.Path(codebookDir)))
        throw new IllegalStateException(
          s"rename of staged codebook into $codebookDir failed")
    }
  }

  def codebook: DataFrame = spark.read.parquet(codebookDir)

  locally {
    StreamDedup.bootstrapFrame(spark, postingsDir,
      Similarity.embeddingPostings(StreamDedup.emptyVecs(spark),
        bands, rowsPerBand, dims))
    StreamDedup.bootstrapFrame(spark, codesDir,
      Similarity.pqEncode(StreamDedup.emptyVecs(spark), codebook, m, dims))
  }

  def postings: DataFrame = spark.read.parquet(postingsDir)
  def codes: DataFrame = spark.read.parquet(codesDir)

  /** One-time backfill seed: the only time raw corpus vectors are
    * read; the index keeps their postings and codes.
    */
  def append(vecs: DataFrame): Unit =
    writeIndexRows(vecs.select(col("vec_id"), col("embedding")),
      StreamDedup.SeedBatchId, "append")

  private def writeIndexRows(v: DataFrame, batchId: Long, mode: String): Unit = {
    Similarity.embeddingPostings(v, bands, rowsPerBand, dims)
      .write.mode(mode).parquet(s"$postingsDir/batch=$batchId")
    Similarity.pqEncode(v, codebook, m, dims)
      .write.mode(mode).parquet(s"$codesDir/batch=$batchId")
  }

  /** Scrub one micro-batch (ADC-verified) and grow the index — same
    * replay/NULL-id contract as [[EmbeddingIndex.accept]]
    * ([[EmbeddingIndexOps.accept]] is the one shared body).
    */
  def accept(batch: DataFrame, batchId: Long): DataFrame =
    EmbeddingIndexOps.accept(batch, batchId,
      realIds => Similarity.pqEmbeddingProbe(realIds,
        StreamDedup.exceptBatch(postings, batchId),
        StreamDedup.exceptBatch(codes, batchId),
        codebook, maxD2, bands, rowsPerBand, dims, m),
      (v, bid) => writeIndexRows(v, bid, "overwrite"))

  /** Chunked backfill — see [[EmbeddingIndex.backfill]]. */
  def backfill(vecs: DataFrame, chunks: Int = 8,
               backfillId: Int = 0): DataFrame =
    StreamDedup.chunkedBackfill(vecs, "vec_id", chunks, backfillId)(accept)

}
