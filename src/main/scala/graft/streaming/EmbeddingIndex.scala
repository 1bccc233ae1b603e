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
  * verify — each a [[BatchFrame]] partitioned by the writing
  * micro-batch's id, bootstrapped with their real schemas so the
  * per-batch probe plan is identical from batch 0 onward.
  *
  * Replay safety mirrors [[NearDupIndex]] exactly (the shared
  * [[DedupAccept]] body over [[BatchFrame.except]] and own-partition
  * overwrite): [[accept]] probes the index EXCLUDING the current batch
  * id — a replayed batch never matches its own prior attempt's rows —
  * and overwrites its own partitions, so at-least-once foreachBatch
  * delivery converges to the same index state.
  *
  * Scale shape: per-batch work is O(batch + bucket collisions) even as
  * the indexed corpus grows — the corpus TABLE is never rescanned
  * (EmbeddingIndexSpec pins that every file scan in a probe plan reads
  * from under the index directory), signatures come from one codegen'd
  * projection per side, and only bucket-colliding candidates ever load
  * a stored vector. Raw vectors at 64-dim float are 256 B each; for a
  * trillion-vector corpus, swap the `vectors/` frame for PQ codes
  * ([[PqEmbeddingIndex]], 8 B, 32×).
  *
  * Band geometry (`bands`, `rowsPerBand`) is REQUIRED: it is the
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
  // layout params bound to disk (minCosine is query-time, tunable)
  StreamDedup.bindGeometry(spark, dir,
    Seq("bands" -> bands, "rowsPerBand" -> rowsPerBand, "dims" -> dims))
  private val postingsFrame = new BatchFrame(spark, s"$dir/postings",
    Similarity.embeddingPostings(StreamDedup.emptyVecs(spark),
      bands, rowsPerBand, dims))
  private val vectorsFrame = new BatchFrame(spark, s"$dir/vectors",
    StreamDedup.emptyVecs(spark))
  private[streaming] def frames = Seq(postingsFrame, vectorsFrame)

  def postings: DataFrame = postingsFrame.read
  def vectors: DataFrame = vectorsFrame.read

  /** Each frame with the rows it stores for `v` (vec_id, embedding). */
  private def indexRows(v: DataFrame) = Seq(
    postingsFrame -> Similarity.embeddingPostings(v, bands, rowsPerBand, dims),
    vectorsFrame -> v)

  /** Index `vecs` (vec_id, embedding, ...) without scrubbing — the
    * one-time backfill that seeds the index from an existing corpus
    * (read once, here; never again at probe time).
    */
  def append(vecs: DataFrame): Unit =
    indexRows(vecs.select(col("vec_id"), col("embedding")))
      .foreach { case (f, rows) => f.seed(rows) }

  /** Scrub one micro-batch against the index and grow it: returns the
    * accepted rows (all batch columns) and overwrites the batch's own
    * index partitions — cross-batch semantic near-dups drop, a replay
    * of this batch id neither matches its own prior rows nor
    * duplicates them. Contract body: [[DedupAccept]].
    */
  def accept(batch: DataFrame, batchId: Long): DataFrame =
    DedupAccept(batch, Seq("vec_id"))(realIds => Similarity.embeddingProbe(
      realIds, postingsFrame.except(batchId), vectorsFrame.except(batchId),
      minCosine, bands, rowsPerBand, dims)) { kept =>
      indexRows(kept.select(col("vec_id"), col("embedding")))
        .foreach { case (f, rows) => f.write(rows, batchId) }
    }

  /** Chunked backfill of a static vector corpus — same contract and
    * sub-seed id blocks as [[NearDupIndex.backfill]]
    * ([[StreamDedup.chunkedBackfill]]): the in-batch bucket-pair
    * verify is bounded by the slice, never the corpus.
    */
  def backfill(vecs: DataFrame, chunks: Int = 8,
               backfillId: Int = 0): DataFrame =
    StreamDedup.chunkedBackfill(vecs, "vec_id", chunks, backfillId)(accept)
}

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
  *
  * Geometry is REQUIRED — see [[EmbeddingIndex]]'s contract note.
  */
class PqEmbeddingIndex(protected val spark: SparkSession, dir: String,
                       codebookIn: => DataFrame, maxD2: Double,
                       bands: Int, rowsPerBand: Int,
                       dims: Int = 64, m: Int = 8)
    extends IndexMaintenance {
  private val codebookDir = s"$dir/codebook"

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
    // claim (the BatchFrame.compact discipline).
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

  private val postingsFrame = new BatchFrame(spark, s"$dir/postings",
    Similarity.embeddingPostings(StreamDedup.emptyVecs(spark),
      bands, rowsPerBand, dims))
  private val codesFrame = new BatchFrame(spark, s"$dir/codes",
    Similarity.pqEncode(StreamDedup.emptyVecs(spark), codebook, m, dims))
  private[streaming] def frames = Seq(postingsFrame, codesFrame)

  def postings: DataFrame = postingsFrame.read
  def codes: DataFrame = codesFrame.read

  /** Each frame with the rows it stores for `v` (vec_id, embedding). */
  private def indexRows(v: DataFrame) = Seq(
    postingsFrame -> Similarity.embeddingPostings(v, bands, rowsPerBand, dims),
    codesFrame -> Similarity.pqEncode(v, codebook, m, dims))

  /** One-time backfill seed: the only time raw corpus vectors are
    * read; the index keeps their postings and codes.
    */
  def append(vecs: DataFrame): Unit =
    indexRows(vecs.select(col("vec_id"), col("embedding")))
      .foreach { case (f, rows) => f.seed(rows) }

  /** Scrub one micro-batch (ADC-verified) and grow the index — same
    * replay/NULL-id contract as [[EmbeddingIndex.accept]]
    * ([[DedupAccept]] is the one shared body).
    */
  def accept(batch: DataFrame, batchId: Long): DataFrame =
    DedupAccept(batch, Seq("vec_id"))(realIds => Similarity.pqEmbeddingProbe(
      realIds, postingsFrame.except(batchId), codesFrame.except(batchId),
      codebook, maxD2, bands, rowsPerBand, dims, m)) { kept =>
      indexRows(kept.select(col("vec_id"), col("embedding")))
        .foreach { case (f, rows) => f.write(rows, batchId) }
    }

  /** Chunked backfill — see [[EmbeddingIndex.backfill]]. */
  def backfill(vecs: DataFrame, chunks: Int = 8,
               backfillId: Int = 0): DataFrame =
    StreamDedup.chunkedBackfill(vecs, "vec_id", chunks, backfillId)(accept)
}
