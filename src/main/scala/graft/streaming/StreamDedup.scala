package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming exact deduplication — the live twin of
  * [[graft.operators.Dedup.exact]] for a continuously-ingested corpus
  * (the shape of a training-data intake pipeline: keep the first copy
  * of each document, drop re-crawls).
  *
  * State discipline at scale: a plain `dropDuplicates` on a stream
  * retains every key forever — unbounded state. Using
  * `dropDuplicatesWithinWatermark` instead lets the state store evict a
  * hash once the watermark passes its event time, so state size is
  * O(distinct keys per watermark horizon), independent of stream
  * length. Duplicates arriving within the horizon (the overwhelmingly
  * common re-crawl window) are still caught exactly.
  */
object StreamDedup {

  /** First arrival per content hash. `docs` needs (ts: timestamp,
    * doc_id: long, text: string); works on batch frames too (no
    * watermark → plain dropDuplicates for backfill parity).
    */
  def firstArrivals(docs: DataFrame, watermark: Option[String] = None): DataFrame = {
    val hashed = docs.withColumn("content_hash", md5(col("text")))
    watermark match {
      case Some(w) =>
        hashed.withWatermark("ts", w)
          .dropDuplicatesWithinWatermark("content_hash")
      case None =>
        hashed.dropDuplicates("content_hash")
    }
  }

  /** One micro-batch of ingest-time NEAR-dup scrubbing against a raw
    * TEXT corpus — the convenience twin of [[scrubNearDupsIndexed]]
    * that derives the corpus LSH index inline. Keep only batch rows
    * (full rows, all columns) that near-duplicate neither `corpus` nor
    * a lower-id batch doc.
    *
    * Fine for a one-shot backfill or a small static corpus; it
    * re-scans corpus text on every call, so the deployment shape for
    * a GROWING corpus is [[NearDupIndex]]: persist the
    * (postings, shingles) index once, probe it per batch via
    * [[scrubNearDupsIndexed]], append each accepted batch's index rows
    * — per-batch work stays proportional to the batch and its bucket
    * collisions, never the corpus.
    */
  def scrubNearDups(batch: DataFrame, corpus: DataFrame, n: Int = 3,
                    numHashes: Int = 32, bands: Int = 8,
                    minJaccard: Double = 0.5): DataFrame =
    batch.join(
      Dedup.minhashIncremental(
        batch, corpus, n, numHashes, bands, minJaccard),
      Seq("doc_id"), "left_semi")

  /** [[scrubNearDups]] against a PERSISTED corpus index: the batch is
    * probed through stored (doc_id, band, bucket) postings and
    * (doc_id, sh) shingle frames ([[graft.operators.Dedup.minhashProbe]]),
    * so the plan never reads a corpus text column — the only text
    * scanned is the batch's own. [[NearDupIndex.accept]] runs this
    * same semi-join per micro-batch, with index maintenance around it.
    */
  def scrubNearDupsIndexed(batch: DataFrame, corpusPostings: DataFrame,
                           corpusShingles: DataFrame, n: Int = 3,
                           numHashes: Int = 32, bands: Int = 8,
                           minJaccard: Double = 0.5): DataFrame =
    batch.join(
      Dedup.minhashProbe(
        batch, corpusPostings, corpusShingles, n, numHashes, bands, minJaccard),
      Seq("doc_id"), "left_semi")

  /** Warehouse-path existence via the Hadoop filesystem of the path's
    * scheme — a `java.io.File` check would silently report false for
    * every hdfs:// or s3:// index dir and re-bootstrap it empty.
    */
  private[streaming] def pathExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The empty (doc_id, text) frame the index bootstraps derive their
    * real schemas from.
    */
  private[streaming] def emptyDocs(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))

  /** The empty (vec_id, embedding) frame the embedding-index
    * bootstraps derive their real schemas from.
    */
  private[streaming] def emptyVecs(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))

  /** The partition value index seeds ([[BatchFrame.seed]]) write
    * under — below any real foreachBatch batch id, so seed rows are
    * never excluded by a probe's own-batch filter.
    */
  final val SeedBatchId = -1L

  /** Bind an index's LAYOUT geometry to its on-disk state: first
    * construction writes `<dir>/_geometry` (underscore-prefixed, so
    * Spark's file listings skip it); every later construction verifies
    * and THROWS on mismatch. An index probed under different layout
    * parameters (band count, hash count, gram width, PQ split) does
    * not error — it silently matches nothing and waves every
    * duplicate through, the worst failure mode an index can have. The
    * QualityModel.Model / Cms bind-the-geometry doctrine applied to
    * the persisted indexes. Query-TIME thresholds (minJaccard,
    * minCosine) are deliberately not bound: they read the same stored
    * layout and are legitimate to tune between runs.
    *
    * Crash-safe like everything else here: written to a dot-prefixed
    * temp and renamed; a lost rename race re-verifies instead.
    */
  private[streaming] def bindGeometry(spark: SparkSession, dir: String,
                                      geom: Seq[(String, Any)]): Unit = {
    val want = geom.map { case (k, v) => s"$k=$v" }.mkString("\n")
    val p = new org.apache.hadoop.fs.Path(s"$dir/_geometry")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def verify(): Unit = {
      val in = fs.open(p)
      val have = try {
        scala.io.Source.fromInputStream(in, "UTF-8").mkString
      } finally in.close()
      if (have != want)
        throw new IllegalStateException(
          s"index at $dir was built with geometry {${have.replace("\n", ", ")}} " +
            s"but constructed with {${want.replace("\n", ", ")}}: probes under " +
            "mismatched layout silently match nothing — pass the original " +
            "parameters or rebuild the index")
    }
    if (fs.exists(p)) verify()
    else {
      val tmp = new org.apache.hadoop.fs.Path(
        s"$dir/.geometry-tmp-${java.util.UUID.randomUUID}")
      val out = fs.create(tmp, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, p)) { fs.delete(tmp, true); verify() }
    }
  }

  /** The chunked-backfill engine shared by every index's `backfill`:
    * dedup-and-index a STATIC corpus in bounded ascending-id slices,
    * each run through the index's own `accept` under a synthetic
    * sub-seed batch id — so each slice probes the seed ∪ every earlier
    * slice ∪ itself (the sequence-of-micro-batches semantics of live
    * ingest), the per-batch candidate-verify fan-out is bounded by the
    * SLICE, and a crashed backfill RE-RUN converges exactly like a
    * replayed micro-batch (own-id exclusion + own-partition
    * overwrite; a naive append-to-seed would self-match every chunk
    * on re-run and gut it).
    *
    * Sub-seed ids live in FIXED-width per-backfillId blocks
    * (id i of backfill b = SeedBatchId − 1 − b·MaxBackfillChunks − i),
    * so two backfills can never overlap whatever their chunk counts;
    * a SECOND corpus must use a fresh backfillId — reusing one would
    * overwrite the first corpus's partitions and silently delete its
    * dedup protection. Sub-seed partitions are permanent corpus:
    * horizon expiry retains them; compact() folds them into the seed.
    * NULL-id rows ride chunk 0's pass-through. Assumes ids span less
    * than 2^62 (range arithmetic).
    */
  private[streaming] def chunkedBackfill(docs: DataFrame, idCol: String,
                                         chunks: Int, backfillId: Int)(
      accept: (DataFrame, Long) => DataFrame): DataFrame = {
    require(chunks >= 1 && chunks <= NearDupIndex.MaxBackfillChunks,
      s"chunks must be in [1, ${NearDupIndex.MaxBackfillChunks}], got $chunks")
    require(backfillId >= 0, s"backfillId must be >= 0, got $backfillId")
    val base = SeedBatchId - 1 - backfillId.toLong * NearDupIndex.MaxBackfillChunks
    val bounds = docs.filter(col(idCol).isNotNull)
      .agg(min(idCol), max(idCol)).head()
    if (bounds.isNullAt(0)) return accept(docs, base)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = (hi - lo) / chunks + 1
    (0 until chunks).map { i =>
      val from = lo + i * width
      val inRange = col(idCol) >= from && col(idCol) < from + width
      val slice = if (i == 0) inRange || col(idCol).isNull else inRange
      accept(docs.filter(slice), base - i)
    }.reduce(_.unionByName(_))
  }

  /** Highest batch id the streaming checkpoint's commit log records
    * (`<checkpoint>/commits/<batchId>`) — the durable proof
    * [[BatchFrame.compact]]'s precondition demands. None before any
    * batch has committed.
    */
  def lastCommittedBatch(spark: SparkSession, checkpointDir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$checkpointDir/commits")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).flatMap(s => scala.util.Try(
      s.getPath.getName.stripSuffix(".compact").toLong).toOption)
      .maxOption
  }
}

/** A persisted, incrementally-maintained MinHash-LSH corpus index for
  * ingest-time near-dup scrubbing — the `foreachBatch` deployment of
  * [[graft.operators.Dedup.minhashProbe]].
  *
  * Layout: two parquet frames under `dir` — `postings/` (doc_id, band,
  * bucket) and `shingles/` (doc_id, sh), exactly the frames
  * [[graft.operators.Dedup.bandedBuckets]] and
  * [[graft.operators.Dedup.shingleTable]] emit — each partitioned by
  * the writing micro-batch's id ([[BatchFrame]]). Both are created
  * empty (with the real schemas, derived from the same builders over
  * an empty corpus) at construction, so the per-batch probe plan is
  * identical from batch 0 onward.
  *
  * Replay safety: `foreachBatch` delivers at-least-once, so a batch
  * can re-run after its index rows landed but before the checkpoint
  * committed. [[accept]] therefore (a) probes the index EXCLUDING the
  * current batch id's partitions — a replayed batch never matches its
  * own prior attempt's rows — and (b) OVERWRITES its own `batch=<id>`
  * partitions rather than appending, so the re-run converges to the
  * same index state (the same discipline as
  * [[StreamSink.idempotentParquet]]). StreamDedupSpec replays a batch
  * and asserts identical output and index.
  *
  * Scale shape: each [[accept]] reads the index frames (columnar,
  * pruned columns, own-batch partitions pruned at the source), probes
  * them with batch-derived buckets, and writes only the ACCEPTED
  * batch's index rows. Corpus text is never stored in the index and
  * never re-scanned — work per micro-batch is O(batch + bucket
  * collisions) even as the indexed corpus grows to 100 TB, versus the
  * O(corpus) re-derivation of the inline
  * [[StreamDedup.scrubNearDups]] path. StreamDedupSpec pins both
  * properties (cross-batch drops; no text column in any file scan of
  * the probe plan).
  */
class NearDupIndex(protected val spark: SparkSession, dir: String, n: Int = 3,
                   numHashes: Int = 32, bands: Int = 8,
                   minJaccard: Double = 0.5) extends IndexMaintenance {
  StreamDedup.bindGeometry(spark, dir,
    Seq("n" -> n, "numHashes" -> numHashes, "bands" -> bands))
  private val postingsFrame = new BatchFrame(spark, s"$dir/postings",
    Dedup.bandedBuckets(StreamDedup.emptyDocs(spark), n, numHashes, bands))
  private val shinglesFrame = new BatchFrame(spark, s"$dir/shingles",
    Dedup.shingleTable(StreamDedup.emptyDocs(spark), n))
  private[streaming] def frames = Seq(postingsFrame, shinglesFrame)

  def postings: DataFrame = postingsFrame.read
  def shingles: DataFrame = shinglesFrame.read

  /** Each frame with the rows it stores for `docs` (doc_id, text, ...). */
  private def indexRows(docs: DataFrame) = Seq(
    postingsFrame -> Dedup.bandedBuckets(docs, n, numHashes, bands),
    shinglesFrame -> Dedup.shingleTable(docs, n))

  /** Index `docs` (doc_id, text, ...) without scrubbing — the one-time
    * backfill that seeds the index from an existing static corpus.
    * (The corpus text is read ONCE, here; never again at probe time.)
    */
  def append(docs: DataFrame): Unit =
    indexRows(docs).foreach { case (f, rows) => f.seed(rows) }

  /** Scrub one micro-batch against the index and grow it: returns the
    * accepted rows (all batch columns) and overwrites the batch's own
    * index partitions, so the NEXT batch's probe sees them —
    * cross-batch near-dups drop — while a REPLAY of this batch id
    * neither matches its own prior rows nor duplicates them. NULL-id
    * rows pass through un-indexed ([[DedupAccept]], the contract body).
    */
  def accept(batch: DataFrame, batchId: Long): DataFrame =
    DedupAccept(batch, Seq("doc_id"))(real => Dedup.minhashProbe(real,
      postingsFrame.except(batchId), shinglesFrame.except(batchId),
      n, numHashes, bands, minJaccard)) { kept =>
      indexRows(kept.select(col("doc_id"), col("text")))
        .foreach { case (f, rows) => f.write(rows, batchId) }
    }

  /** Dedup-and-index a STATIC corpus in bounded slices
    * ([[StreamDedup.chunkedBackfill]]) — the guard the
    * [[graft.operators.Banding.batchPairs]] giant-batch note demands:
    * in-batch verify fan-out is bucket-occupancy² with occupancy
    * capped by the SLICE size. On clique-shaped duplicate clusters
    * this equals the one-shot accept for ANY chunk count
    * (spec-pinned); on transitive CHAINS the in-batch rule is the
    * stricter side (a near-dup of an already-dropped smaller id also
    * drops), so moving a chain member across a chunk boundary can
    * only KEEP more — and in every case no two kept docs are
    * near-dups of each other, the property dedup actually needs.
    */
  def backfill(docs: DataFrame, chunks: Int = 8,
               backfillId: Int = 0): DataFrame =
    StreamDedup.chunkedBackfill(docs, "doc_id", chunks, backfillId)(accept)

}

object NearDupIndex {
  /** Fixed width of each backfill's sub-seed id block — chunk counts
    * can vary per backfill without two blocks ever overlapping.
    * Shared by every index's `backfill`
    * ([[StreamDedup.chunkedBackfill]]).
    */
  final val MaxBackfillChunks = 1024
}

/** A persisted, incrementally-maintained gram-hash index for
  * ingest-time SPAN dedup — the `foreachBatch` deployment of
  * [[graft.operators.Dedup.duplicateSpansProbe]], and the span-grain
  * sibling of [[NearDupIndex]].
  *
  * Layout: one parquet frame under `dir/grams` holding the distinct
  * 64-bit gram hashes ever accepted — 8 bytes per distinct gram, no
  * positions, no text — partitioned by the writing micro-batch's id.
  * Each [[scrub]] probes the frame with batch-derived hashes (work ∝
  * batch + matches, never corpus), excises the duplicated spans from
  * the batch's documents, and writes the batch's own distinct gram
  * hashes so later batches dedupe against everything seen — including
  * re-crawls of passages that were themselves excised. Writes
  * accumulate per-batch distinct sets (not globally distinct):
  * semi-join correctness is unaffected, and [[compact]] folds the
  * partitions (between runs) when file counts grow — do NOT run a
  * generic directory compaction like Maintenance.compact here, it
  * would flatten the batch partitioning the replay contract needs.
  *
  * Replay safety mirrors [[NearDupIndex]]: the probe excludes the
  * current batch id's partition (a replayed batch never sees its own
  * prior grams — which would otherwise mark EVERY position duplicated
  * and gut the batch) and the write overwrites that partition.
  */
class SpanIndex(protected val spark: SparkSession, dir: String, k: Int = 8)
    extends IndexMaintenance {
  StreamDedup.bindGeometry(spark, dir, Seq("k" -> k))
  private val gramsFrame = new BatchFrame(spark, s"$dir/grams",
    Dedup.gramTable(StreamDedup.emptyDocs(spark), k))
  private[streaming] def frames = Seq(gramsFrame)

  def grams: DataFrame = gramsFrame.read

  /** Index `docs` (doc_id, text, ...) without scrubbing — the one-time
    * seed from an existing static corpus.
    */
  def append(docs: DataFrame): Unit = gramsFrame.seed(Dedup.gramTable(docs, k))

  /** This batch's duplicate spans vs the index ∪ the batch itself,
    * excluding any prior attempt of the same batch id.
    */
  def spans(batch: DataFrame, batchId: Long): DataFrame =
    Dedup.duplicateSpansProbe(batch, gramsFrame.except(batchId), k)

  /** Scrub one micro-batch: returns the batch with every span already
    * seen (or shared within the batch) excised — all non-text batch
    * columns preserved, `clean_text` and `n_removed` attached — and
    * grows the index with the batch's grams (own-partition overwrite;
    * see the class doc's replay contract). Pinned before
    * the write for the same read-write reason as
    * [[NearDupIndex.accept]].
    */
  def scrub(batch: DataFrame, batchId: Long): DataFrame = {
    // NULL-id rows re-attach by construction, not by key: the equi-join
    // would silently drop them from the sink (NULL never equi-matches)
    // even though exciseWith now routes them through untouched
    val nullIdRows = batch.filter(col("doc_id").isNull)
      .withColumn("clean_text", coalesce(col("text"), lit("")))
      .withColumn("n_removed", lit(0L))
      .drop("text")
    // excise only the real-id rows: feeding the full batch would just
    // have exciseWith rebuild the same NULL pass-through rows this
    // union already supplies, as a dead extra scan branch
    val realIds = batch.filter(col("doc_id").isNotNull)
    val cleaned = realIds.drop("text")
      .join(Dedup.exciseWith(realIds, spans(batch, batchId)), Seq("doc_id"))
      .unionByName(nullIdRows)
      .transform(graft.core.Pin.pin(_))
    gramsFrame.write(Dedup.gramTable(batch, k), batchId)
    cleaned
  }

}

/** A persisted, incrementally-maintained content-hash index for
  * ingest-time EXACT dedup — the `foreachBatch` deployment of
  * [[graft.operators.Dedup.exactProbe]], completing the persisted
  * quartet (exact / near / span / semantic) with the cheapest member:
  * 16 bytes per distinct document ever accepted, no text, no
  * positions.
  *
  * [[StreamDedup.firstArrivals]] remains the state-store shape
  * (watermark-evicted, bounded to the re-crawl horizon); this is the
  * INDEX shape — dedup against everything ever accepted, durable
  * across runs, probed per batch at O(batch) cost. Layout, replay
  * safety (own-batch exclusion + own-partition overwrite), compaction
  * and horizon expiry all follow the [[NearDupIndex]] contract.
  */
class ExactIndex(protected val spark: SparkSession, dir: String)
    extends IndexMaintenance {
  private val hashesFrame = new BatchFrame(spark, s"$dir/hashes",
    StreamDedup.emptyDocs(spark).select(md5(col("text")).as("content_hash")))
  private[streaming] def frames = Seq(hashesFrame)

  def hashes: DataFrame = hashesFrame.read

  /** Index `docs` (text, ...) without scrubbing — the one-time seed
    * from an existing static corpus. Text is read once, here; the
    * index stores only its hashes.
    */
  def append(docs: DataFrame): Unit =
    hashesFrame.seed(docs.filter(col("text").isNotNull)
      .select(md5(col("text")).as("content_hash")).distinct())

  /** Keep only batch rows whose content is unseen (index ∪ lower-id
    * in-batch keeper), then grow the index with the accepted hashes.
    * NULL doc_id and NULL text rows pass through un-deduped and
    * un-indexed — neither has a dedup identity the equi-joins could
    * act on (the uniform NULL contract of every index accept).
    */
  def accept(batch: DataFrame, batchId: Long): DataFrame =
    DedupAccept(batch, Seq("doc_id", "text"))(real =>
      Dedup.exactProbe(real, hashesFrame.except(batchId)).select("doc_id")) { kept =>
      hashesFrame.write(
        kept.select(md5(col("text")).as("content_hash")).distinct(), batchId)
    }
}
