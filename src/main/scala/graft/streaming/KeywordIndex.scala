package graft.streaming

import graft.operators.Retrieval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained inverted index — RETRIEVAL's
  * ingest shape, completing the pattern the dedup/embedding indexes
  * set: corpus text is tokenized exactly once, when its batch is
  * accepted; every later query set runs against the stored (doc_id,
  * term, tf) postings and never rescans a document.
  *
  * Layout: three parquet frames under `dir`, each partitioned by the
  * writing micro-batch's id — `postings/` (doc_id, term, tf,
  * src_batch — the [[Retrieval.postingsTable]] grain), `positions/`
  * (doc_id, term, pos, src_batch — the positional instance grain
  * phrase queries verify against), and `indexed_docs/` (doc_id,
  * src_batch — one row per doc per indexing: the idf denominator
  * must count EVERY indexed doc, including docs none of a query's
  * terms hit, so it cannot be derived from queried postings). Replay
  * safety is own-partition OVERWRITE:
  * `foreachBatch` delivers at-least-once, and a replayed batch
  * rewrites exactly its own partitions — no exclusion join is needed
  * because indexing (unlike dedup) makes no accept/reject decision a
  * replay could flip.
  *
  * RE-SEEN DOCS (re-crawl/update of a doc_id already indexed in an
  * earlier batch) are LAST-WRITER-WINS, not double-counted: every row
  * carries its writing batch as the DATA column `src_batch`, and the
  * [[postings]]/[[nDocs]] read path keeps only each doc's
  * max-src_batch rows — tf, df and the idf denominator all see one
  * version per doc. Because the resolution rides a data column (not
  * the partition directory), it survives [[IndexMaintenance]]'s
  * generic compaction fold unchanged; stale rows merely occupy disk
  * until a compact-after-expire cycle drops their batches.
  * Compaction/retention come from [[IndexMaintenance]] under the same
  * commit-log proof as every other index.
  */
class KeywordIndex(protected val spark: SparkSession, dir: String)
    extends IndexMaintenance {
  private val postingsFrame = new BatchFrame(spark, s"$dir/postings",
    Retrieval.postingsTable(StreamDedup.emptyDocs(spark))
      .withColumn("src_batch", lit(0L)))
  private val positionsFrame = new BatchFrame(spark, s"$dir/positions",
    Retrieval.positionalPostings(StreamDedup.emptyDocs(spark))
      .withColumn("src_batch", lit(0L)))
  private val docsFrame = new BatchFrame(spark, s"$dir/indexed_docs",
    StreamDedup.emptyDocs(spark)
      .select(col("doc_id"), lit(0L).as("src_batch")))
  private[streaming] def frames = Seq(postingsFrame, positionsFrame, docsFrame)

  /** Each doc's winning (latest) src_batch — doc-grain, far smaller
    * than the postings it arbitrates; re-seen docs are the only rows
    * where it differs from any posting's own src_batch.
    */
  private def latestPerDoc: DataFrame =
    docsFrame.read
      .groupBy("doc_id").agg(max("src_batch").as("__winner"))

  /** The index's live postings: one version per doc (last writer
    * wins). The arbitration join is doc-grain against postings-grain
    * — when no doc was ever re-seen it filters nothing out.
    */
  def postings: DataFrame = liveFrame(postingsFrame)

  /** The index's live POSITIONAL postings (doc_id, term, pos) — the
    * phrase-query frame, same last-writer-wins arbitration.
    */
  def positional: DataFrame = liveFrame(positionsFrame)

  private def liveFrame(frame: BatchFrame): DataFrame =
    frame.read
      .join(latestPerDoc, Seq("doc_id"), "inner")
      .filter(col("src_batch") === col("__winner"))
      .drop("src_batch", "__winner")

  /** Total indexed documents (the idf denominator) — each re-seen doc
    * counted ONCE.
    */
  def nDocs: Long =
    docsFrame.read.select("doc_id").distinct().count()

  /** Index one micro-batch: tokenize ONCE, land postings + the
    * batch's doc ids in its own partitions (idempotent under replay),
    * pass the batch through unchanged — indexing is a side-effect
    * stage, not a filter. NULL doc_id / NULL text rows are passed
    * through un-indexed (no retrieval identity).
    */
  def accept(batch: DataFrame, batchId: Long): DataFrame = {
    // one version per doc WITHIN the batch too: duplicate doc_id rows
    // would double tf in postings and duplicate (doc_id, term, pos)
    // rows in positions — the latter breaks phraseCore's
    // n_hit === phrase_len equality and silently drops genuine phrase
    // hits for that doc. Cross-batch duplicates are arbitrated by
    // src_batch (last writer wins); within a batch there is no order,
    // so any one version wins.
    val real = batch
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .dropDuplicates("doc_id")
      .transform(graft.core.Pin.pin(_))
    Seq(postingsFrame -> Retrieval.postingsTable(real),
      positionsFrame -> Retrieval.positionalPostings(real),
      docsFrame -> real.select(col("doc_id")).distinct())
      .foreach { case (f, rows) =>
        f.write(rows.withColumn("src_batch", lit(batchId)), batchId)
      }
    batch
  }

  /** Search the whole indexed corpus — postings frames only, text
    * never read ([[Retrieval.keywordSearchIndexed]], sharing the
    * inline form's scoring core).
    */
  def search(queries: Seq[(Int, Seq[String])], k: Int = 10,
             scale: Long = 1000000L): DataFrame =
    Retrieval.keywordSearchIndexed(postings, nDocs, queries, k, scale)

  /** Exact phrase search over the whole indexed corpus — positional
    * frame only, text never read
    * ([[Retrieval.phraseSearchIndexed]], sharing the inline form's
    * anchor-counting core).
    */
  def phraseSearch(phrases: Seq[(Int, Seq[String])], k: Int = 10): DataFrame =
    Retrieval.phraseSearchIndexed(positional, phrases, k)
}
