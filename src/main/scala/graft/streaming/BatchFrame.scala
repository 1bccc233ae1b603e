package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructType}

/** One per-batch-partitioned parquet frame of a persisted index — the
  * one owner of the layout every index in this package shares:
  * `<root>/batch=<id>/` parquet, one partition per writing micro-batch,
  * plus the seed partition ([[StreamDedup.SeedBatchId]]) that one-time
  * seeds append to and [[compact]] folds into. An index declares its
  * frames and keeps only its own probe logic.
  *
  * Opening bootstraps the seed partition from `empty` if (and only if)
  * the frame is missing — each frame independently, so a crash between
  * two frames' bootstraps leaves the done one alone and the re-run fills
  * only the gap. It then infers the frame's on-disk schema ONCE and
  * binds `batch` as `long`; every later [[read]] reuses that schema, so
  * building a probe's frame starts no footer-inference job. The schema
  * is read from disk, not from `empty`'s builder: a builder over no rows
  * reports `lit` columns non-nullable where parquet reads every column
  * back nullable, and a stored frame that drifted from what the probe
  * expects must still fail loudly. `batch` is `long`, not the inferred
  * `int`, because [[StreamDedup.chunkedBackfill]] writes sub-seed ids
  * below the int range for large backfill ids.
  *
  * Replay safety is the frame's write discipline: a probe reads
  * [[except]] its own batch id (pruned at the partition level), and
  * [[write]] overwrites exactly its own partition, so at-least-once
  * `foreachBatch` delivery converges to the same frame.
  */
private[streaming] final class BatchFrame(spark: SparkSession, root: String,
                                          empty: => DataFrame) {
  import BatchFrame.StagePrefix
  private val rootPath = new Path(root)
  private val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val schema: StructType = {
    if (!fs.exists(rootPath)) write(empty, StreamDedup.SeedBatchId)
    // a compaction that crashed between deleting the old partitions and
    // renaming its stage leaves no visible partition to infer from:
    // finish it (the stage already holds every row; no batch is folded
    // anew, so no commit proof is needed)
    else if (batchDirs.isEmpty && stages.nonEmpty) compact(StreamDedup.SeedBatchId)
    StructType(spark.read.parquet(root).schema.map(f =>
      if (f.name == "batch") f.copy(dataType = LongType) else f))
  }

  /** Every partition, `batch` included, under the schema bound at open. */
  def read: DataFrame = spark.read.schema(schema).parquet(root)

  /** The shared own-batch replay exclusion: every partition but `batchId`'s. */
  def except(batchId: Long): DataFrame = read.filter(col("batch") =!= lit(batchId))

  /** Replace `batchId`'s partition with `rows`. */
  def write(rows: DataFrame, batchId: Long): Unit =
    rows.write.mode("overwrite").parquet(partition(batchId))

  /** Append `rows` to the seed partition — the one-time backfill seed,
    * below any real batch id, so no probe's own-batch filter excludes it.
    */
  def seed(rows: DataFrame): Unit =
    rows.write.mode("append").parquet(partition(StreamDedup.SeedBatchId))

  private def partition(batchId: Long) = s"$root/batch=$batchId"

  private def children = fs.listStatus(rootPath).filter(_.isDirectory)
  private def batchDirs = children.filter(_.getPath.getName.startsWith("batch="))
  private def stages = children.filter(_.getPath.getName.startsWith(StagePrefix))
  private def idOf(s: FileStatus) = s.getPath.getName.stripPrefix("batch=").toLong

  /** Horizon-bounded retention: delete every partition with
    * `SeedBatchId < id < cutoff` — dedup protection for documents
    * ingested before the horizon lapses, bounding index size the way
    * `dropDuplicatesWithinWatermark` bounds streaming state (a
    * re-crawl window, not an eternal memory). The seed partition
    * (curated backfill) and the chunked backfill's sub-seed partitions
    * are permanent corpus and never expire; fold batches into the seed
    * via [[compact]] first when they should become permanent.
    *
    * ENFORCED precondition: `cutoff ≤ lastCommittedBatchId + 1`. An
    * expired batch must never replay — a replayed batch id whose
    * partition was deleted would re-accept every row it carried — and
    * commitment is exactly the property that rules replay out.
    */
  def expireBelow(cutoff: Long, lastCommittedBatchId: Long): Unit = {
    if (cutoff > lastCommittedBatchId + 1)
      throw new IllegalStateException(
        s"expire cutoff $cutoff exceeds committed high-water mark " +
          s"$lastCommittedBatchId + 1 for $root: an uncommitted batch " +
          "below the cutoff could replay after its partition is deleted " +
          "and silently re-accept its rows")
    // a leftover compaction stage holds a fold of the CURRENT batches;
    // expiring under it would be undone the moment the interrupted
    // compact re-runs and folds the stage — with the expired rows —
    // into the seed partition retention never touches. Resolve the
    // crash first (re-run compact), then expire.
    if (stages.nonEmpty)
      throw new IllegalStateException(
        s"$root has an unfinished compaction stage: re-run compact() " +
          "to resolve it before expiring, or expired rows would be " +
          "resurrected into the seed partition by the stage fold")
    batchDirs.filter { s =>
      val id = idOf(s)
      id > StreamDedup.SeedBatchId && id < cutoff
    }.foreach(s => fs.delete(s.getPath, true))
  }

  /** Offline maintenance: fold every partition into the seed partition.
    *
    * ENFORCED precondition: every folded batch id must be ≤
    * `lastCommittedBatchId` (the checkpoint's commit-log high-water
    * mark — [[StreamDedup.lastCommittedBatch]] reads it) or the call
    * throws before touching a byte. A batch replayed after its rows were
    * folded into the seed partition would no longer be excluded by the
    * probe's own-batch filter — the exact self-match the per-batch
    * layout exists to prevent.
    *
    * Crash safety by staging, never in-place: the folded superset is
    * written to a fresh hidden `.compacting-<n>` directory FIRST, and
    * only then are the old partitions — including the old seed —
    * deleted and the stage renamed into place. Re-runs (and the next
    * open) fold any leftover stage directories back in, so at every
    * crash point the union of what remains on disk is a superset of the
    * original rows (duplicates are harmless to the semi-join probes) and
    * re-running converges; no row is ever lost.
    */
  def compact(lastCommittedBatchId: Long): Unit = {
    val (batches, staged) = (batchDirs, stages)
    val uncommitted = batches.map(idOf)
      .filter(id => id != StreamDedup.SeedBatchId && id > lastCommittedBatchId)
    if (uncommitted.nonEmpty)
      throw new IllegalStateException(
        s"compact() would fold batch partitions ${uncommitted.sorted.mkString(",")} " +
          s"of $root, but the checkpoint has only committed through " +
          s"$lastCommittedBatchId: a replay of an uncommitted batch would " +
          "match its own folded rows. Stop the stream and pass its " +
          "commit-log high-water mark (lastCommittedBatch).")
    // a dir a crashed run created but never wrote data into has no
    // schema to read — folding it in means skipping it
    def readable(s: FileStatus) =
      fs.listStatus(s.getPath).exists(f => f.isFile &&
        !f.getPath.getName.startsWith(".") && !f.getPath.getName.startsWith("_"))
    val srcs = (batches ++ staged).filter(readable).map(_.getPath.toString)
    if (srcs.isEmpty) return
    val folded = srcs.map(spark.read.parquet(_)).reduce(_.unionByName(_))
      .distinct()
    val stageN = staged.flatMap(s => scala.util.Try(
      s.getPath.getName.stripPrefix(StagePrefix).toLong).toOption)
      .maxOption.getOrElse(-1L) + 1
    val stage = new Path(rootPath, s"$StagePrefix$stageN")
    // the lazy `folded` plan reads the OLD dirs while writing the NEW
    // stage — no read-own-write hazard, so no checkpoint needed
    folded.write.mode("overwrite").parquet(stage.toString)
    batches.foreach(s => fs.delete(s.getPath, true))
    staged.foreach(s => fs.delete(s.getPath, true)) // stageN not in `staged`
    if (!fs.rename(stage, new Path(partition(StreamDedup.SeedBatchId))))
      throw new IllegalStateException(
        s"rename of compacted stage $stage into the seed partition of $root failed")
  }
}

private object BatchFrame {
  /** Dot-prefixed so in-progress compaction output is HIDDEN from
    * every reader of the frame root (Spark's listing skips `.`/`_`
    * children) while still directly readable as an explicit path.
    */
  val StagePrefix = ".compacting-"
}

/** Shared offline-maintenance surface of the persisted per-batch-id
  * indexes: compaction and horizon expiry applied uniformly to EVERY
  * frame the index owns — one `frames` list per index, so adding a frame
  * can never miss a maintenance method and silently orphan (or, worse,
  * resurrect) its rows.
  *
  * Both operations demand the stopped stream's commit-log high-water
  * mark — pass it directly, or pass the checkpoint dir and let
  * [[StreamDedup.lastCommittedBatch]] read the proof. See
  * [[BatchFrame.compact]] (staged crash-safe fold; refuses uncommitted
  * partitions) and [[BatchFrame.expireBelow]] (re-crawl-window
  * retention; refuses uncommitted cutoffs and unfinished compaction
  * stages).
  */
trait IndexMaintenance {
  protected def spark: SparkSession

  /** Every per-batch frame this index owns. */
  private[streaming] def frames: Seq[BatchFrame]

  /** Fold all batch partitions of every frame into their seed
    * partitions; throws if any partition id exceeds
    * `lastCommittedBatchId`.
    */
  def compact(lastCommittedBatchId: Long): Unit =
    frames.foreach(_.compact(lastCommittedBatchId))

  /** [[compact]] proving the precondition from the stream's own
    * checkpoint commit log.
    */
  def compact(checkpointDir: String): Unit =
    compact(StreamDedup.lastCommittedBatch(spark, checkpointDir)
      .getOrElse(StreamDedup.SeedBatchId))

  /** Drop protection for batches below `cutoff` (re-crawl-window
    * retention); throws if the cutoff is not provably committed or an
    * unfinished compaction stage could resurrect the expired rows.
    */
  def expireBatchesBelow(cutoff: Long, lastCommittedBatchId: Long): Unit =
    frames.foreach(_.expireBelow(cutoff, lastCommittedBatchId))

  /** [[expireBatchesBelow]] proving the precondition from the
    * stream's own checkpoint commit log.
    */
  def expireBatchesBelow(cutoff: Long, checkpointDir: String): Unit =
    expireBatchesBelow(cutoff,
      StreamDedup.lastCommittedBatch(spark, checkpointDir)
        .getOrElse(StreamDedup.SeedBatchId))
}

/** The one accept contract of the dedup indexes ([[ExactIndex]],
  * [[NearDupIndex]], [[EmbeddingIndex]], [[PqEmbeddingIndex]]), which
  * differ only in how candidates are probed and what their frames store:
  *
  *  - rows with a NULL in any `identity` column pass through un-probed
  *    and un-indexed — they have no dedup identity, and the id-keyed
  *    semi-join would otherwise silently lose them from the sink;
  *  - the rest are semi-joined on `identity.head` with `probe` of
  *    themselves (the rows the probe keeps);
  *  - the kept frame is pinned BEFORE `write` grows the frames: its plan
  *    reads the very parquet dirs being written, and a lazy plan
  *    re-evaluated afterwards would see the batch's own rows and drop
  *    everything as a self-match;
  *  - `write` receives the kept rows that have an identity.
  */
private[streaming] object DedupAccept {
  def apply(batch: DataFrame, identity: Seq[String])(
      probe: DataFrame => DataFrame)(write: DataFrame => Unit): DataFrame = {
    val hasId = identity.map(col(_).isNotNull).reduce(_ && _)
    val real = batch.filter(hasId)
    val kept = real.join(probe(real), Seq(identity.head), "left_semi")
      .unionByName(batch.filter(identity.map(col(_).isNull).reduce(_ || _)))
      .transform(graft.core.Pin.pin(_))
    write(kept.filter(hasId))
    kept
  }
}
