package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture application: compact an ordered I/U/D change feed
  * into the current snapshot (latest operation per key wins; deletes drop
  * the key). This is the incremental-load primitive the reference's
  * full-rebuild CTAS pipeline (ETL_GlobalWeather_DB.sql §3.2) grows into
  * once the source emits deltas instead of full extracts.
  *
  * Scale shape: ONE shuffle on the business key; the per-key window
  * reads a handful of versions per key (feed depth, not table size), and
  * WindowGroupLimit prunes losers before they reach the sort at scale.
  * No MERGE target scan is needed when the snapshot itself is the result.
  */
object Cdc {

  /** Latest-wins compaction. `feed` must carry `seq` (monotone per key)
    * and `op` ('I' | 'U' | 'D'); ties on seq are broken by an explicit
    * op priority D > U > I — a delete racing an update at the same seq
    * wins (the conservative read for a compactor: a lost delete
    * resurrects a row; a lost update is re-deliverable), and the feed
    * order is total either way.
    */
  def applyChanges(feed: DataFrame, key: Seq[String]): DataFrame = {
    val opPriority = when(col("op") === "D", 2)
      .when(col("op") === "U", 1).otherwise(0)
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col("seq").desc, opPriority.desc)
    feed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op") =!= "D")
      .drop("__rn", "seq", "op")
  }

  /** Deterministic demo feed over orders: the full extract as inserts
    * (seq 1), a price-correction update for every 3rd key (seq 2), and a
    * cancellation delete for every 10th key (seq 3).
    */
  def ordersFeed(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.core.Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val inserts = base
      .withColumn("seq", lit(1L)).withColumn("op", lit("I"))
    val updates = base.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .withColumn("o_totalprice", round(col("o_totalprice") + 1.0, 2))
      .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
    val deletes = base.filter(pmod(col("o_orderkey"), lit(10)) === 0)
      .withColumn("seq", lit(3L)).withColumn("op", lit("D"))
    inserts.unionByName(updates).unionByName(deletes)
  }

  /** The compacted snapshot for the demo feed, unsorted (the verify
    * dump sorts by key). */
  def ordersSnapshot(spark: SparkSession, dir: String): DataFrame =
    applyChanges(ordersFeed(spark, dir), Seq("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"))

  /** CDC GENERATION — the inverse of [[applyChanges]]: diff two full
    * snapshots into the I/U/D feed a downstream incremental consumer
    * replays (the escape hatch when a source system only hands out
    * full extracts). One co-partitioned full-outer join on the
    * business key comparing md5 payload digests: key only in new → I,
    * only in old → D, in both with different digests → U, identical →
    * dropped (the overwhelming bulk — unchanged rows never leave the
    * join). Text payloads never shuffle beyond the digest; both
    * snapshot scans prune to key + payload columns. Each payload
    * cell folds in LENGTH-PREFIXED (`v<len>:<bytes>`; NULL → the
    * distinct token `n`), so NULL vs empty string and shifted-field
    * payloads (('ab','') vs ('a','b')) digest differently no matter
    * what bytes the values contain — digest equality is exactly
    * per-field NULL-safe equality (IS NOT DISTINCT FROM semantics).
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keys: Seq[String], payload: Seq[String]): DataFrame = {
    def cell(c: String) = {
      val s = col(c).cast("string")
      when(s.isNull, lit("n"))
        .otherwise(concat(lit("v"), length(s), lit(":"), s))
    }
    def digested(df: DataFrame, h: String) = df.select(
      keys.map(col) :+
        md5(concat(payload.map(cell): _*)).as(h): _*)
    val o = digested(oldSnap, "__ho")
    val n = digested(newSnap, "__hn")
    o.join(n, keys, "full_outer")
      .withColumn("op",
        when(col("__ho").isNull, "I")
          .when(col("__hn").isNull, "D")
          .when(col("__ho") =!= col("__hn"), "U"))
      .filter(col("op").isNotNull)
      .select(keys.map(col) :+ col("op"): _*)
  }

  /** The FULL-EXTRACT ingestion shape: a source that can only hand
    * out complete snapshots, diffed per drop against the stored
    * previous snapshot — each call emits the I/U/D feed downstream
    * incremental consumers replay, then advances the stored state.
    *
    * First drop (no state) emits everything as inserts. Re-delivering
    * the SAME snapshot emits an empty feed — diff-against-state is
    * naturally idempotent, no batch-id bookkeeping needed. The state
    * swap is staged crash-safely: the new snapshot lands in a
    * `.staged` dir before the old state is deleted and the stage
    * renamed, and the read side completes an interrupted swap (stage
    * present, state missing → adopt the stage), so no crash point
    * loses the state or double-emits a feed that already advanced.
    * The feed itself is persisted to `<stateDir>.feed` BEFORE the
    * swap, so a crash between the swap and the caller's durable
    * write of the returned feed loses nothing: the last emitted feed
    * survives on disk and can be re-read (at-least-once delivery;
    * replaying it through [[applyChanges]]'s latest-wins compaction
    * is idempotent).
    */
  def diffAgainstStored(stateDir: String, snap: DataFrame,
                        keys: Seq[String], payload: Seq[String]): DataFrame = {
    import org.apache.hadoop.fs.Path
    val spark = snap.sparkSession
    val state = new Path(stateDir)
    val staged = new Path(stateDir + ".staged")
    val fs = state.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery: an interrupted swap deleted the state but not
    // yet renamed the stage — the stage IS the state
    if (!fs.exists(state) && fs.exists(staged))
      require(fs.rename(staged, state),
        s"adopting the interrupted state swap failed for $stateDir")
    val feed =
      if (!fs.exists(state))
        snap.select((keys.map(col) :+ lit("I").as("op")): _*)
      else
        snapshotDiff(spark.read.parquet(stateDir), snap, keys, payload)
    // persist the feed DURABLY before the state advances under it: a
    // crash after the swap but before the caller consumed the feed is
    // recoverable by re-reading feedDir (at-least-once, not at-most-
    // once) — a crash before the swap just re-diffs the same snapshot
    // against the unadvanced state and rewrites the identical feed.
    val feedDir = new Path(stateDir + ".feed")
    val feedSchema = feed.schema
    feed.write.mode("overwrite").parquet(feedDir.toString)
    val out =
      if (fs.globStatus(new Path(feedDir, "*.parquet")).nonEmpty)
        spark.read.schema(feedSchema).parquet(feedDir.toString)
      else // empty feed writes no part files; keep the schema
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], feedSchema)
    snap.write.mode("overwrite").parquet(staged.toString)
    fs.delete(state, true)
    require(fs.rename(staged, state),
      s"state swap failed for $stateDir — state is in ${staged} " +
        "(the next call adopts it)")
    out
  }

  /** [[snapshotDiff]] over the demo feed's own before/after states,
    * verify-ordered: old = the raw extract, new = the compacted
    * snapshot after the update/delete waves — so the emitted feed is
    * exactly the U/D tail of [[ordersFeed]] (plus no inserts), and
    * the oracle replays the same diff definition.
    */
  def ordersDiffFeed(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.core.Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    snapshotDiff(base, ordersSnapshot(spark, dir),
      Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
  }
}
