package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Banded candidate pairs: the one definition of how LSH and
  * posting-list operators turn (id, key…) postings into candidate
  * pairs. Every caller builds its own postings (MinHash bands,
  * SimHash blocks, sign-LSH bands, rare shingles) and verifies its own
  * candidates; the join between the two lives here.
  *
  * One-shot mining ([[selfJoin]], [[pairs]]) equi-joins the postings
  * with themselves on the key columns under a `shuffle_hash` hint.
  * Left to AQE, a small-SF plan broadcasts one side instead, which
  * COMPUTES THE POSTINGS SUBTREE TWICE (scan + segmentation +
  * signature kernel per side) and builds a postings-sized broadcast
  * (measured at sf0.1: the broadcast plans repeated the 260k shingle
  * postings' and the 16k kNN postings' generate on both sides). The
  * hinted shuffle join's two sides are one ReusedExchange: the
  * subtree runs once and only the narrow posting rows shuffle. At
  * large SF postings outgrow any broadcast, so the hint is what the
  * planner picks anyway and the plan shape is scale-invariant.
  *
  * Build-side skew bound: a degenerate hot bucket — a boilerplate
  * doc duplicated D× puts D postings into ONE key — lands D build
  * rows (~24 B each) in one task's hash map where sort-merge would
  * spill. That map is O(D) while the join's OUTPUT for that bucket is
  * O(D²) pairs, which no strategy avoids (the pairs ARE the answer):
  * by the time the build map pressures executor memory (D ≈ 10⁸ →
  * ~2.4 GB) the output is ~10¹⁶ pairs, far past any engine's budget,
  * so the join strategy is never the binding constraint — upstream
  * exact-dedup / curation is. Below that, bucket density tracks TRUE
  * duplication, not corpus size (MEASURED, LSH_SCALE.md: candidates
  * == verified pairs at sf0.1 and sf1). DedupSpec pins the worst case
  * the banding admits: one doc (or vector) duplicated 600×, every
  * posting in one bucket per band, plan stays SHJ, exact output.
  *
  * Batch probing ([[probe]], [[batchPairs]], [[keep]]) is the
  * incremental form: a micro-batch against a PERSISTED posting index.
  */
object Banding {

  /** The (band, bucket) key of every banded LSH posting frame. */
  val BandBucket: Seq[String] = Seq("band", "bucket")

  /** Key equality between the `l` and `r` aliases, key by key. */
  private def collide(keys: Seq[String], l: String, r: String): Column =
    keys.map(k => col(s"$l.$k") === col(s"$r.$k")).reduce(_ && _)

  /** The undirected pair order a.`id` < b.`id`. */
  private def ordered(id: String): Column = col(s"a.$id") < col(s"b.$id")

  /** The hinted posting self-join, unprojected: sides are aliased `a`
    * and `b`, rows collide on every key column and must also satisfy
    * `pair` (a predicate over both aliases). For callers that
    * aggregate or rank the raw collisions instead of taking distinct
    * pairs: `rarePairs` bounds doc sizes inside the join, the kNN
    * mining keeps directed (`=!=`) rows with their band and
    * projection.
    */
  def selfJoin(postings: DataFrame, keys: Seq[String], pair: Column): DataFrame =
    postings.as("a")
      .join(postings.hint("shuffle_hash").as("b"), collide(keys, "a", "b") && pair)

  /** Distinct undirected candidate pairs (a.`id` < b.`id`) named
    * (`left`, `right`), plus any `extra` columns computed over the
    * `a`/`b` sides (they join the distinct key).
    */
  def pairs(postings: DataFrame, keys: Seq[String], id: String,
            left: String, right: String, extra: Column*): DataFrame =
    selfJoin(postings, keys, ordered(id))
      .select(col(s"a.$id").as(left) +: col(s"b.$id").as(right) +: extra: _*)
      .distinct()

  /** Distinct candidates between a large posting frame that STREAMS
    * (alias `stream`) and a small one that is broadcast (alias
    * `bcast`); `out` names the columns kept from either side. An
    * un-hinted join would build on whichever side fits — once the
    * streamed frame outgrows the auto-broadcast threshold that means
    * shuffling its keys ∝ corpus on every call (INDEX_SCALE.md).
    */
  def probe(streamed: DataFrame, broadcasted: DataFrame, keys: Seq[String],
            out: Column*): DataFrame =
    streamed.as("stream")
      .join(broadcast(broadcasted.as("bcast")), collide(keys, "bcast", "stream"))
      .select(out: _*)
      .distinct()

  /** The two candidate sets of a batch probed against stored postings:
    * (new_id, corpus_id) batch × index collisions ([[probe]]: stored
    * streams, batch broadcasts), and (id_a, id_b) in-batch pairs with
    * id_a < id_b. The in-batch join is un-hinted and mined over the
    * SAME `batch` subtree the index probe built (identical subtrees →
    * one computation / ReusedExchange), never a second one-shot pass.
    *
    * BOUND: the in-batch fan-out is bucket_occupancy² per key, and
    * occupancy is capped by the BATCH size — the corpus never enters
    * it — so at micro-batch scale a hot bucket costs at most |batch|²
    * verifies. Do NOT feed a backfill-sized "batch" through a probe: a
    * million identical re-crawls in one call is 10^12 candidate pairs.
    * Backfills go through the one-shot operators or are chunked into
    * real micro-batches, where each chunk's dupes drop against the
    * grown index for |chunk|²-bounded work.
    */
  def batchPairs(batch: DataFrame, stored: DataFrame, keys: Seq[String],
                 id: String): (DataFrame, DataFrame) =
    (probe(stored, batch, keys,
      col(s"bcast.$id").as("new_id"), col(s"stream.$id").as("corpus_id")),
      batch.as("a").join(batch.as("b"), collide(keys, "a", "b") && ordered(id))
        .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
        .distinct())

  /** The probe keep tail: the batch ids (`id` column of `batch`) that
    * neither `matched` an indexed row nor were `dropped` as the
    * non-keeper of a verified in-batch pair (greedy min-id keeper: a
    * near-dup of a dropped row is still dropped), ordered by id.
    */
  def keep(batch: DataFrame, id: String, matched: DataFrame,
           dropped: DataFrame): DataFrame =
    batch.select(col(id))
      .join(matched, Seq(id), "left_anti")
      .join(dropped, Seq(id), "left_anti")
      .orderBy(id)
}
