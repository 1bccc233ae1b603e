package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication for large text corpora.
  *
  * Four strategies, all shuffle-frugal by construction:
  *  - exact:      one hash-groupBy (map-side combine does the heavy lifting)
  *  - n-gram Jaccard: inverted-index join sharded by shingle (never n²)
  *  - MinHash+LSH: banding → groupBy bucket → pairs only within buckets
  *  - SimHash:    Hamming blocking (pigeonhole) → pairs only within blocks
  *
  * Expected input schema: (doc_id: long, text: string, ...).
  */
object Dedup {

  /** Horner base for LSH band-bucket folds (BucketBase · 2^31 < 2^62,
    * BIGINT-safe).
    */
  final val BucketBase = 1000003L

  /** Exact dedup by content hash. Keeper = lowest doc_id per cluster.
    * At 100 TB this is a single shuffle on a well-distributed key
    * (md5), with partial aggregation collapsing each partition first.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_dupes"))

  /** [[exact]] with a pluggable keeper POLICY: exact duplicates share
    * their text (so any content-derived score ties) — real pipelines
    * break the tie on provenance METADATA, keeping the copy from the
    * most trusted source. `preference` is any orderable Column
    * (smaller = preferred); doc_id breaks remaining ties so the
    * keeper is total. `carry` names the keeper's metadata columns to
    * report (exposed as `keeper_<name>`) — the input only needs text,
    * doc_id and those. Same single map-side-combined hash aggregate as
    * [[exact]] — the policy rides inside the min-struct, costing
    * nothing extra at scale.
    */
  def exactByPreference(docs: DataFrame, preference: Column,
                        carry: Seq[String] = Seq("source")): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(struct(preference.as("p") +: col("doc_id") +:
        carry.map(col): _*)).as("k"),
        count(lit(1)).as("n_dupes"))
      .select(col("content_hash") +: col("k.doc_id").as("keeper_doc_id") +:
        carry.map(c => col(s"k.$c").as(s"keeper_$c")) :+ col("n_dupes"): _*)

  /** Per-source exact-duplication profile — the curation diagnostic
    * that tells you WHERE the duplication lives (a crawl slice with a
    * 40% dup rate is a scraper bug or a mirror, not signal). Two-level
    * hash aggregate: (source, md5) first — 16-byte keys, text never
    * shuffles, map-side combine absorbs hot duplicates — then a
    * source-sized re-aggregate. One scan; nothing document-grain
    * leaves the first exchange.
    */
  def sourceProfile(docs: DataFrame): DataFrame =
    docs.select(col("source"), md5(col("text")).as("__h"))
      .groupBy("source", "__h").agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(sum("n").as("n_docs"), count(lit(1)).as("n_unique"),
        round((sum("n") - count(lit(1))).cast("double") / sum("n"), 4)
          .as("dup_rate"))
      .orderBy("source")

  /** Incremental-append dedup: of a NEW batch, keep only documents that
    * are (a) the keeper inside their batch-local duplicate cluster and
    * (b) unseen in the existing corpus.
    *
    * This is the ingestion-time shape at 100 TB: the corpus side is a
    * precomputed content-hash index (here derived inline), the batch is
    * orders of magnitude smaller, and the anti join broadcasts the
    * batch's keeper set — the corpus is never re-deduped, only probed.
    */
  def incremental(newDocs: DataFrame, corpus: DataFrame): DataFrame =
    newDocs
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("doc_id"))
      .join(corpus.select(md5(col("text")).as("content_hash")).distinct(),
        Seq("content_hash"), "left_anti")
      .select(col("doc_id"), col("content_hash"))

  /** [[incremental]] against a PERSISTED hash frame (`content_hash`
    * column; extra columns like a batch partition id are ignored) —
    * the probe kernel of [[graft.streaming.ExactIndex]]: the corpus
    * side is 16 bytes per distinct document ever accepted, no text is
    * read or stored, and the index frame is NEVER shuffled: the batch's
    * keeper hashes broadcast into a semi-join that streams the index
    * scan (a direct anti-join can only build its hash table on the
    * index side — under ~10 MB Spark broadcasts it, but past the
    * threshold it degrades to shuffling the index keys every batch,
    * the measured 81 KB → 34 MB cliff in INDEX_SCALE.md), and the
    * resulting matched set (≤ the batch) broadcasts into the anti.
    * Probe shuffle is batch-bound at ANY corpus size; the spec pins it
    * (no exchange above an index scan, auto-broadcast disabled).
    * Returns the kept (doc_id, content_hash) pairs, unsorted (a
    * per-batch kernel, not an oracle query).
    */
  def exactProbe(newDocs: DataFrame, corpusHashes: DataFrame): DataFrame = {
    val keepers = newDocs
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("doc_id"))
    val seen = corpusHashes.select("content_hash")
      .join(broadcast(keepers.select("content_hash")),
        Seq("content_hash"), "left_semi")
    keepers
      .join(broadcast(seen), Seq("content_hash"), "left_anti")
      .select(col("doc_id"), col("content_hash"))
  }

  /** (doc_id, sh) sorted 62-bit shingle-HASH arrays — the
    * verification-side companion of the [[bandedBuckets]] posting
    * index. A warehouse persists BOTH once per corpus (postings to
    * find candidates, hashes to Jaccard-verify them) and
    * [[minhashProbe]] then probes the persisted frames per batch
    * without ever touching corpus text again.
    *
    * Hashes, not strings (VERDICT r13 #2): the verify join attaches
    * this array to BOTH sides of every candidate pair, so its row
    * width IS the join's shuffle volume — 8 B/shingle here vs the
    * ~20+ B/shingle string arrays that spilled the sf10 verify for
    * 2371 s. Jaccard over the hashed sets equals Jaccard over the
    * string sets barring a ~2^-62 collision ([[graft.functions
    * .ShingleHashes]]), the same trade [[gramTable]] already makes.
    *
    * PERSISTED-FORMAT BREAK (r14): `sh` changed array&lt;string&gt; →
    * array&lt;bigint&gt;. A shingle frame persisted by a warehouse
    * before r14 fails [[minhashProbe]] at analysis time (the
    * sorted_array_jaccard type check — loud, never silent). Rebuild
    * persisted shingle frames from corpus text when upgrading.
    */
  def shingleTable(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), TextOps.shingleHashes(col("text"), n).as("sh"))

  /** Incremental-append NEAR-dup dedup: the [[incremental]] discipline
    * applied to MinHash-LSH. Of a new batch, keep only documents that
    * are (a) not a near-duplicate (Jaccard ≥ `minJaccard`) of any
    * existing corpus document and (b) the min-id keeper among their
    * batch-local near-dup matches.
    *
    * This convenience form derives the corpus-side index inline —
    * fine for a one-shot backfill, but it re-scans corpus TEXT on
    * every call. The deployment shape at 100 TB is [[minhashProbe]]:
    * persist [[bandedBuckets]] + [[shingleTable]] once, probe the
    * frames per batch, append each accepted batch's index rows
    * (work per batch ∝ batch + collisions, NEVER corpus). This
    * wrapper is spec-pinned row-identical to the probe form.
    */
  def minhashIncremental(newDocs: DataFrame, corpus: DataFrame, n: Int = 3,
                         numHashes: Int = 32, bands: Int = 8,
                         minJaccard: Double = 0.5): DataFrame =
    minhashProbe(newDocs, bandedBuckets(corpus, n, numHashes, bands),
      shingleTable(corpus, n), n, numHashes, bands, minJaccard)

  /** [[minhashIncremental]] against a PERSISTED corpus index: probes
    * the stored (doc_id, band, bucket) postings and (doc_id, sh)
    * shingle arrays instead of re-deriving them from corpus text. The
    * only scans in the probe plan are the batch itself and the two
    * index frames — DedupSpec asserts no corpus-text column is read —
    * so per-batch work is proportional to the batch and its bucket
    * collisions even as the indexed corpus grows. Greedy min-id keeper
    * within the batch (a near-dup of a dropped doc is still dropped —
    * consistent with the union-run parity the spec asserts against).
    */
  def minhashProbe(newDocs: DataFrame, corpusPostings: DataFrame,
                   corpusShingles: DataFrame, n: Int = 3,
                   numHashes: Int = 32, bands: Int = 8,
                   minJaccard: Double = 0.5): DataFrame = {
    val (candidates, inBatch) = Banding.batchPairs(
      bandedBuckets(newDocs, n, numHashes, bands), corpusPostings,
      Banding.BandBucket, "doc_id")
    val newSh = shingleTable(newDocs, n)
    // candidates (batch × collisions) carry the batch shingle arrays
    // and probe a streaming scan of the corpus shingle frame — the
    // other index frame that must not shuffle. The probe side
    // broadcasts only while its MEASURED row count is under the
    // graft.probe.maxBroadcastRows bound; a collision-heavy
    // (adversarial) corpus degrades to an explicit shuffle_hash join
    // instead of blowing the 8 GB broadcast limit — see
    // [[graft.core.ProbeGuard]].
    val matched = corpusShingles
      .select(col("doc_id").as("corpus_id"), col("sh").as("sh_b"))
      .join(graft.core.ProbeGuard.guarded(candidates
        .join(newSh.select(col("doc_id").as("new_id"), col("sh").as("sh_a")),
          "new_id")), "corpus_id")
      .filter(graft.functions.GraftFunctions.sortedArrayJaccard(
        col("sh_a"), col("sh_b")) >= minJaccard)
      .select(col("new_id").as("doc_id")).distinct()
    // in-batch pairs verify over the same batch shingle subtree; the
    // |batch|² hot-bucket bound is Banding.batchPairs' — deployed at
    // micro-batch scale by [[graft.streaming.NearDupIndex]], backfills
    // go through [[minhashLsh]]+[[exact]] or are chunked (DedupSpec
    // pins the wrapper parity that makes chunking safe)
    val inBatchDropped = inBatch
      .join(newSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(newSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(graft.functions.GraftFunctions.sortedArrayJaccard(
        col("sh_a"), col("sh_b")) >= minJaccard)
      .select(col("id_b").as("doc_id")).distinct()
    Banding.keep(newDocs, "doc_id", matched, inBatchDropped)
  }

  /** Cross-document duplicate text SPANS at a fixed token k-gram grain
    * — the duplicate-passage family (the dedup grain between document-
    * level [[exact]] and similarity-level [[minhashLsh]]): find maximal
    * token runs that also occur in at least `minDocs - 1` OTHER
    * documents, e.g. boilerplate headers, licence blocks, quoted
    * passages.
    *
    * Shape: a positional k-gram instance table (doc_id, pos, h) where
    * `h` is a 64-bit hash of the gram — hashed IN the scan projection,
    * so gram strings never leave the scan and the shuffled rows are
    * 24 bytes regardless of k. A gram is duplicated when it appears in
    * ≥ `minDocs` distinct docs, decided by a hash aggregate (map-side
    * combined, so hot boilerplate grams never funnel a partition — see
    * spanCore); instances semi-join the one-row-per-gram duplicated
    * set and adjacent positions merge into islands via the
    * pos − row_number trick (the events_streaks pattern) under a
    * per-doc window. A span of g consecutive duplicated grams covers
    * g + k − 1 tokens.
    *
    * Output: (doc_id, span_start, span_end, span_tokens, n_grams) —
    * token positions 0-based inclusive — ordered for the oracle. The
    * oracle replays gram-STRING equality; hash equality diverges only
    * on a 64-bit collision (~#grams²/2⁶⁴, vanishing at any SF).
    */
  def duplicateSpans(docs: DataFrame, k: Int = 8, minDocs: Int = 2): DataFrame =
    spanCore(docs, k, minDocs)

  /** The positional k-gram instance table (doc_id, pos: long, h: long)
    * — gram strings are hashed inside the scan projection and never
    * move.
    *
    * Deliberately LAMBDA-FREE (explode a 1-based position sequence,
    * then `slice` with the position column) rather than a
    * `transform(...)` over the token array: NamedLambdaVariable ids
    * are re-minted by DeduplicateRelations and never canonicalize
    * away, so a lambda-bearing subtree can never match an aliased
    * twin of itself for exchange reuse — keeping the kernel
    * lambda-free keeps every composition of this table eligible.
    */
  private def spanInstances(docs: DataFrame, k: Int): DataFrame = {
    val tk = col("tk")
    // NULL-id docs have no dedup identity: min/max ignore NULLs, so an
    // unfiltered table would let a NULL-id doc's instances be MARKED by
    // a gram two real docs share (emitting spans under a NULL key)
    // while never making any gram duplicated itself — filtering at the
    // scan keeps the semantics one sentence ("only identified docs
    // participate") and the aggregate's min/max non-null by
    // construction. [[exciseWith]] routes NULL-id docs around excision
    // untouched.
    // Script-aware: the gram feed segments unspaced runs (CJK, Thai,
    // URLs) into char trigrams first — identity on space-delimited
    // text, so the SQL oracle replays verbatim — matching what the
    // MinHash/SimHash signature scans already do. Without it a CJK
    // passage is ONE token and duplicated-passage mining goes blind.
    docs
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), TextOps.tokensScriptAware(col("text")).as("tk"))
      .select(col("doc_id"), tk,
        explode(sequence(lit(1), greatest(size(tk) - (k - 1), lit(1))))
          .as("i"))
      .filter(col("i") + (k - 1) <= size(tk))
      .select(col("doc_id"), (col("i") - 1).cast("long").as("pos"),
        xxhash64(array_join(slice(tk, col("i"), lit(k)), " ")).as("h"))
  }

  /** Adjacent duplicated gram positions → maximal spans (the
    * pos − row_number island merge), shared by every span operator.
    * `marked` is any subset of a [[spanInstances]] frame.
    */
  private def islandSpans(marked: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"),
        (max("pos") + (k - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_grams"))
  }

  /** [[duplicateSpans]] without the oracle's output sort, for
    * composition (the sort would otherwise cost a range exchange
    * inside [[exciseSpans]]' join).
    */
  private def spanCore(docs: DataFrame, k: Int, minDocs: Int): DataFrame = {
    val inst = spanInstances(docs, k)
    // "appears in >= minDocs distinct docs" is decided at GRAM grain,
    // never by joining posting lists against each other: the duplicated
    // gram set comes from a hash aggregate over the instances — at the
    // default minDocs = 2, min(doc_id) ≠ max(doc_id) IS "≥ 2 distinct
    // docs", a single-level aggregate whose partial combine collapses a
    // hot gram's instances map-side (a boilerplate gram crossing every
    // partition still ships ≤ one row per partition) — and the
    // instances then semi-join a build side holding ONE ROW PER GRAM.
    // This is the shape an earlier revision's instance-level
    // self-semi-join lacked: there, a ubiquitous 8-gram (licence
    // boilerplate, HTML artifacts) funneled its ENTIRE posting list
    // into a single build partition keyed on h, which AQE cannot split
    // for the non-stream side of a left-semi. Here no posting list is
    // ever materialized per-key anywhere: the build side is uniform by
    // construction, and the stream side — where a hot gram's instances
    // do colocate — is the splittable side of a left-semi under AQE's
    // skew rule. The shuffle_hash hint keeps the probe sort-free
    // (a sort-merge would re-introduce a per-task sort of the hot
    // stream partition when AQE leaves it unsplit).
    //
    // Cost vs the self-join formulation: one extra corpus scan (the
    // aggregate side cannot share the probe side's exchange), bought
    // deliberately — it is the same rows-for-skew-safety trade
    // [[ngramJaccard]]'s `maxDf` hash aggregate makes, with none of
    // its precision cut: both formulations decide exactly "gram
    // occurs in ≥ minDocs docs", so the oracle replays the result
    // verbatim, and a doc degenerately repeating one gram millions of
    // times is still correctly unmarked (min = max).
    val dupGrams =
      if (minDocs <= 2)
        inst.groupBy("h")
          .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
          .filter(col("d0") =!= col("d1")).select("h")
      else
        inst.groupBy("h").agg(count_distinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= minDocs).select("h")
    islandSpans(inst.join(dupGrams.hint("shuffle_hash"),
      Seq("h"), "left_semi"), k)
  }

  /** The distinct gram-hash frame of a corpus — the persistable index
    * for INCREMENTAL span dedup (8 bytes per distinct gram, no
    * positions, no text): a batch probes it via [[duplicateSpansProbe]]
    * and the corpus is never re-scanned. The span-grain sibling of
    * [[bandedBuckets]].
    */
  def gramTable(docs: DataFrame, k: Int = 8): DataFrame =
    spanInstances(docs, k).select("h").distinct()

  /** [[duplicateSpans]] of a NEW batch against a PERSISTED corpus gram
    * index: a batch gram is duplicated if the corpus has ever seen it
    * (existence in [[gramTable]] alone implies a second document,
    * assuming batch/corpus doc-ids are disjoint) or if another batch
    * document carries it (the same min≠max hash aggregate as the
    * one-shot form — gram-grain, so even a backfill-sized "batch"
    * with a hot boilerplate gram never funnels a join partition; see
    * spanCore). The two gram sets union BEFORE the single semi-join —
    * a build side of bare 8-byte hashes, one row per gram, never a
    * posting list. Equals `duplicateSpans(corpus ∪ batch)` restricted
    * to batch docs — spec-pinned — at work proportional to the batch,
    * never the corpus.
    */
  def duplicateSpansProbe(batch: DataFrame, corpusGrams: DataFrame,
                          k: Int = 8): DataFrame = {
    val inst = spanInstances(batch, k)
    val batchDup = inst.groupBy("h")
      .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
      .filter(col("d0") =!= col("d1")).select("h")
    // the corpus gram frame must STREAM, never shuffle (∝ corpus): the
    // batch's distinct gram set broadcasts into a semi-join that
    // filters the corpus scan down to the matched grams (≤ batch), and
    // THAT small set broadcasts into the island semi-join. The batch-
    // side distinct is one batch-bound shuffle — the price of never
    // moving index rows.
    val instH = inst.select("h").distinct()
    val corpusMatched = corpusGrams.select("h")
      .join(broadcast(instH), Seq("h"), "left_semi")
    val dup = corpusMatched.unionByName(batchDup)
    islandSpans(inst.join(broadcast(dup), Seq("h"), "left_semi"), k)
      .orderBy("doc_id", "span_start")
  }

  /** Rewrite each document with its cross-doc duplicate spans
    * ([[duplicateSpans]]) EXCISED — the enforcement half of
    * substring-level dedup: every token covered by a duplicated span
    * is dropped from every document carrying it, the surviving tokens
    * re-join in order.
    *
    * Shape: tokens explode positionally (24-byte-ish rows plus the
    * token), spans attach per doc_id (an equi-join on doc_id with the
    * position range as a post-join filter — spans per doc are few, so
    * the per-key fan-out is bounded), covered tokens drop via
    * left-anti, and the document reassembles with a single
    * collect-and-sort aggregate per doc (struct(pos, tok) sorted —
    * per-doc state is the document itself, the same bound every
    * sessionization window here already accepts). Docs whose tokens
    * all survive (or all drop) stay present via the final full-outer
    * join of survivors against per-doc span widths.
    *
    * Output: (doc_id, clean_text, n_removed), ordered by doc_id.
    */
  def exciseSpans(docs: DataFrame, k: Int = 8, minDocs: Int = 2): DataFrame =
    exciseWith(docs, spanCore(docs, k, minDocs))

  /** The excision tail of [[exciseSpans]] against a caller-supplied
    * spans frame (doc_id, span_start, span_end, ...) — lets the
    * streaming path drop spans found by [[duplicateSpansProbe]]
    * without re-deriving them.
    */
  def exciseWith(docs: DataFrame, spansIn: DataFrame): DataFrame = {
    val spans = spansIn
      .select(col("doc_id"), col("span_start"), col("span_end"))
    // NULL text would explode to ZERO token rows and the doc — absent
    // from both outer-join sides — would vanish from the output (a
    // streaming batch row silently dropped from the sink). Coalesce to
    // '' first: like an empty string it tokenizes to one empty token,
    // so the doc survives with clean_text '' and n_removed 0. The
    // oracle applies the same COALESCE.
    // NULL-id docs route AROUND the excision untouched (unioned back
    // below): a NULL id has no dedup identity — spanInstances drops it
    // from span detection, equi-grouping would merge every NULL-id doc
    // into one row, and silently dropping it would lose a streaming
    // batch row from the sink. The non-null filter also keeps the two
    // coverage joins' token subtrees identical: the semi twin INFERS
    // IsNotNull(doc_id) from its join keys while the anti twin does
    // not, and that asymmetry alone would block the exchange reuse
    // and cost a third corpus scan.
    val nullIdDocs = docs.filter(col("doc_id").isNull)
      .select(col("doc_id"),
        coalesce(col("text"), lit("")).as("clean_text"),
        lit(0L).as("n_removed"))
    // Same script-aware token grain as [[spanInstances]] — positions
    // must refer to the SAME token stream the spans were mined over,
    // or excision on a segmented doc would cut the wrong ranges. On a
    // segmented doc clean_text is therefore the segmented (trigram)
    // form: excision is a token-space rewrite by contract.
    val toks = docs
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        posexplode(TextOps.tokens(TextOps.segmentIfUnspaced(
          coalesce(col("text"), lit(""))))))
      .toDF("doc_id", "pos", "tok")
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    // the vacuously-true `length(tok) + span_start >= 0` term (both
    // non-negative) references BOTH sides so it stays in the join: it
    // pins tok into the semi twin's input, where column pruning would
    // otherwise shrink its subtree below the anti twin's and break the
    // exchange reuse that keeps this at two corpus scans (the same
    // device as the instance self-join's `a.pos + b.pos >= 0`)
    def coverageJoin(joinType: String) = toks.as("t")
      .join(spans.as("s"),
        col("t.doc_id") === col("s.doc_id") &&
          col("t.pos").between(col("s.span_start"), col("s.span_end")) &&
          length(col("t.tok")) + col("s.span_start") >= 0,
        joinType)
    val kept = coverageJoin("left_anti")
    val reassembled = kept.groupBy("doc_id")
      .agg(collect_list(struct(col("pos"), col("tok"))).as("pt"))
      .select(col("doc_id"),
        array_join(transform(array_sort(col("pt")), _.getField("tok")), " ")
          .as("clean_text"))
    // n_removed counts the COVERED tokens via the semi twin of the
    // keep join (same children → both its exchanges are reused, no
    // extra scan). It must NOT be derived as Σ span widths: islands
    // are disjoint in GRAM-position space, but their token ranges
    // overlap whenever the gram gap between two islands is < k, and
    // summing widths double-counts the overlap. A semi join counts
    // each covered token once regardless of how many spans cover it.
    // Every doc appears in at least one side of the outer join: a doc
    // missing from `reassembled` had all tokens covered, one missing
    // from `removed` had none (even empty/NULL text tokenizes to one
    // empty token, which is then kept).
    val removed = coverageJoin("left_semi").groupBy("doc_id")
      .agg(count(lit(1)).as("n_removed"))
    reassembled.join(removed, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .unionByName(nullIdDocs)
  }

  /** Exact n-gram Jaccard similar pairs via an inverted index.
    *
    * Joining on the shingle (token) shards the O(n²) problem by term —
    * only documents sharing a shingle ever meet. `maxDf` drops
    * high-document-frequency shingles (the classic stopword cut) which
    * both bounds worst-case skew (a shingle in k docs creates k² join
    * rows) and keeps bucket sizes executor-friendly at scale.
    * Jaccard denominators still count ALL distinct shingles per doc.
    */
  def ngramJaccard(docs: DataFrame, n: Int = 3, minJaccard: Double = 0.6,
                   maxDf: Int = 100): DataFrame =
    rarePairs(docs, n, maxDf, minSizeRatio = minJaccard)
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

  /** Asymmetric near-dup: containment |A∩B|/|A| (and /|B|) over the
    * same rare-shingle machinery. Jaccard misses SUBSET duplication —
    * a short doc quoted wholesale inside a long one scores
    * |A|/(|A|+|B|−|A|) ≈ |A|/|B| ≈ 0, while its containment is 1.0 —
    * and containment is how quote-inclusion / boilerplate-wrapping
    * duplication is actually caught (the direction tells you which
    * side is the fragment). A pair survives when EITHER direction
    * clears `minContainment`.
    */
  def ngramContainment(docs: DataFrame, n: Int = 3,
                       minContainment: Double = 0.8,
                       maxDf: Int = 100): DataFrame =
    rarePairs(docs, n, maxDf)
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / col("sz_a")).as("containment_a"),
        (col("inter").cast("double") / col("sz_b")).as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b"))
        >= minContainment)

  /** Shared core of [[ngramJaccard]] / [[ngramContainment]]: rare-
    * shingle co-occurrence pairs with intersection and doc sizes —
    * (doc_a, doc_b, inter, sz_a, sz_b).
    *
    * `minSizeRatio` (r15, Jaccard path only): Jaccard is bounded by
    * the size ratio — J = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|) —
    * so a pair whose doc sizes differ by more than the target
    * threshold can NEVER qualify and is dropped INSIDE the candidate
    * join, before the pair-count aggregate and its exchange (guide
    * §2.3: shuffle fewer bytes). Measured at sf0.1: 1.27M candidate
    * rows → 256 output pairs without the bound; the bound removes the
    * hopeless majority at the join. The cut is EXACT, never
    * approximate: the threshold is slackened by 1e-9 relative so
    * double rounding can only ADMIT a doomed pair (killed by the
    * exact Jaccard filter downstream), never exclude a qualifying
    * one. Containment has no such bound (a fragment contained in a
    * huge doc is exactly the pair it must find) — [[ngramContainment]]
    * passes 0 (off).
    */
  private def rarePairs(docs: DataFrame, n: Int, maxDf: Int,
                        minSizeRatio: Double = 0.0): DataFrame = {
    // Shingle ONCE (native kernel). Doc sizes ride along from size(sh)
    // — no sizes join. Postings carry the 62-bit shingle HASH, not the
    // string: the exploded posting table is this operator's whole
    // shuffle, and an 8-byte key shuffles (and hash-joins) at a
    // fraction of a ~20+ byte gram string — intersection counts are
    // identical barring a ~2^-62 collision (ShingleHashes), and the
    // distinct-shingle denominators come from size(sh), unchanged.
    val posts = docs
      .select(col("doc_id"), TextOps.shingleHashes(col("text"), n).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("shingle"))
    // The df cut must never materialize a hot shingle's posting list in
    // one task: a window (or join) partitioned by shingle would funnel
    // a stopword-gram's billions of postings through a single
    // partition. Instead df comes from a hash aggregate — partial
    // combine counts hot keys map-side without moving their rows — and
    // only the shingles ABOVE the cut (a stopword-sized set, tiny by
    // construction) broadcast into an anti-join, so hot postings are
    // dropped at the map side and never shuffle at all. The rare-only
    // posting lists then self-join ([[Banding.selfJoin]]) with bounded
    // (≤ maxDf) key fan-out.
    val hot = posts.groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("shingle")
    val rare = posts.join(broadcast(hot), Seq("shingle"), "left_anti")
    val szBound =
      if (minSizeRatio <= 0.0) lit(true)
      else {
        val t = lit(minSizeRatio * (1 - 1e-9))
        col("a.sz") >= col("b.sz") * t && col("b.sz") >= col("a.sz") * t
      }
    Banding.selfJoin(rare, Seq("shingle"),
        col("a.doc_id") < col("b.doc_id") && szBound)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        min(col("a.sz")).as("sz_a"), min(col("b.sz")).as("sz_b"))
  }

  /** (doc_id, band, bucket) LSH postings — the document's signature
    * from the native MinHashSig kernel (one codegen'd projection over
    * the scan; null = no shingles, dropped), each band folded to a
    * bucket by Horner mod 2^31-1. The same BIGINT-safe family as the
    * signature itself, so the oracle replays the exact buckets (a
    * murmur `hash(...)` bucket could not be reproduced outside the
    * JVM). This IS the persistable near-dup index: at scale a corpus
    * stores these postings once and [[minhashIncremental]] probes
    * them per batch.
    *
    * Scale note (MEASURED, LSH_SCALE.md): because the bucket space is
    * unbounded (2^31−1, not 2^rows), bucket density tracks TRUE
    * duplication, never corpus size — at sf1 (50k docs, 225k planted
    * near-dup pairs) the default 8×4 candidates equal the verified
    * pairs EXACTLY (250,427 = 250,427; same at sf0.1). Do NOT widen
    * rows/band here expecting the sign-LSH dense-regime fix: rows/band
    * moves the Jaccard S-curve threshold (t ≈ (1/b)^(1/r)), and 4×16
    * measurably loses 7.4% of planted ≥0.9-jaccard pairs. The r=16+
    * rule belongs to [[graft.operators.Similarity.embeddingPostings]],
    * whose bucket space is 2^r.
    */
  def bandedBuckets(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
                    bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // segmentation BEFORE the signature kernel, matching the
    // verification-side TextOps.shingles: candidates and Jaccard
    // verify must see the same features or unsegmented scripts would
    // never surface candidates at all
    val sig = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.minhashSig(
        TextOps.segmentIfUnspaced(col("text")), n, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
    def bucket(b: Int) =
      (b * rows until (b + 1) * rows).foldLeft(lit(0L)) { (acc, i) =>
        (acc * Dedup.BucketBase + element_at(col("sig"), i + 1)) %
          graft.functions.MinHashSig.Mod
      }
    sig.select(col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bucket(b).as("bucket"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
  }

  /** MinHash + LSH near-duplicate pairs, Jaccard-verified.
    *
    * k-hash signature per doc, split into `bands`; docs colliding on any
    * band's hash become candidates ([[Banding.pairs]] on the band
    * bucket, so work is proportional to collisions, not n²; the hint
    * and the hot-bucket skew bound are documented there). Candidates
    * are then verified with exact Jaccard on sorted 62-bit shingle-HASH
    * arrays ([[shingleTable]]'s representation — 8 B/shingle on the
    * shuffle where string arrays measured 2371 s of spill at sf10), so
    * precision is exact on the hashed shingle sets (string parity
    * barring a ~2^-62 collision) and only recall is probabilistic
    * (≥ 1-(1-s^r)^b; at the default 8 bands × 4 rows and s=0.9 that
    * is 1 - 4e-8).
    */
  def minhashLsh(docs: DataFrame, n: Int = 3, numHashes: Int = 32,
                 bands: Int = 8, minJaccard: Double = 0.5): DataFrame = {
    val candidates = Banding.pairs(bandedBuckets(docs, n, numHashes, bands),
      Banding.BandBucket, "doc_id", "doc_a", "doc_b")
    val sh = shingleTable(docs, n)
    candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.GraftFunctions.sortedArrayJaccard(
          col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** SimHash near-duplicate pairs at Hamming distance ≤ `maxHamming`.
    *
    * The signature is over word `n`-gram shingle features (see
    * SimHash64's scaladoc for why unigram tokens collapse on
    * small-vocabulary corpora). It is cut into `maxHamming + 1`
    * blocks; by pigeonhole two signatures within the radius collide on
    * at least one block, so the block-equality join finds every
    * qualifying pair while only materializing same-block candidates.
    * `bit_count(a XOR b)` verifies exactly.
    */
  def simhash(docs: DataFrame, maxHamming: Int = 3, n: Int = 3): DataFrame = {
    val blocks = maxHamming + 1
    val bits = 64 / blocks
    // Signatures come from the native SimHash64 kernel: a document's
    // shingles are already colocated in its row, so the
    // explode+groupBy(doc) formulation shuffles for nothing — this is
    // a pure projection over the scan.
    val sigs = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.simhash64(
        TextOps.segmentIfUnspaced(col("text")), n).as("sig"))
    val blocked = sigs.select(
      col("doc_id"), col("sig"),
      explode(transform(sequence(lit(0), lit(blocks - 1)), b =>
        struct(b.as("block"),
          call_function("shiftright", col("sig"), (b * lit(bits)).cast("int"))
            .bitwiseAND(lit((1L << bits) - 1)).as("key"))))
        .as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.block"), col("bk.key"))
    Banding.pairs(blocked, Seq("block", "key"), "doc_id", "doc_a", "doc_b",
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
