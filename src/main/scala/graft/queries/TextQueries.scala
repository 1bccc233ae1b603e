package graft.queries

import graft.core.Tables
import graft.operators.{Corpus, Sketches, TextAnalysis}
import graft.queries.QuerySpec.{by, sql}
import org.apache.spark.sql.functions._

/** Per-document text analysis: quality and language scoring, token
  * statistics, fingerprints, vocabulary and n-gram counts, chunking,
  * tf-idf and keyword/phrase retrieval.
  */
object TextQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    // --- text analysis (SURVEY.md §2) ---
    QuerySpec("text_quality", (s, d) => TextAnalysis.quality(Tables(s, d, "documents")),
      sql(s"$textQualityBody ORDER BY doc_id"),
      sortKeys = by("doc_id")),
    QuerySpec("token_count", (s, d) => TextAnalysis.tokenCount(Tables(s, d, "documents")),
      sql("""SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
        |  CAST(ceil(CAST(length(text)
        |    - (length(text) - length(replace(text, ' ', '')) + 1) + 1 AS DOUBLE)
        |    / 4.0) AS BIGINT) AS subword_est
        |FROM documents ORDER BY doc_id""".stripMargin),
      sortKeys = by("doc_id")),
    QuerySpec("lang_id", (s, d) => TextAnalysis.langId(Tables(s, d, "documents")),
      // Marker-count scoring via UNNEST+SUM (portable across DuckDB versions,
      // no list lambdas). Mirrors TextAnalysis.Markers and the CASE priority.
      sql(s"$langIdBody ORDER BY doc_id"),
      sortKeys = by("doc_id")),
    QuerySpec("doc_fingerprint", (s, d) =>
      TextAnalysis.fingerprint(Tables(s, d, "documents")),
      sql(docFingerprintSql),
      sortKeys = by("doc_id")),
    QuerySpec("vocab_topk", (s, d) => TextAnalysis.vocabTopK(Tables(s, d, "documents")),
      sql("""SELECT t AS token, COUNT(*) AS term_freq
        |FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)
        |GROUP BY 1 ORDER BY term_freq DESC, token LIMIT 100""".stripMargin)),
    // Count-Min heavy hitters (operators.Sketches): fixed 4×2048-cell
    // executor state however large the vocabulary, cell-wise-additive
    // merge; the exact top-20 rides along to prove est >= exact — the
    // counting analog of events_approx_stats' HLL
    QuerySpec("heavy_hitters_cms", (s, d) =>
      Sketches.heavyHitters(Tables(s, d, "documents")),
      sql(cmsHeavyHittersSql)),
    // content-defined chunking (Corpus.cdcChunks): rolling-hash
    // boundaries re-sync after edits, so chunk-grain dedup survives
    // insertions that shift every fixed-stride offset; boundaries from
    // the portable word hash, so the oracle replays every chunk.
    // maskBits=2 here: the synthetic corpus has a 31-word vocabulary
    // and the production default (4) happens to select zero of them as
    // boundary words — 2 puts real multi-chunk docs and cross-doc
    // shared chunks under the hash check
    QuerySpec("doc_chunk_cdc", (s, d) =>
      Corpus.cdcChunks(Tables(s, d, "documents"), maskBits = 2),
      sql(cdcChunksSql),
      sortKeys = by("doc_id", "chunk_id")),
    QuerySpec("corpus_stats", (s, d) => TextAnalysis.corpusStats(Tables(s, d, "documents")),
      sql("""SELECT * FROM (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |    MIN(nt) AS min_doc_tokens,
        |    MAX(nt) AS max_doc_tokens,
        |    CAST(SUM(nt) AS DOUBLE) / COUNT(*) AS avg_doc_tokens
        |  FROM (SELECT CAST(length(text) - length(replace(text, ' ', '')) + 1
        |    AS BIGINT) AS nt FROM documents))
        |CROSS JOIN (
        |  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab_size
        |  FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents))""".stripMargin)),
    QuerySpec("doc_repetition", (s, d) => TextAnalysis.repetition(Tables(s, d, "documents")),
      // Mirrors TextAnalysis.repetition (word 3-grams, non-distinct
      // counts; short docs report zeros).
      sql("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
        |      FROM tk, UNNEST(generate_series(1, len(tk) - 2)) AS u(i)),
        |cnt AS (SELECT doc_id, s, COUNT(*) AS c FROM g GROUP BY doc_id, s),
        |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total_ngrams,
        |          CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
        |          CAST(MAX(c) AS BIGINT) AS top_ngram_freq
        |        FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(a.total_ngrams, 0) AS total_ngrams,
        |  COALESCE(a.distinct_ngrams, 0) AS distinct_ngrams,
        |  COALESCE(a.top_ngram_freq, 0) AS top_ngram_freq,
        |  CASE WHEN a.total_ngrams IS NULL THEN 0.0
        |       ELSE ROUND(1.0 - CAST(a.distinct_ngrams AS DOUBLE) / a.total_ngrams, 4)
        |  END AS repetition_ratio,
        |  CASE WHEN a.total_ngrams IS NULL THEN 0.0
        |       ELSE ROUND(CAST(a.top_ngram_freq AS DOUBLE) / a.total_ngrams, 4)
        |  END AS top_ngram_ratio
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
      sortKeys = by("doc_id")),
    QuerySpec("bigram_lift", (s, d) => TextAnalysis.bigramLift(Tables(s, d, "documents")),
      // Mirrors TextAnalysis.bigramLift (lift = PMI without the log — a
      // pure ratio of exact counts, so no transcendental to disagree on).
      sql("""WITH toks AS (
        |  SELECT tok FROM documents, UNNEST(string_split(text, ' ')) AS s(tok)),
        |uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        |n1 AS (SELECT COUNT(*) AS n1 FROM toks),
        |bi AS (
        |  SELECT tk[i] AS tok_a, tk[i + 1] AS tok_b
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents),
        |       UNNEST(generate_series(1, len(tk) - 1)) AS u(i)),
        |bc AS (SELECT tok_a, tok_b, COUNT(*) AS n_pair FROM bi GROUP BY tok_a, tok_b),
        |n2 AS (SELECT COUNT(*) AS n2 FROM bi)
        |SELECT bc.tok_a || ' ' || bc.tok_b AS bigram,
        |  CAST(bc.n_pair AS BIGINT) AS n_pair,
        |  ROUND((CAST(bc.n_pair AS DOUBLE) / n2.n2) /
        |        ((CAST(ua.c AS DOUBLE) / n1.n1) * (CAST(ub.c AS DOUBLE) / n1.n1)),
        |        4) AS lift
        |FROM bc
        |JOIN uni ua ON bc.tok_a = ua.tok
        |JOIN uni ub ON bc.tok_b = ub.tok, n1, n2
        |WHERE bc.n_pair >= 5
        |ORDER BY lift DESC, bigram LIMIT 20""".stripMargin)),
    QuerySpec("doc_chunk", (s, d) => Corpus.chunk(Tables(s, d, "documents")),
      // Mirrors Corpus.chunk (50-token chunks, stride 40): starts from
      // generate_series; DuckDB list slice w[a:b] is 1-based inclusive.
      sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id, CAST((i - 1) // 40 AS BIGINT) AS chunk_id,
        |  CAST(least(50, len(w) - i + 1) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(w[i:least(i + 49, len(w))], ' ') AS chunk_text
        |FROM t, UNNEST(generate_series(1, greatest(len(w), 1), 40)) AS g(i)
        |ORDER BY doc_id, chunk_id""".stripMargin),
      sortKeys = by("doc_id", "chunk_id")),
    QuerySpec("tfidf_topterms", (s, d) => TextAnalysis.tfidfTop(Tables(s, d, "documents")),
      // Mirrors TextAnalysis.tfidfTop: rational idf (tf·N/df), top-3 per doc.
      sql("""WITH tf AS (
        |  SELECT doc_id, t AS term, COUNT(*) AS tf
        |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, tf.term, tf, df,
        |    CAST(tf * n_docs AS DOUBLE) / df AS score
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term) AS rn FROM scored)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  ROUND(score, 4) AS score
        |FROM r WHERE rn <= 3 ORDER BY doc_id, score DESC, term""".stripMargin),
      sortKeys = Seq(col("doc_id"), col("score").desc, col("term"))),
    // keyword retrieval: top-10 docs per literal query by the log-free
    // integer tf·idf (operators.Retrieval) — one corpus scan, query
    // terms pushed into the explode, rank window WindowGroupLimit'd
    QuerySpec("keyword_search", (s, d) => graft.operators.Retrieval.keywordSearch(
      Tables(s, d, "documents"), SearchQueries),
      // Mirrors Retrieval.keywordSearch: integer-scaled log-free tf·idf
      // (`//` is DuckDB's integral division, Spark's `div`), rank window
      // tie-broken by doc_id; the VALUES list and the IN list come from
      // the same SearchQueries literal the Spark side uses.
      sql(s"""WITH q(query_id, term) AS (VALUES $searchQueryValues),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM tok WHERE term IN ($searchQueryTermList)
         |       GROUP BY doc_id, term),
         |dfr AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |sc AS (SELECT q.query_id, tf.doc_id,
         |         CAST(SUM(tf.tf * ((n.n_docs * 1000000) // dfr.df)) AS BIGINT)
         |           AS score,
         |         CAST(COUNT(*) AS BIGINT) AS n_terms_matched
         |       FROM q JOIN tf ON q.term = tf.term
         |         JOIN dfr ON tf.term = dfr.term CROSS JOIN n
         |       GROUP BY q.query_id, tf.doc_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, doc_id) AS rn FROM sc)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |  CAST(rn AS BIGINT) AS rank, doc_id, score, n_terms_matched
         |FROM r WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin)),
    // exact phrase search (Retrieval.phraseSearch): positional
    // anchor-counting — one postings join + one aggregate per query
    // set, never a per-term self-join chain; ranked by verbatim
    // occurrence count
    QuerySpec("phrase_search", (s, d) => graft.operators.Retrieval.phraseSearch(
      Tables(s, d, "documents"), PhraseQueries),
      // Mirrors Retrieval.phraseSearch: positional instance rows, each
      // matched posting proposes its implied phrase START (pos −
      // term_idx); a start is a real occurrence iff all phrase_len
      // DISTINCT slots vouch for the same (doc, anchor).
      sql(s"""WITH q(query_id, term, term_idx, phrase_len) AS
         |  (VALUES $phraseQueryValues),
         |t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |p AS (SELECT doc_id, tk[i] AS term, i - 1 AS pos
         |      FROM t, UNNEST(generate_series(1, len(tk))) AS g(i)
         |      WHERE tk[i] IN ($phraseQueryTermList)),
         |a AS (SELECT q.query_id, p.doc_id, p.pos - q.term_idx AS anchor,
         |        q.term_idx, q.phrase_len
         |      FROM p JOIN q ON p.term = q.term),
         |o AS (SELECT query_id, doc_id, anchor
         |      FROM a GROUP BY query_id, doc_id, anchor, phrase_len
         |      HAVING COUNT(DISTINCT term_idx) = phrase_len),
         |s AS (SELECT query_id, doc_id,
         |        CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |      FROM o GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY n_occurrences DESC, doc_id) AS rn FROM s)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |  CAST(rn AS BIGINT) AS rank, doc_id, n_occurrences
         |FROM r WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin)),
    QuerySpec("doc_normalize", (s, d) => TextAnalysis.normalize(Tables(s, d, "documents")),
      // Mirrors TextAnalysis.normalize: canonical form + stopword strip,
      // token filter replayed with a list lambda, md5 must agree.
      sql("""WITH c AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |      AS n_tokens_raw,
        |    list_filter(
        |      string_split(trim(regexp_replace(regexp_replace(lower(text),
        |        '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '),
        |      t -> t NOT IN ('the', 'a', 'of', 'and', 'to')) AS kept
        |  FROM documents)
        |SELECT doc_id, n_tokens_raw,
        |  CAST(len(kept) AS BIGINT) AS n_tokens_norm,
        |  md5(array_to_string(kept, ' ')) AS norm_md5
        |FROM c ORDER BY doc_id""".stripMargin),
      sortKeys = by("doc_id")),
    QuerySpec("ngram_lm", (s, d) => TextAnalysis.ngramCounts(Tables(s, d, "documents")),
      // Mirrors TextAnalysis.ngramCounts (word trigrams, minCount=3):
      // (doc, gram) pre-aggregate, then instance-sum + doc COUNT.
      sql("""WITH g AS (
        |  SELECT doc_id, tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |       UNNEST(generate_series(1, len(tk) - 2)) AS u(i)),
        |dg AS (SELECT doc_id, gram, COUNT(*) AS n FROM g GROUP BY 1, 2)
        |SELECT gram, CAST(SUM(n) AS BIGINT) AS n_instances, COUNT(*) AS n_docs
        |FROM dg GROUP BY gram HAVING SUM(n) >= 3 ORDER BY gram""".stripMargin),
      sortKeys = by("gram")),
    QuerySpec("vocab_coverage", (s, d) => TextAnalysis.vocabCoverage(Tables(s, d, "documents")),
      // Mirrors TextAnalysis.vocabCoverage (ks = 5, 10, 25): rank by
      // (freq DESC, word), cumulative token share at each k.
      sql("""WITH f AS (
        |  SELECT tok AS word, COUNT(*) AS n
        |  FROM documents, UNNEST(string_split(text, ' ')) AS s(tok) GROUP BY 1),
        |tot AS (SELECT SUM(n) AS total FROM f),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rank FROM f),
        |c AS (
        |  SELECT rank, SUM(n) OVER (ORDER BY rank
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM r WHERE rank <= 25)
        |SELECT CAST(rank AS BIGINT) AS top_k,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  ROUND(CAST(cum_tokens AS DOUBLE) / CAST(total AS DOUBLE), 6) AS coverage
        |FROM c, tot WHERE rank IN (5, 10, 25) ORDER BY top_k""".stripMargin)))

  /** keyword_search query set — ONE literal source feeding both the
    * Spark call and the oracle's VALUES list, so the two sides can
    * never drift on what was searched.
    */
  private val SearchQueries = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("window", "agg"),
    3 -> Seq("vector", "stream", "scan"),
    4 -> Seq("customer", "order"))

  /** Phrase-search fixtures: consecutive-token phrases, incl. one with
    * a repeated term (the distinct-slot counting edge).
    */
  private val PhraseQueries = Seq(
    1 -> Seq("order", "fast"),
    2 -> Seq("table", "scan", "merge"),
    3 -> Seq("batch", "batch", "batch"),
    4 -> Seq("stream", "column"))

  private def phraseQueryValues: String = PhraseQueries.flatMap {
    case (qid, ts) => ts.zipWithIndex.map { case (t, i) =>
      s"($qid, '$t', $i, ${ts.length})" }
  }.mkString(", ")

  private def phraseQueryTermList: String =
    PhraseQueries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")

  private def searchQueryValues: String = SearchQueries
    .flatMap { case (qid, ts) => ts.distinct.map(t => s"($qid, '$t')") }
    .mkString(", ")

  private def searchQueryTermList: String =
    SearchQueries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")

  /** lang-ID scoring (no ORDER BY) — shared by `lang_id` and the
    * `quality_filter` composition.
    */
  private[queries] val langIdBody =
    """WITH sc AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN t IN ('the','a','of','and','to') THEN 1 ELSE 0 END) AS BIGINT) AS score_en,
      |    CAST(SUM(CASE WHEN t IN ('el','la','de','que','los') THEN 1 ELSE 0 END) AS BIGINT) AS score_es,
      |    CAST(SUM(CASE WHEN t IN ('le','les','des','une','est') THEN 1 ELSE 0 END) AS BIGINT) AS score_fr,
      |    CAST(SUM(CASE WHEN t IN ('der','die','und','das','ist') THEN 1 ELSE 0 END) AS BIGINT) AS score_de
      |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents)
      |  GROUP BY doc_id)
      |SELECT doc_id, score_en, score_es, score_fr, score_de,
      |  CASE WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de AND score_en > 0 THEN 'en'
      |       WHEN score_es >= score_fr AND score_es >= score_de AND score_es > 0 THEN 'es'
      |       WHEN score_fr >= score_de AND score_fr > 0 THEN 'fr'
      |       WHEN score_de > 0 THEN 'de' ELSE 'und' END AS predicted_lang
      |FROM sc""".stripMargin

  /** text-quality scoring (no ORDER BY) — shared by `text_quality` and
    * the `quality_filter` composition.
    */
  private[queries] val textQualityBody =
    """WITH stops AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN t IN ('the','a','of','and','to') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
      |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents)
      |  GROUP BY doc_id),
      |b AS (
      |  SELECT d.doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
      |    CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS BIGINT) AS punct,
      |    stop_hits
      |  FROM documents d JOIN stops ON d.doc_id = stops.doc_id)
      |SELECT doc_id, n_chars, n_tokens,
      |  CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS avg_token_len,
      |  CAST(punct AS DOUBLE) / n_chars AS punct_ratio,
      |  CAST(stop_hits AS DOUBLE) / n_tokens AS stopword_ratio,
      |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
      |    + (1.0 - CAST(punct AS DOUBLE) / n_chars) * 0.3
      |    + least(CAST(stop_hits AS DOUBLE) / n_tokens * 5.0, 1.0) * 0.3
      |    AS quality_score
      |FROM b""".stripMargin

  /** Mirrors TextAnalysis.fingerprint (window=64): Karp–Rabin window
    * hashes replayed LINEARLY via the modular-inverse prefix trick
    * (ascii corpus: unicode(char) == utf-8 byte). With S(p) = Σ_{k≤p}
    * c[k]·B⁻ᵏ mod M (a plain windowed cumulative sum — M is prime, so
    * B⁻¹ exists), the window hash ending at position e is
    * Bᵉ·(S(e) − S(e−w)) mod M: one powers table, one char explode,
    * one window cumsum, one LAG, one group-by — no per-character
    * recursion (the previous recursive-CTE formulation cost 559 s of
    * the sf0.1 gate; this one is milliseconds at the same scale and
    * stays linear at sf10). Magnitude audit: each term c·B⁻ᵏ reduces
    * mod M < 2³¹, the raw cumsum of a million-char doc stays < 2⁵¹,
    * the w-term window difference < 2³⁷, and (diff mod M)·Bᵉ < 2⁶² —
    * every intermediate BIGINT-safe, same family as the kernel's own
    * arithmetic. All quantities non-negative, so DuckDB's
    * sign-preserving % needs no +M adjustment anywhere.
    */
  private def docFingerprintSql: String = {
    val w = 64
    val m = graft.functions.RollingFingerprint.Mod
    val b = graft.functions.RollingFingerprint.Base
    val binv = BigInt(b).modInverse(BigInt(m)).toLong // B·B⁻¹ ≡ 1 (mod M)
    // powers-table depth bounds the supported doc length; testdata max
    // doc length is ~600 chars (sf10 ScaleUp perturbs by a short
    // prefix), so 8192 has an order of magnitude of headroom. The
    // overflow mode is NOT loud by itself (chars past the table drop
    // from the cumsum but the doc still emits a MIN over its first
    // ~8129 windows — row counts match, only values can diverge), so
    // the `guard` CTE asserts the bound explicitly: a longer doc makes
    // the whole oracle error() instead of silently comparing a
    // truncated fingerprint (ADVICE r11).
    // The final CAST(MIN(hv) AS BIGINT) matters for the compare, not
    // the math: DuckDB types a windowed SUM(BIGINT) as HUGEINT, which
    // its pandas conversion widens to float64 ("6446402.0"), failing
    // the canon-path string compare against Spark's int64. hv < M
    // < 2³¹, so the cast is lossless.
    s"""WITH RECURSIVE
       |pw(k, p, pinv) AS (
       |  SELECT 0, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
       |  UNION ALL
       |  SELECT k + 1, p * $b % $m, pinv * $binv % $m FROM pw WHERE k < 8192),
       |guard AS (
       |  SELECT CASE WHEN max(length(text)) > 8192 THEN CAST(error(
       |      'doc exceeds the 8192-entry fingerprint powers table') AS BIGINT)
       |    ELSE 0 END AS ok FROM documents),
       |ch AS (
       |  SELECT doc_id, i, length(text) AS doclen,
       |    CAST(unicode(substr(text, i, 1)) AS BIGINT) AS c
       |  FROM documents,
       |    UNNEST(generate_series(1, length(text))) AS t(i)),
       |cs AS (
       |  SELECT doc_id, i, doclen,
       |    SUM(c * pp.pinv % $m)
       |      OVER (PARTITION BY doc_id ORDER BY i) AS s
       |  FROM ch JOIN pw pp ON pp.k = i),
       |wn AS (
       |  SELECT doc_id, i, doclen, s,
       |    COALESCE(LAG(s, $w) OVER (PARTITION BY doc_id ORDER BY i),
       |             CAST(0 AS BIGINT)) AS s0
       |  FROM cs),
       |h AS (
       |  SELECT wn.doc_id, ((wn.s - wn.s0) % $m) * pp.p % $m AS hv
       |  FROM wn JOIN pw pp ON pp.k = wn.i
       |  WHERE wn.i >= $w OR wn.i = wn.doclen)
       |SELECT doc_id, CAST(MIN(hv) AS BIGINT) AS fingerprint
       |FROM h, guard WHERE guard.ok = 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Mirrors Sketches.heavyHitters (depth 4, width 2048, k=20):
    * replays the per-word Horner+avalanche hash (the shared shingle
    * family — StringHash31), the 4 affine CMS rows, the cell counts
    * over word INSTANCES, and the min-across-rows estimates with
    * untouched cells reading 0. est >= exact by construction; the
    * hash match proves the whole sketch cell-for-cell.
    */
  private def cmsHeavyHittersSql: String = {
    val (depth, width, k) = (4, 2048, 20)
    val m = graft.functions.SimHash64.Mod
    val (c1, c2) = (graft.functions.SimHash64.MixC1, graft.functions.SimHash64.MixC2)
    val mask = graft.functions.SimHash64.Mask
    val ba = graft.functions.SimHash64.BaseA
    val cf = (0 until depth).map(i =>
      s"($i, ${graft.functions.MinHashSig.coeffA(i)}, " +
        s"${graft.functions.MinHashSig.coeffB(i)})").mkString(", ")
    s"""WITH RECURSIVE
       |pw(k, pa) AS (
       |  SELECT 0, CAST(1 AS BIGINT)
       |  UNION ALL SELECT k + 1, pa * $ba % $m FROM pw WHERE k < 256),
       |inst AS (
       |  SELECT w FROM (
       |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0),
       |vocab AS (SELECT w, COUNT(*) AS n_exact FROM inst GROUP BY w),
       |hs AS (
       |  SELECT w,
       |    SUM(CAST(unicode(substr(w, i, 1)) AS BIGINT) * p.pa) % $m AS h
       |  FROM vocab, UNNEST(generate_series(1, length(w))) AS g(i)
       |  JOIN pw p ON p.k = length(w) - i
       |  GROUP BY w),
       |x1 AS (SELECT w, (xor(h, h >> 16) * $c1) & $mask AS h FROM hs),
       |x2 AS (SELECT w, (xor(h, h >> 13) * $c2) & $mask AS h FROM x1),
       |xs AS (SELECT w, xor(h, h >> 16) AS x FROM x2),
       |cf(i, a, b) AS (VALUES $cf),
       |cells AS (
       |  SELECT w, i, ((a * x + b) % $m) & ${width - 1} AS bucket
       |  FROM xs, cf),
       |sketch AS (
       |  SELECT c.i, c.bucket, COUNT(*) AS cnt
       |  FROM inst t JOIN cells c ON t.w = c.w
       |  GROUP BY c.i, c.bucket),
       |topk AS (SELECT w, n_exact FROM vocab
       |  ORDER BY n_exact DESC, w LIMIT $k),
       |est AS (
       |  SELECT c.w, MIN(COALESCE(s.cnt, 0)) AS n_est
       |  FROM cells c JOIN topk USING (w)
       |  LEFT JOIN sketch s ON s.i = c.i AND s.bucket = c.bucket
       |  GROUP BY c.w)
       |SELECT t.w AS word, t.n_exact, CAST(e.n_est AS BIGINT) AS n_est
       |FROM topk t JOIN est e ON t.w = e.w
       |ORDER BY t.n_exact DESC, word""".stripMargin
  }

  /** Mirrors Corpus.cdcChunks (maskBits=2 — see the query comment): replays the per-word
    * Horner+avalanche hash over the DISTINCT vocabulary, joins it back
    * to positional instances, re-runs the boundary rule (low hash
    * bits zero ⇒ boundary after the token), the doc-partitioned
    * PRECEDING-frame running sum that assigns chunk ids, the in-order
    * reassembly, and the cross-doc sharing counts. A zero-length token
    * (possible only under doubled spaces) hashes to 0 via the UNION
    * branch — the aggregate formulation yields no character rows for
    * it, where the kernel returns mix(0) = 0.
    */
  private def cdcChunksSql: String = {
    val mask = 3
    val m = graft.functions.SimHash64.Mod
    val (c1, c2) = (graft.functions.SimHash64.MixC1, graft.functions.SimHash64.MixC2)
    val maskL = graft.functions.SimHash64.Mask
    val ba = graft.functions.SimHash64.BaseA
    s"""WITH RECURSIVE
       |pw(k, pa) AS (
       |  SELECT 0, CAST(1 AS BIGINT)
       |  UNION ALL SELECT k + 1, pa * $ba % $m FROM pw WHERE k < 256),
       |inst AS (
       |  SELECT doc_id, i AS pos, w[i] AS t
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |       UNNEST(generate_series(1, len(w))) AS g(i)),
       |vocab AS (SELECT DISTINCT t FROM inst),
       |hs AS (
       |  SELECT t,
       |    SUM(CAST(unicode(substr(t, i, 1)) AS BIGINT) * p.pa) % $m AS h
       |  FROM vocab, UNNEST(generate_series(1, length(t))) AS g(i)
       |  JOIN pw p ON p.k = length(t) - i
       |  GROUP BY t),
       |x1 AS (SELECT t, (xor(h, h >> 16) * $c1) & $maskL AS h FROM hs),
       |x2 AS (SELECT t, (xor(h, h >> 13) * $c2) & $maskL AS h FROM x1),
       |xs AS (SELECT t, xor(h, h >> 16) AS x FROM x2
       |  UNION ALL SELECT t, CAST(0 AS BIGINT) FROM vocab WHERE length(t) = 0),
       |fl AS (
       |  SELECT doc_id, pos, i.t,
       |    CASE WHEN (x & $mask) = 0 THEN 1 ELSE 0 END AS b
       |  FROM inst i JOIN xs USING (t)),
       |ch AS (
       |  SELECT doc_id, pos, t,
       |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
       |  FROM fl),
       |chunks AS (
       |  SELECT doc_id, cid, COUNT(*) AS n_chunk_tokens,
       |    string_agg(t, ' ' ORDER BY pos) AS chunk_text
       |  FROM ch GROUP BY doc_id, cid),
       |share AS (SELECT chunk_text, COUNT(DISTINCT doc_id) AS nds
       |  FROM chunks GROUP BY chunk_text)
       |SELECT c.doc_id, CAST(cid AS BIGINT) AS chunk_id,
       |  CAST(n_chunk_tokens AS BIGINT) AS n_chunk_tokens, c.chunk_text,
       |  CAST(nds AS BIGINT) AS n_docs_sharing
       |FROM chunks c JOIN share ON c.chunk_text = share.chunk_text
       |ORDER BY doc_id, chunk_id""".stripMargin
  }
}
