package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text primitives. Everything here is a pure Column expression —
  * codegen'd per row, no shuffle, no UDF.
  */
object TextOps {

  /** Whitespace tokens. Single-space split keeps parity with the SQL
    * oracle (`string_split(text, ' ')`).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Space-joined overlapping character `n`-grams: "abcde" → "abc bcd
    * cde". Texts shorter than `n` come back whole. DECLARATIVE
    * REFERENCE form (sequence + transform + substr) — higher-order
    * functions are CodegenFallback, and any CodegenFallback
    * subexpression knocks the whole projection out of whole-stage
    * codegen even on rows where the branch never fires, so the hot
    * path ([[segmentIfUnspaced]]) uses the native
    * [[graft.functions.SegmentUnspaced]] kernel instead; this form
    * builds [[segmentIfUnspacedHof]], the reference the kernel is
    * spec-checked against (the shinglesHof precedent).
    */
  private def charGramJoin(text: Column, n: Int): Column =
    array_join(
      transform(sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
        i => text.substr(i, lit(n))), " ")

  /** [[segmentIfUnspaced]]'s declarative reference form — used only by
    * the kernel-parity spec: each space-separated run longer than
    * `maxRun` is replaced by its char `gram`-grams, in place.
    */
  def segmentIfUnspacedHof(text: Column, gram: Int = 3,
                           maxRun: Int = MaxRun): Column =
    array_join(transform(split(text, " "), t =>
      when(length(t) > maxRun, charGramJoin(t, gram)).otherwise(t)), " ")

  /** The run-length threshold above which a space-free run is treated
    * as unsegmented script (or a URL / machine garbage) and rewritten
    * as character trigrams: 24 chars sits safely past natural-language
    * word lengths in space-delimited scripts (even German compounds
    * rarely reach it) while any CJK/Thai passage — which runs
    * unbroken for sentences — triggers at once.
    */
  final val MaxRun = 24

  /** Script-aware segmentation — the per-run switch that keeps the
    * whole whitespace-token stack (token counts, Gopher gate, shingle
    * dedup, retrieval terms) working on scripts that don't delimit
    * words with spaces (CJK, Thai, …). Every space-free run longer
    * than `maxRun` characters is rewritten IN PLACE as overlapping
    * character `gram`-grams joined by single spaces; all other runs —
    * and therefore every document of a space-delimited corpus — pass
    * through UNCHANGED, so SQL-oracle parity downstream is preserved
    * bit-for-bit (verified: the driver corpus's longest token is 8
    * chars at every SF). The per-run rule subsumes the pure-CJK
    * whole-document case and also catches MIXED-script documents — an
    * English page quoting a CJK paragraph segments exactly that
    * paragraph, which a whole-document density switch misses.
    *
    * gram = 3 deliberately: character trigrams are the standard CJK
    * retrieval/dedup feature, and a fully-unsegmented doc's
    * pseudo-tokens land avg_token_len exactly 3 — inside the Gopher
    * gate's [3, 10] window, so length-shaped quality rules stay
    * meaningful instead of rejecting every unsegmented doc as "one
    * giant word". Native codegen kernel
    * ([[graft.functions.SegmentUnspaced]]): the trigger check is one
    * zero-allocation byte pass, and untriggered rows return the very
    * same UTF8String.
    */
  def segmentIfUnspaced(text: Column, gram: Int = 3,
                        maxRun: Int = MaxRun): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.SegmentUnspaced(
        org.apache.spark.sql.graft.Bridge.expression(text), gram, maxRun))

  /** [[tokens]] over [[segmentIfUnspaced]] — identical to [[tokens]]
    * on space-delimited text, character trigrams on unsegmented
    * scripts.
    */
  def tokensScriptAware(text: Column): Column = tokens(segmentIfUnspaced(text))

  /** Distinct word n-gram shingles ("a b c" style) straight from the
    * text, empty-safe — native codegen kernel
    * ([[graft.functions.WordShingles]]) fed the script-aware
    * segmentation, so unsegmented scripts shingle over character
    * trigrams instead of going blind on one giant "word" (identity on
    * space-delimited text — oracle parity preserved).
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.wordShingles(segmentIfUnspaced(text), n)

  /** Sorted-distinct 62-bit hashes of [[shingles]] — same script-aware
    * segmentation, same distinct shingle set, 8 bytes per shingle
    * instead of the string. The verify-side representation for every
    * Jaccard join ([[graft.functions.ShingleHashes]]); pair it with
    * [[graft.functions.GraftFunctions.sortedArrayJaccard]].
    */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.shingleHashes(segmentIfUnspaced(text), n)

  /** Declarative (higher-order-function) shingle build, kept as the
    * reference implementation the native kernel is spec-checked
    * against. CodegenFallback — do not use on a hot path.
    */
  def shinglesHof(toks: Column, n: Int): Column = {
    val idx = sequence(lit(1), greatest(size(toks), lit(1)))
    val grams = transform(idx, i =>
      when(i + lit(n - 1) <= size(toks), array_join(slice(toks, i, lit(n)), " ")))
    array_distinct(filter(grams, _.isNotNull))
  }

}
