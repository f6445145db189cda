package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions ([EXT] X4, SURVEY §2.11) plus the
  * natural-version sort key the reference's ingest needs (A7,
  * main.yml:136-141 `sort -V`). Pure Column expressions throughout.
  */
object TextFunctions {

  /** Whitespace tokenizer. */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("bigint")

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** Small English function-word list — the n-gram/stopword heuristic
    * for language ID and quality scoring. */
  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isInCollection(EnglishStopwords))).cast("bigint")

  /** Word w-shingles as space-joined strings — the unit for MinHash /
    * Jaccard near-dup detection. Empty array when fewer than w tokens.
    * One compiled byte-span pass per row
    * ([[graft.functions.WordShingleStrings]]); bit-equal to the HOF
    * formulation it replaced (transform + concat_ws per gram,
    * interpreted — pinned in CurationSpec). */
  def wordShingles(text: Column, w: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      WordShingleStrings(org.apache.spark.sql.GraftSqlShim.expression(text), w))

  /** Apply a learned BPE merge table to a token array: for each
    * (left, right) merge in rank order, greedy left-to-right fuse into
    * `left + joiner + right`. One compiled in-place pass per merge
    * ([[graft.functions.BpeApply]]); bit-equal to folding the q100
    * `aggregate` HOF once per merge (pinned in TextAnalysisSpec). */
  def bpeApply(toks: Column, merges: Seq[(String, String)], joiner: String): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      BpeApply(org.apache.spark.sql.GraftSqlShim.expression(toks), merges, joiner))

  /** Content-defined document fingerprint (deterministic, engine-portable
    * via md5). */
  def fingerprint(text: Column): Column = md5(text)

  /** Min over the xxhash64 of every k-char gram — the rolling-hash
    * fingerprint, as one codegen'd loop per row
    * ([[graft.functions.RollingMinHash]]); robust to token reordering
    * that md5 is not. */
  def rollingMinHash(text: Column, k: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      RollingMinHash(org.apache.spark.sql.GraftSqlShim.expression(text), k))

  /** Min md5 hex digest over every k-char gram — q200's engine-portable
    * rolling fingerprint as one codegen'd loop per row
    * ([[graft.functions.RollingMd5Min]]; bit-identical to the
    * `array_min(transform(...md5(substr)...))` HOF form, pinned in
    * TextAnalysisSpec). */
  def rollingMd5Min(text: Column, k: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      RollingMd5Min(org.apache.spark.sql.GraftSqlShim.expression(text), k))

  /** A text's winnowing postings over its k-char md5 grams and windows
    * of w as array<struct<sh, n_pos>> sorted by sh, in one compiled pass
    * ([[graft.functions.WinnowPostings]]; equal to the window
    * formulation's selection, distinct and count, pinned in
    * TextAnalysisSpec). */
  def winnowPostings(text: Column, k: Int, w: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      WinnowPostings(org.apache.spark.sql.GraftSqlShim.expression(text), k, w))

  /** Adjacent-token bigrams with `<unk>` vocabulary folding as
    * array<struct<w1, w2>> in one compiled pass
    * ([[graft.functions.BigramUnkPairs]]; identical pairs and order to
    * the zip_with-slices HOF form, pinned in TextAnalysisSpec). */
  def bigramUnkPairs(toks: Column, vocab: Seq[String], unk: String): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      BigramUnkPairs(org.apache.spark.sql.GraftSqlShim.expression(toks),
        vocab, unk))

  /** All ordered (i < j) element pairs of a string array as
    * array<struct<a, b>> in one compiled pass
    * ([[graft.functions.ArrayOrderedPairs]]; pair set and order
    * identical to the nested-transform HOF form, pinned in
    * TextAnalysisSpec). */
  def orderedPairs(arr: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      ArrayOrderedPairs(org.apache.spark.sql.GraftSqlShim.expression(arr)))

  /** MinHash-LSH band hashes in one compiled pass
    * ([[graft.functions.LshBands]]): array of (band, band_hash) structs,
    * NULL when the text has fewer than `w` tokens. */
  def lshBands(text: Column, w: Int, perms: Int, bands: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      LshBands(org.apache.spark.sql.GraftSqlShim.expression(text), w, perms, bands))

  /** Distinct xxhash64 shingle hashes ([[graft.functions.ShingleHashSet]])
    * — the LSH verification payload. */
  def shingleHashes(text: Column, w: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      ShingleHashSet(org.apache.spark.sql.GraftSqlShim.expression(text), w))

  /** SimHash signature (per-bit majority over distinct-token hashes) in
    * one compiled pass ([[graft.functions.SimHashSig]]). */
  def simHashSig(text: Column, bits: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      SimHashSig(org.apache.spark.sql.GraftSqlShim.expression(text), bits))

  /** struct(top_c, total) of the document's w-token shingles in one
    * compiled pass ([[graft.functions.TopShingleStats]]); NULL when the
    * text has fewer than `w` tokens. */
  def topShingleStats(text: Column, w: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      TopShingleStats(org.apache.spark.sql.GraftSqlShim.expression(text), w))

  /** `sort -V`-style natural sort key (SURVEY §7 hard part 2): every
    * digit run is left-padded to 12 so lexicographic string order equals
    * numeric-aware version order ("en.2" < "en.10"). Chunks split on a
    * control char (never present in filenames), NOT on space — a space
    * delimiter would vanish from the key, colliding "en 2" with "en2"
    * and making latest-version picks non-deterministic on tied keys. */
  def naturalSortKey(s: Column): Column = {
    val sep = "\u0001"
    // 1. split digit runs from non-digits, 2. pad each numeric chunk.
    val chunks = split(regexp_replace(s, "([0-9]+)", sep + "$1" + sep), sep)
    concat_ws("", transform(chunks,
      c => when(c.rlike("^[0-9]+$"), lpad(c, 12, "0")).otherwise(c)))
  }
}
