package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data pipeline tier:
  * tokenization, token counting, quality scoring, language-ID heuristic,
  * document fingerprinting.
  *
  * Everything here is `org.apache.spark.sql.functions` composition — fully
  * codegen'd, no UDFs, so these run inside WholeStageCodegen at scan speed
  * and scale linearly to 100 TB (no shuffle is introduced by any of them).
  *
  * Determinism note: scores are INTEGER arithmetic by design — ratio
  * thresholds are expressed as cross-multiplied integer comparisons
  * (`10*chars between 30*tokens and 100*tokens` instead of
  * `3 <= chars/tokens <= 10`) so the DuckDB oracle matches bit-for-bit
  * with no float rounding anywhere.
  */
object TextFunctions {

  /** Whitespace tokenization (fixture `documents.text` is single-spaced). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word-piece regex — `\w+` chunks plus
    * punctuation singles approximate a tokenizer's unit count. (Pattern
    * avoids lookarounds so the RE2-based oracle can mirror it.)
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** Small English stopword set shared with the language-ID heuristic. */
  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  /** Count of tokens that are English stopwords. */
  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isInCollection(EnglishStopwords)))

  /** Integer quality score 0-4 (length band, avg token length band,
    * stopword presence, no over-long token) — the length/punct/stopword
    * ratio family expressed in exact integer arithmetic.
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text)
    val nTok = tokenCount(text)
    val lenOk = (nChars >= 100) && (nChars <= 5000)
    // 3 <= avg token len <= 10, cross-multiplied (tokens include separators:
    // avg = (chars - (tokens-1)) / tokens)
    val avgOk = ((nChars - nTok + 1) >= nTok * 3) && ((nChars - nTok + 1) <= nTok * 10)
    val stopOk = stopwordCount(text) * 20 >= nTok // ratio >= 5%
    val noLongTok = size(filter(tokens(text), t => length(t) > 25)) === 0
    Seq(lenOk, avgOk, stopOk, noLongTok)
      .map(c => when(c, 1).otherwise(0))
      .reduce(_ + _)
  }

  /** Language-ID heuristic: stopword-density n-gram-free classifier —
    * enough English function words → 'en', else 'unknown'. (The fixture
    * `lang` labels are synthetic random; the heuristic's contract is
    * determinism + SQL-expressibility, verified against the oracle.)
    */
  def langIdHeuristic(text: Column): Column =
    when(stopwordCount(text) * 20 >= tokenCount(text), lit("en"))
      .otherwise(lit("unknown"))

  /** Word 3-gram shingles; degenerates to the whole text below 3 tokens.
    *
    * Built by zipping three shifted slices of the token array, NOT by
    * `transform(sequence(...), i -> element_at(toks, i+k))`: expression
    * subtrees referenced inside a lambda are re-evaluated per ELEMENT, so
    * the element_at form re-splits the whole text for every shingle —
    * O(tokens × text) per row, measured ~4 s at sf0.1 vs ~0.3 s for the
    * slice/zip form whose splits are per-row.
    */
  def shingles3(text: Column): Column = shingles3Tokens(tokens(text), text)

  /** [[shingles3]] over a PRE-PROJECTED token array (plus the original
    * text for the sub-3-token degenerate case). Full-corpus shingle
    * pipelines must use this form with `tokens(text)` projected as its
    * own column first: this expression references the token array five
    * times, HOFs run interpreted outside common-subexpression
    * elimination, and CollapseProject declines to inline a non-cheap
    * multi-referenced alias — so the projected form splits each text
    * once while the inline form re-splits it per reference (measured
    * ~9 s → ~2 s on the d18 gram leg at sf0.1).
    */
  def shingles3Tokens(toks: Column, text: Column): Column = {
    val m = size(toks) - 2 // shingle count when >= 3 tokens
    when(size(toks) >= 3,
      zip_with(
        zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
          (a, b) => concat_ws(" ", a, b)),
        slice(toks, lit(3), m),
        (ab, c) => concat_ws(" ", ab, c)))
      .otherwise(array(text))
  }

  /** Word k-gram shingles over a PRE-PROJECTED token array column, same
    * slice/zip construction as [[shingles3]] (never `element_at` inside a
    * lambda — that re-evaluates the array per shingle). Documents shorter
    * than k tokens contribute no shingles (callers of wide grams want
    * absence, not a degenerate whole-text unit).
    *
    * Takes the token ARRAY, not the text: this expression references the
    * array k+2 times, and higher-order functions run interpreted where
    * common-subexpression elimination doesn't apply — passing
    * `tokens(text)` inline would re-split the text on every reference
    * (measured ~2× on the t11 query). Project the tokens as a column
    * first and pass the attribute.
    */
  def shinglesKTokens(toks: Column, k: Int): Column = {
    require(k >= 2, "use tokens() for k = 1")
    val m = size(toks) - (k - 1)
    val joined = (2 to k).foldLeft(slice(toks, lit(1), m)) { (acc, i) =>
      zip_with(acc, slice(toks, lit(i), m), (a, b) => concat_ws(" ", a, b))
    }
    // a cast empty array(): no Scala-reflection encoder, unlike typedlit
    when(size(toks) >= k, joined).otherwise(array().cast("array<string>"))
  }

  /** Document fingerprint: full-text md5. */
  def fingerprintMd5(text: Column): Column = md5(text)

  /** Rolling minimum shingle fingerprint (1-hash MinHash): the smallest
    * md5 over all 3-gram shingles — a locality-sensitive single-value
    * fingerprint (equal for documents sharing their minimal shingle).
    */
  def minShingleFingerprint(text: Column): Column =
    array_min(transform(shingles3(text), s => md5(s)))
}
