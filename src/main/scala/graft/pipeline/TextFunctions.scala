package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.HashKernelFunctions
import graft.functions.StringKernels.lowerIcu

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, portable hashing, language-ID, quality
  * scoring, token counting, fingerprinting.
  *
  * Beyond-reference surface (the reference, pedsnetdcc, processes only
  * relational clinical data); required by the engine's
  * LLM-data-pipeline scope (BASELINE.json north star).
  *
  * Every function here is a pure `Column` expression — whole-stage
  * codegen applies, no UDFs, no serialization boundary. All hashing is
  * *engine-portable*: [[hash60]] derives a 60-bit integer from the md5
  * hex digest, which any SQL engine (the DuckDB oracle included) can
  * reproduce exactly — unlike Spark's xxhash64/murmur, whose seeds and
  * algorithms are engine-specific.
  */
object TextFunctions {

  /** Mersenne prime 2^31−1; modulus for MinHash universal hashing.
    * Products a*(h%P) stay < 2^62, so 64-bit arithmetic never
    * overflows in either Spark (wrapping) or DuckDB (checked).
    */
  val P: Long = 2147483647L

  /** Portable 60-bit hash: first 15 hex digits of md5, big-endian.
    * DuckDB equivalent: `CAST('0x' || substr(md5(x),1,15) AS BIGINT)`.
    * Always non-negative (60 bits < 63). One native expression
    * ([[graft.functions.Hash60]]: the first 8 digest bytes, low nibble
    * dropped) with exactly the value of
    * `conv(substring(md5(c), 1, 15), 16, 10).cast("long")`, which would
    * build the hex string, cut it and parse it back per row.
    */
  def hash60(c: Column): Column = HashKernelFunctions.hash60(c)

  /** Whitespace tokenization (the BPE-ish variant is [[bpeTokens]]). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish sub-word splitting: letter runs, digit runs, and single
    * punctuation marks each count as one token (a public-domain
    * approximation of byte-pair pre-tokenization rules).
    */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lowerIcu(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Distinct word k-shingles of a token array, in first-occurrence
    * order. Rows with fewer than `k` tokens, or a null array, yield an
    * empty array. One native expression ([[graft.functions.ShinglesK]],
    * which gives null for a null array) with exactly the value of
    * `array_distinct` over the `concat_ws(" ", slice(toks, i, k))`
    * windows.
    */
  def shingles(toks: Column, k: Int): Column =
    coalesce(HashKernelFunctions.shingles(toks, k),
      array().cast("array<string>"))

  /** Base hashes for a shingle array: `hash60(s) % P`, one md5 pass per
    * shingle regardless of how many MinHash permutations consume it.
    */
  def shingleHashes(shinglesCol: Column): Column =
    transform(shinglesCol, s => hash60(s) % P)

  /** Deterministic universal-hash seeds (a odd, b arbitrary, < P). */
  def minhashSeeds(n: Int): Seq[(Long, Long)] =
    (1 to n).map(j => (2L * j * 1000003L + 1L, j * 7919L))

  // ------------------------------------------------------------ language ID

  /** Tiny public stopword lists per language (n-gram/stopword-count
    * heuristic — the classic cheap language identifier).
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los", "se", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "les", "et", "des", "une", "est", "pas", "pour", "dans"))

  /** Count of tokens found in `words` (lower-cased match). */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => lowerIcu(t).isin(words: _*)))

  /** Predicted language: argmax of per-language stopword hits, ties
    * broken by list order (en > es > de > fr). Deterministic integer
    * comparisons only.
    */
  def langId(toks: Column): Column = {
    val scores = stopwords.map { case (lang, ws) => lang -> stopwordHits(toks, ws) }
    // fold from the right: last language wins only if strictly greater
    scores.init.foldRight(lit(scores.last._1)) { case ((lang, s), rest) =>
      val laterScores = scores.dropWhile(_._1 != lang).tail.map(_._2)
      when(laterScores.foldLeft(lit(true))((c, o) => c && s >= o), lang).otherwise(rest)
    }
  }

  /** The Gopher rule-set's required-word list (Rae et al. 2021,
    * §A1.1: "contains at least two of the following English words").
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  // ------------------------------------------------------------ quality

  /** Heuristic quality signals: token count, mean token length,
    * punctuation ratio, stopword ratio — and a composite score.
    * All arithmetic is identical-op-order double math, so any engine
    * reproduces it bit-for-bit.
    */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,;:!?]", ""))

  /** Punctuation per character, 0.0 for an empty text (the repetition
    * signals' `n_chars = 0` rule): a bare division by a zero length
    * fails the whole query under ANSI mode.
    */
  def punctRatio(nPunct: Column, nChars: Column): Column =
    when(nChars === 0, lit(0.0))
      .otherwise(nPunct.cast("double") / nChars.cast("double"))

  def qualityScore(nTokens: Column, meanTokLen: Column, punctRatio: Column,
      stopRatio: Column): Column =
    least(nTokens.cast("double") / 100.0, lit(1.0)) * 0.4 +
      least(meanTokLen / 10.0, lit(1.0)) * 0.2 +
      (lit(1.0) - least(punctRatio * 10.0, lit(1.0))) * 0.2 +
      least(stopRatio * 5.0, lit(1.0)) * 0.2

  /** Document fingerprint: 16-hex-digit md5 prefix of the
    * whitespace-normalized text (deterministic, engine-portable).
    */
  def fingerprint(toks: Column): Column =
    substring(md5(concat_ws(" ", toks)), 1, 16)

  /** CCNet-style text normalization before hashing (Wenzek et al.
    * 2020 §4.1: lowercase, map every digit to a placeholder, drop
    * punctuation, collapse whitespace) — the canonical form under
    * which "Call 555-0199 now!" and "call 555 0188 NOW" collide, so
    * exact dedup catches the near-identical scrapes that differ only
    * in case/digits/punctuation. Punctuation becomes a SPACE (not
    * empty) so "555-0199" and "555 0199" canonicalize identically
    * instead of gluing the runs, then the whitespace collapse absorbs
    * the padding. Pure codegen projection: lower, two regexp passes,
    * whitespace re-join. ASCII-scoped (no Unicode accent folding —
    * the synthetic corpus and the DuckDB mirror are ASCII; a
    * production corpus would widen the character classes).
    */
  def ccnetNormalize(text: Column): Column =
    concat_ws(" ", tokens(regexp_replace(
      regexp_replace(lowerIcu(text), "[0-9]", "0"), "[^a-z0-9\\s]", " ")))

  /** Per-ROW micro-floored Shannon entropy of a symbol array — the
    * stateless twin of [[Curation.entropyStats]]'s grouped branch:
    * identical per-term floors (`floor(−(c/n)·ln(c/n)·10⁶)`) and an
    * order-independent integer sum, so the HOF and the groupBy paths
    * are bit-equal. O(distinct·len) per row — the right shape for a
    * STREAM (no shuffle at all); the grouped batch path stays the
    * scale shape for corpus-wide runs.
    */
  def entropyMicroHof(syms: Column): Column = {
    val n = size(syms).cast("double")
    aggregate(array_distinct(syms), lit(0L), (acc, d) => {
      val c = size(filter(syms, x => x === d)).cast("double")
      acc + floor(-((c / n) * log(c / n)) * 1e6).cast("long")
    })
  }

  /** Repetition signal (the Gopher paper's duplicate-n-gram class of
    * quality filters): the fraction of word k-grams that repeat an
    * earlier k-gram — `1 − distinct/total`, 0 for docs shorter than k
    * words. Pure Column expression over [[shingles]]: per-document,
    * shuffle-free, codegen'd.
    */
  def dupShingleFraction(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      lit(1.0) - size(shingles(toks, k)).cast("double") /
        (size(toks) - (k - 1)))
      .otherwise(lit(0.0))
}
