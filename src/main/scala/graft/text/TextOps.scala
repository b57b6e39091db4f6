package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines (BASELINE.json scale
  * extensions; SURVEY §7 step 7): tokenization, shingles, quality
  * scoring, language-ID heuristic, document fingerprinting.
  *
  * Everything is codegen'd `functions._` column algebra — no UDFs — so
  * the operators inline into whole-stage codegen and scale linearly with
  * the scan. Hashing uses md5 prefixes (a stable, engine-portable 60-bit
  * value) rather than JVM hashCode, so results are reproducible across
  * engines and releases.
  */
object TextOps {

  /** Whitespace tokens of trimmed text (empty-token-free). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct word n-gram shingles (n consecutive tokens joined by a
    * single space) — the set variant of [[ngrams]]. */
  def shingles(toks: Column, n: Int): Column = array_distinct(ngrams(toks, n))

  /** All word n-grams in token order, duplicates KEPT — the
    * within-document repetition signals (Gopher/RefinedWeb-style
    * quality rules) need the multiset; [[shingles]] is the distinct
    * variant for set-similarity. Evaluates through the compiled
    * [[NGrams]] kernel (round-21): the HOF composition it replaces
    * walked an interpreted concat tree per gram per document. */
  def ngrams(toks: Column, n: Int): Column = NGrams(toks, n)

  /** Stable 60-bit hash of a string: first 15 hex chars of md5 as a
    * non-negative long (portable: DuckDB `('0x'||substr(md5(x),1,15))::BIGINT`). */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** BPE-ish token count: letter runs, digit runs, or single
    * non-alphanumeric marks (approximates subword tokenizer counts). */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Quality-scoring feature columns (length / punctuation / stopword /
    * digit ratios — the standard pretraining-corpus filters). */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTok = size(toks)
    val nChar = length(text)
    Seq(
      "n_tokens" -> nTok,
      "n_chars_m" -> nChar,
      "avg_word_len" -> aggregate(transform(toks, t => length(t)), lit(0),
        (acc, x) => acc + x).cast("double") / nullif(nTok, lit(0)),
      "punct_ratio" -> regexp_count(text, lit("[^A-Za-z0-9\\s]")).cast("double") /
        greatest(nChar, lit(1)),
      "digit_ratio" -> regexp_count(text, lit("[0-9]")).cast("double") /
        greatest(nChar, lit(1)),
      "upper_ratio" -> regexp_count(text, lit("[A-Z]")).cast("double") /
        greatest(nChar, lit(1)))
  }

  /** Tiny per-language stopword lists for the n-gram language-ID
    * heuristic (deterministic, self-contained). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los"),
    "de" -> Seq("der", "die", "und", "das", "in", "von", "zu", "mit"),
    "fr" -> Seq("le", "la", "et", "les", "des", "en", "un", "du"),
    "zh" -> Seq("de", "le", "he", "shi", "zai", "wo", "you", "ta"))

  /** Document fingerprint (dedup canonicalization): md5 of the sorted
    * distinct lowercase alphanumeric-only token set. */
  def fingerprint(text: Column): Column = {
    val norm = regexp_replace(lower(text), "[^a-z0-9\\s]", "")
    md5(concat_ws(" ", array_sort(array_distinct(tokens(norm)))))
  }

  /** PII-style masking: every match of `pattern` replaced with `tag`.
    * Pure Column algebra (regexp_replace is codegen'd) — one linear
    * scan, no shuffle. Patterns must stay in the Java∩RE2 common
    * subset (no backreferences/lookaround) so the DuckDB oracle can
    * mirror them verbatim. */
  def redact(text: Column, pattern: String, tag: String): Column =
    regexp_replace(text, pattern, tag)

  /** Number of matches of `pattern` in `text` (audit counterpart of
    * [[redact]]: how much was masked). */
  def matchCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Context-window chunking (LLM pipeline): the 0-based token offsets
    * at which fixed-size chunks start — 0, stride, 2·stride, … while
    * the offset is inside the token array (the final partial chunk is
    * kept, standard for training-data prep). A null or empty token
    * array yields NO starts — a null document must not fabricate a
    * phantom chunk. Pair with `slice(toks, start + 1, chunkSize)` to
    * materialize each chunk; pure Column algebra, one explode per
    * chunk row, no shuffle. */
  def chunkStarts(toks: Column, stride: Int): Column =
    when(size(toks) >= 1, sequence(lit(0), size(toks) - 1, lit(stride)))
      .otherwise(array().cast("array<int>"))
}
