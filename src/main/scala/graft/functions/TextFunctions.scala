package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis column functions for training-data pipelines. All are
 * compositions of built-in (codegen'd) functions — no UDFs — so a
 * quality-scoring pass over 100 TB of documents stays inside
 * whole-stage codegen and the parquet scan only reads the text column.
 */
object TextFunctions {

  /** Whitespace tokens of the trimmed text. */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  /** Lowercased word tokens (split on non-word runs, empties removed). */
  def words(text: Column): Column =
    filter(split(lower(text), "\\W+"), w => length(w) > 0)

  /** BPE-ish subword pre-tokenization: letter runs, digit runs, single
   * punctuation marks — the usual pre-merge segmentation shape. */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Word n-grams as space-joined strings (shingles for MinHash). A
   * text shorter than n words collapses to a single whole-text shingle. */
  def wordShingles(text: Column, n: Int): Column = {
    val ws = words(text)
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", slice(ws, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", ws)))
  }

  private val stopwordsEn = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "on", "for",
    "with", "at", "by", "from", "it", "that", "this", "be", "are", "as")

  /** Ratio of English stopwords among word tokens (quality signal). */
  def stopwordRatio(text: Column): Column = {
    val ws = words(text)
    when(size(ws) === 0, lit(0.0))
      .otherwise(
        size(filter(ws, w => w.isin(stopwordsEn: _*))).cast("double") / size(ws))
  }

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double") / length(text))

  /** Ratio of digit characters to total characters. */
  def digitRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(size(regexp_extract_all(text, lit("[0-9]"), lit(0))).cast("double") / length(text))

  // --- language identification (n-gram/stopword heuristic) ---------------

  /** Per-language marker words (high-frequency function words that are
   * close to disjoint across these languages). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "with", "for", "this", "are"),
    "fr" -> Seq("le", "la", "les", "des", "est", "et", "une", "dans", "que", "pour", "pas", "vous"),
    "es" -> Seq("el", "los", "las", "es", "y", "una", "que", "en", "por", "para", "con", "su"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "für", "auf", "ich"))

  /**
   * Heuristic language ID: CJK-dominant text → "zh"; otherwise the
   * language whose marker-word hit count is highest (ties broken by
   * declaration order above; no hits at all → "und"). A single
   * codegen'd expression ([[graft.functions.LangId]]) — the
   * column-function formulation re-evaluated an interpreted words()
   * filter per language, ~6× slower per row, and its `\W+` tokenizer
   * could never match accented markers like "für".
   */
  def langId(text: Column): Column =
    graft.functions.expressions.langId(text, langMarkers)

  // --- PII scrubbing / URL structure --------------------------------------

  /** Redaction patterns, applied in order (URLs first so an address
   * inside a URL can't leave a partial match behind). Deliberately
   * restricted to regex constructs whose semantics are identical
   * across Java regex and RE2-family engines (no lookaround, no
   * backreferences, no \s/\w classes whose definitions vary) — the
   * scrub must be reproducible outside Spark. */
  private val piiPatterns: Seq[(String, String)] = Seq(
    "https?://[^ \\t\\n\\r]+" -> "[URL]",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "[EMAIL]",
    "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}" -> "[PHONE]")

  /** Scrub emails, URLs, and international-format phone numbers from a
   * text column — the PII-redaction pass of a training-data pipeline.
   * Pure codegen'd regexp_replace chain: one scan, no UDF. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Host part of the first http(s) URL in the text ('' if none) —
   * per-domain corpus statistics are the usual first grouping of a
   * crawled-data pipeline. */
  def extractDomain(text: Column): Column =
    regexp_extract(text, "https?://([^/ \\t\\n\\r]+)", 1)
}
