package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for large-scale training-data pipelines
  * (BASELINE north-star ops), exercised over the driver's `documents`
  * table. All pure `Column` combinators over Spark built-ins — no
  * UDFs, whole-stage-codegen'd, linear per-row cost, so each scales to
  * 100 TB as an embarrassingly parallel map over document partitions.
  *
  * Hash portability: everything hash-based goes through md5 (identical
  * hex output in Spark, DuckDB, and every other engine) rather than
  * engine-private hashes (`xxhash64`, murmur3) so results are
  * reproducible across engines and verifiable by the DuckDB oracle.
  */
object TextFunctions {

  /** Whitespace tokenizer — `split` on a run of whitespace, empty
    * tokens dropped (leading/trailing space safe). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word-piece regex `\p{L}+|\p{N}+|[^\p{L}\p{N}\s]`
    * (letter runs, digit runs, single punctuation marks) — the shape of
    * a GPT-2-style pre-tokenizer without the merges table. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]"), lit(0)))

  /** Punctuation character ratio (quality signal). */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n > 0,
      round(length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") / n, 6))
      .otherwise(0.0)
  }

  /** Tiny multi-language stopword profiles for the heuristic
    * language-ID / stopword-ratio quality signal. Deterministic and
    * oracle-expressible (plain token membership counts). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "es", "no", "por"),
    "de" -> Seq("der", "die", "das", "und", "zu", "in", "ist", "nicht", "von", "mit"),
    "fr" -> Seq("le", "la", "de", "et", "que", "en", "un", "est", "ne", "pour"))

  /** Fraction of tokens that are `lang` stopwords. */
  def stopwordRatio(text: Column, lang: String): Column = {
    val toks = tokens(lower(text))
    val hits = size(filter(toks, t => t.isin(stopwords(lang): _*)))
    when(size(toks) > 0, round(hits.cast("double") / size(toks), 6)).otherwise(0.0)
  }

  /** Heuristic language ID: argmax over per-language stopword hit
    * counts, ties and zero-evidence broken to "und" (undetermined) /
    * alphabetical order — fully deterministic. */
  def langIdHeuristic(text: Column): Column = {
    val toks = tokens(lower(text))
    // fold over languages in alphabetical order keeping (bestLang, bestHits);
    // strict > keeps the earliest (alphabetical) language on ties.
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words: _*)))
    }
    val init = struct(lit("und").as("lang"), lit(0).as("hits"))
    scored.foldLeft(init) { case (acc, (lang, hits)) =>
      when(hits > acc.getField("hits"),
        struct(lit(lang).as("lang"), hits.as("hits"))).otherwise(acc)
    }.getField("lang")
  }

  /** Composite quality score in [0,1]:
    * 0.4·min(tokens/50, 1) + 0.3·(1 − punctRatio) + 0.3·min(2·enStopRatio, 1).
    * Rounded to 6 for cross-engine float stability. */
  def qualityScore(text: Column): Column = {
    val lenTerm = least(tokenCount(text).cast("double") / 50.0, lit(1.0))
    val punctTerm = lit(1.0) - punctRatio(text)
    val stopTerm = least(stopwordRatio(text, "en") * 2.0, lit(1.0))
    round(lenTerm * 0.4 + punctTerm * 0.3 + stopTerm * 0.3, 6)
  }

  /** Document fingerprint: md5 of the canonicalized token stream
    * (lowercased, whitespace-normalized). Identical inputs → identical
    * fingerprint regardless of surrounding whitespace/case. */
  def fingerprintMd5(text: Column): Column =
    md5(array_join(tokens(lower(text)), " ").cast("binary"))

  /** Portable 60-bit integer hash: first 15 hex chars of
    * md5(seed:value) parsed base-16. Positive, fits signed 64-bit, and
    * byte-identical in any engine with md5 (DuckDB:
    * `CAST('0x' || substr(md5(...),1,15) AS BIGINT)`). The string-seed
    * overload is the shared definition; numeric seeds delegate. */
  def hexHash60(c: Column, seed: String): Column =
    conv(substring(md5(concat(lit(seed), lit(":"), c).cast("binary")), 1, 15),
      16, 10).cast("long")

  def hexHash60(c: Column, seed: Int): Column = hexHash60(c, seed.toString)

  /** Canonical text normalization (NFC, accent-strip, lowercase,
    * control-char and whitespace cleanup) via the native
    * `graft_normalize_text` kernel ([[NativeKernels.normalizeText]]);
    * no Unicode step exists as a Column built-in. */
  def normalizeText(text: Column): Column =
    Native.normalizeText(text)

  /** PII patterns — the portable subset of Java regex ∩ RE2 (DuckDB),
    * so the exact same pattern strings drive both engines: character
    * classes, bounded repetition, and ASCII `\b` only (no lookarounds,
    * no backrefs). */
  val EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val SSN_RE = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  val PHONE_RE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** PII redaction (training-data scrubbing pass): emails, then
    * SSN-shaped, then phone-shaped tokens replaced with typed
    * placeholders. The two digit patterns cannot match each other's
    * text (different group widths), so application order only matters
    * for emails — digits inside an email are consumed by `<EMAIL>`
    * first, as a scrubber should. Pure codegen'd `regexp_replace`
    * chain: embarrassingly parallel, no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EMAIL_RE, "<EMAIL>"),
        SSN_RE, "<SSN>"),
      PHONE_RE, "<PHONE>")

  /** Match count for a PII pattern (audit metric emitted alongside the
    * redacted text). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** [[fingerprintMd5]] over an ALREADY-materialized token array —
    * byte-identical given `toks = tokens(lower(text))` (null tokens →
    * null join → null md5, as the text form). */
  def fingerprintOfTokens(toks: Column): Column =
    md5(array_join(toks, " ").cast("binary"))
}
