package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis column functions for large-scale training-data pipelines.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * (no Scala UDFs), so whole-stage codegen survives and the operators run at
  * full scan speed on a 100 TB corpus. Hashes are md5-based so results are
  * portable across engines (the DuckDB oracle computes the identical value).
  */
object TextFunctions {

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Word n-gram shingles: array of space-joined n-token windows.
    * Guarded so a doc with < n tokens yields an empty array (Spark's
    * `sequence(1, 0)` would otherwise produce a DESCENDING [1,0] — the
    * DuckDB mirror `range(1, x)` yields [] for x <= 1). */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Character n-grams of the raw text (near-dup fingerprint alphabet). */
  def charGrams(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))
      .otherwise(array().cast(ArrayType(StringType)))

  /** BPE-ish token count: letter runs, digit runs, single punctuation. */
  val BpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def bpeishTokenCount(text: Column): Column =
    regexp_count(lower(text), lit(BpeishPattern))

  /** Stopword list shared with the quality/langid heuristics. */
  val Stopwords = Seq("the", "a", "and", "of", "to", "in", "is")

  def stopwordHits(text: Column): Column =
    size(filter(tokens(text), t => t.isin(Stopwords: _*)))

  /** Punctuation chars = anything that is not alnum or space. */
  def punctChars(text: Column): Column =
    length(regexp_replace(lower(text), "[a-z0-9 ]", ""))

  /** Exact mean token length: integer char sum / integer token count. */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    aggregate(transform(toks, t => length(t).cast(LongType)),
      lit(0L), (acc, x) => acc + x).cast(DoubleType) / size(toks)
  }

  /** Composite quality score in [0,1]-ish; all terms are exact ratios of
    * integers so the double result is bit-identical across engines. */
  def qualityScore(text: Column): Column = {
    val nToks = size(tokens(text)).cast(DoubleType)
    val stopRatio = stopwordHits(text).cast(DoubleType) / nToks
    val punctRatio = punctChars(text).cast(DoubleType) / length(text)
    lit(0.5) * stopRatio + lit(0.5) * (lit(1.0) - punctRatio)
  }

  /** Language marker lists for the n-gram/stopword language-ID heuristic
    * (reference has no langid — this is the training-pipeline extension). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "una", "por", "como"))

  def langHits(text: Column, lang: String): Column = {
    val markers = LangMarkers.toMap.apply(lang)
    size(filter(tokens(text), t => t.isin(markers: _*)))
  }

  /** argmax over lang scores; ties resolve in LangMarkers order (en first),
    * mirrored exactly by the oracle's CASE chain. */
  def langId(text: Column): Column = {
    val hits = LangMarkers.map { case (l, _) => l -> langHits(text, l) }
    hits.init.zipWithIndex.foldRight(lit(hits.last._1)) {
      case (((l, h), i), elseCol) =>
        val rest = hits.drop(i + 1).map(_._2)
        when(rest.foldLeft(lit(true))((acc, r) => acc && h >= r), l)
          .otherwise(elseCol)
    }
  }

  /** Whitespace-normalized md5 document fingerprint (exact-dup key). */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")).cast(BinaryType))

  private def md5Prefix(c: Column, nibbles: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    columnOf(graft.plans.Md5PrefixLong(expressionOf(c), nibbles))
  }

  /** Portable 28-bit hash of a string: first 7 hex digits of md5, read
    * straight off the digest bytes (`graft.plans.Md5PrefixLong` — value-
    * identical to `conv(substring(md5(…), 1, 7), 16, 10)`, property-tested,
    * minus that chain's per-row hex encode + radix parse). DuckDB computes
    * the identical long via `('0x'||substr(md5(e),1,7))::BIGINT`; 28 bits
    * leaves headroom for exact affine re-hashing in int64. */
  def hash28(c: Column): Column = md5Prefix(c, 7)

  /** Portable 60-bit hash (first 15 hex md5 chars): wide enough to feed a
    * 60-bit simhash while staying exactly representable as signed int64 on
    * both engines (61+ bits would overflow DuckDB's ::BIGINT parse). */
  def hash60(c: Column): Column = md5Prefix(c, 15)

  // ── hashed-feature linear classifier scoring ──────────────────────────
  // The model-based filtering step of a curation pipeline (fastText-style
  // quality classifiers): tokens hash into `buckets` feature slots, the
  // score is the integer sum of the slots' weights. Weights here are a
  // deterministic function of the slot index (an affine mix into
  // [-10, 10]) so both engines derive the "model" without a stored
  // artifact; a real trained model swaps `slotWeight` for an
  // element_at(lit(weights), slot) lookup against a broadcast int array —
  // same plan shape, still zero-shuffle scan-speed column math.

  /** Non-empty whitespace tokens: the feature universe of the scorer. */
  private def featTokens(text: Column): Column =
    filter(tokens(text), t => length(t) > 0)

  /** Deterministic per-slot weight in [-10, 10] (slot is nonnegative). */
  private def slotWeight(slot: Column): Column =
    (slot * 7919L) % 21L - 10L

  def hashedFeatureCount(text: Column): Column = size(featTokens(text))

  /** Exact int64 linear score: Σ weight(hash28(token) mod buckets) over
    * non-empty tokens (duplicates kept — term frequency IS the feature
    * weighting). Fully codegen'd: the per-token hash runs in the fused
    * `Md5ArrayLong` kernel, the fold is an integer `aggregate`. */
  def hashedLinearScore(text: Column, buckets: Int = 64): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    val hashes = columnOf(graft.plans.Md5ArrayLong(
      expressionOf(featTokens(text)), nibbles = 7, distinctSorted = false))
    aggregate(transform(hashes, h => slotWeight(h % buckets.toLong)),
      lit(0L), (acc, x) => acc + x)
  }

  // ── PII detection / redaction ─────────────────────────────────────────
  // Patterns are written in the Java-regex ∩ RE2 dialect intersection so
  // the DuckDB oracle computes identical matches. All counting/redaction
  // is codegen'd regexp_count/regexp_replace — scan-speed, no UDFs.

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\+\\d{1,2}-\\d{3}-\\d{4}"

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailPattern))
  def ipv4Count(text: Column): Column = regexp_count(text, lit(Ipv4Pattern))
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhonePattern))

  /** Replace each PII class with a typed placeholder token. Emails first:
    * an email's domain would otherwise be half-eaten by the IP pattern
    * when it is dotted-numeric (user@1.2.3.4). */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Pattern, "<IP>")
    regexp_replace(noIp, PhonePattern, "<PHONE>")
  }
}
