package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language ID, and
  * document fingerprinting.
  *
  * Everything here is built from Spark's codegen'd built-in functions and
  * higher-order functions (transform/aggregate/filter/zip_with) — no Scala
  * UDFs — so whole-stage codegen survives and the operators are pure
  * per-row map work: at 100 TB they scan, never shuffle.
  */
object TextAnalysis {

  /** Whitespace tokenizer. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword-boundary token count: runs of word chars, digits, or
    * single punctuation — the usual pre-tokenization regex shape.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Distinct-token (type) count. */
  def distinctTokenCount(text: Column): Column =
    size(array_distinct(tokens(text)))

  /** Type/token ratio — a repetition / quality signal. */
  def typeTokenRatio(text: Column): Column =
    round(distinctTokenCount(text).cast("double") / tokenCount(text), 4)

  /** Ratio of alphabetic characters. */
  def alphaRatio(text: Column): Column =
    round(length(regexp_replace(text, "[^A-Za-z]", "")).cast("double")
      / length(text), 4)

  /** Per-language marker-token profiles (public stopword knowledge). */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est", "dans", "que"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "las", "es", "en", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "eine", "nicht", "mit", "den"))

  /** Count of tokens contained in a marker set. */
  private def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(lower(text)), t => t.isInCollection(markers)))

  /** Heuristic language ID: CJK-codepoint count identifies zh; otherwise
    * the language whose stopword profile hits the most tokens wins
    * (deterministic tie-break by profile order); no evidence -> "und".
    * A pure per-row expression — language ID of 100 TB is a single scan.
    */
  def langId(text: Column): Column = {
    val cjk = length(regexp_replace(text, "[^\\x{4e00}-\\x{9fff}]", ""))
    val scored = (Seq("en", "fr", "es", "de").zipWithIndex.map { case (l, i) =>
      // order inside the struct: score first, then a rank that makes the
      // tie-break deterministic (earlier profile wins), then the label
      struct(markerHits(text, stopwordProfiles(l)).as("score"),
        lit(3 - i).as("rank"), lit(l).as("lang"))
    })
    val best = array_max(filter(array(scored: _*), s => s.getField("score") > 0))
    when(cjk > 0, lit("zh"))
      .when(best.isNull, lit("und"))
      .otherwise(best.getField("lang"))
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, lexical
    * diversity, and alphabetic content. Deterministic, documented weights.
    * Deliberately NOT rounded: identical per-row FP evaluation order makes
    * the raw double bit-identical across ANSI engines, whereas rounding
    * diverges exactly on .xxxx5 representation boundaries.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lengthScore = least(nTok / lit(64.0), lit(1.0)) // saturates at 64 tokens
    val diversity = distinctTokenCount(text).cast("double") / nTok
    val alpha = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
      length(text)
    lit(0.4) * lengthScore + lit(0.3) * diversity + lit(0.3) * alpha
  }

  /** Low 60 bits of md5, read textually (hex chars 18-32): a 64-bit-safe
    * engine-portable string hash — md5 is defined byte-for-byte
    * everywhere, unlike xxhash64's Spark-specific seeding, so hash
    * chains built on it are reproducible in any SQL engine
    * (DuckDB: `CAST('0x' || substr(md5(t), 18, 15) AS BIGINT)`).
    */
  def portableHash60(t: Column): Column =
    conv(substring(md5(t), 18, 15), 16, 10).cast("long")

  /** Rolling polynomial hash over the token stream (order-sensitive
    * document fingerprint), mod the Mersenne prime 2^31-1 so the
    * accumulator never overflows a long (ANSI mode rejects wrap-around).
    * Token hash is [[portableHash60]] — engine-portable by construction,
    * which is what makes q25 cross-engine checkable.
    */
  def fingerprint(text: Column): Column = {
    val m = lit(2147483647L)
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * lit(1000003L) + pmod(portableHash60(t), m), m))
  }

  /** Redaction pattern over PII shapes (URLs, emails) plus caller-supplied
    * blocklist terms (word-bounded, regex-quoted). Restricted to the
    * regex subset shared by java.util.regex and RE2, so the same pattern
    * string runs identically on Spark and ANSI/RE2 engines.
    */
  def maskPattern(blocklist: Seq[String]): String = {
    val terms = blocklist.map(t => "\\b" + java.util.regex.Pattern.quote(t) + "\\b")
    (Seq("https?://\\S+", "\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}\\b")
      ++ terms).mkString("(?:", "|", ")")
  }

  /** Scrub sensitive spans: replace every match of [[maskPattern]] with
    * `<MASK>` and count the redactions. Pure per-row map work — scrubbing
    * 100 TB is a single scan with no shuffle.
    */
  def scrub(text: Column, blocklist: Seq[String]): Column =
    regexp_replace(text, maskPattern(blocklist), "<MASK>")

  /** Number of spans [[scrub]] would redact. */
  def scrubCount(text: Column, blocklist: Seq[String]): Column =
    size(regexp_extract_all(text, lit(maskPattern(blocklist)), lit(0)))

  /** Word n-gram shingles, distinct. Documents shorter than n tokens
    * collapse to one whole-text shingle. Native single-pass expression —
    * the HOF composition below is kept as the reference implementation
    * (it evaluates interpreted per gram; measured ~3s/5k docs, and the
    * dedup operators evaluate shingles three times per job).
    */
  def shingles(text: Column, n: Int): Column =
    TextExpressions.wordShingles(text, n)

  /** HOF reference implementation of [[shingles]] (see DedupTextSpec for
    * the equivalence assertion). sequence() would run backwards for docs
    * shorter than n — hence the guard.
    */
  def shinglesHof(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val grams = transform(
      sequence(lit(1), size(toks) - lit(n - 1)),
      i => concat_ws(" ", slice(toks, i, lit(n))))
    when(size(toks) >= n, array_distinct(grams))
      .otherwise(array(concat_ws(" ", toks)))
  }
}
