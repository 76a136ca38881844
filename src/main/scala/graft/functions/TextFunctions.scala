package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * The per-row hot loops (tokenizing, char classification, rolling
  * hash) are codegen kernels ([[graft.plans.Kernels]]) — the original
  * higher-order Column chains (`filter`/`aggregate`/`transform` with
  * lambdas) evaluate their lambdas interpreted per element, which costs
  * ~1 ms/row on real documents. Each function stays a pure
  * `Column → Column` so it composes with any filter/projection and the
  * text scan keeps its pushdown; semantics (including the
  * split-with-limit-(-1) edge cases on the engine whitespace class
  * [[graft.plans.Kernels.WsRun]]) are unchanged and oracle-pinned.
  */
object TextFunctions {

  import graft.plans.Exprs

  /** Whitespace-token count (null text → 0, like the original
    * `when`-guarded Column version).
    */
  def tokenCount(text: Column): Column =
    when(text.isNull, lit(0)).otherwise(Exprs.tokenCount(text))

  /** BPE-ish subword count: splits on word/number/punctuation boundaries
    * (the GPT-2 pre-tokenizer regex family, simplified) — a cheap,
    * deterministic proxy for tokenizer load estimation. Single-pass
    * kernel computing the closed form: alphanumeric runs + non-space
    * punctuation code points.
    */
  def subwordCount(text: Column): Column = Exprs.subwordCount(text)

  /** Fraction of a document's positional word `k`-grams that are
    * repeats of an earlier one — the Gopher-style within-document
    * repetition gate (boilerplate and keyword-stuffed docs score high,
    * fresh prose near 0). Composes two existing codegen kernels:
    * distinct-`k`-gram count (shingleHashes) over the positional total
    * (scanTokens − k + 1), so the whole metric runs inside one codegen
    * span with no array materialization beyond the shingle kernel's.
    */
  def repeatedNgramFraction(text: Column, k: Int): Column = {
    val n = Exprs.scanTokens(text)
    val total = when(n === 0, lit(0))
      .otherwise(greatest(n - (k - 1), lit(1)))
    val nDistinct = size(Exprs.shingleHashes(text, k))
    when(total === 0, lit(0.0))
      .otherwise((total - nDistinct).cast("double") / total.cast("double"))
  }

  /** Most-frequent-token share per document (1.0 = one word over and
    * over) — the companion repetition gate to
    * [[repeatedNgramFraction]]. Per-row codegen kernel; replaced an
    * explode → (doc,term) count → per-doc max/sum pipeline whose two
    * corpus-wide shuffles crossed every token occurrence over the wire.
    */
  def topTokenShare(text: Column): Column = Exprs.topTokenShare(text)

  /** Characters per token — a crude fertility measure. */
  def charsPerToken(text: Column): Column =
    length(text).cast("double") / greatest(tokenCount(text), lit(1)).cast("double")

  /** Ratio of non-alphanumeric, non-space chars to all chars. */
  def punctRatio(text: Column): Column = Exprs.punctRatio(text)

  /** English-ish stopwords used by the quality score and language ID. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
        "for", "on", "with", "as", "at", "by", "this", "that")

  /** Fraction of whitespace tokens that are stopwords. */
  def stopwordRatio(text: Column): Column = Exprs.stopwordRatio(text)

  /** Mean whitespace-token length. */
  def meanTokenLength(text: Column): Column = Exprs.meanTokenLen(text)

  /** Composite document-quality score in [0,1]: rewards moderate length,
    * low punctuation noise, and a natural stopword rate — the
    * Gopher/C4-style heuristic family reduced to what is computable from
    * raw text alone. Deterministic and codegen-friendly.
    */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text)
    val lengthScore = least(n.cast("double") / lit(50.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 4.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    round((lengthScore + punctScore + stopScore) / 3.0, 4)
  }

  /** Character-trigram profiles per language for the n-gram language-ID
    * heuristic: score = |trigrams(text) ∩ profile| / |trigrams(text)|.
    */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "ing", "ion", "ent", "her", "for", "tha"),
    "es" -> Seq("que", "ent", "con", "ado", "los", "ien", "est", "cio"),
    "de" -> Seq("der", "ein", "sch", "ich", "nde", "die", "und", "cht"),
    "fr" -> Seq("les", "ent", "que", "des", "ion", "eur", "ait", "ous"))

  /** Language-ID by trigram-profile hit rate; returns the best-scoring
    * language code or "und" when nothing matches. Single-pass kernel
    * (32 substring probes + argmax per row); ties resolve to the
    * lexicographically larger language code, identical to the previous
    * `array_max` over lang-ascending (score, lang) structs — the q41
    * oracle pins that tie order. (Historical note: a `when`-fold argmax
    * was measured 6× slower — it duplicates each `contains`
    * exponentially; `array_max` over structs worked but fell out of
    * codegen into an interpreted ordering.)
    */
  def langIdCol(text: Column): Column = Exprs.langId(text)

  // ------------------------------------------------- cleaning (C4-style)
  // The standard pre-training text-cleaning verbs, all codegen'd
  // regexp built-ins (no UDFs, no kernels needed — regex evaluation is
  // already native).

  // RE2's `https?://\S+`, as q76's DuckDB oracle matches it: runs through
  // U+000B, where a Java `\S` would stop
  private val UrlPattern = graft.plans.Kernels.UrlRun

  /** Collapse whitespace runs to single spaces and trim. */
  def normalizeWhitespace(text: Column): Column =
    trim(regexp_replace(text, graft.plans.Kernels.WsRun, " "))

  /** Remove URLs (http/https through the next whitespace). */
  def stripUrls(text: Column): Column =
    regexp_replace(text, UrlPattern, "")

  /** Count URLs — the usual spam/boilerplate signal. */
  def urlCount(text: Column): Column =
    size(regexp_extract_all(text, lit(UrlPattern), lit(0)))

  /** Remove ASCII control characters (keeps \t \n \r). */
  def stripControlChars(text: Column): Column =
    regexp_replace(text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")

  // ---------------------------------------------------- blocklist scan

  /** Aho–Corasick multi-pattern blocklist scan over the lowercased
    * text — the domain/keyword filter step of a curation pipeline
    * (RefinedWeb/C4-class blocklists). Returns the 2-long array
    * `[n_hits, n_patterns]`: total occurrences of ANY pattern as a
    * substring (all positions — overlaps included: "aa" occurs twice
    * in "aaa") and the count of distinct patterns present. One
    * O(chars + matches) pass regardless of pattern count — the
    * automaton is built once per executor JVM from the plan-constant
    * pattern literal ([[graft.plans.Kernels.blocklistHits]]), vs
    * O(patterns × chars) for a contains-loop or a backtracking regex
    * alternation. Patterns are matched case-insensitively (both sides
    * lowercase); config-scale (a blocklist has thousands of entries,
    * not billions).
    */
  def blocklistHits(text: Column, patterns: Seq[String]): Column = {
    require(patterns.nonEmpty, "empty blocklist")
    val norm = patterns.map(_.toLowerCase(java.util.Locale.ROOT))
    require(norm.distinct.size == norm.size, s"duplicate blocklist patterns")
    require(norm.forall(p => p.nonEmpty && !p.contains('\u0001')),
      "patterns must be non-empty and free of the \\u0001 joiner")
    Exprs.blocklistHits(text, lit(norm.mkString("\u0001")))
  }

  /** Blocklist redaction — the action to [[blocklistHits]]'s report:
    * the union of all pattern-occurrence spans is masked, each maximal
    * covered run collapsing to one `<blocked>` token over the
    * lowercased text (the match normalization; see the kernel doc).
    */
  def blocklistRedact(text: Column, patterns: Seq[String]): Column = {
    require(patterns.nonEmpty, "empty blocklist")
    val norm = patterns.map(_.toLowerCase(java.util.Locale.ROOT))
    require(norm.distinct.size == norm.size, s"duplicate blocklist patterns")
    require(norm.forall(p => p.nonEmpty && !p.contains('\u0001')),
      "patterns must be non-empty and free of the \\u0001 joiner")
    Exprs.blocklistRedact(text, lit(norm.mkString("\u0001")))
  }

  // ------------------------------------------------------ PII scrubbing
  // Deterministic regex-class PII detection and redaction — the
  // pre-release scrub every training corpus needs. Patterns stick to
  // constructs with identical semantics in Java regex and RE2
  // (character classes, bounded repetition, \b) so a second engine
  // can verify the redaction byte-for-byte.

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\+\\d{1,2}-\\d{3}-\\d{4}"

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailPattern), lit(0)))
  def ipv4Count(text: Column): Column =
    size(regexp_extract_all(text, lit(Ipv4Pattern), lit(0)))
  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PhonePattern), lit(0)))

  /** Replace each PII class with a fixed placeholder token. Classes are
    * applied email → IP → phone, on the output of the previous step
    * (documented order: counts are taken on the ORIGINAL text).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  /** Polynomial rolling-hash fingerprint of the document text (base-31
    * over code points, 64-bit wraparound) — the classic Rabin-Karp
    * document fingerprint, as a single-pass codegen kernel.
    */
  def fingerprint(text: Column): Column = Exprs.fingerprint64(text)
}
