package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline surface
  * (SURVEY.md §2 B-10). Everything here is composed from codegen'd built-ins
  * (split / higher-order array functions / md5) — no UDFs, so the operators
  * stay inside WholeStageCodegen and scale linearly with input rows.
  */
object TextFunctions {

  /** Whitespace tokenization — the reference corpus is single-space joined. */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: runs of lowercase letters (regex tokenizer). */
  def alphaTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+"), lit(0))).cast("long")

  /** Ratio of stopword tokens — language-profile building block. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val ws = tokens(text)
    size(filter(ws, w => w.isin(stopwords: _*))).cast("double") / size(ws)
  }

  /** Mean token length in characters (whitespace excluded). */
  def avgWordLen(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") / size(tokens(text))

  /** 1 - distinct/total token ratio: repetitiveness signal. */
  def dupTokenRatio(text: Column): Column = {
    val ws = tokens(text)
    lit(1) - size(array_distinct(ws)).cast("double") / size(ws)
  }

  /** Composite quality score in [0,1]-ish; the exact formula matters less
    * than determinism — identical double arithmetic on both engine and
    * oracle sides. */
  def qualityScore(text: Column): Column =
    lit(0.4) * stopwordRatio(text, Seq("the", "a")) +
      lit(0.4) * (lit(1) - dupTokenRatio(text)) +
      lit(0.2) * least(avgWordLen(text) / lit(8.0), lit(1.0))

  /** Per-language stopword profiles for the n-gram-heuristic language ID.
    * Real-world profiles would be larger; the mechanics (score = profile-hit
    * ratio, argmax wins, 'und' when nothing matches) are the operator. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "la", "los", "y", "es"))

  def langScore(text: Column, lang: String): Column =
    stopwordRatio(text, langProfiles.toMap.apply(lang))

  /** Predicted language: argmax of profile scores, ties broken by profile
    * order, 'und' when no profile matches at all. */
  def langId(text: Column): Column = {
    val scores = langProfiles.map { case (l, _) => l -> langScore(text, l) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, sc), acc) =>
      when(sc === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Word n-gram shingles: ["a b c", "b c d", ...]. Deterministic order.
    * Documents with fewer than `n` tokens yield ZERO shingles (not one
    * truncated shingle) — matching the DuckDB oracle's `range(1, len-1)`
    * formulation, which is empty for short documents.
    *
    * Formulated as `n` aligned slices zipped, so the transform lambda only
    * touches its own struct element: higher-order lambdas are interpreted
    * with no common-subexpression elimination, and the naive
    * `transform(sequence(...), i -> concat(slice(tokens, i, n)))` re-splits
    * the document once per shingle index — measured ~100× slower over the
    * sf0.1 corpus. A consumer that only hashes the distinct shingles uses
    * [[shingleHashes]], the one-pass kernel of exactly that. */
  def wordShingles(text: Column, n: Int): Column = {
    val ws = tokens(text)
    val m = greatest(size(ws) - (n - 1), lit(0))
    val zipped = arrays_zip(
      (0 until n).map(k => slice(ws, lit(k + 1), m).as(s"w$k")): _*)
    when(size(ws) >= n,
      transform(zipped,
        s => concat_ws(" ", (0 until n).map(k => s.getField(s"w$k")): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** `transform(array_distinct(wordShingles(text, n)), s -> xxhash64(s))`
    * in one kernel pass over a UTF8_BINARY string: the same values in the
    * same order. See [[graft.expressions.ShingleHashes]] for why this is a
    * kernel and the bit-compat contract. */
  def shingleHashes(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.expressions.ShingleHashes(Bridge.expression(text), n))
  }

  /** All MinHash values [firstHash, firstHash + numHashes) in one kernel
    * pass: element h+1 (1-based) = min over shingles of
    * md5((firstHash+h)|shingle). md5 as the hash family keeps the signature
    * engine-independent (oracle-checkable), unlike Spark's Murmur3 `hash`.
    * See [[graft.expressions.MinhashMd5]] for why this is a kernel and the
    * bit-compat contract with the HOF formulation. */
  def minhashSignature(shingles: Column, firstHash: Int,
      numHashes: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.expressions.MinhashMd5(
      Bridge.expression(shingles), firstHash, numHashes))
  }

  /** PII patterns shared by the redactor, the match counters, and the DuckDB
    * oracle. Restricted to syntax with identical semantics in Java regex and
    * RE2 (character classes, bounded repetition, ASCII \b) so both engines
    * see the same matches. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phoneRe = "\\+?[0-9][0-9 -]{6,}[0-9]"

  private def redactEmails(text: Column): Column =
    regexp_replace(text, emailRe, "[EMAIL]")
  private def redactIps(text: Column): Column =
    regexp_replace(text, ipv4Re, "[IP]")

  /** Counts match the redaction cascade stage-for-stage: emails are counted
    * on raw text, IPs on the email-redacted text, phones on the email+IP-
    * redacted text — so `n_*` always agrees with the number of masks
    * `redactPii` actually emits (a digit run inside an email local part is
    * an email, not a phone). */
  def piiEmails(text: Column): Column =
    size(regexp_extract_all(text, lit(emailRe), lit(0))).cast("long")
  def piiIps(text: Column): Column =
    size(regexp_extract_all(redactEmails(text), lit(ipv4Re), lit(0)))
      .cast("long")
  def piiPhones(text: Column): Column =
    size(regexp_extract_all(redactIps(redactEmails(text)), lit(phoneRe),
      lit(0))).cast("long")

  /** PII redaction: emails → [EMAIL], then IPv4 → [IP], then phone-shaped
    * digit runs → [PHONE]. Order matters — emails and IPs must be consumed
    * before the greedy phone pattern can see their digits. Pure
    * `regexp_replace` composition: codegen'd, one pass per pattern. */
  def redactPii(text: Column): Column =
    regexp_replace(redactIps(redactEmails(text)), phoneRe, "[PHONE]")

  /** HTML → text boilerplate strip, the regex tier of web-corpus cleaning:
    * drop script/style blocks wholesale (their content is code, not text),
    * replace every remaining tag with a space (so `</p><p>` stays a word
    * boundary), decode the six common entities — `&amp;` LAST, or
    * `&amp;lt;` would double-decode to `<` — then collapse whitespace runs
    * and trim. Pure codegen'd `regexp_replace` chain, zero shuffle; every
    * pattern is RE2∩Java-compatible (non-greedy `.*?`, no backrefs) so the
    * DuckDB oracle applies the identical chain. A production pipeline would
    * put a real DOM parser behind the same column contract; this is the
    * deterministic, testable regex fallback. */
  def stripHtml(html: Column): Column = {
    // (?s): `.` must cross newlines or a multi-line <script>/<style> body
    // (the common real-world case) survives the block drop — only its tags
    // are removed by the later `<[^>]+>` pass and the JS/CSS leaks into the
    // "clean" text. Supported identically by Java regex and DuckDB RE2.
    val noScript = regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]+>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => regexp_replace(c, ent, ch) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Unicode NFC canonicalization (custom codegen expression — Spark has
    * no built-in normalizer; composed vs decomposed accents would
    * otherwise fracture every digest-keyed operator). */
  def nfc(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.expressions.NfcNormalize(Bridge.expression(text)))
  }

  /** Canonical text form for content-keyed operators: NFC → lowercase →
    * collapse whitespace runs to single spaces → trim. The collapse runs
    * BEFORE the trim (trim only strips 0x20, so a leading tab must become
    * a space first or it survives as a residual leading space and splits
    * the digest). This is the normalization that runs BEFORE exact dedup /
    * incremental-store digests / hash sampling, so byte-level encoding and
    * spacing provenance can't split identical content across digest keys.
    * Pure codegen'd projection. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(nfc(text)), "\\s+", " "))

  /** 64-bit SimHash over whitespace tokens, md5-derived bit vectors:
    * bit i of the signature = sign of Σ_tokens (±1 by bit i of md5(token)).
    * Backed by the graft.expressions.SimHash64 custom expression — one
    * tight digest loop per row; the equivalent higher-order fold evaluated
    * tokens×64 interpreted lambdas per document (measured 20 s+ over the
    * sf0.1 corpus). */
  def simhash64(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.expressions.SimHash64(
      Bridge.expression(tokens(text))))
  }
}
