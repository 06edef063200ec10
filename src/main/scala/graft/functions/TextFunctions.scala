package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text normalization / extraction as pure Catalyst `Column` pipelines.
  *
  * Re-expresses the reference's row-at-a-time normalizer
  * (`/root/reference/src/event_dedup/preprocessing/normalizer.py:16-67`,
  * `prefix_stripper.py:46-109`, `synonyms.py:48-67`) as declarative column
  * chains so the whole extraction stage stays inside whole-stage codegen and
  * Catalyst can prune/push as usual. Determinism is the contract: the same
  * input byte sequence always produces the same output bytes
  * (BASELINE.json input_hint: byte-identical extracted text per url).
  */
object TextFunctions {

  /** Whitespace class matching Python's `\s` on `str` (used by
    * `re.sub(r"\s+", " ", ...)` at normalizer.py:57): ASCII whitespace,
    * the C1/ISO separators 0x1c-0x1f and 0x85, plus Unicode space
    * separators. Java's bare `\s` is ASCII-only, hence the explicit class.
    */
  val WhitespaceClass: String =
    "[\\s\\u001c-\\u001f\\u0085\\u00a0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000]"

  /** Collapse runs of whitespace to single spaces and trim (normalizer.py:57).
    * Fused single byte-walk ([[CollapseWs]]); the specs hold the regex chain
    * it is differential-tested against.
    */
  def collapseWhitespace(c: Column): Column = toCol(CollapseWs(toExpr(c)))

  /** Unicode-whitespace tokens with empty tokens filtered; null/blank text
    * → empty array. The ONE tokenizer shared by token counting, n-gram
    * hygiene and decontamination — Spark's `trim` strips only ASCII spaces
    * and `split` keeps boundary empty tokens, so per-operator copies of
    * this expression kept re-growing the phantom-empty-token bug.
    */
  def whitespaceTokens(c: Column): Column = toCol(WsTokens(toExpr(c)))

  /** Full `normalize_text` pipeline (normalizer.py:16-67):
    * lowercase → NFC → umlaut expansion → whitespace collapse → synonyms →
    * punctuation strip (keep hyphen) → trim.
    *
    * Implemented by the fused [[NormalizeTextExpr]] (one walk instead of
    * ~12 string passes — this is the hot per-row stage); the specs
    * differential-test it against the equivalent built-ins-only chain on
    * the generated corpus.
    */
  def normalizeText(c: Column, synonyms: Map[String, String] = Map.empty): Column = {
    val ordered = synonyms.toSeq.sortBy { case (k, _) => (-k.length, k) }
    toCol(NormalizeTextExpr(toExpr(c), ordered))
  }

  /** Strip the FIRST matching configured prefix, case-insensitively, using
    * the reference's separator variants (prefix_stripper.py:43-86).
    * Non-recursive: a single anchored alternation preserves first-match-wins
    * because Java regex alternation is ordered and we order prefixes exactly
    * as the reference iterates them (dash prefixes, then colon prefixes,
    * then generic prefixes).
    */
  def stripPrefixes(
      c: Column,
      dashPrefixes: Seq[String] = Nil,
      colonPrefixes: Seq[String] = Nil,
      genericPrefixes: Seq[String] = Nil
  ): Column = {
    val dashSeps = Seq(" - ", " -- ", " – ", " — ")
    val alts: Seq[String] =
      dashPrefixes.flatMap(p => dashSeps.map(s => java.util.regex.Pattern.quote(p + s))) ++
        colonPrefixes.map(p => java.util.regex.Pattern.quote(p + ": ")) ++
        genericPrefixes.flatMap(p => dashSeps.map(s => java.util.regex.Pattern.quote(p + s)))
    if (alts.isEmpty) c
    // (?u): Python's re.IGNORECASE folds Unicode — without UNICODE_CASE,
    // Java folds ASCII only and "MÜNCHEN - x" would keep a prefix the
    // reference strips (prefix_stripper.py is case-insensitive on str)
    else trim(regexp_replace(c, "(?ius)^(?:" + alts.mkString("|") + ")", ""))
  }

  /** `normalize_title` = strip prefixes on the ORIGINAL title, then
    * normalize (prefix_stripper.py:89-109).
    */
  def normalizeTitle(
      c: Column,
      dashPrefixes: Seq[String] = Nil,
      colonPrefixes: Seq[String] = Nil,
      genericPrefixes: Seq[String] = Nil,
      synonyms: Map[String, String] = Map.empty
  ): Column =
    normalizeText(stripPrefixes(c, dashPrefixes, colonPrefixes, genericPrefixes), synonyms)

  // -------------------------------------------------------------------------
  // Webtext extraction (ours — SURVEY.md §2.2 P9). The pages generator wraps
  // body text in a fixed deterministic template (FIXTURES.md §1); extraction
  // recovers the body from the html bytes, unescapes the three entities the
  // generator escapes, and normalizes. Deterministic, pure Column chain.
  // -------------------------------------------------------------------------

  /** html BINARY → body text: decode UTF-8, take <article>…</article>,
    * strip any residual tags, unescape entities. Fused single-walk
    * implementation ([[HtmlArticleText]]); the specs differential-test it
    * against a built-ins-only chain.
    */
  def htmlToText(htmlBin: Column): Column = toCol(HtmlArticleText(toExpr(htmlBin)))

  /** The extraction invariant column: byte-identical per url across runs. */
  def extractText(htmlBin: Column, synonyms: Map[String, String] = Map.empty): Column =
    normalizeText(htmlToText(htmlBin), synonyms)
}
