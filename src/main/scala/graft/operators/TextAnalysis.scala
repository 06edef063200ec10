package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, document fingerprinting.
  * All pure Column chains (codegen'd, no UDFs) so they run at scan speed
  * and push through Catalyst untouched.
  *
  * Reference analog: the normalize/score stages of
  * `/root/reference/src/event_dedup/preprocessing/normalizer.py` +
  * `matching/scorers/` — per-row deterministic text metrics feeding
  * downstream decisions.
  */
object TextAnalysis {

  // The Unicode-complete whitespace class (TextFunctions.WhitespaceClass)
  // and its inner character set, for embedding in negated classes. Java's
  // bare \s is ASCII-only: trim strips only 0x20 and split keeps boundary
  // empty tokens, so "\n"-terminated text would count a phantom token and
  // NBSP-separated words would fuse — the same defect fixed in
  // Decontamination.ngramHashes, applied here to every tokenizer.
  private val Ws = graft.functions.TextFunctions.WhitespaceClass
  private val WsInner = Ws.stripPrefix("[").stripSuffix("]")

  /** Whitespace token count; empty/blank/null → 0 (empty tokens from
    * boundary whitespace are filtered, never counted).
    */
  def tokenCount(text: Column): Column =
    size(graft.functions.TextFunctions.whitespaceTokens(text))

  /** BPE-ish subword token estimate: word chunks + standalone
    * punctuation/symbols, the usual pre-tokenizer regex shape (Unicode
    * spaces count as whitespace, not as symbol tokens).
    */
  def tokenEstimate(text: Column): Column =
    when(text.isNull, lit(0L))
      .otherwise(regexp_count(text, lit("\\w+|[^\\w" + WsInner + "]")))

  /** Punctuation character count (sentence-final + clause punctuation). */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,;:!?]", ""))

  private val StopwordsDe = Seq("der", "die", "das", "und", "ist", "ein", "mit", "von")
  private val StopwordsEn = Seq("the", "and", "is", "a", "of", "to", "in", "that")
  private val StopwordsFr = Seq("le", "la", "et", "les", "des", "un", "une", "est")

  /** Stopword hits for a language's stopword list; empty list → 0 hits
    * (not an `empty.reduceLeft` crash at plan construction).
    * Fused single walk ([[graft.functions.StopwordHits]]): the padded
    * occurrence-count form costs one regexp_replace + one replace pass PER
    * WORD (langId ran 24 such passes per row); a word's padded occurrence
    * count equals the count of tokens whose lowercase is that word, and a
    * token equals at most one distinct word, so the per-list sum is one
    * token walk against a hash set. The specs keep the padded form as the
    * spec side of the differential test.
    */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    if (stopwords.isEmpty) lit(0.0)
    else graft.functions.toCol(
      graft.functions.StopwordHits(graft.functions.toExpr(text), stopwords))

  /** Quality metrics struct: chars, tokens, mean token length, punct ratio,
    * stopword ratio (EN list), uppercase ratio — the length/punct/stopword
    * heuristics used to score document quality in webtext pipelines.
    */
  def qualityMetrics(text: Column): Column = {
    val chars = length(text)
    val toks = tokenCount(text)
    val punct = punctCount(text)
    val upper = length(text) - length(regexp_replace(text, "[A-Z]", ""))
    val stop = stopwordHits(text, StopwordsEn)
    struct(
      chars.as("n_chars"),
      toks.as("n_tokens"),
      round(chars.cast("double") / greatest(toks, lit(1)), 4).as("mean_token_len"),
      round(punct.cast("double") / greatest(chars, lit(1)), 6).as("punct_ratio"),
      round(stop.cast("double") / greatest(toks, lit(1)), 6).as("stopword_ratio"),
      round(upper.cast("double") / greatest(chars, lit(1)), 6).as("upper_ratio")
    )
  }

  /** Composite quality score in [0,1]: penalize too-short/too-long docs,
    * punctuation-free walls of text, zero stopwords. Deterministic heuristic.
    */
  def qualityScore(text: Column): Column = {
    val m = qualityMetrics(text)
    val lenScore = when(m.getField("n_tokens") < 10, 0.2)
      .when(m.getField("n_tokens") > 100000, 0.2)
      .otherwise(1.0)
    val stopScore = when(m.getField("stopword_ratio") > 0.01, 1.0).otherwise(0.5)
    val punctScore = when(m.getField("punct_ratio").between(0.0005, 0.2), 1.0).otherwise(0.7)
    round(lenScore * 0.4 + stopScore * 0.3 + punctScore * 0.3, 6)
  }

  /** N-gram/stopword-heuristic language ID over {de,en,fr}; deterministic
    * argmax with lexicographic tie-break ('de' < 'en' < 'fr'); 'und' if no
    * evidence.
    */
  def langId(text: Column): Column = {
    val de = stopwordHits(text, StopwordsDe)
    val en = stopwordHits(text, StopwordsEn)
    val fr = stopwordHits(text, StopwordsFr)
    val best = greatest(de, en, fr)
    // best.isNull (null text): every when() below would be NULL-skipped and
    // fall through to 'fr' — no evidence must mean 'und'
    when(best.isNull || best === 0, "und")
      .when(de === best, "de")
      .when(en === best, "en")
      .otherwise("fr")
  }

  /** Content fingerprint: SHA-256 of whitespace-normalized lowercase text —
    * the canonical doc-identity key for exact dedup across cosmetic noise.
    * Reuses [[graft.functions.TextFunctions.collapseWhitespace]] (the
    * Unicode-complete class): Java's bare `\s` is ASCII-only, so NBSP —
    * the most common cosmetic web-text artifact — would otherwise defeat
    * the dedup-across-cosmetic-noise contract.
    */
  def fingerprintSha(text: Column): Column =
    sha2(graft.functions.TextFunctions.collapseWhitespace(lower(text)), 256)
}
