package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.config.GraftConfig
import graft.functions.{Hashing, NfcNormalize, TextFunctions, toCol, toExpr}

/** Reference forms the specs compare the production kernels against. Each
  * is the plain (built-ins-only, or one-signal-per-pass) spec of a fused
  * expression or pass that `src/main` runs; no entry point calls them.
  */
object Oracles {

  // ---- Hashing: the per-step spec of the fused DocSignature --------------

  /** array<long> shingle hashes → array<long> MinHash signature of length k. */
  def minHash(shingles: Column, k: Int, seed: Long = 42L): Column =
    toCol(MinHashSig(toExpr(shingles), k, seed))

  /** array<string> tokens → 64-bit SimHash. */
  def simHash(tokens: Column, seed: Long = 42L): Column =
    toCol(SimHash64(toExpr(tokens), seed))

  // ---- TextFunctions: built-ins-only chains of the fused walks -----------

  /** Punctuation stripped by the reference (normalizer.py:63) — note hyphen
    * is deliberately NOT in the set (German compound words).
    */
  val PunctClass: String = "[\"'!?,.:;()\\[\\]{}]"

  /** German umlaut/eszett digraph expansion (normalizer.py:45-53).
    * Applied after lowercasing + NFC, so only composed lowercase forms can
    * remain; the uppercase replacements mirror the reference's edge-case
    * handling for characters that didn't lowercase.
    */
  def expandUmlauts(c: Column): Column = {
    val pairs = Seq(
      "ä" -> "ae", "ö" -> "oe", "ü" -> "ue", "ß" -> "ss",
      "Ä" -> "ae", "Ö" -> "oe", "Ü" -> "ue"
    )
    pairs.foldLeft(c) { case (col, (from, to)) => replace(col, lit(from), lit(to)) }
  }

  /** Longest-first literal synonym substitution (synonyms.py:48-67).
    * The map is ordered longest-key-first at load (synonyms.py:45);
    * we sort here so callers can pass any Map.
    */
  def applySynonyms(c: Column, synonyms: Map[String, String]): Column =
    synonyms.toSeq.sortBy { case (k, _) => (-k.length, k) }.foldLeft(c) {
      case (col, (variant, canonical)) => replace(col, lit(variant), lit(canonical))
    }

  /** Built-ins-only reference chain for `TextFunctions.collapseWhitespace`
    * — also what [[normalizeTextDeclarative]] uses, so the normalize
    * differential test keeps an implementation-independent spec side.
    */
  def collapseWhitespaceDeclarative(c: Column): Column =
    trim(regexp_replace(c, TextFunctions.WhitespaceClass + "+", " "))

  /** Built-ins-only reference chain for `TextFunctions.whitespaceTokens`. */
  def whitespaceTokensDeclarative(c: Column): Column =
    filter(split(coalesce(c, lit("")), TextFunctions.WhitespaceClass + "+"), t => length(t) > 0)

  /** Reference-shaped declarative chain (built-ins only) — the semantic
    * specification for `TextFunctions.normalizeText`.
    */
  def normalizeTextDeclarative(c: Column, synonyms: Map[String, String] = Map.empty): Column = {
    val lowered = lower(c)
    val nfcd = NfcNormalize.nfc(lowered)
    val umlauted = expandUmlauts(nfcd)
    val ws = collapseWhitespaceDeclarative(umlauted)
    val syn = applySynonyms(ws, synonyms)
    val noPunct = regexp_replace(syn, PunctClass, "")
    // empty/NULL input → empty string (normalizer.py:35-36)
    coalesce(trim(noPunct), lit(""))
  }

  /** Built-ins-only reference chain for `TextFunctions.htmlToText`. */
  def htmlToTextDeclarative(htmlBin: Column): Column = {
    val s = htmlBin.cast("string")
    val body = regexp_extract(s, "(?s)<article>(.*)</article>", 1)
    val untagged = regexp_replace(body, "<[^>]*>", " ")
    val unescaped =
      replace(replace(replace(untagged, lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
        lit("&amp;"), lit("&"))
    unescaped
  }

  // ---- TextAnalysis: the padded-occurrence-count stopword spec -----------

  /** Occurrences of a word (space-delimited token) inside the text.
    * Whitespace runs are widened to two spaces first so adjacent tokens
    * don't share their delimiter — then " word " occurrences are disjoint
    * and a length-difference count is exact.
    */
  private def wordOccurrences(text: Column, word: String): Column = {
    val padded = concat(lit(" "),
      regexp_replace(lower(text), TextFunctions.WhitespaceClass + "+", "  "), lit(" "))
    val needle = s" $word "
    (length(padded) - length(replace(padded, lit(needle), lit("")))) / needle.length
  }

  /** The padded-occurrence-count reference chain for `TextAnalysis.stopwordHits`. */
  def stopwordHitsDeclarative(text: Column, stopwords: Seq[String]): Column =
    if (stopwords.isEmpty) lit(0.0)
    else stopwords.map(wordOccurrences(text, _)).reduce(_ + _)

  // ---- Decontamination: the anti-join complement of report -------------

  /** Documents with every contaminated row removed (anti-join against the
    * benchmark gram set) — an independent form of the set `report` flags:
    * `report`'s ids are exactly the ids this drops.
    */
  def clean(docs: DataFrame, idCol: String, textCol: String, benchGrams: DataFrame,
      n: Int, seed: Long = 42L, broadcastBench: Boolean = true): DataFrame = {
    val grams = docs.select(col(idCol).as("__decon_id"),
      explode(graft.operators.Decontamination.ngramHashes(col(textCol), n, seed)).as("gram_hash"))
    val bench = if (broadcastBench) broadcast(benchGrams) else benchGrams
    val dirty = grams.join(bench, "gram_hash").select(col("__decon_id")).distinct()
    // null-safe: a contaminated row with a null id must still be removed
    // (null === null is null, so a plain equi-anti-join would KEEP it)
    docs.join(dirty, docs(idCol) <=> dirty("__decon_id"), "left_anti")
  }

  // ---- Similarity: the declarative cosine ---------------------------------

  /** Cosine from precomputed norms — the spec side of `Similarity.cosineFused`. */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    when(normA === 0.0 || normB === 0.0, 0.0)
      .otherwise(graft.operators.Similarity.dot(a, b) / (normA * normB))

  // ---- Synthesis: the one-call form and the per-signal forms -------------

  /** Full canonical synthesis in one call: labels (node, component) joined
    * to extracted pages, grouped by component — the narrow
    * `Synthesis.clusters` aggregate, then the `Synthesis.withText`
    * winner-text fetch from `labeled` itself (a url may repeat, so the fetch
    * dedupes). The pipeline runs the same two steps as separate stages.
    *
    * Output: one row per cluster with canonical url (min member url — the
    * deterministic cluster key), representative text (longest extracted,
    * G1 semantics), member list, counts, time range, langs union, and a
    * field→source provenance map (G10).
    */
  def canonicals(labeled: DataFrame, cfg: GraftConfig): DataFrame = {
    val text = col("extracted_text")
    val withLen = labeled.withColumn("__text_len", when(length(text) > 0, length(text)))
    graft.operators.Synthesis.withText(graft.operators.Synthesis.clusters(withLen, cfg),
      labeled, urlsUnique = false, cfg)
  }

  /** Signature-estimated Jaccard: the fraction of agreeing MinHash
    * components, the unbiased estimate banding is tuned around.
    */
  def estJaccard(sigA: Column, sigB: Column, k: Int): Column =
    aggregate(
      zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x
    ).cast("double") / k

  // ---- Synthesis: the per-signal forms of clusterQuality's fused pass ----

  /** C3 cluster coherence (coherence.py:16-65): size cap, min average
    * internal edge weight; flagged clusters survive but are marked.
    * `edges` = (src, dst, weight) match edges; `labels` = (node, component).
    */
  def coherence(labels: DataFrame, edges: DataFrame, cfg: GraftConfig): DataFrame = {
    val lbl = labels.select(col("node"), col("component"))
    val edgeInCluster = edges
      .join(lbl.toDF("src", "component"), "src")
      .groupBy("component")
      .agg(graft.operators.Synthesis.exactMean(col("weight")).as("avg_weight"), count(lit(1)).as("edge_count"))
    lbl.groupBy("component").agg(count(lit(1)).as("size"))
      .join(edgeInCluster, Seq("component"), "left")
      .withColumn("flagged",
        col("size") > cfg.cluster.maxClusterSize ||
          (col("avg_weight").isNotNull && col("avg_weight") < cfg.cluster.minInternalSimilarity))
  }

  /** G12 per-cluster confidence: mean match-edge weight; NULL for singletons
    * (`matching/pipeline.py:282-301`).
    */
  def clusterConfidence(labels: DataFrame, edges: DataFrame): DataFrame = {
    val lbl = labels.select(col("node"), col("component"))
    edges.join(lbl.toDF("src", "component"), "src")
      .groupBy("component")
      .agg(graft.operators.Synthesis.exactMean(col("weight")).as("match_confidence"))
  }

  /** G13 tier flag per cluster (`matching/pipeline.py:304-314`): did any
    * edge inside the cluster come from the second (non-default) tier?
    * Reference analog: `ai_assisted = any(tier LIKE 'ai%')`.
    */
  def tierFlags(labels: DataFrame, decisions: DataFrame): DataFrame = {
    val lbl = labels.select(col("node"), col("component"))
    // match rows only — see clusterQuality: overlap_match edges are never
    // inside a cluster, so they must not set its tier flag
    decisions.where(col("decision") === "match")
      .select(col("node_a").as("src"), col("tier"))
      .join(lbl.toDF("src", "component"), "src")
      .groupBy("component")
      .agg(bool_or(col("tier") =!= "jaccard").as("tier2_assisted"))
  }
}

/** MinHash signature over a shingle-hash array: k independent permutations
  * h_i(x) = a_i*x + b_i (mod 2^64, unsigned min). Empty input → NULL, so
  * empty documents never produce candidate pairs.
  */
case class MinHashSig(child: Expression, k: Int, seed: Long)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  // analysis-time type check (wrong-typed input must fail at analysis,
  // not as an executor-side ClassCastException mid-job)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  require(k >= 1)

  @transient private lazy val (as, bs) = Hashing.permutations(k, seed)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // returns NULL for empty shingle sets even when the input is non-null
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m == 0) return null
    val mins = Array.fill(k)(-1L) // unsigned max
    var i = 0
    while (i < m) {
      val x = arr.getLong(i)
      var j = 0
      while (j < k) {
        val h = as(j) * x + bs(j)
        if (java.lang.Long.compareUnsigned(h, mins(j)) < 0) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "min_hash"
}

/** 64-bit SimHash over tokens: per-bit votes weighted by token frequency
  * (each occurrence votes). Empty input → NULL.
  */
case class SimHash64(child: Expression, seed: Long)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  // analysis-time type check (wrong-typed input must fail at analysis,
  // not as an executor-side ClassCastException mid-job)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def dataType: DataType = LongType
  // returns NULL for empty token arrays even when the input is non-null
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m == 0) return null
    val votes = new Array[Int](64)
    var i = 0
    while (i < m) {
      val h = Hashing.hashUtf8(arr.getUTF8String(i), seed)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "sim_hash64"
}
