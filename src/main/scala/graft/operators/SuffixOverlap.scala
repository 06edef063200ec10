package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.config.GraftConfig

/** Long-exact-overlap candidate tier (SURVEY.md §2.3 B10): finds document
  * pairs sharing a long exact substring (≥ `cfg.overlap.minOverlapChars`)
  * even when their overall shingle Jaccard is low — e.g. syndicated articles
  * embedded in different page shells.
  *
  * Two phases, both distributed:
  *
  *  1. **Content-defined fingerprint sampling** (`mapPartitions`, typed —
  *     no RDD): Karp-Rabin rolling hash over W-char windows, keeping windows
  *     whose hash ≡ 0 (mod samplingMod). Sampling is a pure function of the
  *     CONTENT, so a shared substring samples the same windows in both
  *     documents — no alignment assumptions, no false negatives from stride
  *     phase (a ≥256-char shared run with W=64, mod=16 misses with
  *     p ≈ (15/16)^193 < 1e-5). Join on fingerprint → candidate pairs.
  *  2. **Exact verification**: per candidate pair, the true longest common
  *     substring length via a suffix automaton of the shorter text
  *     (O(n+m) per pair), as the [[lcsLength]] Column. The pipeline's
  *     tier-2 ([[Decisions.resolveAmbiguous]]) evaluates the same Column
  *     over the ambiguous band, so one LCS path serves both.
  *
  * Reference seam: this replaces the external AI tier as OUR deterministic
  * second-tier resolver (SURVEY.md §2.5 A3) and supplies the north_rule's
  * suffix-array substring pass.
  */
object SuffixOverlap {

  val WindowChars = 64

  /** Karp-Rabin fingerprints of sampled windows: (fp, node). Pure Column
    * pipeline — [[graft.functions.CdcFingerprints]] + explode — so the pass
    * stays in Tungsten rows (no typed-Dataset round trip).
    */
  def fingerprints(texts: Dataset[(Long, String)], cfg: GraftConfig): DataFrame = {
    import org.apache.spark.sql.functions.explode
    texts.toDF("node", "text")
      .select(col("node"),
        explode(graft.functions.Hashing.cdcFingerprints(col("text"), WindowChars, cfg.overlap.samplingMod)).as("fp"))
      .select(col("fp"), col("node"))
  }

  /** Candidate pairs from shared fingerprints (canonical order, deduped):
    * the fingerprint frame through [[MinHashLsh.keyPairs]], whose shared
    * [[MinHashLsh.splitHotBuckets]] guard drops fingerprints whose bucket
    * exceeds `cfg.lsh.maxBucketSize` — same skew posture as the LSH band
    * join, with no hot-key plan when none is hot.
    */
  def candidates(texts: Dataset[(Long, String)], cfg: GraftConfig): DataFrame = {
    // eager per-invocation checkpoint: the fingerprint frame feeds hot-key
    // detection and BOTH self-join sides — without truncation the
    // Karp-Rabin rolling hash re-runs over every text 3× (guide §2.4,
    // duplicated subtrees). Blocks are context-cleaned once the result is
    // dropped; nothing is cached across invocations.
    val fps = fingerprints(texts, cfg).localCheckpoint(true)
    MinHashLsh.keyPairs(fps.select(col("node"), col("fp").as("key"), lit(0).cast("tinyint").as("tier")),
      cfg.lsh.maxBucketSize, starHot = false)
      .select("node_a", "node_b")
  }

  /** Exact longest-common-substring length via a suffix automaton built on
    * the shorter string. O(|a| + |b|) time/space per pair.
    */
  def longestCommonSubstring(a: String, b: String): Int = {
    // null text (failed extraction) can reach a candidate pair through the
    // node join — it shares no substring with anything, it must not NPE
    if (a == null || b == null || a.isEmpty || b.isEmpty) return 0
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    val sam = new SuffixAutomaton(s)
    sam.longestMatch(t)
  }

  /** [[longestCommonSubstring]] of two string Columns; 0 when either is
    * NULL or empty.
    */
  def lcsLength(a: Column, b: Column): Column = lcsUdf(a, b)

  // Marked nondeterministic only so the optimizer keeps it where it is
  // written: a Filter on a deterministic projected value is pushed below
  // the projection (into verify's join condition), which would run the
  // LCS twice for every row that passes.
  private val lcsUdf =
    udf((a: String, b: String) => longestCommonSubstring(a, b)).asNondeterministic()

  /** Verify candidates: (node_a, node_b, overlap_len). Pairs below
    * cfg.overlap.minOverlapChars are filtered out.
    */
  def verify(
      cands: DataFrame,
      texts: Dataset[(Long, String)],
      cfg: GraftConfig
  ): DataFrame = {
    val tdf = texts.toDF("node", "text")
    cands
      .join(tdf.toDF("node_a", "text_a"), "node_a")
      .join(tdf.toDF("node_b", "text_b"), "node_b")
      .select(col("node_a"), col("node_b"),
        lcsLength(col("text_a"), col("text_b")).as("overlap_len"))
      .where(col("overlap_len") >= cfg.overlap.minOverlapChars)
  }
}

/** Suffix automaton over a string; `longestMatch(t)` returns the length of
  * the longest substring of `t` that occurs in the automaton's string.
  * Standard linear construction (Blumer et al. 1985).
  */
final class SuffixAutomaton(s: String) {
  private val maxNodes = 2 * s.length + 4
  private val len = new Array[Int](maxNodes)
  private val link = new Array[Int](maxNodes)
  private val next = new Array[java.util.HashMap[Character, Integer]](maxNodes)
  private var last = 0
  private var size = 1
  link(0) = -1
  next(0) = new java.util.HashMap[Character, Integer]()

  s.foreach(extend)

  private def extend(ch: Char): Unit = {
    val cur = size
    size += 1
    len(cur) = len(last) + 1
    next(cur) = new java.util.HashMap[Character, Integer]()
    var p = last
    while (p != -1 && !next(p).containsKey(ch)) {
      next(p).put(ch, cur)
      p = link(p)
    }
    if (p == -1) link(cur) = 0
    else {
      val q = next(p).get(ch)
      if (len(p) + 1 == len(q)) link(cur) = q
      else {
        val clone = size
        size += 1
        len(clone) = len(p) + 1
        link(clone) = link(q)
        next(clone) = new java.util.HashMap[Character, Integer](next(q))
        while (p != -1 && next(p).get(ch) == q) {
          next(p).put(ch, clone)
          p = link(p)
        }
        link(q) = clone
        link(cur) = clone
      }
    }
    last = cur
  }

  def longestMatch(t: String): Int = {
    var v = 0
    var l = 0
    var best = 0
    var i = 0
    while (i < t.length) {
      val ch = t.charAt(i)
      while (v != 0 && !next(v).containsKey(ch)) {
        v = link(v)
        l = len(v)
      }
      if (next(v).containsKey(ch)) {
        v = next(v).get(ch)
        l += 1
      }
      if (l > best) best = l
      i += 1
    }
    best
  }
}
