package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.GraftConfig

/** Pairwise decision layer for the webtext pipeline (SURVEY.md §2.4 V6 +
  * §2.5 A1-A4 semantics, re-targeted at Jaccard evidence).
  *
  * The reference decides per-pair from a combined score with high/low
  * thresholds plus a veto (`matching/combiner.py:52-84`), then routes the
  * ambiguous band through a second tier (`ai_matching/resolver.py:51-55`).
  * Ours: exact shingle Jaccard is the combined score; the deterministic
  * second tier resolves ambiguous pairs by (a) byte-identical extracted
  * text → match, (b) long exact overlap → `overlap_match` (kept out of dup
  * clusters by default — syndication is not duplication), else no_match.
  * Every decision carries a `tier` column ('jaccard', 'exact_text',
  * 'overlap'), the reference's tier concept (`matching/pipeline.py:48`).
  */
object Decisions {

  /** Tier-1 decision from exact Jaccard: match ≥ threshold, no_match below
    * the ambiguous band, ambiguous in [ambiguousLow, threshold).
    */
  def tier1(exactJaccard: Column, cfg: GraftConfig): Column = {
    val high = cfg.lsh.jaccardThreshold
    val low = math.min(cfg.lsh.ambiguousLow, high)
    when(exactJaccard >= high, "match")
      .when(exactJaccard >= low, "ambiguous")
      .otherwise("no_match")
  }

  /** Apply tier-1 to verified candidate pairs. Input needs `exact_jaccard`. */
  def decide(verified: DataFrame, cfg: GraftConfig): DataFrame =
    verified
      .withColumn("decision", tier1(col("exact_jaccard"), cfg))
      .withColumn("tier", lit("jaccard"))

  /** Tier-2: resolve the ambiguous band in one pass (A1/A4 seam).
    *
    * Each ambiguous pair becomes `match`/`exact_text` when its two nodes'
    * texts are byte-identical, else `overlap_match`/`overlap` when they
    * share a run of at least `cfg.overlap.minOverlapChars` chars (exact
    * LCS, [[SuffixOverlap.lcsLength]]), else `no_match` with tier
    * `jaccard`. Settled rows pass through untouched.
    *
    * A url ingested twice gives one node several text versions. Exact text
    * compares each node's min text hash, the same rule as the cache's
    * [[canonicalEntries]]; a NULL text (failed extraction) has no hash, so
    * two such nodes never read as identical. Overlap holds if any version
    * pair shares the run. A node with no text row resolves on the other
    * evidence, and a tier-1 row duplicated for one pair stays duplicated.
    *
    * The text is fetched once: [[MinHashLsh.pruneToPairNodes]] streams
    * `extractedByNode` past the band's node set, and that slice, broadcast,
    * is attached to both pair sides. Both verdicts come out of one
    * aggregate per pair, whose shuffle carries hashes and lengths, never
    * text; the verdict is broadcast back onto the band's rows.
    *
    * @param decisions output of [[decide]]
    * @param extractedByNode (node, extracted_text) projection
    */
  def resolveAmbiguous(
      decisions: DataFrame,
      extractedByNode: DataFrame,
      cfg: GraftConfig
  ): DataFrame = {
    val amb = decisions.where(col("decision") === "ambiguous")
    val settled = decisions.where(col("decision") =!= "ambiguous")
    val pairs = amb.select("node_a", "node_b")
    val text = broadcast(MinHashLsh.pruneToPairNodes(extractedByNode, pairs))
    // xxhash64(NULL) is the constant seed: hash non-null text only
    def hash(t: String): Column = when(col(t).isNotNull, xxhash64(col(t)))
    val verdict = pairs
      .join(text.toDF("node_a", "text_a"), Seq("node_a"), "left")
      .join(text.toDF("node_b", "text_b"), Seq("node_b"), "left")
      .select(col("node_a"), col("node_b"), hash("text_a").as("h_a"), hash("text_b").as("h_b"),
        SuffixOverlap.lcsLength(col("text_a"), col("text_b")).as("lcs"))
      .groupBy("node_a", "node_b")
      .agg((min(col("h_a")) === min(col("h_b"))).as("same_text"),
        (max(col("lcs")) >= cfg.overlap.minOverlapChars).as("has_overlap"))
    val resolved = amb
      .join(broadcast(verdict), Seq("node_a", "node_b"), "left")
      .withColumn("decision",
        when(col("same_text"), "match")
          .when(col("has_overlap"), "overlap_match")
          .otherwise("no_match"))
      .withColumn("tier",
        when(col("same_text"), "exact_text")
          .when(col("has_overlap"), "overlap")
          .otherwise(col("tier")))
      .drop("same_text", "has_overlap")
    settled.unionByName(resolved)
  }

  /** Match edges that feed connected components: decision == 'match'
    * (graph_cluster.py:70-76 adds only match edges; weight = score).
    */
  def matchEdges(decisions: DataFrame): DataFrame =
    decisions.where(col("decision") === "match")
      .select(col("node_a").as("src"), col("node_b").as("dst"), col("exact_jaccard").as("weight"))

  /** A2 decision cache (`ai_matching/cache.py:60-141`): reuse previously
    * resolved decisions by content hash; only cache misses flow into
    * `resolve`. Returns (all decisions, new cache entries to append).
    * The cache is the memoization seam that makes expensive tier-2
    * resolution idempotent across runs.
    */
  def resolveWithCache(
      pairs: DataFrame, // must carry content_hash
      cache: DataFrame // (content_hash, decision, tier)
  )(resolve: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    // ONE row per content hash on the join side — duplicate cache entries
    // (same content folded twice) would multiply every hit's pair rows.
    // min(struct) keeps the reduce deterministic even on a conflicting
    // cache (which same-content hashing should never produce).
    val cached = canonicalEntries(cache)
      .withColumnRenamed("decision", "cached_decision")
      .withColumnRenamed("tier", "cached_tier")
    val joined = pairs.join(cached, Seq("content_hash"), "left")
    val hits = joined.where(col("cached_decision").isNotNull)
      .withColumn("decision", col("cached_decision"))
      .withColumn("tier", col("cached_tier"))
      .drop("cached_decision", "cached_tier")
    val misses = joined.where(col("cached_decision").isNull)
      .drop("cached_decision", "cached_tier")
    // lazy localCheckpoint pins ONE evaluation of the resolver: the subtree
    // below feeds three consumers (the canonical reduce, the rewrite join's
    // probe side, and the caller's newEntries action) — without the pin an
    // expensive tier-2 resolve would run once per consumer, and a
    // non-deterministic resolver (the AI seam this cache memoizes) could
    // even persist entries that differ from the decisions already returned.
    // Blocks are released by the ContextCleaner once the returned frames
    // are unreferenced; decisions frames are ambiguous-band-sized, not
    // corpus-sized. Deliberate tradeoff: the pin makes these frames
    // NON-recomputable — losing a checkpoint block (executor
    // decommission/preemption between the caller's actions) fails the job
    // hard instead of silently re-running the resolver, because a silent
    // recompute of a non-deterministic resolver could return decisions that
    // disagree with cache entries already persisted. Callers needing
    // durability across executor loss should persist the decisions frame
    // through the Checkpoints seam between actions.
    val resolved = resolve(misses).localCheckpoint(false)
    // NULL content hashes bypass the cache on BOTH sides: a null key never
    // equi-joins (always a miss above), and persisting a null-hash entry
    // would canonically merge UNRELATED contents that happen to lack a
    // hash. Such rows keep their own resolver verdict verbatim.
    val resolvedNull = resolved.where(col("content_hash").isNull)
    val resolvedHashed = resolved.where(col("content_hash").isNotNull)
    // two pairs sharing a hash → one entry, reduced with the SAME
    // min(struct) rule as the read side: dropDuplicates would keep an
    // arbitrary survivor, so a hash whose pairs resolved differently would
    // persist a run-dependent cache entry — and poison every later run
    val newEntries = canonicalEntries(resolvedHashed)
    // the RETURNED decisions must agree with the PERSISTED entries, or the
    // first run's output would disagree with every later cache-hit run on
    // a hash whose pairs resolved differently: rewrite each resolved row's
    // decision/tier from its canonical entry before the union
    val resolvedCanon = resolvedHashed.drop("decision", "tier")
      .join(newEntries, Seq("content_hash"), "left")
    (hits.unionByName(resolvedCanon).unionByName(resolvedNull), newEntries)
  }

  /** One deterministic (content_hash, decision, tier) row per hash — the
    * single canonicalization rule shared by the cache's read AND write
    * sides (they must stay identical for cache-hit runs to reproduce
    * first-run output).
    */
  private def canonicalEntries(entries: DataFrame): DataFrame =
    entries.select(col("content_hash"), struct(col("decision"), col("tier")).as("__e"))
      .groupBy("content_hash").agg(min(col("__e")).as("__e"))
      .select(col("content_hash"),
        col("__e.decision").as("decision"), col("__e.tier").as("tier"))
}
