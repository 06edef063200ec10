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

  /** Tier-2: resolve ambiguous pairs deterministically (A1/A4 seam).
    *
    * @param decisions output of [[decide]]
    * @param extractedByNode (node, extracted_text) projection
    * @param overlaps verified overlap pairs (node_a, node_b, overlap_len)
    *   among the ambiguous pairs only — this side is broadcast
    */
  def resolveAmbiguous(
      decisions: DataFrame,
      extractedByNode: DataFrame,
      overlaps: DataFrame,
      cfg: GraftConfig
  ): DataFrame = {
    val amb = decisions.where(col("decision") === "ambiguous")
    val settled = decisions.where(col("decision") =!= "ambiguous")
    // hash only non-null text: xxhash64(NULL) returns the (constant) seed,
    // so two extraction-failed docs would otherwise compare h_a === h_b and
    // false-match as exact_text. With a null hash the equality is NULL and
    // the pair falls through to the overlap check / no_match.
    // ONE row per node: a dirty ingest with duplicate urls (same node id,
    // differing text versions) would otherwise fan each ambiguous pair
    // into one row per version — with potentially CONTRADICTORY decisions
    // for one pair. min() is the deterministic representative (the same
    // rule as canonicalEntries; min skips nulls, so a node with any real
    // text version never reads as extraction-failed).
    //
    // Semi-join prune FIRST (r6): the pair joins below are LEFT OUTER, so
    // the planner can only build the `t` side — it cannot broadcast the
    // (small) pair side the way the inner LCS joins do — and an unpruned
    // `t` therefore hashes and shuffles the FULL corpus per run even though
    // only ambiguous-pair nodes can ever be probed. The broadcast node-set
    // prune scales with the ambiguous band (broadcastable by construction —
    // the same bound the band's own broadcast relies on), and behind it
    // both the xxhash64 over the text bytes and the dedup aggregation run
    // on the pruned slice only. Results are identical: left-join probes
    // outside the pruned set produced NULL h_a/h_b before via no match row.
    val t = MinHashLsh.pruneToPairNodes(extractedByNode, amb.select("node_a", "node_b"))
      .select(col("node"),
        when(col("extracted_text").isNotNull, xxhash64(col("extracted_text"))).as("text_h"))
      .groupBy("node").agg(min(col("text_h")).as("text_h"))
    // left joins: a pair whose node is missing from the text projection
    // must resolve (to no_match absent other evidence), never silently
    // vanish from the decision frame
    val resolved = amb
      .join(t.toDF("node_a", "h_a"), Seq("node_a"), "left")
      .join(t.toDF("node_b", "h_b"), Seq("node_b"), "left")
      // dropDuplicates: SuffixOverlap.verify multiplies rows per duplicate
      // text version too — the flag is pair-level, so one row per pair.
      // broadcast: the overlaps are a subset of the ambiguous band
      // (broadcastable by construction), but the planner's size estimate
      // of the verify branch is a join product far over the threshold, so
      // unhinted this join starts as a sort-merge join and AQE may shuffle
      // the stream side before it switches to a broadcast
      .join(broadcast(overlaps.select(col("node_a"), col("node_b"), lit(true).as("has_overlap"))
          .dropDuplicates("node_a", "node_b")),
        Seq("node_a", "node_b"), "left")
      .withColumn("decision",
        when(col("h_a") === col("h_b"), "match")
          .when(col("has_overlap"), "overlap_match")
          .otherwise("no_match"))
      .withColumn("tier",
        when(col("h_a") === col("h_b"), "exact_text")
          .when(col("has_overlap"), "overlap")
          .otherwise(col("tier")))
      .drop("h_a", "h_b", "has_overlap")
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
