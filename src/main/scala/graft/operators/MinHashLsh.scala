package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.GraftConfig
import graft.functions.Hashing
import graft.functions.SortedIntersectSize.sortedIntersectSize

/** MinHash + LSH banding candidate generation and exact-Jaccard verification
  * (SURVEY.md §2.3 B7/B8, §2.4). The reference's analog is blocking-key
  * candidate generation + within-block pair enumeration
  * (`/root/reference/src/event_dedup/matching/candidate_pairs.py:31-64`):
  * explode keys → self-join on key with canonical ordering → dedup across
  * blocks. Ours swaps date/geo keys for MinHash band keys and verifies with
  * exact shingle Jaccard (the reference's scorer role, `matching/pipeline.py:123-153`).
  *
  * Scale posture:
  *  - the band self-join is THE skew-sensitive shuffle; over-dense buckets
  *    (boilerplate pages, hot hosts) are capped at `cfg.lsh.maxBucketSize`
  *    by [[splitHotBuckets]], the one guard every bucket join shares —
  *    pair blowup is quadratic in bucket size, so one 10^6 bucket would
  *    otherwise emit 10^12 pairs. The hot set is one lazy (key, min_node)
  *    aggregate ([[hotBuckets]]); only pass-1 survivor keys reach the driver;
  *  - AQE skew-join handles residual imbalance below the cap;
  *  - pair canonical ordering `node_a < node_b` halves the join output and
  *    one aggregate dedups across bands (candidate_pairs.py:59-64 semantics);
  *    every candidate join runs through [[keyPairs]].
  */
object MinHashLsh {

  /** The CC node id of a page: the 64-bit xxhash of its url. At 10^12 docs
    * 64-bit birthday collisions appear (~3%); production would widen to a
    * 128-bit id, the pipeline only needs ids orderable + hashable.
    */
  def nodeId(url: Column): Column = xxhash64(url)

  /** Per-doc signature stage: tokens → distinct shingle hashes → MinHash
    * signature + SimHash. One narrow projection, no shuffle.
    *
    * Input: (url, extracted_text, …); output adds
    * (node, n_tokens, shingles, simhash, band_keys). The 128-long MinHash
    * never leaves this projection: its only consumers are the LSH band keys
    * ([[graft.functions.BandKeys]], 16 longs), so that is what a signature
    * row carries. `node` is [[nodeId]] of the url.
    */
  def signatures(extracted: DataFrame, cfg: GraftConfig): DataFrame = {
    // One fused byte-walk per document ([[graft.functions.DocSignature]])
    // instead of split×3 + four interpreted trees; exposed through
    // `inline(array(...))` so the struct is evaluated exactly ONCE per row
    // (four GetStructField projections would re-run the sketch 4×: projection
    // collapse inlines struct fields, and common-subexpression elimination
    // does not reach into CodegenFallback subtrees).
    val sig = Hashing.docSignature(col("extracted_text"),
      cfg.lsh.shingleSize, cfg.lsh.numHashes, cfg.lsh.seed, cfg.simhash.seed)
    extracted
      .withColumn("node", nodeId(col("url")))
      .select(col("*"), inline(array(sig)))
      .withColumn("band_keys", Hashing.bandKeys(col("minhash"), cfg.lsh.bands, cfg.lsh.rowsPerBand))
      .drop("minhash")
  }

  /** The buckets of `rows` with more than `cap` members, as a lazy plan of
    * (keyCol, min_node); `None` when pass 1 finds no survivor.
    *
    * Pass 1 (shuffle-free, the only job run while the plan is built): count
    * keys per partition and keep only keys that clear the pigeonhole bound
    * — a key with total count > cap spread over m partitions must reach a
    * local count ≥ ceil((cap+1)/m) in at least one partition, so the
    * survivors are a superset of the hot set (on non-pathological corpora,
    * empty). Per-task state is one (key → count) map.
    *
    * Pass 2 is the returned plan: count and min(node) per key, kept when
    * `count > cap`, over the survivor keys' rows (a broadcast semi-join) —
    * its output is |survivors|, not |distinct keys|. When m > cap the bound
    * falls to 1 and pass 1 would return every key, so it is skipped: the
    * aggregate reads all rows and building the plan runs no job.
    */
  private[operators] def hotBuckets(rows: DataFrame, keyCol: String, cap: Int): Option[DataFrame] = {
    val keys = rows.select(col(keyCol))
    require(keys.schema.head.dataType == org.apache.spark.sql.types.LongType,
      s"hot-key detection expects a LongType key, got ${keys.schema.head.dataType}")
    val rdd = keys.queryExecution.toRdd // InternalRow: no Row conversion
    val m = math.max(1, rdd.getNumPartitions)
    val thr = (cap.toLong + m) / m // ceil((cap+1)/m)
    val counted = if (thr < 2) Some(rows) else {
      val survivors = rdd.mapPartitions { it =>
        val counts = new java.util.HashMap[Long, Long]()
        while (it.hasNext) {
          val k = it.next().getLong(0)
          counts.put(k, counts.getOrDefault(k, 0L) + 1L)
        }
        import scala.jdk.CollectionConverters._
        counts.entrySet().iterator().asScala
          .filter(_.getValue >= thr).map(_.getKey.longValue())
      }.collect().distinct
      val spark = rows.sparkSession
      import spark.implicits._
      Option.when(survivors.nonEmpty)(
        rows.join(broadcast(survivors.toSeq.toDF(keyCol)), Seq(keyCol), "left_semi"))
    }
    counted.map(_.groupBy(keyCol).agg(count(lit(1)).as("n"), min(col("node")).as("min_node"))
      .where(col("n") > cap).select(col(keyCol), col("min_node")))
  }

  /** The hot-bucket guard shared by every bucket join: split `rows` (which
    * carry a `node`) into (cold, hot) by the size of their `keyCol` bucket.
    * `hot` is `None` when [[hotBuckets]] plans nothing. [[fusedCandidates]]
    * stars hot rows, the other bucket joins drop them.
    *
    * ONE broadcast left join tags every row with its bucket's `min_node`
    * (null when cold); cold is the null rows, `hot` the tagged frame, so
    * the aggregate shuffles once and is broadcast once. Select hot rows by
    * a predicate that also reads a `rows` column (the star's `node >
    * coalesce(min_node, …)`): one rejecting a null `min_node` alone lets
    * EliminateOuterJoin plan an inner join with its own broadcast.
    * `cap == Int.MaxValue` skips detection (exhaustive semantics); `cap < 1`
    * would mark every non-empty bucket hot, so it's rejected.
    *
    * NOTE: the Seq-key join moves keyCol first in the output — callers
    * must select columns by NAME afterwards, never by position.
    */
  private[operators] def splitHotBuckets(rows: DataFrame, keyCol: String,
      cap: Int): (DataFrame, Option[DataFrame]) =
    if (cap == Int.MaxValue) (rows, None)
    else {
      require(cap >= 1, s"maxBucketSize must be >= 1, got $cap")
      hotBuckets(rows, keyCol, cap).fold((rows, Option.empty[DataFrame])) { hot =>
        val tagged = rows.join(broadcast(hot), Seq(keyCol), "left_outer")
        (tagged.where(col("min_node").isNull).drop("min_node"), Some(tagged))
      }
    }

  /** Within-bucket self-join: every pair of rows sharing `keyCol`, once, in
    * canonical order `a.node < b.node`. Sides are aliased `a` and `b`;
    * callers filter and project through those aliases.
    */
  private[operators] def bucketSelfJoin(rows: DataFrame, keyCol: String): DataFrame =
    rows.alias("a").join(rows.alias("b"),
      col(s"a.$keyCol") === col(s"b.$keyCol") && col("a.node") < col("b.node"))

  /** The one pair-generation path of every candidate join
    * (candidate_pairs.py:31-64): `keys` rows (node, key, tier[, simhash])
    * → pairs of one key and one tier, `a.node < b.node`, that pass `keep`
    * (read through the `a`/`b` aliases) → one row (node_a, node_b, t) per
    * pair, `t` its least tier. Buckets over `cap` ([[splitHotBuckets]])
    * are dropped, or with `starHot` each member pairs with the bucket
    * minimum at tier 2 (O(m) pairs). Tiers travel as one byte (0 lsh <
    * 1 simhash < 2 star) until the caller's projection: the key frame is
    * the widest shuffle of the pipeline. It is not cached: re-deriving the
    * explode from the persisted signatures reads fewer memory bytes than
    * caching the ~800 B/doc exploded form (BENCH.md).
    */
  private[operators] def keyPairs(keys: DataFrame, cap: Int, starHot: Boolean,
      keep: Column = lit(true)): DataFrame = {
    val (cold, hot) = splitHotBuckets(keys, "key", cap)
    val pairs = bucketSelfJoin(cold, "key")
      .where(col("a.tier") === col("b.tier") && keep) // one tier's key space
      .select(col("a.node").as("node_a"), col("b.node").as("node_b"), col("a.tier").as("cand_tier"))
    val withStar = hot.filter(_ => starHot).fold(pairs) { h =>
      // cold rows carry a null min_node and fail the coalesce bound
      pairs.unionByName(h
        .where(col("node") > coalesce(col("min_node"), lit(Long.MaxValue)))
        .select(col("min_node").as("node_a"), col("node").as("node_b"),
          lit(2).cast("tinyint").as("cand_tier")))
    }
    withStar.groupBy("node_a", "node_b").agg(min(col("cand_tier")).as("t"))
  }

  /** (node, simhash, key, tier 0) per band key, already salted with its band. */
  private def bandKeyFrame(sigs: DataFrame): DataFrame =
    sigs.where(col("band_keys").isNotNull)
      .select(col("node"), col("simhash"), explode(col("band_keys")).as("key"))
      .withColumn("tier", lit(0).cast("tinyint"))

  /** (node, simhash, key, tier 1) per SimHash pigeonhole block of d + 1,
    * salted into a key space disjoint from the band keys.
    */
  private def blockKeyFrame(sigs: DataFrame, d: Int): DataFrame =
    sigs.where(col("simhash").isNotNull)
      .select(col("node"), col("simhash"),
        explode(Hashing.simHashBlocks(col("simhash"), d + 1)).as("raw_key"))
      .select(col("node"), col("simhash"), xxhash64(col("raw_key"), lit("simblock")).as("key"))
      .withColumn("tier", lit(1).cast("tinyint"))

  private def withinHamming(d: Int): Column =
    bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= d

  /** LSH candidate pairs: (node_a, node_b) with node_a < node_b, deduped
    * across bands, hot buckets dropped.
    */
  def lshCandidates(sigs: DataFrame, cfg: GraftConfig): DataFrame =
    keyPairs(bandKeyFrame(sigs), cfg.lsh.maxBucketSize, starHot = false)
      .select("node_a", "node_b")

  /** SimHash Hamming-ball candidates (SURVEY.md §2.3 B9): join on pigeonhole
    * block keys, keep pairs with Hamming distance ≤ d (any such pair shares
    * at least one of the d + 1 blocks), hot buckets dropped. A second
    * recall path for near-dups whose shingle sets drifted below LSH
    * sensitivity but whose token distributions stayed close.
    */
  def simHashCandidates(sigs: DataFrame, cfg: GraftConfig): DataFrame = {
    val d = cfg.simhash.maxHammingDistance
    keyPairs(blockKeyFrame(sigs, d), cfg.lsh.maxBucketSize, starHot = false, withinHamming(d))
      .select("node_a", "node_b")
  }

  /** Fused candidate generation: MinHash band keys AND SimHash block keys in
    * ONE key frame → one hot-key pass → one self-join → one dedup.
    * Without a hot bucket, the output is union(lshCandidates,
    * simHashCandidates) with tier = lexical min ('lsh' < 'simhash'), at
    * roughly half the shuffles — on a real cluster the band self-join is the
    * dominant shuffle, so halving its count matters more than any per-row
    * cost.
    *
    * **Mega-bucket handling** (skew, north_rule): a bucket of m members
    * emits m(m-1)/2 pairs — one 10^6-member boilerplate bucket would emit
    * 5·10^11 pairs and kill the job. Buckets above `cfg.lsh.maxBucketSize`
    * switch to STAR candidates: every member pairs with the bucket minimum
    * (O(m) pairs). For the dominant mega-bucket cause — identical/near-
    * identical boilerplate — verification accepts the star edges and
    * connected components restores the full cluster transitively; genuinely
    * heterogeneous mega-buckets degrade recall gracefully instead of
    * exploding. Star pairs carry `cand_tier = star`.
    */
  def fusedCandidates(sigs: DataFrame, cfg: GraftConfig): DataFrame = {
    val d = cfg.simhash.maxHammingDistance
    keyPairs(bandKeyFrame(sigs).unionByName(blockKeyFrame(sigs, d)), cfg.lsh.maxBucketSize,
      starHot = true, col("a.tier") === 0 || withinHamming(d))
      .select(col("node_a"), col("node_b"),
        when(col("t") === 0, "lsh").when(col("t") === 1, "simhash")
          .otherwise("star").as("cand_tier"))
  }

  /** Exact shingle-set Jaccard. Inputs must be ascending, distinct shingle
    * arrays — what [[signatures]] emits ([[graft.functions.DocSignature]]
    * sorts each document's set once) — so |A∩B| is one merge walk
    * ([[graft.functions.SortedIntersectSize]], no hash set per pair) and
    * |A∪B| = |A|+|B|-|A∩B| needs no union array.
    */
  def exactJaccard(shA: Column, shB: Column): Column = {
    val inter = sortedIntersectSize(shA, shB).cast("double")
    val uni = (size(shA) + size(shB)).cast("double") - inter
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  /** Broadcast semi-join reduction shared by every verify consumer: prune a
    * corpus-wide per-node `frame` to rows whose `node` appears in `pairs`
    * (node_a/node_b) — only pair members can contribute to a pair join, so
    * the frame's payload (shingle arrays, full text) must never cross the
    * verify shuffle for non-candidate nodes.
    *
    * The broadcast collect scales with 2×|pairs| (node ids, ~16 B/row —
    * duplicates per node included; the HashedRelation dedups only as it
    * BUILDS, after the collect), NOT with doc count: hot-bucket caps keep
    * per-doc pair degree O(1), so at 10^8 docs with degree ~1-2 this is
    * hundreds of MB — near the practical broadcast ceiling. Beyond it,
    * swap the hint for a shuffled or bloom semi-join — ONE place now.
    * No `.distinct()` on the pair nodes: a pre-dedup is a full shuffle +
    * stage barrier that costs more than the duplicate ids it removes
    * until exactly the scale where the whole broadcast should be swapped.
    */
  def pruneToPairNodes(frame: DataFrame, pairs: DataFrame): DataFrame = {
    val nodes = pairs.select(col("node_a").as("node"))
      .unionByName(pairs.select(col("node_b").as("node")))
    frame.join(broadcast(nodes), Seq("node"), "left_semi")
  }

  /** Verify candidate pairs: join back to signatures (B4's pair→event lookup,
    * `matching/pipeline.py:117-125`) and score exact shingle Jaccard.
    *
    * Input: candidates (node_a, node_b [, tier]); output adds
    * (url_a, url_b, exact_jaccard).
    */
  def verify(candidates: DataFrame, sigs: DataFrame): DataFrame = {
    val side = sigs.select(col("node"), col("url"), col("shingles"))
    val a = side.toDF("node_a", "url_a", "sh_a")
    val b = side.toDF("node_b", "url_b", "sh_b")
    candidates
      .join(a, "node_a")
      .join(b, "node_b")
      .withColumn("exact_jaccard", exactJaccard(col("sh_a"), col("sh_b")))
      .drop("sh_a", "sh_b")
  }
}
