package graft.config

/** Configuration tree for the dedup engine.
  *
  * Mirrors the reference's pydantic config tree
  * (`/root/reference/src/event_dedup/matching/config.py:16-146` and
  * `config/matching.yaml:1-96`) as immutable case classes. Values are the
  * reference defaults; everything is a plain value so the whole tree is
  * serializable and can be broadcast to executors.
  */
final case class ScoringWeights(
    date: Double = 0.30,
    geo: Double = 0.25,
    title: Double = 0.30,
    description: Double = 0.15
)

final case class ThresholdConfig(
    high: Double = 0.75,
    low: Double = 0.35,
    titleVeto: Double = 0.45
)

final case class GeoConfig(
    maxDistanceKm: Double = 10.0,
    minConfidence: Double = 0.85,
    neutralScore: Double = 0.5,
    venueMatchDistanceKm: Double = 1.0,
    venueMismatchFactor: Double = 0.5
)

final case class DateConfig(
    timeToleranceMinutes: Int = 30,
    timeCloseMinutes: Int = 90,
    closeFactor: Double = 0.1,
    farFactor: Double = 0.0,
    timeGapPenaltyHours: Double = 2.0,
    timeGapPenaltyFactor: Double = 0.0
)

final case class TitleConfig(
    primaryWeight: Double = 0.7,
    secondaryWeight: Double = 0.3,
    blendLower: Double = 0.40,
    blendUpper: Double = 0.80
)

final case class ClusterConfig(
    maxClusterSize: Int = 15,
    minInternalSimilarity: Double = 0.40,
    /** coherence check (c): max distinct dates a coherent cluster may span
      * (`clustering/coherence.py:58-63`, hardcoded 3 in the reference);
      * applied only when per-node dates are supplied — same optionality as
      * the reference's `events_by_id` parameter. */
    maxDistinctDates: Int = 3,
    /** Opt-in gate for the pipeline's webtext ANALOG of check (c), which
      * reads crawl (warc_ts) days instead of event dates: recrawls of the
      * same page across many days are normal web-dedup behavior, so large
      * legitimate clusters would be flagged if this were always-on. The
      * reference's check is itself optional (events_by_id may be absent). */
    warcDateCriterion: Boolean = false,
    /** cap on the materialized member-url list per canonical row: one
      * boilerplate mega-cluster must not put a 10^6-element array into a
      * single aggregation buffer — the labels table IS the full membership
      * link (SURVEY.md §1.1); the list is a bounded preview. */
    maxMemberList: Int = 1000
)

/** MinHash / LSH parameters (ours; reference analog is the blocking-key
  * mechanism `preprocessing/blocking.py:69-121`). numHashes = bands * rowsPerBand.
  */
final case class LshConfig(
    shingleSize: Int = 3, // word n-gram width
    numHashes: Int = 128,
    bands: Int = 16,
    rowsPerBand: Int = 8,
    seed: Long = 42L,
    /** exact-Jaccard verification threshold for a "match" edge */
    jaccardThreshold: Double = 0.8,
    /** lower bound of the ambiguous band routed to tier-2 (reference analog:
      * `matching/config.py:119-120` resolver bounds); pairs below are
      * no_match outright. Clamped to jaccardThreshold if set above it. */
    ambiguousLow: Double = 0.5,
    /** candidate band buckets larger than this are salted/capped; tracked in metrics */
    maxBucketSize: Int = 2000
)

/** SimHash tier parameters. */
final case class SimHashConfig(
    maxHammingDistance: Int = 3,
    seed: Long = 42L
)

/** Long-exact-overlap (suffix/substring) tier parameters. */
final case class OverlapConfig(
    minOverlapChars: Int = 256,
    /** content-defined sampling modulus: expected grams kept = len/samplingMod */
    samplingMod: Int = 16
)

final case class GraftConfig(
    scoring: ScoringWeights = ScoringWeights(),
    thresholds: ThresholdConfig = ThresholdConfig(),
    geo: GeoConfig = GeoConfig(),
    date: DateConfig = DateConfig(),
    title: TitleConfig = TitleConfig(),
    crossSourceTitle: TitleConfig =
      TitleConfig(primaryWeight = 0.4, secondaryWeight = 0.6, blendLower = 0.25, blendUpper = 0.95),
    cluster: ClusterConfig = ClusterConfig(),
    lsh: LshConfig = LshConfig(),
    simhash: SimHashConfig = SimHashConfig(),
    overlap: OverlapConfig = OverlapConfig()
) {

  // In the class body so EVERY construction path is covered (default, copy,
  // fromMap): BandKeys requires bands × rows_per_band ≤ num_hashes on every
  // row — a directly-constructed config breaking the invariant would
  // otherwise fail all tasks mid-job instead of at build time.
  require(lsh.bands * lsh.rowsPerBand <= lsh.numHashes,
    s"lsh.bands (${lsh.bands}) × lsh.rows_per_band (${lsh.rowsPerBand}) " +
      s"must be ≤ lsh.num_hashes (${lsh.numHashes})")
  // a cap below 1 would mark every non-empty bucket hot: all candidates
  // would silently degrade to star pairs or be dropped
  require(lsh.maxBucketSize >= 1,
    s"lsh.max_bucket_size must be ≥ 1, got ${lsh.maxBucketSize}")
  // an overlap bar below 1 is met by any pair, even one with no text:
  // tier 2 would resolve every ambiguous pair to overlap_match
  require(overlap.minOverlapChars >= 1,
    s"overlap.min_overlap_chars must be ≥ 1, got ${overlap.minOverlapChars}")
  // the member preview keeps the k smallest urls; k below 1 would fail
  // only at the clusters stage, after every upstream stage has run
  require(cluster.maxMemberList >= 1,
    s"cluster.max_member_list must be ≥ 1, got ${cluster.maxMemberList}")

  /** Stable hash of the config, used to key stage checkpoints (reference
    * analog: content-hash cache keys, `ai_matching/cache.py:21-57`).
    */
  def configHash: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(this.toString.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }
}

object GraftConfig {
  val default: GraftConfig = GraftConfig()

  /** Partial-override loading (reference pattern: YAML file + DB override,
    * `matching/config.py:165-199` — only keys present override defaults).
    * Key space: dotted paths like `lsh.bands`, `thresholds.high`.
    */
  /** Every dotted override path [[fromMap]] understands. Public so callers
    * can pre-validate; fromMap rejects anything outside it.
    */
  val KnownKeys: Set[String] = Set(
    "scoring.date", "scoring.geo", "scoring.title", "scoring.description",
    "thresholds.high", "thresholds.low", "thresholds.title_veto",
    "geo.max_distance_km", "geo.min_confidence", "geo.neutral_score",
    "geo.venue_match_distance_km", "geo.venue_mismatch_factor",
    "date.time_tolerance_minutes", "date.time_close_minutes",
    "date.close_factor", "date.far_factor",
    "date.time_gap_penalty_hours", "date.time_gap_penalty_factor",
    "title.primary_weight", "title.secondary_weight",
    "title.blend_lower", "title.blend_upper",
    "cross_source_title.primary_weight", "cross_source_title.secondary_weight",
    "cross_source_title.blend_lower", "cross_source_title.blend_upper",
    "cluster.max_cluster_size", "cluster.min_internal_similarity",
    "cluster.max_distinct_dates", "cluster.warc_date_criterion",
    "cluster.max_member_list",
    "lsh.shingle_size", "lsh.num_hashes", "lsh.bands", "lsh.rows_per_band",
    "lsh.seed", "lsh.jaccard_threshold", "lsh.ambiguous_low",
    "lsh.max_bucket_size",
    "simhash.max_hamming_distance", "simhash.seed",
    "overlap.min_overlap_chars", "overlap.sampling_mod")

  def fromMap(overrides: Map[String, String], base: GraftConfig = default): GraftConfig = {
    // Reject unknown keys: a typo'd key ('lsh.bandz') would otherwise run
    // the WHOLE job on defaults and — worse — checkpoint under the
    // default configHash, silently reusing stale stage tables. Same
    // fail-fast posture as RunDedup's missing-props-file guard.
    val unknown = overrides.keySet -- KnownKeys
    require(unknown.isEmpty,
      s"unknown config override key(s): ${unknown.toSeq.sorted.mkString(", ")} " +
        s"(known keys: ${KnownKeys.toSeq.sorted.mkString(", ")})")
    def d(k: String, v: Double): Double = overrides.get(k).map(_.toDouble).getOrElse(v)
    def i(k: String, v: Int): Int = overrides.get(k).map(_.toInt).getOrElse(v)
    def l(k: String, v: Long): Long = overrides.get(k).map(_.toLong).getOrElse(v)
    def titleSection(prefix: String, t: TitleConfig): TitleConfig = t.copy(
      primaryWeight = d(s"$prefix.primary_weight", t.primaryWeight),
      secondaryWeight = d(s"$prefix.secondary_weight", t.secondaryWeight),
      blendLower = d(s"$prefix.blend_lower", t.blendLower),
      blendUpper = d(s"$prefix.blend_upper", t.blendUpper))
    val cfg = base.copy(
      title = titleSection("title", base.title),
      crossSourceTitle = titleSection("cross_source_title", base.crossSourceTitle),
      scoring = base.scoring.copy(
        date = d("scoring.date", base.scoring.date),
        geo = d("scoring.geo", base.scoring.geo),
        title = d("scoring.title", base.scoring.title),
        description = d("scoring.description", base.scoring.description)),
      thresholds = base.thresholds.copy(
        high = d("thresholds.high", base.thresholds.high),
        low = d("thresholds.low", base.thresholds.low),
        titleVeto = d("thresholds.title_veto", base.thresholds.titleVeto)),
      geo = base.geo.copy(
        maxDistanceKm = d("geo.max_distance_km", base.geo.maxDistanceKm),
        minConfidence = d("geo.min_confidence", base.geo.minConfidence),
        neutralScore = d("geo.neutral_score", base.geo.neutralScore),
        venueMatchDistanceKm = d("geo.venue_match_distance_km", base.geo.venueMatchDistanceKm),
        venueMismatchFactor = d("geo.venue_mismatch_factor", base.geo.venueMismatchFactor)),
      date = base.date.copy(
        timeToleranceMinutes = i("date.time_tolerance_minutes", base.date.timeToleranceMinutes),
        timeCloseMinutes = i("date.time_close_minutes", base.date.timeCloseMinutes),
        closeFactor = d("date.close_factor", base.date.closeFactor),
        farFactor = d("date.far_factor", base.date.farFactor),
        timeGapPenaltyHours = d("date.time_gap_penalty_hours", base.date.timeGapPenaltyHours),
        timeGapPenaltyFactor = d("date.time_gap_penalty_factor", base.date.timeGapPenaltyFactor)),
      cluster = base.cluster.copy(
        maxClusterSize = i("cluster.max_cluster_size", base.cluster.maxClusterSize),
        minInternalSimilarity = d("cluster.min_internal_similarity", base.cluster.minInternalSimilarity),
        maxDistinctDates = i("cluster.max_distinct_dates", base.cluster.maxDistinctDates),
        warcDateCriterion = overrides.get("cluster.warc_date_criterion")
          .map(_.toBoolean).getOrElse(base.cluster.warcDateCriterion),
        maxMemberList = i("cluster.max_member_list", base.cluster.maxMemberList)),
      lsh = base.lsh.copy(
        shingleSize = i("lsh.shingle_size", base.lsh.shingleSize),
        numHashes = i("lsh.num_hashes", base.lsh.numHashes),
        bands = i("lsh.bands", base.lsh.bands),
        rowsPerBand = i("lsh.rows_per_band", base.lsh.rowsPerBand),
        seed = l("lsh.seed", base.lsh.seed),
        jaccardThreshold = d("lsh.jaccard_threshold", base.lsh.jaccardThreshold),
        ambiguousLow = d("lsh.ambiguous_low", base.lsh.ambiguousLow),
        maxBucketSize = i("lsh.max_bucket_size", base.lsh.maxBucketSize)),
      simhash = base.simhash.copy(
        maxHammingDistance = i("simhash.max_hamming_distance", base.simhash.maxHammingDistance),
        seed = l("simhash.seed", base.simhash.seed)),
      overlap = base.overlap.copy(
        minOverlapChars = i("overlap.min_overlap_chars", base.overlap.minOverlapChars),
        samplingMod = i("overlap.sampling_mod", base.overlap.samplingMod)))
    // the bands × rows_per_band ≤ num_hashes invariant is enforced in the
    // GraftConfig class body, covering this and every other construction path
    cfg
  }

  /** Load overrides from a java.util.Properties file (the sandbox-portable
    * stand-in for the reference's YAML; same partial-override semantics).
    */
  def fromPropertiesFile(path: String, base: GraftConfig = default): GraftConfig = {
    val p = new java.util.Properties()
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    fromMap(p.asScala.toMap, base)
  }

  /** Table-backed override layer — the reference's runtime config reload
    * (`/root/reference/src/event_dedup/matching/config.py:165-199` reads the
    * config from a DB row on EVERY run, YAML as fallback; the API PUTs new
    * values into that row, `api/routes/config.py`). Our analog: a key-value
    * parquet table `(key, value)` of dotted override paths. Missing/empty
    * table → base unchanged (the reference's fallback branch).
    */
  def fromTable(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      base: GraftConfig = default): GraftConfig = {
    import org.apache.spark.sql.functions.{col, lit}
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) base
    else {
      // The reference's DB config is one unique row; this parquet table has
      // no uniqueness guarantee, so resolve deterministically instead of
      // by arbitrary row order (and never NPE on a null cell): null
      // keys/values are dropped; duplicate keys resolve by the highest
      // `version` column when present; without a version column, exact
      // duplicates are tolerated but CONFLICTING values for one key fail
      // fast — silently picking either would make two runs of the same
      // pipeline diverge on config.
      val df = spark.read.parquet(tablePath)
      // a NULL or non-numeric version cell resolves as version 0 (lowest
      // precedence) instead of NPEing in getLong below — try_cast, not
      // cast: under ANSI mode (Spark 4 default) a plain cast THROWS on a
      // non-numeric string cell, failing every run that loads the table
      val withV =
        if (df.columns.contains("version"))
          df.select(col("key"), col("value"),
            org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.expr("try_cast(version AS BIGINT)"),
              lit(0L)).as("v"))
        else df.select(col("key"), col("value"), lit(0L).as("v"))
      val rows = withV
        // cast, don't assume: a table written naturally as (key string,
        // value double) would make getString throw ClassCastException —
        // same defensive posture as the version try_cast above
        .select(col("key").cast("string").as("key"),
          col("value").cast("string").as("value"), col("v"))
        .where(col("key").isNotNull && col("value").isNotNull)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val kv = rows.groupBy(_._1).map { case (k, group) =>
        val vals = group.map(g => (g._3, g._2)).distinct
        if (!df.columns.contains("version") && vals.map(_._2).distinct.length > 1)
          throw new IllegalArgumentException(
            s"config table $tablePath holds conflicting values for key '$k' " +
              s"and no version column to resolve them: ${vals.map(_._2).mkString(", ")}")
        k -> vals.max._2 // (version, value) max — deterministic tie-break
      }
      fromMap(kv, base)
    }
  }

  /** Full reference precedence (`config.py:165-199`): table overrides win
    * over the properties file, which wins over code defaults — "DB first,
    * YAML fallback" expressed as layered partial overrides. A re-run picks
    * up whatever the table holds NOW, which is the batch-engine analog of
    * the reference's per-run reload.
    */
  def load(spark: org.apache.spark.sql.SparkSession,
      tablePath: Option[String] = None,
      propertiesPath: Option[String] = None): GraftConfig = {
    // an EXPLICITLY passed properties path that doesn't exist is an error
    // (fromPropertiesFile throws NoSuchFileException), not a silent
    // fall-through to defaults — a mistyped path would otherwise run the
    // job on defaults AND checkpoint under the wrong config hash. Callers
    // wanting "missing file means defaults" pass None.
    val withProps = propertiesPath
      .map(pp => fromPropertiesFile(pp, default)).getOrElse(default)
    tablePath.map(tp => fromTable(spark, tp, withProps)).getOrElse(withProps)
  }
}
