package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.config._
import graft.functions.FuzzKernels

/** The reference's four pairwise signal scorers + combiner + decision logic
  * (SURVEY.md §2.4 V1-V8), scored by [[scorePairs]] over a pair DataFrame.
  * These exist for semantic parity with `event_dedup/matching/` — the
  * event-listing domain — while the webtext pipeline uses Jaccard evidence
  * ([[Decisions]]). Everything is column arithmetic (codegen'd); the only
  * custom kernels are the rapidfuzz-parity expressions in [[FuzzKernels]].
  *
  * Convention: the pair DataFrame carries `_a`/`_b` suffixed columns
  * (`matching/pipeline.py:123-153`'s loop body, vectorized).
  */
object Scorers {

  // =========================================================================
  // V1 date_score (matching/scorers/date_scorer.py:97-138)
  // =========================================================================

  /** Ranges longer than this expand to empty (= invalid), like bad bounds:
    * `sequence(sd, ed)` materializes one element per DAY per evaluation, so
    * a single corrupt entry ("0001-01-01".."9999-12-31" passes the sd <= ed
    * check) would build ~3.65M-string arrays inside every pair row it
    * appears in — repeatedly, since date scoring re-expands per comparison.
    * No real event outlasts a year-plus; the reference never validates
    * spans because its corpus is curated, ours is crawled.
    */
  val MaxRangeSpanDays = 400

  /** Expand one dates entry {date | start_date..end_date} into ISO day
    * strings (date_scorer.py:14-34). Invalid range bounds (or spans beyond
    * [[MaxRangeSpanDays]]) → empty; bare `date` strings pass through
    * unvalidated (reference behavior).
    */
  def expandEntry(e: Column): Column = {
    val sd = try_to_date(e.getField("start_date"), "yyyy-MM-dd")
    val ed = try_to_date(e.getField("end_date"), "yyyy-MM-dd")
    when(e.getField("start_date").isNotNull && e.getField("end_date").isNotNull,
      when(sd.isNotNull && ed.isNotNull && sd <= ed &&
          datediff(ed, sd) <= MaxRangeSpanDays,
        transform(sequence(sd, ed), d => date_format(d, "yyyy-MM-dd")))
        .otherwise(array().cast("array<string>")))
      .when(e.getField("date").isNotNull, array(e.getField("date")))
      .otherwise(array().cast("array<string>"))
  }

  /** "HH:MM[:SS]" → minutes-since-midnight (fractional seconds), NULL if
    * missing/unparseable (strptime %H:%M:%S / %H:%M fallbacks,
    * date_scorer.py:70-85).
    */
  def timeMinutes(t: Column): Column = {
    val valid = t.rlike("^\\d{1,2}:\\d{1,2}(:\\d{1,2})?$")
    val p = split(t, ":")
    val h = get(p, lit(0)).cast("int")
    val m = get(p, lit(1)).cast("int")
    val s = coalesce(get(p, lit(2)).cast("int"), lit(0))
    when(t.isNotNull && valid && h < 24 && m < 60 && s < 62,
      h * 60.0 + m + s / 60.0)
  }

  /** 4-tier time proximity factor (date_scorer.py:64-94). Missing/invalid
    * times → 1.0 (benefit of the doubt).
    */
  def timeProximityFactor(timeA: Column, timeB: Column, cfg: DateConfig = DateConfig()): Column = {
    val ma = timeMinutes(timeA)
    val mb = timeMinutes(timeB)
    val diff = abs(ma - mb)
    when(ma.isNull || mb.isNull, 1.0)
      .when(diff <= cfg.timeToleranceMinutes, 1.0)
      .when(diff <= cfg.timeCloseMinutes, cfg.closeFactor)
      .when(diff <= cfg.timeGapPenaltyHours * 60.0, cfg.farFactor)
      .otherwise(cfg.timeGapPenaltyFactor)
  }

  // =========================================================================
  // V2 geo_score (matching/scorers/geo_scorer.py:41-91)
  // =========================================================================

  /** Great-circle distance in km (geo_scorer.py:17-26). */
  def haversineKm(latA: Column, lonA: Column, latB: Column, lonB: Column): Column = {
    val r = 6371.0
    val dlat = radians(latB - latA)
    val dlon = radians(lonB - lonA)
    val a = pow(sin(dlat / 2), 2) +
      cos(radians(latA)) * cos(radians(latB)) * pow(sin(dlon / 2), 2)
    // clamp: fp rounding can push `a` to 1 + 2e-16 near antipodes, making
    // sqrt(1-a) NaN — and a NaN score would satisfy `score >= high` under
    // Spark's NaN-is-greatest ordering, silently auto-merging the pair
    val aC = least(lit(1.0), greatest(lit(0.0), a))
    lit(r) * lit(2.0) * atan2(sqrt(aC), sqrt(lit(1.0) - aC))
  }

  /** Venue-name factor: fuzzy token_sort on lowercased names within close
    * proximity; < 0.5 similarity → mismatch factor (geo_scorer.py:29-38).
    */
  def venueNameFactor(nameA: Column, nameB: Column, cfg: GeoConfig = GeoConfig()): Column = {
    val ratio = FuzzKernels.token_sort_ratio(lower(nameA), lower(nameB))
    when(nameA.isNull || nameB.isNull || length(nameA) === 0 || length(nameB) === 0, 1.0)
      .when(ratio >= 0.5, 1.0)
      .otherwise(cfg.venueMismatchFactor)
  }

  // =========================================================================
  // V3 title_score (matching/scorers/title_scorer.py:17-62)
  // =========================================================================

  /** Python str.casefold() for the German-relevant cases: lowercase + ß→ss
    * (title_scorer.py:44-46 relies on casefold folding ß/SS).
    */
  def casefold(c: Column): Column = replace(lower(c), lit("ß"), lit("ss"))

  // =========================================================================
  // V5 combined_score + V7 resolve_weights + V6 decide
  // =========================================================================

  /** Weight-normalized weighted average (matching/combiner.py:24-49). */
  def combinedScore(
      date: Column, geo: Column, title: Column, description: Column,
      w: ScoringWeights = ScoringWeights()
  ): Column = {
    val total = w.date + w.geo + w.title + w.description
    if (total == 0) lit(0.0)
    else (lit(w.date) * date + lit(w.geo) * geo + lit(w.title) * title +
      lit(w.description) * description) / total
  }

  /** V7 category-override combined score (pipeline.py:70-95): first priority
    * category shared by BOTH sides selects its override weights.
    */
  def combinedScoreWithOverrides(
      date: Column, geo: Column, title: Column, description: Column,
      categoriesA: Column, categoriesB: Column,
      priority: Seq[String],
      overrides: Map[String, ScoringWeights],
      default: ScoringWeights = ScoringWeights()
  ): Column = {
    val base = combinedScore(date, geo, title, description, default)
    priority.filter(overrides.contains).foldRight(base) { (cat, fallback) =>
      val shared = array_contains(coalesce(categoriesA, array()), cat) &&
        array_contains(coalesce(categoriesB, array()), cat)
      when(shared, combinedScore(date, geo, title, description, overrides(cat)))
        .otherwise(fallback)
    }
  }

  /** V6 decide (combiner.py:52-84): thresholds + title veto capping at
    * ambiguous.
    */
  def decide(
      score: Column,
      titleScore: Column,
      cfg: ThresholdConfig = ThresholdConfig()
  ): Column =
    when(score >= cfg.high,
      when(lit(cfg.titleVeto > 0) && titleScore.isNotNull && titleScore < cfg.titleVeto, "ambiguous")
        .otherwise("match"))
      .when(score <= cfg.low, "no_match")
      .otherwise("ambiguous")

  /** V8 score a candidate-pair DataFrame carrying `_a`/`_b` suffixed event
    * columns; appends the four signals, combined score, and decision
    * (pipeline.py:98-161 vectorized).
    *
    * Written as single-Column scorers, each signal would instantiate its
    * heavy subtrees once PER REFERENCE — the date-expansion tree
    * (try_to_date + `sequence` day materialization inside lambda bodies,
    * which codegen cannot reach and subexpression elimination skips)
    * appeared 12× per row and the O(len²) fuzzy kernels 9× in the collapsed
    * q37 plan. This DataFrame-level path stages each heavy subtree into an
    * intermediate column evaluated exactly once per row (CollapseProject
    * keeps multi-referenced non-cheap aliases staged), then computes the
    * reference's score arithmetic over the staged attributes — ~10× less
    * per-row work (guide §1.2 step 2: per-task work).
    */
  def scorePairs(pairs: org.apache.spark.sql.DataFrame, cfg: GraftConfig = GraftConfig.default,
      priority: Seq[String] = Nil, overrides: Map[String, ScoringWeights] = Map.empty
  ): org.apache.spark.sql.DataFrame = {
    // (start_time, expanded days) per dates entry, expansion run ONCE per
    // entry — no per-day re-scan of the dates array
    def entryDays(dates: Column): Column =
      zip_with(coalesce(dates, array()),
        transform(coalesce(dates, array()), e => expandEntry(e)),
        (e, ds) => struct(e.getField("start_time").as("st"), ds.as("days")))
    // Python-`or` pick (desc_scorer.py:21-22): the fallback fires on FALSY
    // (null or empty string), not just null — `coalesce` would let an
    // empty-string description mask a populated short_description. The
    // reference strips AFTER the fallback chain, mirrored here.
    def pick(d: Column, sd: Column): Column =
      trim(when(d.isNotNull && length(d) > 0, d)
        .when(sd.isNotNull && length(sd) > 0, sd)
        .otherwise(lit("")))
    val s1 = pairs.select(col("*"),
      entryDays(col("dates_a")).as("__dz_a"),
      entryDays(col("dates_b")).as("__dz_b"),
      casefold(trim(coalesce(col("title_a"), lit("")))).as("__ta"),
      casefold(trim(coalesce(col("title_b"), lit("")))).as("__tb"),
      pick(col("description_a"), col("short_description_a")).as("__pd_a"),
      pick(col("description_b"), col("short_description_b")).as("__pd_b"),
      haversineKm(col("geo_latitude_a"), col("geo_longitude_a"),
        col("geo_latitude_b"), col("geo_longitude_b")).as("__dist"))
    val s2 = s1.select(col("*"),
      array_distinct(flatten(transform(col("__dz_a"), p => p.getField("days")))).as("__days_a"),
      array_distinct(flatten(transform(col("__dz_b"), p => p.getField("days")))).as("__days_b"),
      FuzzKernels.token_sort_ratio(col("__ta"), col("__tb")).as("__tsr"),
      FuzzKernels.token_set_ratio(col("__ta"), col("__tb")).as("__tset"))
    val s3 = s2.select(col("*"),
      array_intersect(col("__days_a"), col("__days_b")).as("__shared"))

    // date_score over the staged arrays (date_scorer.py:97-138): Jaccard of
    // the distinct day sets × mean time proximity over shared days, where a
    // day's time is the start_time of the FIRST entry covering it
    // (date_scorer.py:49-61); 0 when either side is empty or no day is shared
    def stOf(dz: String, d: Column): Column =
      get(filter(col(dz), p => array_contains(p.getField("days"), d)), lit(0))
        .getField("st")
    val shared = col("__shared")
    val factors = transform(shared, d =>
      timeProximityFactor(stOf("__dz_a", d), stOf("__dz_b", d), cfg.date))
    val jaccard = size(shared).cast("double") /
      size(array_union(col("__days_a"), col("__days_b")))
    val avgFactor = aggregate(factors, lit(0.0), (acc, x) => acc + x) / size(shared)
    val dateScoreStaged =
      when(size(col("__days_a")) === 0 || size(col("__days_b")) === 0, 0.0)
        .when(size(shared) === 0, 0.0)
        .otherwise(jaccard * avgFactor)

    // geo_score with the haversine staged (geo_scorer.py:41-91): neutral on
    // missing coords or low confidence (identical coords skip the confidence
    // gate); linear distance decay; venue factor within venueMatchDistanceKm
    val (latA, lonA, confA) = (col("geo_latitude_a"), col("geo_longitude_a"), col("geo_confidence_a"))
    val (latB, lonB, confB) = (col("geo_latitude_b"), col("geo_longitude_b"), col("geo_confidence_b"))
    val missing = latA.isNull || lonA.isNull || latB.isNull || lonB.isNull
    val coordsIdentical = abs(latA - latB) < 1e-6 && abs(lonA - lonB) < 1e-6
    val lowConf = (confA.isNotNull && confA < cfg.geo.minConfidence) ||
      (confB.isNotNull && confB < cfg.geo.minConfidence)
    val base = greatest(lit(0.0), lit(1.0) - col("__dist") / cfg.geo.maxDistanceKm)
    val withVenue = when(col("__dist") < cfg.geo.venueMatchDistanceKm,
      base * venueNameFactor(col("location_name_a"), col("location_name_b"), cfg.geo))
      .otherwise(base)
    val geoScoreStaged = when(missing, cfg.geo.neutralScore)
      .when(!coordsIdentical && lowConf, cfg.geo.neutralScore)
      .otherwise(withVenue)

    // title_score with the two kernels staged (title_scorer.py:17-62; cross
    // config `config/matching.yaml:44-48`)
    def blend(c: TitleConfig): Column =
      when(col("__tsr") >= c.blendLower && col("__tsr") <= c.blendUpper,
        lit(c.primaryWeight) * col("__tsr") + lit(c.secondaryWeight) * col("__tset"))
        .otherwise(col("__tsr"))
    val isCross = col("source_type_a") =!= col("source_type_b") &&
      col("source_type_a").isin("artikel", "terminliste") &&
      col("source_type_b").isin("artikel", "terminliste")
    val titleScoreStaged =
      when(length(col("__ta")) === 0 || length(col("__tb")) === 0, 0.0)
        .when(isCross, blend(cfg.crossSourceTitle))
        .otherwise(blend(cfg.title))

    val descScoreStaged =
      when(length(col("__pd_a")) === 0 && length(col("__pd_b")) === 0, 0.5)
        .when(length(col("__pd_a")) === 0 || length(col("__pd_b")) === 0, 0.4)
        .otherwise(FuzzKernels.token_sort_ratio(col("__pd_a"), col("__pd_b")))

    val c = s3
      .withColumn("date_score", dateScoreStaged)
      .withColumn("geo_score", geoScoreStaged)
      .withColumn("title_score", titleScoreStaged)
      .withColumn("description_score", descScoreStaged)
    c.withColumn("combined_score", combinedScoreWithOverrides(
        col("date_score"), col("geo_score"), col("title_score"), col("description_score"),
        col("categories_a"), col("categories_b"), priority, overrides, cfg.scoring))
      .withColumn("decision", decide(col("combined_score"), col("title_score"), cfg.thresholds))
      .drop("__dz_a", "__dz_b", "__ta", "__tb", "__pd_a", "__pd_b", "__dist",
        "__days_a", "__days_b", "__tsr", "__tset", "__shared")
  }
}
