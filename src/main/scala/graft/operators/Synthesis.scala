package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.GraftConfig

/** Canonical synthesis: one merged record per cluster with field-level
  * provenance (SURVEY.md §2.7; reference
  * `/root/reference/src/event_dedup/canonical/synthesizer.py:16-126`).
  *
  * Every reference strategy maps to a built-in aggregate — no UDAF:
  *   longest / most_complete → max_by over (length, tie-break)
  *   longest_non_generic     → coalesced max_by with length ≥ minLen filter
  *   union lists             → array_distinct(flatten(collect_list))
  *   most_frequent           → two-phase count + max_by with tie-break
  *   highest_confidence      → max_by(struct, confidence)
  *   any_true                → bool_or / max
  *   first/last date         → min / max
  *
  * The reference's "first occurrence" tie-breaks depend on Python iteration
  * order; under shuffle that is nondeterministic, so we impose an explicit
  * total order — min url among equals (SURVEY.md §7.5) — and document the
  * delta.
  */
object Synthesis {

  /** G1/G4 `_select_longest` (synthesizer.py:134-154): longest non-empty
    * value; provenance = contributing id; ties → min id.
    * Returns a struct column (value, src).
    */
  def selectLongest(value: Column, id: Column): Column = {
    val cand = when(value.isNotNull && length(value) > 0,
      struct((-length(value)).as("neg_len"), id.as("src"), value.as("value")))
    val best = min(cand)
    struct(best.getField("value").as("value"), best.getField("src").as("src"))
  }

  /** G2 `_select_longest_non_generic` (synthesizer.py:157-188): longest value
    * of length ≥ minLen; fallback to longest overall; fallback empty string.
    */
  def selectLongestNonGeneric(value: Column, id: Column, minLen: Int = 10): Column = {
    val longCand = when(value.isNotNull && length(value) >= minLen,
      struct((-length(value)).as("neg_len"), id.as("src"), value.as("value")))
    val anyCand = when(value.isNotNull && length(value) > 0,
      struct((-length(value)).as("neg_len"), id.as("src"), value.as("value")))
    val bestLong = min(longCand)
    val bestAny = min(anyCand)
    struct(
      coalesce(bestLong.getField("value"), bestAny.getField("value"), lit("")).as("value"),
      coalesce(bestLong.getField("src"), bestAny.getField("src"), min(id)).as("src")
    )
  }

  /** G3 `_select_union_lists` (synthesizer.py:191-211): dedup union of list
    * values. Reference preserves encounter order; we sort for determinism.
    */
  def selectUnionLists(listCol: Column): Column =
    array_sort(array_distinct(flatten(collect_list(listCol))))

  /** G5 `_select_most_frequent` (synthesizer.py:225-249). Needs a pre-count:
    * call on a DataFrame grouped by (cluster, value) with counts. Here: the
    * aggregate over (count, value) pairs — max count, tie → min value.
    */
  def mostFrequent(countCol: Column, value: Column): Column = {
    val best = min(when(value.isNotNull, struct((-countCol).as("neg_n"), value.as("value"))))
    best.getField("value")
  }

  /** G9 any_true with provenance = min id among trues (synthesizer.py:112-121). */
  def anyTrue(flag: Column, id: Column): Column =
    struct(
      coalesce(bool_or(flag), lit(false)).as("value"),
      coalesce(min(when(flag, id)), min(id)).as("src")
    )

  /** The text-free per-cluster aggregate of canonical synthesis: one row per
    * component with `canonical_url`, the winning url `__win_url`
    * (selectLongest order: max text length, tie → min url, empty/null text
    * excluded; null when no member has text), counts, dates, langs, the
    * capped member list and `__first_url`, the provenance of `first_seen`.
    *
    * Text bytes never enter this aggregation: it reads the precomputed
    * `__text_len` of `labeled` (the length of a non-empty text, else null;
    * the pipeline projects it BEFORE the labels join — Catalyst prunes
    * columns through joins but does not push expressions below them).
    *
    * Every row of `labeled` enters the `groupBy(component)` shuffle as a
    * partial aggregate buffer, one per component and map task. The
    * pipeline therefore hands it only the rows that sit in a match edge;
    * a row in none is the sole member of its component and gets the same
    * cluster row from [[singletonClusters]] without a shuffle.
    */
  def clusters(labeled: DataFrame, cfg: GraftConfig): DataFrame = {
    // Member-list cap: one boilerplate mega-cluster of 10^6 members must NOT
    // materialize a 10^6-element array in a single aggregation buffer (the
    // classic CC-output killer). The labels table is the full membership
    // link (SURVEY.md §1.1); `member_urls` is a deterministic first-K-by-url
    // preview, `members_truncated` says so. [[graft.functions.CollectMinK]]
    // keeps only the k smallest urls in a bounded max-heap buffer, so the
    // member preview aggregates INSIDE the main groupBy (map-side combine
    // included) instead of the previous row_number window + second groupBy +
    // join — one narrow shuffle and a sort fewer.
    val k = cfg.cluster.maxMemberList
    labeled
      .select(col("component"), col("url"), col("warc_ts"), col("lang"), col("__text_len"))
      .groupBy(col("component"))
      .agg(
        min(col("url")).as("canonical_url"),
        min(when(col("__text_len").isNotNull,
          struct((-col("__text_len")).as("neg_len"), col("url").as("src"))))
          .getField("src").as("__win_url"),
        count(lit(1)).as("source_count"),
        min(col("warc_ts")).as("first_seen"),
        // provenance for first_seen: the url of the member that SUPPLIED
        // min(warc_ts) (ties → min url via struct order), not the
        // canonical url — an audit tracing first_seen must land on the
        // member that was actually crawled first
        min(when(col("warc_ts").isNotNull,
          struct(col("warc_ts").as("ts"), col("url").as("src"))))
          .getField("src").as("__first_url"),
        max(col("warc_ts")).as("last_seen"),
        // coherence check (c) input, computed here for free — the labeled
        // frame already carries warc_ts. Exact: a hard threshold reads this
        // (HLL++ can be off by one even at tiny cardinalities), and
        // collect_set stays one-pass/map-side-combinable — set size is
        // bounded by the crawl-day span, not cluster size.
        size(collect_set(to_date(col("warc_ts")))).cast("long").as("distinct_days"),
        // filter: array(null) is a non-null [null] element that would
        // survive the union-lists aggregate and emit nulls INSIDE langs
        selectUnionLists(filter(array(col("lang")), _.isNotNull)).as("langs"),
        graft.functions.CollectMinK.collectMinK(col("url"), k).as("member_urls")
      )
  }

  /** [[clusterQuality]] over [[clusters]] for rows that are each their own
    * cluster, as a per-row projection: no aggregate, so no shuffle. The
    * caller guarantees every row of `labeled` is the only member of its
    * component and sits in no match edge; `labeled` carries `__text_len`.
    *
    * Exact because each column is the value the aggregate takes over one
    * row: min, max and the winner of a one-row group are the row's own, a
    * null `warc_ts` counts no day, and a null `lang` or `url` adds no
    * element. The member list keeps `url` whole, since
    * `cluster.max_member_list` is at least 1 for every config that loads.
    * With no match edge the confidence is null, the cluster is not tier-2
    * assisted, and `flagged` is the expression [[clusterQuality]] uses.
    */
  def singletonClusters(labeled: DataFrame, cfg: GraftConfig): DataFrame =
    labeled.select(
      col("component"),
      col("url").as("canonical_url"),
      when(col("__text_len").isNotNull, col("url")).as("__win_url"),
      lit(1L).as("source_count"),
      col("warc_ts").as("first_seen"),
      when(col("warc_ts").isNotNull, col("url")).as("__first_url"),
      col("warc_ts").as("last_seen"),
      when(col("warc_ts").isNotNull, lit(1L)).otherwise(lit(0L)).as("distinct_days"),
      filter(array(col("lang")), _.isNotNull).as("langs"),
      // array_compact, not filter: its elements are non-null, like CollectMinK's
      array_compact(array(col("url"))).as("member_urls"))
      .select(col("*"), flagged(lit(null).cast("double"), cfg),
        lit(null).cast("double").as("match_confidence"),
        lit(false).as("tier2_assisted"))

  /** The canonical rows: each [[clusters]] row with its winner's text.
    * Columns `clusters` carries beyond its own aggregate (the
    * [[clusterQuality]] ones) follow `field_provenance`.
    *
    * The fetch is an INNER equi-join of `texts` (url, extracted_text) on
    * `url = __win_url`, plus the clusters without a winner (text null).
    * Inner, not left outer: a left outer join can only build its right
    * (text) side, while an inner join lets the planner broadcast the
    * narrow cluster table and stream the text past it — no text byte
    * crosses a shuffle or the driver. When both sides outgrow broadcast it
    * plans a sort-merge join, which moves each text once.
    *
    * @param urlsUnique the caller knows `texts` holds one row per url.
    *   Otherwise one row per url is kept first — max_by longest (ties by
    *   text value), NOT dropDuplicates: a dirty ingest with one url at two
    *   lengths must fetch the text whose length won `__win_url`, or the
    *   url would win for being longest and emit its short recrawl. That
    *   dedupe shuffles every text once.
    */
  def withText(clusters: DataFrame, texts: DataFrame, urlsUnique: Boolean,
      cfg: GraftConfig): DataFrame = {
    val byUrl = texts.select(col("url").as("__wurl"), col("extracted_text"))
    val fetch =
      if (urlsUnique) byUrl
      else byUrl.groupBy("__wurl")
        .agg(max_by(col("extracted_text"),
          struct(length(coalesce(col("extracted_text"), lit(""))).as("l"),
            coalesce(col("extracted_text"), lit("")).as("t"))).as("extracted_text"))
    val won = clusters.join(fetch, col("__win_url") === col("__wurl")).drop("__wurl")
    val noWinner = clusters.where(col("__win_url").isNull)
      .withColumn("extracted_text", lit(null).cast("string"))
    val extra = clusters.columns.filterNot(ClusterColumns.contains)
    won.unionByName(noWinner)
      .select(Seq(
        col("component"),
        col("canonical_url"),
        col("extracted_text").as("text"),
        col("member_urls"),
        (col("source_count") > cfg.cluster.maxMemberList).as("members_truncated"),
        col("source_count"),
        col("first_seen"),
        col("last_seen"),
        col("distinct_days"),
        col("langs"),
        map(
          lit("text"), col("__win_url"),
          lit("first_seen"), col("__first_url"),
          lit("langs"), lit("union_all_sources")
        ).as("field_provenance")) ++ extra.map(col): _*)
  }

  /** The columns [[clusters]] emits. */
  private val ClusterColumns = Set("component", "canonical_url", "__win_url",
    "source_count", "first_seen", "__first_url", "last_seen", "distinct_days",
    "langs", "member_urls")

  /** Per-cluster quality appended to `canon`, a [[clusters]] or
    * [[withText]] output: coherence flag (C3, coherence.py:16-65), mean
    * match confidence (G12, `matching/pipeline.py:282-301`, NULL for
    * singletons) and tier2_assisted (G13 analog,
    * `matching/pipeline.py:304-314`). The specs check it against
    * one-signal-per-pass reference forms.
    *
    * `canon` already carries source_count (the per-component member count)
    * and distinct_days, so only the match-edge aggregation needs its own
    * join, over a frame bounded by the matched pairs (≪ corpus; empty for
    * all-singleton corpora). It reads no text.
    */
  def clusterQuality(canon: DataFrame, labels: DataFrame, decisions: DataFrame,
      cfg: GraftConfig): DataFrame = {
    // match rows ONLY: overlap_match never creates a cluster edge
    // (matchEdges filters decision === 'match' — syndication is not
    // duplication), so counting it here would flag node_a's cluster as
    // tier2-assisted for an edge that is NOT inside it — and asymmetrically
    // never flag node_b's. For match rows node_a and node_b share a
    // component by construction, so the single-sided join is exact.
    val matchAgg = decisions
      .where(col("decision") === "match")
      .select(col("node_a").as("node"),
        col("exact_jaccard").as("match_weight"),
        (col("tier") =!= "jaccard").as("is_tier2"))
      .join(labels.select(col("node"), col("component")), "node")
      .groupBy("component")
      .agg(
        exactMean(col("match_weight")).as("match_confidence"),
        bool_or(col("is_tier2")).as("tier2_assisted"))
    canon.join(matchAgg, Seq("component"), "left")
      .select(canon.columns.map(col) ++ Seq(
        flagged(col("match_confidence"), cfg),
        col("match_confidence"),
        coalesce(col("tier2_assisted"), lit(false)).as("tier2_assisted")): _*)
  }

  /** The mean of `weight`, a double in [0, 1], independent of the order
    * the rows are summed in: each weight is cast to `decimal(38,18)`,
    * whose sums are exact, and the mean is cast back to double. A double
    * `avg` adds in the partial-aggregate layout's order, so its last bits
    * would follow the physical plan (the join strategy above it).
    */
  def exactMean(weight: Column): Column =
    avg(weight.cast("decimal(38,18)")).cast("double")

  /** The coherence flag (C3, coherence.py:16-65) over a row carrying
    * `source_count` and `distinct_days`, given the cluster's mean match
    * confidence (null without a match edge).
    */
  private def flagged(confidence: Column, cfg: GraftConfig): Column = {
    // coherence check (c) webtext analog: date spread = distinct warc_ts
    // days. OPT-IN (cfg.cluster.warcDateCriterion): recrawls of one page
    // across many days are normal in web dedup, so flagging on crawl-day
    // spread is a policy choice, not a default — mirroring the reference,
    // where check (c) applies only when event dates exist.
    val dateClause =
      if (cfg.cluster.warcDateCriterion)
        col("distinct_days") > cfg.cluster.maxDistinctDates
      else lit(false)
    (col("source_count") > cfg.cluster.maxClusterSize ||
      (confidence.isNotNull && confidence < cfg.cluster.minInternalSimilarity) ||
      dateClause).as("flagged")
  }

  /** Full event-domain canonical synthesizer (`synthesizer.py:16-126`): one
    * assembled CanonicalEvent row per cluster with the COMPLETE per-field
    * provenance map. Strategies per field (reference order):
    *   title → longest_non_generic(≥10); short_description/description →
    *   longest; highlights/categories → union ("union_all_sources");
    *   location_name/district/street/zipcode → most_complete (= longest);
    *   location_city → most_frequent (two-phase count; tie → min value, min
    *   id — the §7.5 deterministic re-expression of "first occurrence");
    *   geo → highest confidence where lat/lon/conf all present; dates →
    *   dedup union + first/last over date ∪ end_date; booleans → any_true
    *   with first-true provenance.
    *
    * Input: one row per source event with `cluster_id`, `id` and the
    * reference field set. Output: one row per cluster; `field_provenance`
    * is a map column exactly like `canonical_event.py:60`.
    */
  def synthesizeEvents(events: DataFrame): DataFrame = {
    def longest(f: String) = selectLongest(col(f), col("id"))
    // two-phase most_frequent for location_city (mode needs a pre-count)
    val cityCounts = events
      .where(col("location_city").isNotNull && length(col("location_city")) > 0)
      .groupBy(col("cluster_id"), col("location_city"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("city_src"))
    val cityPick = cityCounts.groupBy("cluster_id")
      .agg(min(struct((-col("n")).as("neg_n"), col("location_city").as("value"),
        col("city_src").as("src"))).as("city_sel"))
      .select(col("cluster_id"), col("city_sel.value").as("location_city"),
        col("city_sel.src").as("city_src"))

    val geoCand = when(
      col("geo_latitude").isNotNull && col("geo_longitude").isNotNull &&
        col("geo_confidence").isNotNull,
      struct((-col("geo_confidence")).as("neg_conf"), col("id").as("src"),
        col("geo_latitude").as("lat"), col("geo_longitude").as("lon"),
        col("geo_confidence").as("conf")))

    val main = events.groupBy(col("cluster_id")).agg(
      selectLongestNonGeneric(col("title"), col("id"), 10).as("title_sel"),
      longest("short_description").as("sd_sel"),
      longest("description").as("desc_sel"),
      // filter null ELEMENTS inside source arrays (permissive ingest):
      // array_distinct keeps one null and it would survive into the
      // canonical list — same hazard canonicals filters for langs
      selectUnionLists(filter(col("highlights"), _.isNotNull)).as("highlights"),
      longest("location_name").as("loc_name_sel"),
      longest("location_district").as("loc_district_sel"),
      longest("location_street").as("loc_street_sel"),
      longest("location_zipcode").as("loc_zip_sel"),
      min(geoCand).as("geo_sel"),
      selectUnionLists(filter(col("dates"), _.isNotNull)).as("dates"),
      selectUnionLists(filter(col("categories"), _.isNotNull)).as("categories"),
      anyTrue(col("is_family_event"), col("id")).as("family_sel"),
      anyTrue(col("is_child_focused"), col("id")).as("child_sel"),
      anyTrue(col("admission_free"), col("id")).as("free_sel"),
      count(lit(1)).as("source_count"))

    val allDates = filter(
      concat(transform(col("dates"), d => d.getField("date")),
        transform(col("dates"), d => d.getField("end_date"))),
      d => d.isNotNull)

    main.join(cityPick, Seq("cluster_id"), "left")
      .withColumn("__all_dates", allDates)
      .select(
        col("cluster_id"),
        col("title_sel.value").as("title"),
        col("sd_sel.value").as("short_description"),
        col("desc_sel.value").as("description"),
        col("highlights"),
        col("loc_name_sel.value").as("location_name"),
        col("loc_district_sel.value").as("location_district"),
        col("loc_street_sel.value").as("location_street"),
        col("loc_zip_sel.value").as("location_zipcode"),
        col("location_city"),
        col("geo_sel.lat").as("geo_latitude"),
        col("geo_sel.lon").as("geo_longitude"),
        col("geo_sel.conf").as("geo_confidence"),
        col("dates"),
        when(size(col("__all_dates")) > 0, array_min(col("__all_dates"))).as("first_date"),
        when(size(col("__all_dates")) > 0, array_max(col("__all_dates"))).as("last_date"),
        col("categories"),
        col("family_sel.value").as("is_family_event"),
        col("child_sel.value").as("is_child_focused"),
        col("free_sel.value").as("admission_free"),
        col("source_count"),
        map(
          lit("title"), col("title_sel.src"),
          lit("short_description"), col("sd_sel.src"),
          lit("description"), col("desc_sel.src"),
          lit("highlights"), lit("union_all_sources"),
          lit("location_name"), col("loc_name_sel.src"),
          lit("location_district"), col("loc_district_sel.src"),
          lit("location_street"), col("loc_street_sel.src"),
          lit("location_zipcode"), col("loc_zip_sel.src"),
          lit("location_city"), col("city_src"),
          lit("geo"), col("geo_sel.src"),
          lit("dates"), lit("union_all_sources"),
          lit("categories"), lit("union_all_sources"),
          lit("is_family_event"), col("family_sel.src"),
          lit("is_child_focused"), col("child_sel.src"),
          lit("admission_free"), col("free_sel.src")
        ).as("field_provenance"))
  }

  /** G14 enrichment with downgrade prevention
    * (`canonical/enrichment.py:19-64`): merge freshly synthesized canonicals
    * into existing ones keyed on `key`; for each text field keep the LONGER
    * of existing vs fresh (re-synthesis must never shorten a curated field);
    * version increments on every enrichment pass. MERGE-style incremental
    * write — only the join, no global rebuild.
    */
  def enrich(existing: DataFrame, fresh: DataFrame, key: String, textFields: Seq[String]): DataFrame = {
    // when both sides carry per-field provenance, a KEPT existing value
    // restores its existing provenance entry too (enrichment.py:51-57) —
    // otherwise the output would claim the fresh source contributed a
    // field whose fresh value was discarded
    val hasProv = existing.columns.contains("field_provenance") &&
      fresh.columns.contains("field_provenance")
    val exRaw = existing.select((Seq(col(key)) ++
      textFields.map(f => col(f).as(s"${f}__old")) ++
      (if (hasProv) Seq(col("field_provenance").as("__prov_old")) else Nil) :+
      col("version")): _*)
    // ONE row per key on the existing side: a table holding duplicate keys
    // (two enrichment batches APPENDED instead of overwritten) would
    // otherwise multiply every merged row per duplicate — forever, since
    // each pass re-persists the multiplied output. Keep the highest
    // version (the latest pass); ties break on the field values for
    // determinism (provenance maps are not orderable, so they stay out of
    // the tie-break).
    val tieBreak = if (textFields.nonEmpty)
      Seq(struct(textFields.map(f => col(s"${f}__old")): _*).desc) else Nil
    val exW = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
      .orderBy(col("version").desc_nulls_last +: tieBreak: _*)
    val ex = exRaw.withColumn("__rn", row_number().over(exW))
      .where(col("__rn") === 1).drop("__rn")
    val joined = fresh.join(ex, Seq(key), "left")
    val withKept = textFields.foldLeft(joined) { (df, f) =>
      val keep = col(s"${f}__old").isNotNull &&
        length(coalesce(col(s"${f}__old"), lit(""))) > length(coalesce(col(f), lit("")))
      val kept = df.withColumn(s"${f}__keep", keep)
        .withColumn(f, when(col(s"${f}__keep"), col(s"${f}__old")).otherwise(col(f)))
      val proved =
        if (!hasProv) kept
        else kept.withColumn("field_provenance",
          when(col(s"${f}__keep") && col("field_provenance").isNotNull &&
              col("__prov_old").isNotNull &&
              element_at(col("__prov_old"), lit(f)).isNotNull,
            map_concat(
              map_filter(col("field_provenance"), (k, _) => k =!= lit(f)),
              map(lit(f), element_at(col("__prov_old"), lit(f)))))
            .otherwise(col("field_provenance")))
      proved.drop(s"${f}__old", s"${f}__keep")
    }
    withKept.drop("__prov_old")
      .withColumn("version", coalesce(col("version"), lit(0L)) + 1L)
  }
}
