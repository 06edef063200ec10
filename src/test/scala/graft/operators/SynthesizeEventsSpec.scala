package graft.operators

import graft.SparkSpec
import graft.config.GraftConfig
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** The assembled event-domain canonical (`synthesizer.py:16-126`): one row,
  * all strategies, full field_provenance — values hand-computed from the
  * reference semantics.
  */
class SynthesizeEventsSpec extends SparkSpec {
  import spark.implicits._

  private def events = Seq(
    // id, title, short_desc, desc, highlights, loc_name, district, street,
    // zip, city, lat, lon, conf, dates(date, end_date), categories, fam, child, free
    ("e1", "kurz", "kurze beschreibung hier", null: String,
      Seq("h1", "h2"), "halle eins", null: String, "strasse 1", "79100",
      "freiburg", Some(48.0), Some(7.8), Some(0.7),
      Seq(("2026-05-01", null: String)), Seq("musik"), false, false, true),
    ("e2", "ein langer aussagekraeftiger titel", null: String, "lange beschreibung",
      Seq("h2", "h3"), null: String, "wiehre", null: String, null: String,
      "freiburg", Some(48.1), Some(7.9), Some(0.95),
      Seq(("2026-05-01", "2026-05-03")), Seq("musik", "fest"), true, false, false),
    ("e3", "mittellanger titel", "sd", "beschreibung",
      null: Seq[String], "halle", null: String, null: String, null: String,
      "basel", None, Some(7.9), Some(0.99), // lat missing → not geo-eligible
      Seq(("2026-04-20", null: String)), Seq("fest"), false, false, false)
  ).toDF("id", "title", "short_description", "description", "highlights",
    "location_name", "location_district", "location_street", "location_zipcode",
    "location_city", "geo_latitude", "geo_longitude", "geo_confidence",
    "dates_raw", "categories", "is_family_event", "is_child_focused", "admission_free")
    .withColumn("cluster_id", lit("c1"))
    .withColumn("dates", transform(col("dates_raw"),
      d => struct(d.getField("_1").as("date"), d.getField("_2").as("end_date"))))
    .drop("dates_raw")

  test("assembled canonical: every strategy + full provenance map") {
    val row = Synthesis.synthesizeEvents(events).collect()(0)
    def f[T](n: String): T = row.getAs[T](n)
    val prov = f[Map[String, String]]("field_provenance")

    // title: longest ≥10 ("ein langer..." beats "mittellanger titel"; "kurz" generic)
    assert(f[String]("title") == "ein langer aussagekraeftiger titel" && prov("title") == "e2")
    // short_description: longest non-empty (e1's; e3's "sd" shorter)
    assert(f[String]("short_description") == "kurze beschreibung hier" && prov("short_description") == "e1")
    assert(f[String]("description") == "lange beschreibung" && prov("description") == "e2")
    // highlights union (sorted determinism), provenance literal
    assert(f[collection.Seq[String]]("highlights").toSeq == Seq("h1", "h2", "h3"))
    assert(prov("highlights") == "union_all_sources")
    // most_complete location fields
    assert(f[String]("location_name") == "halle eins" && prov("location_name") == "e1")
    assert(f[String]("location_district") == "wiehre")
    // most_frequent city: freiburg ×2 beats basel; provenance = min id with value
    assert(f[String]("location_city") == "freiburg" && prov("location_city") == "e1")
    // best geo: e2 (0.95) — e3's 0.99 ineligible (lat missing)
    assert(f[Double]("geo_latitude") == 48.1 && f[Double]("geo_confidence") == 0.95)
    assert(prov("geo") == "e2")
    // dates union dedup: 3 distinct entries; first/last over date ∪ end_date
    assert(f[collection.Seq[Row]]("dates").length == 3)
    assert(f[String]("first_date") == "2026-04-20" && f[String]("last_date") == "2026-05-03")
    assert(prov("dates") == "union_all_sources")
    assert(f[collection.Seq[String]]("categories").toSeq == Seq("fest", "musik"))
    // booleans any_true with first-true provenance
    assert(f[Boolean]("is_family_event") && prov("is_family_event") == "e2")
    assert(!f[Boolean]("is_child_focused") && prov("is_child_focused") == "e1") // no true → min id
    assert(f[Boolean]("admission_free") && prov("admission_free") == "e1")
    assert(f[Long]("source_count") == 3L)
  }

  test("canonicals caps member_urls at maxMemberList; labels stay the full link") {
    val cfg = GraftConfig.default.copy(cluster =
      GraftConfig.default.cluster.copy(maxMemberList = 3))
    val labeled = (1 to 10).map(i =>
      (f"https://x/$i%02d", new java.sql.Timestamp(1735689600000L + i * 1000L),
        "de", s"text $i", 1L))
      .toDF("url", "warc_ts", "lang", "extracted_text", "component")
    val row = graft.Oracles.canonicals(labeled, cfg).collect()(0)
    assert(row.getAs[collection.Seq[String]]("member_urls").toSeq ==
      Seq("https://x/01", "https://x/02", "https://x/03"))
    assert(row.getAs[Boolean]("members_truncated"))
    assert(row.getAs[Long]("source_count") == 10L)
    // under the cap: full list, not truncated
    val small = labeled.where(length(col("url")) > 0).limit(2)
    val r2 = graft.Oracles.canonicals(small, cfg).collect()(0)
    assert(!r2.getAs[Boolean]("members_truncated"))
    assert(r2.getAs[collection.Seq[String]]("member_urls").length == 2)
  }

  test("clusterQuality date criterion flags clusters spanning > maxDistinctDates days") {
    val cfg = GraftConfig.default
    // cluster 1 spans 5 distinct crawl days (> 3); cluster 10 spans 1
    val labeled = Seq(
      (1L, 1L, "2026-01-01"), (2L, 1L, "2026-01-02"), (3L, 1L, "2026-01-03"),
      (4L, 1L, "2026-01-04"), (5L, 1L, "2026-01-05"),
      (10L, 10L, "2026-01-01"), (11L, 10L, "2026-01-01")
    ).toDF("node", "component", "day")
      .select($"node", $"component", concat(lit("https://x/"), $"node".cast("string")).as("url"),
        to_timestamp($"day").as("warc_ts"), lit("de").as("lang"), lit("text").as("extracted_text"))
    val decisions = Seq(
      (1L, 2L, 0.95, "match", "jaccard"), (10L, 11L, 0.95, "match", "jaccard")
    ).toDF("node_a", "node_b", "exact_jaccard", "decision", "tier")
    val canon = graft.Oracles.canonicals(labeled, cfg)
    def flagged(c: GraftConfig): Map[Long, Boolean] =
      Synthesis.clusterQuality(canon, labeled, decisions, c)
        .select("component", "flagged").as[(Long, Boolean)].collect().toMap
    val on = flagged(cfg.copy(cluster = cfg.cluster.copy(warcDateCriterion = true)))
    assert(on(1L), "5 distinct days must flag (coherence.py check c)")
    assert(!on(10L))
    // off (the default) the criterion is inert: recrawl spread is normal
    val off = flagged(cfg.copy(cluster = cfg.cluster.copy(warcDateCriterion = false)))
    assert(!off(1L) && !off(10L))
  }

  test("identical dates dedup to one entry (synthesizer.py:288-314)") {
    val dup = events.withColumn("dates",
      array(struct(lit("2026-01-01").as("date"), lit(null).cast("string").as("end_date"))))
    val row = Synthesis.synthesizeEvents(dup).collect()(0)
    assert(row.getAs[collection.Seq[Row]]("dates").length == 1)
    assert(row.getAs[String]("first_date") == "2026-01-01")
  }
}
