package graft.operators

import graft.SparkSpec
import graft.config._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

final case class DateEntry(
    date: Option[String] = None,
    start_date: Option[String] = None,
    end_date: Option[String] = None,
    start_time: Option[String] = None
)

final case class Ev(
    id: String = "e",
    title: Option[String] = None,
    description: Option[String] = None,
    short_description: Option[String] = None,
    source_type: Option[String] = None,
    dates: Seq[DateEntry] = Seq.empty,
    geo_latitude: Option[Double] = None,
    geo_longitude: Option[Double] = None,
    geo_confidence: Option[Double] = None,
    location_name: Option[String] = None,
    categories: Seq[String] = Seq.empty
)

/** Signal-scorer parity: every case lifted from the reference's own test
  * suite (`/root/reference/tests/test_scorers.py`, `tests/test_combiner.py`)
  * with the reference's expected values.
  */
class ScorersSpec extends SparkSpec {
  import spark.implicits._

  private def pairDf(a: Ev, b: Ev): DataFrame = {
    val da = Seq(a).toDF().select(Seq("id", "title", "description", "short_description",
      "source_type", "dates", "geo_latitude", "geo_longitude", "geo_confidence",
      "location_name", "categories").map(c => col(c).as(c + "_a")): _*)
    val db = Seq(b).toDF().select(Seq("id", "title", "description", "short_description",
      "source_type", "dates", "geo_latitude", "geo_longitude", "geo_confidence",
      "location_name", "categories").map(c => col(c).as(c + "_b")): _*)
    da.crossJoin(db)
  }

  // each signal is read off `scorePairs`, the scorer the q37 query runs
  private def signal(a: Ev, b: Ev, cfg: GraftConfig, column: String): Double =
    Scorers.scorePairs(pairDf(a, b), cfg).select(column).as[Double].collect()(0)

  private def dateS(a: Ev, b: Ev, cfg: DateConfig = DateConfig()): Double =
    signal(a, b, GraftConfig.default.copy(date = cfg), "date_score")

  private def geoS(a: Ev, b: Ev, cfg: GeoConfig = GeoConfig()): Double =
    signal(a, b, GraftConfig.default.copy(geo = cfg), "geo_score")

  private def titleS(a: Ev, b: Ev, cfg: TitleConfig = TitleConfig()): Double =
    signal(a, b, GraftConfig.default.copy(title = cfg), "title_score")

  private def descS(a: Ev, b: Ev): Double =
    signal(a, b, GraftConfig.default, "description_score")

  private def d(ds: String*): Ev = Ev(dates = ds.map(x => DateEntry(date = Some(x))))

  // ----- date_score (test_scorers.py TestDateScore) -----

  test("date: identical dates → 1.0") {
    assert(dateS(d("2026-03-01"), d("2026-03-01")) == 1.0)
  }

  test("date: no overlap → 0.0") {
    assert(dateS(d("2026-03-01"), d("2026-04-01")) == 0.0)
  }

  test("date: partial overlap → jaccard 1/3") {
    val s = dateS(d("2026-03-01", "2026-03-02"), d("2026-03-01", "2026-03-03"))
    assert(s >= 0.33 && s <= 0.34)
  }

  test("date: missing either side → 0.0") {
    assert(dateS(Ev(), d("2026-03-01")) == 0.0)
    assert(dateS(Ev(), Ev()) == 0.0)
  }

  test("date: range expansion → jaccard 1/3") {
    val a = Ev(dates = Seq(DateEntry(start_date = Some("2026-03-01"), end_date = Some("2026-03-03"))))
    val s = dateS(a, d("2026-03-02"))
    assert(s >= 0.33 && s <= 0.34)
  }

  test("date: time exact/close/far/gap tiers") {
    def ev(t: String) = Ev(dates = Seq(DateEntry(date = Some("2026-03-01"), start_time = Some(t))))
    assert(dateS(ev("14:00"), ev("14:00")) == 1.0)
    val close = DateConfig(timeToleranceMinutes = 30, timeCloseMinutes = 90, closeFactor = 0.7)
    assert(math.abs(dateS(ev("14:00"), ev("15:00"), close) - 0.7) < 1e-9)
    val far = DateConfig(timeToleranceMinutes = 30, timeCloseMinutes = 90, farFactor = 0.3)
    assert(math.abs(dateS(ev("10:00"), ev("14:00"), far) - far.timeGapPenaltyFactor) < 1e-9)
    assert(dateS(ev("10:00"), ev("11:59")) == 0.0) // 119 min → far_factor=0.0
    assert(dateS(ev("10:00"), ev("12:01")) == 0.0) // 121 min → penalty=0.0
    val custom = DateConfig(timeGapPenaltyHours = 3.0, farFactor = 0.3)
    assert(math.abs(dateS(ev("10:00"), ev("12:30"), custom) - 0.3) < 1e-9)
    val custom2 = DateConfig(timeGapPenaltyHours = 3.0, timeGapPenaltyFactor = 0.1)
    assert(math.abs(dateS(ev("10:00"), ev("13:21"), custom2) - 0.1) < 1e-9)
  }

  test("date: missing time → benefit of the doubt 1.0") {
    val a = Ev(dates = Seq(DateEntry(date = Some("2026-03-01"), start_time = Some("14:00"))))
    assert(dateS(a, d("2026-03-01")) == 1.0)
  }

  test("date: empty dates list → 0.0") {
    assert(dateS(Ev(dates = Seq.empty), d("2026-03-01")) == 0.0)
  }

  // ----- geo_score (TestGeoScore) -----

  private def g(lat: Double, lon: Double, conf: Double, name: String = null): Ev =
    Ev(geo_latitude = Some(lat), geo_longitude = Some(lon), geo_confidence = Some(conf),
      location_name = Option(name))

  test("geo: same location → 1.0; far apart → 0.0; moderate ~0.5") {
    assert(geoS(g(48.0, 7.8, 0.95), g(48.0, 7.8, 0.95)) == 1.0)
    assert(geoS(g(48.0, 7.8, 0.95), g(49.0, 9.0, 0.95)) == 0.0)
    val s = geoS(g(48.0, 7.8, 0.95), g(48.045, 7.8, 0.95))
    assert(s >= 0.4 && s <= 0.6)
  }

  test("geo: missing coords / low confidence → neutral 0.5") {
    assert(geoS(Ev(geo_longitude = Some(7.8), geo_confidence = Some(0.95)), g(48.0, 7.8, 0.95)) == 0.5)
    assert(geoS(Ev(), Ev()) == 0.5)
    assert(geoS(g(48.0, 7.8, 0.50), g(48.001, 7.801, 0.95)) == 0.5)
  }

  test("geo: identical coords bypass the confidence gate") {
    assert(geoS(g(48.117019, 7.986537, 0.74), g(48.117019, 7.986537, 0.74)) == 1.0)
    assert(geoS(g(48.0, 7.8, 0.30), g(48.0, 7.8, 0.30)) == 1.0)
  }

  test("geo: no confidence field → acceptable") {
    val a = Ev(geo_latitude = Some(48.0), geo_longitude = Some(7.8))
    assert(geoS(a, a) == 1.0)
  }

  test("geo: custom max distance and neutral score") {
    assert(geoS(g(48.0, 7.8, 0.95), g(48.045, 7.8, 0.95), GeoConfig(maxDistanceKm = 5.0)) <= 0.1)
    assert(geoS(Ev(), Ev(), GeoConfig(neutralScore = 0.3)) == 0.3)
  }

  test("geo: venue-name factor within 1km") {
    assert(geoS(g(48.0, 7.8, 0.95, "Stadttheater"), g(48.0, 7.8, 0.95, "Stadttheater")) == 1.0)
    val diff = geoS(g(48.0, 7.8, 0.95, "Stadttheater"), g(48.0, 7.8, 0.95, "Messehalle"))
    assert(math.abs(diff - 0.5) < 1e-9)
    assert(geoS(g(48.0, 7.8, 0.95, "Stadttheater"), g(48.0, 7.8, 0.95)) == 1.0)
    // token-order-insensitive venue similarity
    assert(geoS(g(48.0, 7.8, 0.95, "Stadttheater Freiburg"), g(48.0, 7.8, 0.95, "Freiburg Stadttheater")) == 1.0)
  }

  test("geo: beyond venue distance → distance-only") {
    val withNames = geoS(g(48.0, 7.8, 0.95, "Stadttheater"), g(48.045, 7.8, 0.95, "Messehalle"))
    val noNames = geoS(g(48.0, 7.8, 0.95), g(48.045, 7.8, 0.95))
    assert(math.abs(withNames - noNames) < 1e-9)
  }

  // ----- title_score (TestTitleScore) -----

  private def t(s: String, st: String = null): Ev = Ev(title = Some(s), source_type = Option(st))

  test("title: identical → 1.0; different < 0.2; reordered > 0.7") {
    assert(titleS(t("Konzert im Park"), t("Konzert im Park")) == 1.0)
    assert(titleS(t("AAAA BBBB CCCC"), t("XXXX YYYY ZZZZ")) < 0.2)
    assert(titleS(t("Konzert im Stadtpark"), t("Stadtpark Konzert")) > 0.7)
  }

  test("title: missing/empty/whitespace → 0.0") {
    assert(titleS(Ev(), t("Konzert")) == 0.0)
    assert(titleS(Ev(), Ev()) == 0.0)
    assert(titleS(t(""), t("Konzert")) == 0.0)
    assert(titleS(t("   "), t("Konzert")) == 0.0)
  }

  test("title: casefold handles ß/SS (title_scorer.py docstring)") {
    assert(titleS(t("Große Straße"), t("GROSSE STRASSE")) == 1.0)
    assert(titleS(t("WOODWALKERS 2"), t("Woodwalkers 2")) == 1.0)
  }

  test("title: cross-source-type pairs use the set-weighted override") {
    val a = Ev(title = Some("Preismaskenball"), source_type = Some("terminliste"))
    val b = Ev(title = Some("Preismaskenball mit Hemdglunker und Musikverein"), source_type = Some("artikel"))
    val cross = titleS(a, b)
    val sameType = titleS(t("Preismaskenball"), t("Preismaskenball mit Hemdglunker und Musikverein"))
    assert(cross > sameType)
  }

  // ----- description_score (desc_scorer.py:12-29) -----

  test("description: both missing 0.5, one missing 0.4, else kernel") {
    assert(descS(Ev(), Ev()) == 0.5)
    assert(descS(Ev(description = Some("ein Text")), Ev()) == 0.4)
    assert(descS(Ev(description = Some("gleicher Text")), Ev(description = Some("gleicher Text"))) == 1.0)
    // short_description fallback
    assert(descS(Ev(short_description = Some("kurz")), Ev(description = Some("kurz"))) == 1.0)
    // Python `or` parity (desc_scorer.py:21): EMPTY-string description is
    // falsy and must fall through to the short_description, not mask it
    assert(descS(Ev(description = Some(""), short_description = Some("kurz")),
      Ev(description = Some("kurz"))) == 1.0)
  }

  // ----- combiner + decide (matching/combiner.py) -----

  test("combined score is weight-normalized") {
    val df = Seq((1.0, 0.5, 0.8, 0.2)).toDF("d", "g", "t", "ds")
    val s = df.select(Scorers.combinedScore($"d", $"g", $"t", $"ds")).as[Double].collect()(0)
    val expect = (0.30 * 1.0 + 0.25 * 0.5 + 0.30 * 0.8 + 0.15 * 0.2) / 1.0
    assert(math.abs(s - expect) < 1e-12)
  }

  test("decide: thresholds + title veto (combiner.py:52-84)") {
    def dec(score: Double, title: Double): String =
      Seq((score, title)).toDF("s", "t")
        .select(Scorers.decide($"s", $"t")).as[String].collect()(0)
    assert(dec(0.80, 0.9) == "match")
    assert(dec(0.75, 0.9) == "match") // >= high inclusive
    assert(dec(0.80, 0.40) == "ambiguous") // title veto
    assert(dec(0.30, 0.9) == "no_match")
    assert(dec(0.35, 0.9) == "no_match") // <= low inclusive
    assert(dec(0.50, 0.9) == "ambiguous")
  }

  test("category weight overrides pick first shared priority category") {
    val overrides = Map(
      "fasnacht" -> ScoringWeights(0.30, 0.30, 0.25, 0.15),
      "versammlung" -> ScoringWeights(0.25, 0.20, 0.40, 0.15))
    val df = Seq((1.0, 0.0, 1.0, 0.0, Seq("fasnacht", "versammlung"), Seq("fasnacht")))
      .toDF("d", "g", "t", "ds", "cats_a", "cats_b")
    val s = df.select(Scorers.combinedScoreWithOverrides($"d", $"g", $"t", $"ds",
      $"cats_a", $"cats_b", Seq("fasnacht", "versammlung"), overrides)).as[Double].collect()(0)
    assert(math.abs(s - (0.30 * 1.0 + 0.25 * 1.0)) < 1e-12) // fasnacht weights
    // no shared category → default weights
    val df2 = Seq((1.0, 0.0, 1.0, 0.0, Seq("fasnacht"), Seq("andere")))
      .toDF("d", "g", "t", "ds", "cats_a", "cats_b")
    val s2 = df2.select(Scorers.combinedScoreWithOverrides($"d", $"g", $"t", $"ds",
      $"cats_a", $"cats_b", Seq("fasnacht"), overrides)).as[Double].collect()(0)
    assert(math.abs(s2 - (0.30 * 1.0 + 0.30 * 1.0)) < 1e-12)
  }

  test("scorePairs end-to-end: identical events → match") {
    val a = Ev(id = "a", title = Some("Narrenumzug Freiburg"),
      description = Some("Der grosse Umzug durch die Innenstadt"),
      dates = Seq(DateEntry(date = Some("2026-02-15"), start_time = Some("14:00"))),
      geo_latitude = Some(48.0), geo_longitude = Some(7.85), geo_confidence = Some(0.95))
    val scored = Scorers.scorePairs(pairDf(a, a.copy(id = "b")))
    val row = scored.select($"combined_score", $"decision").as[(Double, String)].collect()(0)
    assert(row._1 > 0.95 && row._2 == "match")
  }
}
