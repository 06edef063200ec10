package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Reference-semantics tests for the auto-labeler cascade
  * (`event_dedup/ground_truth/auto_labeler.py:83-182`).
  */
class AutoLabelerSpec extends SparkSpec {
  import spark.implicits._

  private def pair(ta: String, tb: String, da: String, db: String,
      ca: String, cb: String) = {
    val pairs = Seq(("a", "b", da, db, ca, cb)).toDF(
      "id_a", "id_b", "desc_a", "desc_b", "city_a", "city_b")
      .withColumn("title_sim", graft.functions.FuzzKernels.token_sort_ratio(lit(ta), lit(tb)))
    AutoLabeler.label(pairs)
      .select("label", "confidence", "reason").as[(String, Option[String], Option[String])]
      .collect()(0)
  }

  test("rule 1: title_sim>=0.90 + same city → same/high") {
    val (l, c, r) = pair("stadtfest am rhein", "stadtfest am rhein",
      null, null, "freiburg", "freiburg")
    assert(l == "same" && c.contains("high") && r.contains("title_sim>=0.90 + same_city"))
  }

  test("rule 2: title_sim>=0.70 + same city + desc_sim>=0.80 → same/medium") {
    // token permutation in desc keeps desc_sim = 1.0; titles at 30/35
    val (l, c, _) = pair("konzert im park", "konzert im stadtpark",
      "lange beschreibung hier", "lange beschreibung hier", "freiburg", "freiburg")
    assert(l == "same" && c.contains("medium"))
  }

  test("rule 2 fails on low desc_sim → skip (ambiguous)") {
    val (l, c, _) = pair("konzert im park", "konzert im stadtpark",
      "aaaa bbbb cccc", "aaaa xxxx yyyy", "freiburg", "freiburg")
    assert(l == "skip" && c.isEmpty)
  }

  test("rule 3: title_sim<0.40 → different regardless of city") {
    val (l, c, r) = pair("aaaa bbbb", "cccc dddd", null, null, null, null)
    assert(l == "different" && c.contains("high") && r.contains("title_sim<0.40"))
  }

  test("rule 4: different city + title_sim<0.70 → different") {
    val (l, _, r) = pair("aaaa bbbb cccc", "aaaa xxxx yyyy",
      null, null, "freiburg", "basel")
    assert(l == "different" && r.contains("different_city + title_sim<0.70"))
  }

  test("missing city blocks both city rules → skip") {
    // title 1.0 but one city empty: not same_city (rule 1 fails), not
    // different_city (rule 4 fails), not < 0.40 → skip
    val (l, _, _) = pair("gleicher titel hier", "gleicher titel hier",
      null, null, "freiburg", "")
    assert(l == "skip")
  }

  test("desc_sim is 0.0 when either side missing (auto_labeler.py:50-57)") {
    val pairs = Seq(("a", "b", "text da", null: String, "x", "x")).toDF(
      "id_a", "id_b", "desc_a", "desc_b", "city_a", "city_b")
      .withColumn("title_sim", lit(0.75))
    val d = AutoLabeler.label(pairs).select("desc_sim").as[Double].collect()(0)
    assert(d == 0.0)
  }
}
