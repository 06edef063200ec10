package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Byte-identity parity of the extraction/normalization stage against golden
  * outputs generated by RUNNING the reference's own normalizer
  * (`preprocessing/normalizer.py`, `prefix_stripper.py`, `synonyms.py`) —
  * see src/test/resources/golden_normalize.json.
  */
class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val golden: Map[String, Object] = {
    val mapper = new ObjectMapper()
    val url = getClass.getResource("/golden_normalize.json")
    mapper.readValue(url, classOf[java.util.Map[String, Object]]).asScala.toMap
  }

  private def pairs(key: String): Seq[(String, String)] =
    golden(key).asInstanceOf[java.util.List[java.util.List[String]]]
      .asScala.map(l => (l.get(0), l.get(1))).toSeq

  private lazy val synonymMap: Map[String, String] =
    golden("synonym_map").asInstanceOf[java.util.Map[String, String]].asScala.toMap

  private lazy val prefixCfg = {
    val pc = golden("prefix_config").asInstanceOf[java.util.Map[String, java.util.List[String]]]
    (pc.get("dash").asScala.toSeq, pc.get("colon").asScala.toSeq, pc.get("generic").asScala.toSeq)
  }

  private def runCol(inputs: Seq[String], c: org.apache.spark.sql.Column): Seq[String] =
    inputs.toDF("s").select(c.as("out")).as[String].collect().toSeq

  test("normalize_text matches the reference byte-for-byte") {
    val cases = pairs("normalize")
    val got = runCol(cases.map(_._1), TextFunctions.normalizeText($"s"))
    cases.zip(got).foreach { case ((in, want), actual) =>
      assert(actual == want, s"input=${in.replace("\n", "\\n")}")
    }
  }

  test("apply_synonyms matches the reference (longest-first literal replace)") {
    val cases = pairs("synonyms")
    val got = runCol(cases.map(_._1), graft.Oracles.applySynonyms($"s", synonymMap))
    cases.zip(got).foreach { case ((in, want), actual) => assert(actual == want, s"input=$in") }
  }

  test("strip_prefixes matches the reference (first match only, case-insensitive)") {
    val (dash, colon, generic) = prefixCfg
    val cases = pairs("strip_prefixes")
    val got = runCol(cases.map(_._1), TextFunctions.stripPrefixes($"s", dash, colon, generic))
    cases.zip(got).foreach { case ((in, want), actual) => assert(actual == want, s"input=$in") }
  }

  test("normalize_title = strip prefixes then normalize, matches reference") {
    val (dash, colon, generic) = prefixCfg
    val cases = pairs("normalize_title")
    val got = runCol(cases.map(_._1),
      TextFunctions.normalizeTitle($"s", dash, colon, generic, synonymMap))
    cases.zip(got).foreach { case ((in, want), actual) => assert(actual == want, s"input=$in") }
  }

  test("NFC normalization merges decomposed umlauts before expansion") {
    // a + COMBINING DIAERESIS vs composed ä must normalize identically
    val decomposed = "ärger"
    val composed = "ärger"
    val got = runCol(Seq(decomposed, composed), TextFunctions.normalizeText($"s"))
    assert(got(0) == got(1) && got(0) == "aerger")
  }

  test("null input normalizes to empty string (normalizer.py:35-36)") {
    val got = Seq((1, Option.empty[String])).toDF("i", "s")
      .select(TextFunctions.normalizeText($"s").as("out")).as[String].collect()
    assert(got(0) == "")
  }

  test("fused normalalizer == declarative chain on 500 generated pages (differential)") {
    val pages = graft.datagen.PagesGen.pages(spark, 500L).toDF()
    val syn = Map("fasnet" -> "fasnacht", "maerkt" -> "markt")
    val diff = pages.select(
      TextFunctions.normalizeText($"text", syn).as("fused"),
      graft.Oracles.normalizeTextDeclarative($"text", syn).as("decl"))
      .where($"fused" =!= $"decl")
      .count()
    assert(diff == 0)
  }

  test("fused html extraction == declarative chain on generated pages (differential)") {
    val pages = graft.datagen.PagesGen.pages(spark, 500L).toDF()
    val diff = pages.select(
      TextFunctions.htmlToText($"html").as("fused"),
      graft.Oracles.htmlToTextDeclarative($"html").as("decl"))
      .where($"fused" =!= $"decl")
      .count()
    assert(diff == 0)
  }

  test("fused extraction == declarative chain on hostile html (unclosed '<', differential)") {
    // real crawl html carries stray unescaped '<'s; "<[^>]*>" leaves an
    // unmatched '<' and its tail verbatim, and the fused walk must agree
    val bodies = Seq(
      "before < after with no closing bracket",
      "text <b>bold</b> then a trailing <",
      "a<b>c<",
      "<", "normal <em>tag</em> only")
    val frames = bodies.map(b =>
      s"<html><body><article>$b</article></body></html>"
        .getBytes("UTF-8"))
    val diff = frames.toDF("html").select(
      TextFunctions.htmlToText($"html").as("fused"),
      graft.Oracles.htmlToTextDeclarative($"html").as("decl"))
      .where($"fused" =!= $"decl" ||
        ($"fused".isNull =!= $"decl".isNull))
      .count()
    assert(diff == 0)
  }

  test("html extraction round-trips the generated wrapper") {
    val text = "Müßige Straße & <Sonderzeichen> bleiben erhalten"
    val html = graft.datagen.PagesGen.htmlOf("https://x.test/1", text, "de")
    val got = Seq(html).toDF("html")
      .select(TextFunctions.htmlToText($"html").as("out")).as[String].collect()(0)
    // htmlToText output is pre-normalization: collapse for comparison
    assert(got.trim.replaceAll("\\s+", " ") == text)
  }
}
