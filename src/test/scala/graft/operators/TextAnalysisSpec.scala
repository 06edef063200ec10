package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](df: org.apache.spark.sql.DataFrame): T =
    df.collect()(0).getAs[T](0)

  test("tokenCount: whitespace tokens, blank → 0") {
    val got = Seq("a b  c", "", "   ", "single").toDF("t")
      .select(TextAnalysis.tokenCount($"t").as("n")).as[Int].collect().toSeq
    assert(got == Seq(3, 0, 0, 1))
  }

  test("tokenEstimate counts word chunks plus punctuation") {
    val got = Seq("hello, world!").toDF("t")
      .select(TextAnalysis.tokenEstimate($"t")).as[Long].collect()(0)
    assert(got == 4) // hello , world !
  }

  test("null text: tokenCount 0 (not size(null) = -1), langId 'und' (not 'fr')") {
    val df = Seq(Option.empty[String]).toDF("t")
    val (n, est, lang) = df.select(
      TextAnalysis.tokenCount($"t"), TextAnalysis.tokenEstimate($"t"),
      TextAnalysis.langId($"t")).as[(Int, Long, String)].collect()(0)
    assert(n == 0 && est == 0L && lang == "und")
  }

  test("quality metrics are deterministic and bounded") {
    val rows = Seq(
      "The quick brown fox jumps over the lazy dog. It was a sunny day, and everything is fine.",
      "wall of text with no punctuation at all " * 5,
      "x"
    ).toDF("t").select(TextAnalysis.qualityMetrics($"t").as("m"), TextAnalysis.qualityScore($"t").as("q"))
      .select($"m.n_tokens", $"m.punct_ratio", $"m.stopword_ratio", $"q")
      .as[(Int, Double, Double, Double)].collect()
    assert(rows.forall { case (_, p, s, q) => p >= 0 && p <= 1 && s >= 0 && q >= 0 && q <= 1 })
    assert(rows(0)._3 > 0.05) // English sentence has stopwords
    assert(rows(0)._4 > rows(2)._4) // real sentence beats "x"
  }

  test("langId picks the dominant stopword language deterministically") {
    val got = Seq(
      "der hund und die katze ist ein tier mit fell",
      "the cat and the dog is a pet of the house",
      "le chat et la maison des amis est une belle chose",
      "xyzzy plugh quux"
    ).toDF("t").select(TextAnalysis.langId($"t")).as[String].collect().toSeq
    assert(got == Seq("de", "en", "fr", "und"))
  }

  test("fingerprints are whitespace/case-insensitive but content-sensitive") {
    val got = Seq(
      ("A  B\tC", "a b c"),
      ("a b c", "a b d")
    ).toDF("x", "y").select(
      (TextAnalysis.fingerprintSha($"x") === TextAnalysis.fingerprintSha($"y")).as("sha_eq")
    ).as[Boolean].collect()
    assert(got.toSeq == Seq(true, false))
  }

  test("fingerprints treat Unicode whitespace (NBSP) as cosmetic noise") {
    // NBSP (\u00a0) is the most common cosmetic web-text artifact; an ASCII-only \s
    // would fingerprint the two copies differently and miss the duplicate
    val got = Seq(("a\u00a0b \u2009c", "a b c")) // NBSP + thin space
      .toDF("x", "y").select(
        (TextAnalysis.fingerprintSha($"x") === TextAnalysis.fingerprintSha($"y")).as("sha_eq")
      ).as[Boolean].collect()
    assert(got(0), s"NBSP defeated the fingerprint: ${got.toSeq}")
  }

  test("stopwordHits with an empty list is 0, not an empty.reduceLeft crash") {
    val got = Seq("the and of").toDF("t")
      .select(TextAnalysis.stopwordHits($"t", Nil).cast("double")).as[Double].collect()
    assert(got.toSeq == Seq(0.0))
  }
}
