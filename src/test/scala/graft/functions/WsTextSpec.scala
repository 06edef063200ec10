package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Differential tests for the fused whitespace-text expressions (r06
  * optimization): [[WsTokens]] / [[CollapseWs]] / [[StopwordHits]] must be
  * byte-equivalent to the declarative regex chains they replace, on
  * adversarial Unicode inputs AND on a seeded random corpus that mixes every
  * whitespace code point of [[TextFunctions.WhitespaceClass]] with 1-4-byte
  * UTF-8 content.
  */
class WsTextSpec extends SparkSpec {
  import spark.implicits._

  // every code point of the whitespace class, individually and in runs
  private val wsCodePoints: Seq[Int] =
    Seq(0x09, 0x0a, 0x0b, 0x0c, 0x0d, 0x20, 0x1c, 0x1d, 0x1e, 0x1f,
      0x85, 0xa0, 0x1680) ++ (0x2000 to 0x200a) ++
      Seq(0x2028, 0x2029, 0x202f, 0x205f, 0x3000)
  private val wsChars: Seq[String] = wsCodePoints.map(cp => new String(Character.toChars(cp)))
  private val allWs = wsChars.mkString

  private val adversarial: Seq[String] = Seq(
    null, "", " ", "a", " a ", "a b", "  a   b  ", "\t\n", "a\tb\nc",
    "ä ö ü ß", "日本語 テキスト",
    "emoji 😀 tail", "😀😀", "x😀y",
    "word nbsp", "　ideographic　space　",
    "line sep para", "CR\r\nLF", "​zero-width-is-NOT-ws",
    "The and is A OF", "the, and. the", "İstanbul İN DİE the",
    "mixed     runs  between", allWs,
    "a" + allWs + "b", "ends with ws  ", "next line",
    "straße süß", "ÅΩ Ω µ μ") ++
    wsChars.map(c => s"a${c}b") ++ wsChars.map(c => c + c)

  private def randomCorpus(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(20260822L)
    val atoms = Seq("the", "and", "der", "die", "une", "les", "tok", "İ",
      "ß", "é", "語", "😀", "x", "Thé", "DIE",
      "EST", "that", "in", "a", "punct,", ".the", "the.", "ís", "THE", "The")
    (0 until n).map { _ =>
      val len = rnd.nextInt(40)
      val sb = new StringBuilder
      (0 until len).foreach { _ =>
        if (rnd.nextInt(3) == 0) sb.append(wsChars(rnd.nextInt(wsChars.length)))
        else sb.append(atoms(rnd.nextInt(atoms.length)))
      }
      sb.toString
    }
  }

  private lazy val inputs = (adversarial ++ randomCorpus(600)).toDF("s")

  test("WsTokens ≡ declarative filter(split) on adversarial + random inputs") {
    val diff = inputs.select(
        TextFunctions.whitespaceTokens($"s").as("fused"),
        graft.Oracles.whitespaceTokensDeclarative($"s").as("spec"), $"s")
      .where(not($"fused" <=> $"spec"))
      .collect()
    assert(diff.isEmpty, s"mismatch: ${diff.take(3).mkString("; ")}")
  }

  test("CollapseWs ≡ declarative trim(regexp_replace) on adversarial + random inputs") {
    val diff = inputs.select(
        TextFunctions.collapseWhitespace($"s").as("fused"),
        graft.Oracles.collapseWhitespaceDeclarative($"s").as("spec"), $"s")
      .where(not($"fused" <=> $"spec"))
      .collect()
    assert(diff.isEmpty, s"mismatch: ${diff.take(3).mkString("; ")}")
  }

  test("StopwordHits ≡ declarative padded occurrence count for all three lists") {
    val lists = Seq(
      Seq("der", "die", "das", "und", "ist", "ein", "mit", "von"),
      Seq("the", "and", "is", "a", "of", "to", "in", "that"),
      Seq("le", "la", "et", "les", "des", "un", "une", "est"))
    lists.foreach { words =>
      val diff = inputs.select(
          TextAnalysis.stopwordHits($"s", words).as("fused"),
          graft.Oracles.stopwordHitsDeclarative($"s", words).as("spec"), $"s")
        .where(not($"fused" <=> $"spec"))
        .collect()
      assert(diff.isEmpty, s"words=$words mismatch: ${diff.take(3).mkString("; ")}")
    }
  }

  test("repetitionMetrics per-row form ≡ former explode/aggregate plan") {
    // the pre-r06 two-Exchange plan, kept inline as the spec side
    def specMetrics(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val t = graft.Oracles.whitespaceTokensDeclarative(col("text"))
      val base = docs.select(col("doc_id"), size(t).as("n_toks"),
        size(array_distinct(t)).as("n_distinct"))
      val bg = docs.select(col("doc_id").as("doc_ref"),
        explode(graft.operators.WebCorpus.bigrams(col("text"))).as("g"))
      val top = bg.groupBy(col("doc_ref"), col("g")).count()
        .groupBy(col("doc_ref"))
        .agg(max(col("count")).as("max_n"), sum(col("count")).as("tot"))
      base.join(top, base("doc_id") <=> top("doc_ref"), "left")
        .select(base("doc_id"),
          round(when(col("n_toks") === 0, 0.0)
            .otherwise(lit(1.0) - col("n_distinct").cast("double") / col("n_toks")), 6)
            .as("dup_token_ratio"),
          round(coalesce(col("max_n").cast("double") / col("tot"), lit(0.0)), 6)
            .as("top_bigram_frac"))
    }
    val docs = (adversarial ++ randomCorpus(400) ++ Seq(
      "a b a b a b", "x x x x", "one two three two three two"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val got = graft.operators.WebCorpus.repetitionMetrics(docs, "doc_id", "text")
    val want = specMetrics(docs)
    val diff = got.as("g").join(want.as("w"), Seq("doc_id"))
      .where(not($"g.dup_token_ratio" <=> $"w.dup_token_ratio") ||
        not($"g.top_bigram_frac" <=> $"w.top_bigram_frac"))
      .collect()
    assert(diff.isEmpty, s"mismatch rows: ${diff.take(5).mkString("; ")}")
    assert(got.count() == docs.count())
  }
}
