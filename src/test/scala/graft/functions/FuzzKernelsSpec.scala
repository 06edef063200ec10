package graft.functions

import graft.SparkSpec
import org.scalatest.prop.TableDrivenPropertyChecks

/** rapidfuzz-parity kernel tests. Expected values follow rapidfuzz's
  * definitions: normalized InDel similarity = 2*LCS/(|a|+|b|); token_sort
  * sorts whitespace tokens; token_set takes the 3-variant max
  * (reference call sites `matching/scorers/title_scorer.py:55-60`).
  */
class FuzzKernelsSpec extends SparkSpec with TableDrivenPropertyChecks {
  import spark.implicits._
  import FuzzKernels._

  test("indel similarity basics") {
    assert(indelSimilarity("abc", "abc") == 1.0)
    assert(indelSimilarity("", "") == 1.0)
    assert(indelSimilarity("abc", "") == 0.0)
    // "abc" vs "abd": LCS=2 → 2*2/6 = 0.6667
    assert(math.abs(indelSimilarity("abc", "abd") - 2.0 * 2 / 6) < 1e-12)
    // substitution costs 2 (not 1 like built-in levenshtein):
    // "ab" vs "cb": LCS=1 → 2*1/4 = 0.5
    assert(indelSimilarity("ab", "cb") == 0.5)
  }

  test("token_sort_ratio is order-invariant") {
    assert(tokenSortRatio("great is scala", "scala is great") == 1.0)
    assert(tokenSortRatio("fuzzy wuzzy was a bear", "wuzzy fuzzy was a bear") == 1.0)
    // different tokens stay < 1
    assert(tokenSortRatio("hello world", "goodbye world") < 1.0)
  }

  test("token_set_ratio: full containment of token set → 1.0") {
    assert(tokenSetRatio("konzert am see", "konzert am see heute abend extra") == 1.0)
    assert(tokenSetRatio("a b", "b a c d e") == 1.0)
  }

  test("token_set_ratio >= token_sort_ratio on asymmetric-length pairs") {
    val a = "narrenumzug innenstadt"
    val b = "grosser narrenumzug durch die innenstadt mit musik und wagen"
    assert(tokenSetRatio(a, b) >= tokenSortRatio(a, b))
  }

  test("hand-computed token_sort example") {
    // tokens sorted: "bär zottel" vs "bär zottels"
    // joined: "bär zottel"(10) vs "bär zottels"(11), LCS=10 → 20/21
    val got = tokenSortRatio("zottel bär", "zottels bär")
    assert(math.abs(got - 20.0 / 21.0) < 1e-12)
  }

  test("column API evaluates the same kernels") {
    val df = Seq(("scala is great", "great is scala")).toDF("a", "b")
    val r = df.select(
      token_sort_ratio($"a", $"b").as("sort"),
      token_set_ratio($"a", $"b").as("set")
    ).as[(Double, Double)].collect()(0)
    assert(r._1 == 1.0 && r._2 == 1.0)
  }

  test("empty handling mirrors rapidfuzz") {
    assert(tokenSetRatio("", "") == 1.0)
    assert(tokenSetRatio("a", "") == 0.0)
    assert(tokenSortRatio("", "") == 1.0)
  }
}
