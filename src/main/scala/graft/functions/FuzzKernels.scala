package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** RapidFuzz-parity similarity kernels as native Catalyst expressions.
  *
  * The reference scores titles/descriptions with rapidfuzz's
  * `token_sort_ratio` / `token_set_ratio`
  * (`/root/reference/src/event_dedup/matching/scorers/title_scorer.py:55-60`,
  * `desc_scorer.py:29`, `geo_scorer.py:35`). Those are normalized InDel
  * similarity (Levenshtein with substitution cost 2, equivalently
  * `2*LCS/(|a|+|b|)`) over token-sorted / token-set-constructed strings.
  * Spark's built-in `levenshtein` uses substitution cost 1, so exact parity
  * needs this custom kernel (SURVEY.md §7.4).
  *
  * Scores are returned in [0,1] (the reference divides rapidfuzz's 0-100 by
  * 100 at every call site).
  */
object FuzzKernels {

  /** Normalized InDel similarity of two raw strings: 2*LCS/(|a|+|b|),
    * measured in Unicode CODE POINTS like rapidfuzz/Python — not UTF-16
    * code units: an astral character (emoji in a scraped title) must count
    * as one symbol on both sides of the ratio, and a lone surrogate must
    * never LCS-match an unrelated astral character's half.
    */
  def indelSimilarity(a: String, b: String): Double = {
    val ca = codePoints(a)
    val cb = codePoints(b)
    val la = ca.length
    val lb = cb.length
    if (la == 0 && lb == 0) return 1.0 // rapidfuzz: two empty strings → 100
    if (la == 0 || lb == 0) return 0.0
    val lcs = lcsLength(ca, cb)
    (2.0 * lcs) / (la + lb)
  }

  private def codePoints(s: String): Array[Int] = {
    // manual walk: s.codePoints().toArray boxes through a java stream
    val out = new Array[Int](s.codePointCount(0, s.length))
    var i = 0
    var k = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    out
  }

  /** Classic O(|a|*|b|) LCS with a rolling 1-D array. Fine for titles and
    * descriptions (short strings); not used on document bodies.
    */
  private def lcsLength(a: Array[Int], b: Array[Int]): Int = {
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    val m = s.length
    val prev = new Array[Int](m + 1)
    val cur = new Array[Int](m + 1)
    var i = 0
    while (i < t.length) {
      val tc = t(i)
      var j = 0
      while (j < m) {
        cur(j + 1) =
          if (s(j) == tc) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, m + 1)
      i += 1
    }
    prev(m)
  }

  // Unicode whitespace, matching Python str.split() (which rapidfuzz's
  // token variants use) — Java's bare \s is ASCII-only, so a NBSP-joined
  // scraped venue name would otherwise read as ONE token and miss its
  // reordered duplicate. Same class TextFunctions.collapseWhitespace uses.
  private val WsRun =
    java.util.regex.Pattern.compile(TextFunctions.WhitespaceClass + "+")

  /** Whitespace tokenization as rapidfuzz does (split on runs of Unicode
    * whitespace, drop empties).
    */
  def splitTokens(s: String): Array[String] =
    WsRun.split(s).filter(_.nonEmpty)

  /** token_sort_ratio: sort whitespace tokens, join with single spaces,
    * InDel-ratio the results.
    */
  def tokenSortRatio(a: String, b: String): Double = {
    val sa = splitTokens(a).sorted.mkString(" ")
    val sb = splitTokens(b).sorted.mkString(" ")
    indelSimilarity(sa, sb)
  }

  /** token_set_ratio: rapidfuzz's three-variant max over
    * (sorted-intersection, intersection+diff_a, intersection+diff_b).
    */
  def tokenSetRatio(a: String, b: String): Double = {
    val ta = splitTokens(a).toSet
    val tb = splitTokens(b).toSet
    if (ta.isEmpty && tb.isEmpty) return 1.0
    if (ta.isEmpty || tb.isEmpty) return 0.0
    val inter = (ta intersect tb).toArray.sorted
    val diffA = (ta diff tb).toArray.sorted
    val diffB = (tb diff ta).toArray.sorted
    // rapidfuzz short-circuit: intersection non-empty and one side fully
    // contained → 100
    if (inter.nonEmpty && (diffA.isEmpty || diffB.isEmpty)) return 1.0
    val sect = inter.mkString(" ")
    val ab = (inter ++ diffA).mkString(" ")
    val ba = (inter ++ diffB).mkString(" ")
    math.max(indelSimilarity(ab, ba),
      math.max(indelSimilarity(sect, ab), indelSimilarity(sect, ba)))
  }

  // Column API
  def token_sort_ratio(a: Column, b: Column): Column = toCol(TokenSortRatio(toExpr(a), toExpr(b)))
  def token_set_ratio(a: Column, b: Column): Column = toCol(TokenSetRatio(toExpr(a), toExpr(b)))
}

case class TokenSortRatio(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  // analysis-time type check (wrong-typed input must fail at analysis,
  // not as an executor-side ClassCastException mid-job)
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    FuzzKernels.tokenSortRatio(a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TokenSortRatio =
    copy(left = l, right = r)
  override def prettyName: String = "token_sort_ratio"
}

case class TokenSetRatio(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  // analysis-time type check (wrong-typed input must fail at analysis,
  // not as an executor-side ClassCastException mid-job)
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    FuzzKernels.tokenSetRatio(a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TokenSetRatio =
    copy(left = l, right = r)
  override def prettyName: String = "token_set_ratio"
}
