package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `|A ∩ B|` of two ASCENDING, DISTINCT `array<bigint>` inputs (signed
  * order, the order `java.util.Arrays.sort` and `array_sort` produce), in
  * one linear merge walk: no hash set, no allocation. On such inputs it
  * equals `size(array_intersect(a, b))`, which builds and probes a fresh
  * hash set per row; exact Jaccard over shingle arrays
  * ([[graft.operators.MinHashLsh.exactJaccard]]) is its caller, and
  * [[DocSignature]] emits its shingles ascending for it.
  *
  * NULL arrays give NULL. NULL elements are skipped by the walk and count
  * once when both sides hold one, as in `array_intersect`. Unsorted input
  * is outside the contract: the count is then a lower bound.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectSize.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SortedIntersectSize.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_size"
}

object SortedIntersectSize {

  def sortedIntersectSize(a: Column, b: Column): Column =
    toCol(SortedIntersectSize(toExpr(a), toExpr(b)))

  /** Static entry point shared by interpreted and generated code. */
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    var nullA = false
    var nullB = false
    while (i < na && j < nb) {
      if (a.isNullAt(i)) { nullA = true; i += 1 }
      else if (b.isNullAt(j)) { nullB = true; j += 1 }
      else {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x < y) i += 1
        else if (x > y) j += 1
        else { n += 1; i += 1; j += 1 }
      }
    }
    while (!nullA && i < na) { nullA = a.isNullAt(i); i += 1 }
    while (!nullB && j < nb) { nullB = b.isNullAt(j); j += 1 }
    if (nullA && nullB) n + 1 else n
  }
}
