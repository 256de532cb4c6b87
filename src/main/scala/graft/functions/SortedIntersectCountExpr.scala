package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.{Column, GraftSqlBridge}

/** Intersection SIZE of two SORTED long arrays by a single primitive
  * merge pass — the verification kernel for set-similarity joins.
  * Spark's generic `array_intersect` builds a boxed hash set per row
  * pair; on millions of candidate pairs × hundreds of shingles that
  * boxing dominates the whole join (the q241 Int8Quant lesson: per-row
  * array math in the hot path belongs in a kernel). Inputs MUST be
  * ascending-sorted and duplicate-free (`array_sort` over the
  * `hashedShingles` output) — the caller owns that contract; the
  * merge itself never allocates.
  */
object SortedIntersectCountHelper {
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1L; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** Native `sorted_intersect_count(a, b)` → Long. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCountHelper.count(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val helper = SortedIntersectCountHelper.getClass.getName
      .stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $helper.count($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  def column(a: Column, b: Column): Column =
    GraftSqlBridge.column(SortedIntersectCount(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
