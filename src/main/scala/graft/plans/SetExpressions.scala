package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Intersection size of two SORTED `array<bigint>` columns via a two-pointer
  * merge walk, with whole-stage codegen.
  *
  * `size(array_intersect(a, b))` builds a hash set per ROW (interpreted,
  * allocation per evaluation) — measured as the dominant cost of near-dup
  * pair verification, which evaluates one intersection per candidate pair
  * (millions of rows, ~50-element arrays). The merge walk is O(n+m) with
  * zero allocation and compiles into the surrounding codegen stage.
  *
  * CONTRACT: both arrays must be sorted ascending with distinct elements
  * (graft's pair core builds them with `sort_array(collect_list(...))` over
  * distinct shingle hashes). Unsorted input returns an undercount — this is
  * an internal operator primitive, not a general-purpose function.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count requires array<bigint> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    SetKernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.plans.SetKernels.sortedIntersectCount($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SetKernels {

  /** The [[SortedIntersectCount]] merge walk. */
  def sortedIntersectCount(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }
}

object SetExpressions {
  /** Column API for [[SortedIntersectCount]]. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCount(Bridge.expression(a), Bridge.expression(b)))
}
