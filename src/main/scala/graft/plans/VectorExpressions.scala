package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Native Catalyst expression for the dense-vector dot product over
  * `array<float>` / `array<double>` columns, with whole-stage codegen.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`) is a
  * CodegenFallback: each pair evaluation allocates a zipped array and runs an
  * interpreted fold. Both eval modes of this expression run one primitive
  * loop ([[VectorKernels.dot]]) over the two `ArrayData` buffers — the hot
  * path of every cosine/kNN operator in `graft.operators.Similarity`.
  */
case class FloatDot(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorKernels.isVector(left.dataType) && VectorKernels.isVector(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot requires array<float>/array<double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "float_dot"

  // Null result when lengths mismatch (a dimension bug should surface, not
  // silently truncate) or when any element is null — matching what the
  // aggregate(zip_with(...)) formulation would produce.
  override def nullable: Boolean = true

  private def leftFloat: Boolean = VectorKernels.isFloatVector(left)
  private def rightFloat: Boolean = VectorKernels.isFloatVector(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (VectorKernels.dotDefined(x, y))
      VectorKernels.dot(x, leftFloat, y, rightFloat)
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"""
         |if (graft.plans.VectorKernels.dotDefined($x, $y)) {
         |  ${ev.value} = graft.plans.VectorKernels.dot(
         |    $x, $leftFloat, $y, $rightFloat);
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native argmin-over-centroids for k-means assignment: given a vector
  * column and a BOUNDED model (cell ids + centroid vectors, baked into the
  * expression as reference objects, ordered by ascending cell id), returns
  * `struct(d2: double, cell: bigint)` — the nearest centroid under exact
  * sequential (x−c)² folds with ties toward the smaller cell id.
  *
  * Semantically identical to `array_min(zip_with(centroids, cells, ...))`
  * over per-centroid folds (same IEEE op order, same tie rule — the
  * [[graft.operators.KMeans]] replay contract), but those higher-order
  * functions are CodegenFallback: at k=196, D=64 the interpreted argmin
  * dominated the sf10 SemDeDup decade. Both eval modes run
  * [[VectorKernels.nearest]]: one read of the vector into a `double[]`,
  * then primitive loops over it and a `double[][]` model — n·k·D
  * multiply-adds.
  *
  * Nulls: a null vector, a dimension mismatch with any centroid, a null
  * element, or a NaN distance sum (NaN/±Inf elements — NaN fails every
  * strict-< comparison, so it could otherwise silently pin cell to the
  * smallest id) yields null (surface the bug, don't truncate — the
  * [[FloatDot]] rule).
  */
case class NearestCentroid(
    child: Expression,
    cells: Array[Long],
    centroids: Array[Array[Double]]) extends UnaryExpression {

  require(cells.nonEmpty && cells.length == centroids.length,
    "need one cell id per centroid, at least one centroid")

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorKernels.isVector(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires an array<float>/array<double> input, got " +
        child.dataType.simpleString)

  override def dataType: DataType = VectorKernels.NearestType

  override def nullable: Boolean = true

  override def prettyName: String = "nearest_centroid"

  private def elemIsFloat: Boolean = VectorKernels.isFloatVector(child)

  override def nullSafeEval(input: Any): Any =
    VectorKernels.nearest(input.asInstanceOf[ArrayData], elemIsFloat,
      cells, centroids, 0, centroids.length)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cellsRef = ctx.addReferenceObj("ncCells", cells, "long[]")
    val centRef = ctx.addReferenceObj("ncCentroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = graft.plans.VectorKernels.nearest(
         |  $v, $elemIsFloat, $cellsRef, $centRef, 0, $centRef.length);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** GROUPED argmin-over-centroids — the sub-level of a two-level (IVF-
  * hierarchy) quantizer: each row carries a group id (its coarse cell) and
  * the argmin runs ONLY over that group's sub-centroids. This is what makes
  * two-level assignment n·√k instead of n·k: the flat [[NearestCentroid]]
  * scans every centroid per row, which at SemDeDup's corpus-scaled
  * k = n/1024 turns assignment into n²/1024 distance folds (the r13 sf100
  * decade measured 622 s / 41× per decade on exactly that); here a row
  * scans just its own coarse cell's ≤⌈k/k1⌉ sub-centroids.
  *
  * Model layout (reference objects, no per-row allocation): `groupIds`
  * sorted ascending with `starts` delimiting each group's slice of the
  * flattened `cells`/`centroids` arrays (slice i = [starts(i),
  * starts(i+1))), each slice sorted by ascending cell id so the strict-<
  * scan reproduces the (d2, cell) tie rule. Group lookup is a binary
  * search — O(log k1) per row, branch-predictable.
  *
  * Null/error semantics follow [[NearestCentroid]]: null vector or group,
  * unknown group id, dimension mismatch, null element, or a non-finite
  * distance sum yields null (surface the bug, don't truncate).
  */
case class NearestCentroidIn(
    left: Expression,
    right: Expression,
    groupIds: Array[Long],
    starts: Array[Int],
    cells: Array[Long],
    centroids: Array[Array[Double]]) extends BinaryExpression {

  require(groupIds.nonEmpty && starts.length == groupIds.length + 1 &&
    starts.head == 0 && starts.last == cells.length &&
    cells.length == centroids.length,
    "need sorted group offsets delimiting one non-empty slice per group")

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && VectorKernels.isVector(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid_in requires (bigint group, array<float>/array<double> vec), got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = VectorKernels.NearestType

  override def nullable: Boolean = true

  override def prettyName: String = "nearest_centroid_in"

  private def elemIsFloat: Boolean = VectorKernels.isFloatVector(right)

  override def nullSafeEval(g: Any, v: Any): Any =
    VectorKernels.nearestInGroup(g.asInstanceOf[Long], v.asInstanceOf[ArrayData],
      elemIsFloat, groupIds, starts, cells, centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gidsRef = ctx.addReferenceObj("nciGroups", groupIds, "long[]")
    val startsRef = ctx.addReferenceObj("nciStarts", starts, "int[]")
    val cellsRef = ctx.addReferenceObj("nciCells", cells, "long[]")
    val centRef = ctx.addReferenceObj("nciCentroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, (g, v) =>
      s"""
         |${ev.value} = graft.plans.VectorKernels.nearestInGroup(
         |  $g, $v, $elemIsFloat, $gidsRef, $startsRef, $cellsRef, $centRef);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The vector kernels, one implementation each: every expression above
  * calls the same method from `nullSafeEval` and from its generated code.
  */
object VectorKernels {

  /** The vector input types every kernel here accepts. */
  def isVector(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  def isFloatVector(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** `struct(d2, cell)`, the result of both centroid argmins. */
  val NearestType: StructType = StructType(Seq(
    StructField("d2", DoubleType, nullable = false),
    StructField("cell", LongType, nullable = false)))

  private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Whether [[FloatDot]] has a value: equal lengths and no null element. */
  def dotDefined(x: ArrayData, y: ArrayData): Boolean = {
    val n = x.numElements()
    if (n != y.numElements()) return false
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Sequential dot-product fold over two [[dotDefined]] arrays, each
    * element widened to double before the multiply. */
  def dot(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): Double = {
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      s += elem(x, i, xFloat) * elem(y, i, yFloat)
      i += 1
    }
    s
  }

  /** Nearest centroid among `centroids[from, until)` as `(d2, cell)`, or
    * null on a dimension mismatch, a null element or a non-finite distance
    * sum — the [[NearestCentroid]] contract. */
  def nearest(
      vec: ArrayData,
      isFloat: Boolean,
      cells: Array[Long],
      centroids: Array[Array[Double]],
      from: Int,
      until: Int): InternalRow = {
    var best = Double.PositiveInfinity
    var bestCell = 0L
    // an empty slice scans nothing, so nothing can be null: (+Inf, 0)
    if (from == until) return InternalRow(best, bestCell)
    // read the vector once, so the k·n fold runs over a primitive array
    // rather than through k virtual ArrayData reads per element
    val n = vec.numElements()
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return null
      x(i) = elem(vec, i, isFloat)
      i += 1
    }
    var k = from
    while (k < until) {
      val c = centroids(k)
      if (c.length != n) return null
      var s = 0.0
      i = 0
      while (i < n) {
        val d = x(i) - c(i)
        s += d * d
        i += 1
      }
      // a non-finite sum (NaN or ±Inf elements) either fails every strict-<
      // comparison or pins +Infinity at cell 0 — surface it as null instead,
      // the same rule as a null element
      if (!java.lang.Double.isFinite(s)) return null
      // strict < + ascending-cell iteration == array_min's (d2, cell) order
      if (s < best) { best = s; bestCell = cells(k) }
      k += 1
    }
    InternalRow(best, bestCell)
  }

  /** [[nearest]] over group `g`'s slice of the [[NearestCentroidIn]]
    * model; null for an unknown group. */
  def nearestInGroup(
      g: Long,
      vec: ArrayData,
      isFloat: Boolean,
      groupIds: Array[Long],
      starts: Array[Int],
      cells: Array[Long],
      centroids: Array[Array[Double]]): InternalRow = {
    val gi = java.util.Arrays.binarySearch(groupIds, g)
    if (gi < 0) null
    else nearest(vec, isFloat, cells, centroids, starts(gi), starts(gi + 1))
  }
}

object VectorExpressions {
  /** Column API for [[FloatDot]] — usable in any session, no registration
    * needed (see [[GraftExtensions]] for the SQL-name route).
    */
  def floatDot(a: Column, b: Column): Column =
    Bridge.column(FloatDot(Bridge.expression(a), Bridge.expression(b)))

  /** Column API for [[NearestCentroid]]; the model is sorted by cell id so
    * the strict-< scan reproduces the (d2, cell) tie rule.
    */
  def nearestCentroid(vec: Column, model: Array[(Long, Array[Double])]): Column = {
    val sorted = model.sortBy(_._1)
    Bridge.column(NearestCentroid(Bridge.expression(vec),
      sorted.map(_._1), sorted.map(_._2)))
  }

  /** Column API for [[NearestCentroidIn]] — grouped model as
    * `group id → (cell, centroid)*`; groups and each group's slice are
    * sorted ascending here so the binary search and the (d2, cell) tie
    * rule hold.
    */
  def nearestCentroidIn(
      group: Column,
      vec: Column,
      model: Map[Long, Array[(Long, Array[Double])]]): Column = {
    val groups = model.toArray.sortBy(_._1)
    val groupIds = groups.map(_._1)
    val slices = groups.map(_._2.sortBy(_._1))
    val starts = slices.scanLeft(0)(_ + _.length)
    Bridge.column(NearestCentroidIn(
      Bridge.expression(group), Bridge.expression(vec),
      groupIds, starts, slices.flatMap(_.map(_._1)),
      slices.flatMap(_.map(_._2))))
  }
}
