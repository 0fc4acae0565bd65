package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>`/`array<double>` columns. The dot
  * product is a native codegen'd Catalyst expression
  * ([[graft.plans.FloatDot]] — a primitive Java loop); its higher-order
  * function reference form is `graft.plans.References.dotHof`, on the
  * test side.
  */
object Vectors {

  def dot(a: Column, b: Column): Column = graft.plans.VectorExpressions.floatDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn > 0, d / nn).otherwise(lit(0.0))
  }

  /** Per-vector symmetric int8 scale: max |component| / 127 (0 for the
    * all-zero vector). Computed in double — every step is a deterministic
    * IEEE op, so an external engine reproduces it bitwise.
    */
  def int8Scale(a: Column): Column =
    array_max(transform(a, x => abs(x.cast("double")))) / lit(127.0)

  /** Symmetric int8 quantization: component → round(x / scale) clamped to
    * [-127, 127] (array<int>-valued, 4× smaller than float32 on the wire
    * and in cache — the standard embedding compression trade).
    */
  def quantizeInt8(a: Column, scale: Column): Column =
    transform(a, x =>
      when(scale > 0,
        greatest(lit(-127L), least(lit(127L),
          round(x.cast("double") / scale).cast("long"))))
        .otherwise(lit(0L)))

  /** Elementwise absolute reconstruction error of the int8 quantization,
    * folded SEQUENTIALLY (left-to-right `aggregate`) so the sum is
    * bit-reproducible by an engine running the same ordered fold.
    */
  def int8SumAbsError(a: Column, q: Column, scale: Column): Column =
    aggregate(
      zip_with(a, q, (x, qi) => abs(qi.cast("double") * scale - x.cast("double"))),
      lit(0.0),
      (acc, e) => acc + e)
}
