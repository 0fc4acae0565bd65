package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Native deletion-neighborhood block keys — the whole-stage-codegen
  * replacement for the deletion neighborhood (test-side reference
  * `graft.plans.References.deletionNeighborhood`) composed with
  * `xxhash64` through `transform` lambdas (HOFs are CodegenFallback: at
  * depth 2 every name paid ≈len²/2 interpreted substr→concat chains plus
  * an `array_distinct` over ~300 strings — measured as the dominant stage
  * of q_fuzzy_match2, ahead of the block join AND the thresholded-
  * levenshtein verify; r18 stage decomposition, OPTIMIZATION_r18
  * "VERDICT item 7").
  *
  * Output: the xxhash64 (seed 42 — Spark's `xxhash64(string)`) of every
  * DISTINCT string obtainable by deleting up to `depth` characters
  * (codepoints, matching `substr` semantics) from the input, the input
  * itself included. On valid UTF-8, values equal the HOF formulation's
  * hash SET exactly (malformed bytes: [[EntityKernel.deletionKeyHashes]]);
  * the array is sorted-unique rather than first-occurrence-ordered, and
  * two distinct variants whose xxhash64 values collide (2⁻⁶⁴) dedupe
  * here where the string-distinct HOF kept both copies. Both differences
  * are invisible downstream BY CONSTRUCTION: the keys are exploded into
  * an unordered block join that only PROPOSES candidate pairs, and the
  * exact-levenshtein verify plus the result distinct decide membership —
  * so the match output is row-identical on every input
  * (EntityResolutionSpec pins hash-set identity vs the HOF form and
  * row-identity of the full matcher).
  */
case class DeletionKeyHashes(child: Expression, depth: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"deletion_key_hashes requires a string input, got ${child.dataType.simpleString}")
    else if (depth < 1 || depth > 2)
      TypeCheckResult.TypeCheckFailure(
        s"deletion_key_hashes implemented for depth 1 and 2; got $depth")
    else TypeCheckResult.TypeCheckSuccess

  override def prettyName: String = "deletion_key_hashes"

  override def nullSafeEval(input: Any): Any =
    EntityKernel.deletionKeyHashes(input.asInstanceOf[UTF8String], depth)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.plans.EntityKernel.deletionKeyHashes($in, $depth);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object EntityKernel {
  private final val Seed = 42L

  /** Sorted-unique xxhash64 keys of the ≤`depth`-deletion neighborhood of
    * `name`. Called from generated code; must stay a plain static-shaped
    * method. One scratch buffer serves every variant of a row; deletion
    * positions are codepoint starts (UTF-8 non-continuation bytes), so
    * multi-byte characters delete whole, exactly like `substr`.
    *
    * Hash-set identity with the HOF form holds for valid UTF-8 only:
    * `substr` steps by the byte count a lead byte announces, this scan by
    * non-continuation bytes, and the two split malformed sequences
    * differently. Matching stays correct either way — both join sides use
    * this kernel and the exact levenshtein verify decides membership.
    *
    * @throws IllegalArgumentException when the neighborhood would not fit
    *   in one JVM array (depth 2 past ~65k codepoints) */
  def deletionKeyHashes(name: UTF8String, depth: Int): GenericArrayData = {
    val bytes = name.getBytes
    val len = bytes.length
    // codepoint start offsets; offs(L) = len sentinel
    val offs = new Array[Int](len + 1)
    var nChars = 0
    var i = 0
    while (i < len) {
      if ((bytes(i) & 0xc0) != 0x80) { nChars += 1; offs(nChars - 1) = i }
      i += 1
    }
    offs(nChars) = len
    val maxVariants =
      1L + nChars + (if (depth == 2) nChars.toLong * (nChars - 1) / 2 else 0L)
    if (maxVariants > ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH)
      throw new IllegalArgumentException(
        s"name too long for depth-$depth deletion blocking: $nChars codepoints")
    val hashes = new Array[Long](maxVariants.toInt)
    var m = 0
    hashes(m) = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, len, Seed)
    m += 1
    val scratch = new Array[Byte](len)
    // delete char a: prefix [0, offs(a)) + suffix [offs(a+1), len)
    var a = 0
    while (a < nChars) {
      val p = offs(a)
      val s = offs(a + 1)
      System.arraycopy(bytes, 0, scratch, 0, p)
      System.arraycopy(bytes, s, scratch, p, len - s)
      hashes(m) = XXH64.hashUnsafeBytes(
        scratch, Platform.BYTE_ARRAY_OFFSET, len - (s - p), Seed)
      m += 1
      a += 1
    }
    if (depth == 2) {
      // delete chars a < b: three byte ranges
      a = 0
      while (a < nChars) {
        val pa = offs(a)
        val sa = offs(a + 1)
        System.arraycopy(bytes, 0, scratch, 0, pa)
        var b = a + 1
        while (b < nChars) {
          val pb = offs(b)
          val sb = offs(b + 1)
          System.arraycopy(bytes, sa, scratch, pa, pb - sa)
          val mid = pa + (pb - sa)
          System.arraycopy(bytes, sb, scratch, mid, len - sb)
          hashes(m) = XXH64.hashUnsafeBytes(
            scratch, Platform.BYTE_ARRAY_OFFSET, mid + (len - sb), Seed)
          m += 1
          b += 1
        }
        a += 1
      }
    }
    java.util.Arrays.sort(hashes, 0, m)
    var uniq = if (m > 0) 1 else 0
    i = 1
    while (i < m) {
      if (hashes(i) != hashes(i - 1)) { hashes(uniq) = hashes(i); uniq += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hashes, uniq))
  }
}

object EntityExpressions {
  /** Column API for [[DeletionKeyHashes]]. */
  def deletionKeyHashes(name: Column, depth: Int): Column =
    Bridge.column(DeletionKeyHashes(Bridge.expression(name), depth))
}
