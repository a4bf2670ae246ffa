package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Merge-intersection of two SORTED `array<bigint>` columns, with optional
  * per-element flag bits carried through — the triangle edge-iterator's hot
  * core (see `Iterate.wedgeTriangles` / `flaggedTriangles`).
  *
  * `array_intersect` builds an OpenHashSet from one side PER ROW — on the
  * triangle listing that re-hashes a vertex's adjacency array once per
  * incident oriented edge, and the hash set allocates per call. The
  * adjacency arrays are already sorted (built with `sort_array`), so a
  * two-pointer merge walk does the same intersection with zero hashing and
  * one output-buffer allocation. Preference order per the build brief:
  * builtins first, native Expression with doGenCode where the hot path
  * needs it (this), UDF never.
  *
  * Element encoding: each element is `(key << flagBits) | flags` with
  * `0 ≤ flags < 2^flagBits` and keys STRICTLY INCREASING within each
  * array (distinct adjacency guarantees this; keys may be negative — the
  * walk extracts them with ARITHMETIC shifts, so signed packed order is
  * signed key order, exactly what `sort_array` produced). Elements match
  * on `key`; each match emits `(key << 2·flagBits) | (leftFlags <<
  * flagBits) | rightFlags` — so with `flagBits = 0` this is exactly the
  * sorted distinct intersection, and with `flagBits = 2` the directed
  * census reads BOTH pairs' direction flags out of the one intersection
  * (|key| must stay below 2^(61 − 2·flagBits); vertex ids are nowhere
  * near).
  *
  * Nulls: a null array yields null (null-intolerant binary expression);
  * null ELEMENTS cannot occur in `sort_array(collect_list(...))` output,
  * but a null element reached by the walk (i.e. before either side is
  * exhausted) nulls the result rather than reading garbage (matching
  * ArrayDotProduct's convention; trailing elements past the shorter
  * side's exhaustion are never inspected). */
case class SortedIntersectPacked(left: Expression, right: Expression,
                                 flagBits: Int)
  extends BinaryExpression {

  require(flagBits >= 0 && flagBits <= 15, "flagBits out of range")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sorted_intersect_packed"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_packed requires array<bigint> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  private def elemNullable(dt: DataType) = dt match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  override def nullable: Boolean = super.nullable ||
    elemNullable(left.dataType) || elemNullable(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    val buf = new Array[Long](math.min(na, nb))
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      if (x.isNullAt(i) || y.isNullAt(j)) return null
      val xv = x.getLong(i); val yv = y.getLong(j)
      val kx = xv >> flagBits; val ky = yv >> flagBits
      if (kx < ky) i += 1
      else if (kx > ky) j += 1
      else {
        val mask = (1L << flagBits) - 1L
        buf(c) = (kx << (2 * flagBits)) | ((xv & mask) << flagBits) | (yv & mask)
        c += 1; i += 1; j += 1
      }
    }
    // fromPrimitiveArray keeps the result as packed primitive longs —
    // GenericArrayData(long[]) would box every element
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(buf, c))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val buf = ctx.freshName("buf")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val kx = ctx.freshName("kx"); val ky = ctx.freshName("ky")
      val mask = (1L << flagBits) - 1L
      // when the expression is not nullable, nullSafeCodeGen declares no
      // ${ev.isNull}: neither the walk nor the store may read it
      val nullCheck =
        if (nullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }"
        else ""
      val ifNotNull = if (nullable) s"if (!${ev.isNull})" else ""
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |long[] $buf = new long[java.lang.Math.min($na, $nb)];
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $na && $j < $nb) {
         |  $nullCheck
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  long $kx = $xv >> $flagBits;
         |  long $ky = $yv >> $flagBits;
         |  if ($kx < $ky) { $i++; }
         |  else if ($kx > $ky) { $j++; }
         |  else {
         |    $buf[$c++] = ($kx << ${2 * flagBits}) | (($xv & ${mask}L) << $flagBits) | ($yv & ${mask}L);
         |    $i++; $j++;
         |  }
         |}
         |$ifNotNull {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray(java.util.Arrays.copyOf($buf, $c));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectPacked {
  /** Intersection of two sorted distinct `array<bigint>` columns (the
    * flag-free form — a drop-in for `array_intersect` on sorted input). */
  def apply(a: Column, b: Column): Column = apply(a, b, 0)

  def apply(a: Column, b: Column, flagBits: Int): Column =
    ColumnBridge.column(SortedIntersectPacked(
      ColumnBridge.expression(a), ColumnBridge.expression(b), flagBits))
}
