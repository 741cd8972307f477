package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/**
 * Σ (aᵢ−bᵢ)² in double precision — the squared-L2 kernel of the PQ /
 * IVF-PQ / OPQ family (`VectorFunctions.sqDist`), as a native codegen
 * expression.
 *
 * Replaces the `aggregate(zip_with(a, b, (x,y) => (x−y)²), 0, +)`
 * higher-order-function form, which is evaluated interpreted with a
 * per-call lambda context and per-element boxing: measured in the r17
 * profile, ONE `pqCodesSub` encode pass (≈1M evaluations at m=8, k=64
 * over the 2k-vector sf0.1 corpus) burned ~50 CPU-seconds in the HOF —
 * the kernel makes it a tight primitive loop inside whole-stage codegen
 * (optimization guide: eliminate non-codegen expressions in hot paths).
 *
 * Bit-equivalence contract with the HOF form (KernelPropertiesSpec):
 * identical IEEE operation sequence — each element pair is widened to
 * double, differenced, squared, and accumulated LEFT-TO-RIGHT from 0.0,
 * exactly the zip_with element order and the aggregate fold order; null
 * array → null, length mismatch → null (zip_with pads with null →
 * null), any null element → null (null propagates through the fold).
 */
case class ArraySqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"array_sq_dist requires (array<float|double>, array<float|double>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  private lazy val leftFloat = elemType(left) == FloatType
  private lazy val rightFloat = elemType(right) == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    ArraySqDist.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftFloat, rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double ${ev.value}_r = graft.functions.ArraySqDist.compute(
         |  $a, $b, $leftFloat, $rightFloat);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArraySqDist =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "array_sq_dist"
}

object ArraySqDist {
  /** Scalar kernel; static so generated code calls it directly. Returns
    * null (boxed) on length mismatch or null element — same as the
    * zip_with/aggregate formulation it replaces. */
  def compute(a: ArrayData, b: ArrayData,
              aFloat: Boolean, bFloat: Boolean): java.lang.Double =
    compute(a, 0, a.numElements(), b, aFloat, bFloat)

  /** [[compute]] of `a`'s elements `aOff until aOff + n` against `b` —
    * `slice(a, aOff + 1, n)` without materializing the slice (the PQ
    * encoder's per-subspace distance, [[ArrayPqEncode]]). */
  def compute(a: ArrayData, aOff: Int, n: Int, b: ArrayData,
              aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(aOff + i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(aOff + i).toDouble else a.getDouble(aOff + i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      s += d * d
      i += 1
    }
    java.lang.Double.valueOf(s)
  }
}
