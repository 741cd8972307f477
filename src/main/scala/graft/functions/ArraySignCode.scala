package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/**
 * 1-bit sign code of the first `dims` elements, packed into
 * ⌈dims/64⌉ longs: bit i of word w is `v[w·64 + i] > 0` — the kernel of
 * [[graft.operators.SimilaritySearch.binarySignCode]].
 *
 * Bit-identical to the sum of 64 `when(element_at(v, i).cast("double") >
 * 0, 1L << i)` per word it replaces (ArraySignCodeSpec keeps that form as
 * its reference): `>` is Spark's, so NaN sets its bit and −0.0 does not; a
 * null element clears its bit and a null vector gives all-zero words; a
 * vector shorter than `dims` raises `element_at`'s
 * INVALID_ARRAY_INDEX_IN_ELEMENT_AT error under ANSI mode (`failOnError`,
 * fixed at construction as `element_at` does) and clears the missing bits
 * otherwise.
 */
case class ArraySignCode(child: Expression, dims: Int,
                         failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression {
  require(dims >= 1, s"dims must be positive (got $dims)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"array_sign_code requires array<float|double>, got ${other.catalogString}")
  }

  private lazy val childFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any =
    ArraySignCode.compute(child.eval(input).asInstanceOf[ArrayData], dims,
      childFloat, failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    ev.copy(code = code"""
      |${v.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.ArraySignCode.compute(
      |    ${v.isNull} ? null : ${v.value}, $dims, $childFloat, $failOnError);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ArraySignCode =
    copy(child = newChild)

  override def prettyName: String = "array_sign_code"
}

object ArraySignCode {
  /** Kernel; static so generated code calls it directly. */
  def compute(v: ArrayData, dims: Int, vFloat: Boolean,
              failOnError: Boolean): ArrayData = {
    val words = new Array[Long]((dims + 63) / 64)
    if (v != null) {
      val n = v.numElements()
      // the reference's first failing element_at is index n + 1
      if (n < dims && failOnError)
        throw GraftShim.elementAtIndexError(n + 1, n)
      val top = math.min(n, dims)
      var i = 0
      while (i < top) {
        if (!v.isNullAt(i)) {
          val x = if (vFloat) v.getFloat(i).toDouble else v.getDouble(i)
          if (SQLOrderingUtil.compareDoubles(x, 0.0) > 0)
            words(i >>> 6) |= 1L << (i & 63)
        }
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(words)
  }
}
