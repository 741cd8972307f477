package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/**
 * Product-quantization encoder: per row and per subspace s ∈ [0, m), the
 * `cid` of the codebook entry nearest in squared L2 to
 * `slice(vec, s·subDim + 1, subDim)` — the kernel of
 * [[graft.operators.SimilaritySearch.pqCodesSub]].
 *
 * `codebook` is the per-subspace (s, cid, cvs) codebook frame collected
 * once and bound as ONE array literal,
 * `array<struct<s: int, cid: int|bigint, cvs: array<float|double>>>`,
 * so a new codebook of the same shape reuses the generated class.
 *
 * Contract with the broadcast-join + `max(struct(−d, −cid))` argmax it
 * replaces (ArrayPqEncodeSpec keeps that form as its reference): each
 * distance is [[ArraySqDist.compute]] of the slice against `cvs` — null
 * for a null vector, a null element, or a slice whose length differs from
 * `cvs` (a vector shorter than m·subDim); per subspace the entry with the
 * greatest (−d, −cid) in Spark's ordering wins — a null distance ranks
 * below every number and NaN above, ties go to the lowest cid, so a
 * subspace whose distances are all null codes its lowest cid. Entries
 * with s outside [0, m) are ignored, and a subspace without entries codes
 * NULL (the join emitted no row for it). The result is an array of m
 * codes in the cid type; never null.
 */
case class ArrayPqEncode(vec: Expression, codebook: Expression, m: Int,
                         subDim: Int) extends BinaryExpression {
  require(m >= 1 && subDim >= 1,
    s"m and subDim must be positive (got $m, $subDim)")

  override def left: Expression = vec
  override def right: Expression = codebook

  private def entryType: Option[StructType] = codebook.dataType match {
    case ArrayType(st @ StructType(Array(
        StructField(_, IntegerType, _, _),
        StructField(_, IntegerType | LongType, _, _),
        StructField(_, ArrayType(FloatType | DoubleType, _), _, _))), _) =>
      Some(st)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = vec.dataType match {
    case ArrayType(FloatType | DoubleType, _) if entryType.isDefined =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "array_pq_encode requires (array<float|double>, array<struct<s: int, " +
        "cid: int|bigint, cvs: array<float|double>>>), got " +
        s"(${vec.dataType.catalogString}, ${codebook.dataType.catalogString})")
  }

  private lazy val cidType: DataType = entryType.get.fields(1).dataType
  private lazy val cidLong = cidType == LongType
  private lazy val vecFloat =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val cvsFloat = entryType.get.fields(2).dataType
    .asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = ArrayType(cidType, containsNull = true)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    ArrayPqEncode.compute(vec.eval(input).asInstanceOf[ArrayData],
      codebook.eval(input).asInstanceOf[ArrayData], m, subDim, vecFloat,
      cvsFloat, cidLong)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = vec.genCode(ctx)
    val cb = codebook.genCode(ctx)
    ev.copy(code = code"""
      |${v.code}
      |${cb.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.ArrayPqEncode.compute(
      |    ${v.isNull} ? null : ${v.value}, ${cb.isNull} ? null : ${cb.value},
      |    $m, $subDim, $vecFloat, $cvsFloat, $cidLong);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayPqEncode =
    copy(vec = newLeft, codebook = newRight)

  override def prettyName: String = "array_pq_encode"

  // plans print the codebook's size, not its values
  override def toString: String = {
    val cb = codebook match {
      case Literal(a: ArrayData, _) => s"codebook[${a.numElements()}]"
      case other => other.toString
    }
    s"$prettyName($vec, $cb, $m, $subDim)"
  }
}

object ArrayPqEncode {
  /** Kernel; static so generated code calls it directly. */
  def compute(v: ArrayData, cb: ArrayData, m: Int, subDim: Int,
              vFloat: Boolean, cvsFloat: Boolean,
              cidLong: Boolean): ArrayData = {
    val seen = new Array[Boolean](m)
    // the best entry per subspace as the argmax key (−d, −cid); a null
    // −d is `bestNull`
    val bestNull = new Array[Boolean](m)
    val bestNd = new Array[Double](m)
    val bestNcid = new Array[Long](m)
    val n = if (v == null) 0 else v.numElements()
    val entries = if (cb == null) 0 else cb.numElements()
    var e = 0
    while (e < entries) {
      if (!cb.isNullAt(e)) {
        val row = cb.getStruct(e, 3)
        val s = if (row.isNullAt(0)) -1 else row.getInt(0)
        if (s >= 0 && s < m) {
          // −cid in the cid's own type, as the reference negates it
          val ncid = if (cidLong) -row.getLong(1) else (-row.getInt(1)).toLong
          val d: java.lang.Double =
            if (v == null || row.isNullAt(2)) null
            else {
              val off = s * subDim
              ArraySqDist.compute(v, off,
                if (off >= n) 0 else math.min(subDim, n - off),
                row.getArray(2), vFloat, cvsFloat)
            }
          val isNull = d == null
          val nd = if (isNull) 0.0 else -d.doubleValue()
          val cmp =
            if (!seen(s)) 1
            else if (isNull && bestNull(s)) 0
            else if (isNull) -1
            else if (bestNull(s)) 1
            else SQLOrderingUtil.compareDoubles(nd, bestNd(s))
          if (cmp > 0 || (cmp == 0 && ncid > bestNcid(s))) {
            seen(s) = true
            bestNull(s) = isNull
            bestNd(s) = nd
            bestNcid(s) = ncid
          }
        }
      }
      e += 1
    }
    new GenericArrayData(Array.tabulate[Any](m) { s =>
      if (!seen(s)) null
      else if (cidLong) -bestNcid(s)
      else (-bestNcid(s)).toInt
    })
  }
}
