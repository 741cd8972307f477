package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/**
 * Its child's value, hidden from constant folding: a per-request literal
 * (a query vector) stays one reference object in generated code, and an
 * expression over it — `norm(q)` inside `cosine(v, q)` — is computed per
 * row instead of being folded into a scalar that Janino inlines, which
 * would compile a new class for every request.
 */
case class NoFold(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)

  override protected def withNewChildInternal(newChild: Expression): NoFold =
    copy(child = newChild)

  override def prettyName: String = "no_fold"
}
