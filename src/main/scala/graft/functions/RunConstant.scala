package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A value that is constant within one run but differs between runs (a load
  * timestamp), kept out of the generated Java source.
  *
  * Spark's `Literal` writes primitive-typed values (`TimestampType` among
  * them) into the generated source as constants, and the codegen cache is
  * keyed by (class loader, source text), so a `lit(loadTs)` makes every run
  * compile its stages again. (The class loader half is why
  * [[graft.GraftExtensions]] turns off per-session artifact class loaders.)
  * This expression reads the value through the generated
  * class's `references` array instead (the `MinHashSig` pattern), so two runs
  * that differ only in the value share one compiled class.
  *
  * It is deliberately not `foldable`, or `ConstantFolding` would turn it back
  * into an inlined `Literal`. It is deterministic and non-nullable, so the
  * schema it produces is the one `lit(value)` produces. `value` is in
  * Catalyst's internal form ([[RunConstant.of]] converts).
  */
case class RunConstant(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "RunConstant holds a non-null value")

  override def nullable: Boolean = false
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("runConstant", value,
      CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
      isNull = FalseLiteral)
  }

  override def prettyName: String = "run_constant"
  override def toString: String = s"run_constant(${Literal(value, dataType)})"
}

object RunConstant {
  /** `v` (a Scala/Java value `lit` accepts) as a run constant column. */
  def of(v: Any): Column = {
    val l = Literal(v)
    column(RunConstant(l.value, l.dataType))
  }
}
