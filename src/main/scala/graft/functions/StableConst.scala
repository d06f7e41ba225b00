package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Data-dependent constants that keep generated code SHAPE-INVARIANT.
  *
  * A primitive `Literal` inlines its value into the generated Java
  * source (`... <= 42.37D`), so a plan whose constants derive from the
  * data (fitted coefficients) compiles a DIFFERENT Janino class for
  * every dataset — the codegen cache can never hit across datasets.
  * These expressions carry the value through the `references` array
  * instead (`references[7]`), like non-primitive literals do: the
  * source text depends only on the plan's STRUCTURE, so a warmup pass
  * over 64 rows compiles the exact class a 100 TB fit's predict
  * projection reuses.
  *
  * `foldable = false` is the load-bearing bit: ConstantFolding would
  * otherwise collapse these back into inlined literals. Evaluation is
  * bitwise identical to the literal it replaces — same IEEE value,
  * same comparisons — so DuckDB-oracle parity is unaffected.
  */
case class StableDouble(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftStableD", value, "java.lang.Double")
    ExprCode.forNonNullValue(
      JavaCode.expression(s"$ref.doubleValue()", DoubleType))
  }
}

object StableConst {
  /** Column carrying a fitted double without inlining it into codegen. */
  def double(v: Double): Column = GraftSqlBridge.column(StableDouble(v))
}
