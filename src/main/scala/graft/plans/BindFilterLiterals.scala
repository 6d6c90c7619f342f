package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In,
  LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types.DataType

/** Planner strategy: the literals of a file scan's filter are bound
  * outside the generated code, so statements that differ only in
  * their constants share one compiled class.
  *
  * Spark writes int, long, double and date literals into the Java
  * source of a whole-stage class, so `where id = 4711` and
  * `where id = 4712` are two classes, each compiled by Janino and each
  * run cold in the interpreter. Spark's code cache is keyed by the
  * source text; with the constant read from the class's `references`
  * array instead, the second statement finds the first one's class.
  *
  * The strategy plans a file scan with `FileSourceStrategy` and then
  * rewrites the condition of each `FilterExec` in the result: every
  * non-null `Literal` operand of a `BinaryComparison` or an `In`
  * becomes a [[BoundLiteral]] of the same value. The scan's pushed and
  * data filters are translated from the logical plan before this
  * rewrite, so they keep their `Literal`s and parquet pushdown is
  * unchanged. KV reads push their key range into the scan and carry
  * no filter here.
  *
  * Installed by `GraftEngine` through
  * `spark.experimental.extraStrategies`, which the planner tries
  * before its own strategies.
  */
object BindFilterLiterals extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    FileSourceStrategy(plan).map(_.transform {
      case f: FilterExec => f.copy(condition = bind(f.condition))
    })

  private def bind(condition: Expression): Expression = condition.transformUp {
    case p @ (_: BinaryComparison | _: In) => p.withNewChildren(p.children.map {
      case Literal(v, t) if v != null => BoundLiteral(v, t)
      case other => other
    })
  }
}

/** A constant that generated code reads from the class's `references`
  * array (into a field, once per instance) rather than from its
  * source text. Not foldable, so nothing folds it back into a
  * `Literal`; it prints as the literal it replaces. */
case class BoundLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(CodeGenerator.javaType(dataType), "bound",
      v => s"$v = $ref;")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}
