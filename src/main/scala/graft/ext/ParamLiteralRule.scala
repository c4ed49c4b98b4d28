package graft.ext

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BinaryComparison, Expression,
  LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A constant that generated code reads from its `references` array, once,
  * instead of spelling it in the source. Spark caches compiled classes by
  * their source, so two plans that differ only in such a constant share
  * one class (SnappyData's `ParamLiteral`). It prints exactly as `lit`.
  *
  * Not a subclass of [[Literal]]: `Literal.equals` would make `transform`
  * see the replacement as unchanged and keep the literal. Not foldable, so
  * no expression evaluates it at code-generation time and inlines it. */
case class ParamLiteral(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", lit.value, CodeGenerator.boxedType(dataType))
    val v = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(v, dataType))
  }
}

/** Turns the per-request constants of generated filters and projections
  * into [[ParamLiteral]]s, so a serving request whose plan differs from
  * the last one only in its id compiles no new code. It rewrites a
  * non-null boolean, integral, float, double, date, timestamp or
  * timestamp_ntz literal in two places only: an operand of a
  * [[BinaryComparison]] and a projected constant (an [[Alias]] child).
  * Arguments that must stay a `Literal` (`rand` seeds, `round` scales) are
  * in neither place. Scan-side predicates are left alone: Parquet pushdown
  * and the min/max pruning of cached batches match `Literal`.
  *
  * Runs as a pre-transition columnar rule, the last hook before
  * `CollapseCodegenStages` in both the plain and the adaptive physical
  * preparations; it changes no operator. */
object ParamLiteralRule extends Rule[SparkPlan] {

  private def param(e: Expression): Expression = e match {
    case l: Literal if l.value != null && (l.dataType match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }) => ParamLiteral(l)
    case _ => e
  }

  private def comparisons(e: Expression): Expression = e.transform {
    case c: BinaryComparison => c.mapChildren(param)
  }

  private def projected(e: NamedExpression): NamedExpression = e match {
    case a @ Alias(l: Literal, _) => a.withNewChildren(Seq(param(l))).asInstanceOf[Alias]
    case _ => comparisons(e).asInstanceOf[NamedExpression]
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = comparisons(f.condition))
    case p: ProjectExec => p.copy(projectList = p.projectList.map(projected))
  }

  /** The session hook: [[ParamLiteralRule]] before the columnar transitions. */
  val columnar: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParamLiteralRule
  }
}
