package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Expression, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, TimestampType}

/** A numeric, date or timestamp constant whose value the generated
  * code reads from a class field instead of spelling it out. Spark's
  * codegen cache is keyed by the generated source, and [[Literal]]
  * inlines its value into that source, so `k % 7 = 3` and `k % 5 = 1`
  * compile two classes for one query shape. Here the value travels in
  * the class's `references` and `init` copies it into a field once per
  * instance: the source is the same for every value, so the second
  * constant reuses the first one's class.
  *
  * It evaluates and prints exactly as the literal it replaces (`eval`,
  * `toString` and `sql` are the literal's), so explain output and
  * interpreted results are unchanged. It is not foldable, so no parent
  * folds it back into the source. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $boxed.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Rewrites the constants of a physical plan's filters and projections
  * into [[ParamLiteral]]s before whole-stage codegen collapses them, so
  * a query shape compiles once whatever its constants: the ranges of
  * repeated reads, the conditions and SET values of Delta DML. Only a
  * non-null literal of a primitive-backed type that is a direct operand
  * of a comparison or an arithmetic operator is rewritten. Scans are
  * not touched: their pushed and partition filters keep their literals,
  * so parquet pushdown and data skipping see the values.
  *
  * Installed through [[graft.GraftExtensions]] as the pre-transition
  * half of a columnar rule, the seam Spark runs right before
  * `CollapseCodegenStages` in both the planner and every AQE stage. */
object ConstantStableCodegen extends Rule[SparkPlan] {
  private def stable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType | DateType | TimestampType => true
    case _ => false
  }

  private def params(e: Expression): Expression = e.transformUp {
    case op @ (_: BinaryComparison | _: BinaryArithmetic) => op.mapChildren {
      case Literal(v, dt) if v != null && stable(dt) => ParamLiteral(v, dt)
      case c => c
    }
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = params(f.condition))
    case p: ProjectExec => p.copy(projectList =
      p.projectList.map(params(_).asInstanceOf[NamedExpression]))
  }

  /** The extension seam: runs before Spark inserts row/columnar
    * transitions, hence before codegen stages collapse. */
  object Columnar extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ConstantStableCodegen
  }
}
