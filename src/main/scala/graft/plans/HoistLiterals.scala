package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null [[Literal]] whose generated code reads its value from the
  * generated class's `references` array instead of spelling it in the
  * source. `Literal.doGenCode` inlines booleans, integral and floating
  * values, dates and timestamps (`value == 35461L`), so every point
  * read's key and every range's bounds produce a new source text, and
  * Spark's generated-class cache is keyed by that text: each distinct
  * value costs a Janino compile plus a fresh class for the JIT. With the
  * value in a `references` slot the source depends on the plan shape
  * only. Evaluation, printing and SQL rendering are the literal's. */
case class HoistedLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final $javaType ${ev.value} = $ref.${javaType}Value();",
      isNull = FalseLiteral)
  }
}

/** Physical-plan rule: the literal operands of comparisons and of `In`
  * lists in [[FilterExec]] conditions become [[HoistedLiteral]]s. Only
  * the filter's own condition changes; the scan below it keeps its
  * pushed, partition and bucket filters as real literals, so pruning
  * and pushdown are untouched. Operands of other expressions stay
  * literals, because some of them read a literal argument at run time
  * (a random seed, a rounding scale). Registered as a columnar rule,
  * which Spark applies to a non-adaptive plan and to every adaptive
  * query stage before it fuses whole-stage codegen. */
object HoistFilterLiterals extends Rule[SparkPlan] {
  private def hoistable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def hoist(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && hoistable(dt) => HoistedLiteral(v, dt)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val cond = f.condition.transformUp {
        case e @ (_: BinaryComparison | _: In) => e.withNewChildren(e.children.map(hoist))
      }
      if (cond eq f.condition) f else f.copy(condition = cond)
  }
}

/** `SparkSessionExtensions` entry point: `GraftSession.local` registers
  * it, and deployments that configure extensions declaratively use
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => PairsStrategy)
    e.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = HoistFilterLiterals
    })
  }
}
