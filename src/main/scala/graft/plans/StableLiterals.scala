package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** Statements that differ only in a comparison constant share their
  * generated code. Spark inlines a primitive literal into whole-stage
  * Java source, so every new point key, timestamp or date bound is new
  * source: a Janino compile (tens of ms) per request on the service's
  * repeated statement shapes. This rule hands those constants to the
  * generated code by reference instead, the way Spark already passes
  * string and decimal literals, so the source (Spark's code-cache key)
  * no longer holds them.
  *
  * Only the literal operands of a `BinaryComparison` or `In` inside a
  * `FilterExec` condition are touched. Scans keep their own copies of
  * the filters, so parquet pushdown, partition pruning and vtable file
  * skipping still see `Literal`s. Injected as a pre-columnar-transition
  * rule, which Spark applies to every plan and every adaptive stage
  * just before it collapses codegen stages.
  */
object StableLiterals extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = f.condition.transformUp {
      case c: BinaryComparison => c.withNewChildren(c.children.map(byReference))
      case i: In => i.withNewChildren(i.children.map(byReference))
    })
  }

  private def byReference(e: Expression): Expression = e match {
    case l @ Literal(v, t) if v != null && Inlined(t) => ReferencedLiteral(l)
    case _ => e
  }

  /** The types whose literals Spark writes into the generated source. */
  private val Inlined: Set[DataType] = Set(IntegerType, LongType, ShortType, ByteType,
    FloatType, DoubleType, BooleanType, DateType, TimestampType, TimestampNTZType)
}

/** `literal` read from the generated class's `references` array: the
  * same value and plan text, but no constant in the generated source.
  * Not foldable, so nothing folds it back into a `Literal`.
  */
case class ReferencedLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.addReferenceObj("literal", literal.value, CodeGenerator.boxedType(dataType))
    ExprCode.forNonNullValue(
      JavaCode.expression(s"$boxed.${CodeGenerator.javaType(dataType)}Value()", dataType))
  }
}
