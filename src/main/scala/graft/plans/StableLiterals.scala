package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** Planner strategy: plan filter constants as reference reads, so a query
  * run again with fresh constants generates the same Java source and hits
  * the codegen cache instead of compiling a new class.
  *
  * Spark writes a primitive literal into the generated source
  * (`value >= 4402L`), so every new constant is a new source, a new janino
  * compile and a class that starts in the bytecode interpreter. This is the
  * tokenized literal of SnappyData's plan cache (`ParamLiteral`,
  * github.com/TIBCOSoftware/snappydata), applied after pushdown:
  *  - a `Filter` whose child is not a Project/Filter chain over a leaf is
  *    planned as `BasicOperators` plans it, with its condition paramized;
  *  - a Project/Filter chain over a `HadoopFsRelation` is planned by
  *    Spark's own `FileSourceStrategy`, and only the returned `FilterExec`'s
  *    condition is paramized; the scan's data, pushed and partition filters
  *    keep their plain `Literal`s, so pushdown and pruning see the values.
  *
  * Every other node, and every chain over another leaf (JDBC, `LogicalRDD`
  * pins, in-memory relations, streaming sources), returns `Nil`, so the
  * strategy Spark would have used plans it unchanged. Installed with the
  * rest of graft's SQL surface: `Engine` on the caller's session, or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object StableLiterals extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case _: Filter | _: Project => under(plan, filtered = false) match {
      case (LogicalRelation(_: HadoopFsRelation, _, _, _, _), true) =>
        FileSourceStrategy(plan).map(_.transformUp {
          case f: FilterExec => f.copy(condition = paramize(f.condition))
        })
      case (_: LeafNode, _) => Nil
      case _ => plan match {
        case Filter(condition, child) => FilterExec(paramize(condition), planLater(child)) :: Nil
        case _ => Nil
      }
    }
    case _ => Nil
  }

  /** The node under `p`'s Project/Filter chain, and whether the chain holds
    * a Filter. */
  @tailrec private def under(p: LogicalPlan, filtered: Boolean): (LogicalPlan, Boolean) = p match {
    case Project(_, child) => under(child, filtered)
    case Filter(_, child) => under(child, filtered = true)
    case other => (other, filtered)
  }

  /** Every non-null literal of a type Spark inlines into generated source,
    * as a [[ParamLiteral]]. A nondeterministic expression keeps its
    * arguments: `rand(seed)` reads its seed as a `Literal`. */
  private def paramize(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && inlined(dt) => ParamLiteral(v, dt)
    case n: Nondeterministic => n
    case _ => e.mapChildren(paramize)
  }

  private def inlined(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _: YearMonthIntervalType | _: DayTimeIntervalType => true
    case _ => false
  }
}

/** A non-null constant whose generated code reads a class field set once
  * from the generated class's references, so its source is the same for
  * every value. Evaluates, folds and prints as the `Literal` it replaces.
  * Equal by the boxed value (`NaN` equals `NaN`; `0.0` does not equal
  * `-0.0`), so no two distinct constants are ever merged. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }

  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => p.dataType == dataType && p.value.asInstanceOf[AnyRef].equals(value)
    case _ => false
  }
  override def hashCode: Int = 31 * value.hashCode + dataType.hashCode
}
