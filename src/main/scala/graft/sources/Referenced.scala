package graft.sources

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{ExpressionWithUnresolvedIdentifier, PlanWithUnresolvedIdentifier, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, ParsedStatement, UnresolvedWith}

/** Which of a source's tables one SQL statement names — so view
  * registration reads the schema of those tables only, the way the
  * reference's backend database opens only the tables a query touches
  * (reference src/lib.rs:37-43 hands the text over verbatim).
  *
  * The statement is parsed (not analyzed) with the session's own parser,
  * and every single-part relation name is collected: from the plan and
  * from its inner children — CTE bodies (recursive ones included) and the
  * plans of subquery expressions (scalar, IN, EXISTS, LATERAL, TABLE
  * arguments). Scoping is ignored on purpose: a name that is both a CTE
  * and a table counts as the table, so the result can only
  * over-approximate.
  */
object Referenced {

  /** The subset of `available` that `sql` names, matched through the
    * session's resolver (case-insensitive unless `spark.sql.caseSensitive`).
    *
    * `None` means "register every table", today's resolution exactly, and is
    * returned when the statement is not a plain query (a command such as
    * SHOW TABLES, DESCRIBE, CREATE VIEW or EXPLAIN), contains an
    * IDENTIFIER(...) clause, or names a relation that is neither one of
    * `available` nor a CTE the statement defines (a user temp view, a
    * qualified name, a typo — whose error text then stays Spark's own).
    *
    * A statement that does not parse yields the empty set: nothing is
    * registered and `spark.sql` raises the same ParseException it would
    * have raised after registering everything. */
  def tables(spark: SparkSession, sql: String, available: Seq[String]): Option[Set[String]] =
    Try(spark.sessionState.sqlParser.parsePlan(sql)).toOption match {
      case None => Some(Set.empty)
      case Some(plan) =>
        val all = nodes(plan)
        val resolver = spark.sessionState.conf.resolver
        val ctes = all.flatMap {
          case w: UnresolvedWith => w.cteRelations.map(_._1)
          case _ => Nil
        }
        val names = all.collect { case r: UnresolvedRelation => r.multipartIdentifier }
        def known(n: Seq[String]) = n match {
          case Seq(one) => available.exists(resolver(_, one)) || ctes.exists(resolver(_, one))
          case _ => false
        }
        if (all.exists(opaque) || !names.forall(known)) None
        else Some(available.filter(t => names.exists(n => resolver(t, n.head))).toSet)
    }

  /** Every plan node reachable from `plan`: its children and its inner
    * children, which are the CTE bodies of a WITH and, for any other node,
    * the plans of its subquery expressions. */
  private def nodes(plan: LogicalPlan): Seq[LogicalPlan] =
    plan.collect { case p => p }.flatMap { p =>
      p +: p.innerChildren.flatMap {
        case q: LogicalPlan => nodes(q)
        case _ => Nil
      }
    }

  /** A node whose relations cannot be read off the parse tree. */
  private def opaque(p: LogicalPlan): Boolean = p match {
    case _: Command | _: ParsedStatement | _: PlanWithUnresolvedIdentifier => true
    case _ => p.expressions.exists(_.exists(_.isInstanceOf[ExpressionWithUnresolvedIdentifier]))
  }
}
