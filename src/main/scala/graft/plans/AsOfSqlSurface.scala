package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BinaryExpression, EqualTo, Expression, Unevaluable}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.JOIN
import org.apache.spark.sql.types.{BooleanType, DataType}

/** SQL-TEXT surface for the native as-of join — the missing reach from
  * `spark.sql(...)` into [[AsOfJoinPlan]]. Spark's parser has no ASOF
  * syntax, so the dialect marks the as-of conjunct with a registered
  * predicate function and an optimizer rule lowers the marked join onto
  * the native operator:
  *
  * {{{
  *   SELECT ... FROM probe p
  *   LEFT JOIN state s
  *     ON p.k = s.k AND asof_match(p.ts, s.ts)   -- latest s.ts <= p.ts
  * }}}
  *
  * `asof_match(lts, rts)` = BACKWARD as-of (latest right with
  * rts <= lts, inclusive — DuckDB `ON l.k = r.k AND l.ts >= r.ts`);
  * `asof_next(lts, rts)` = FORWARD (earliest right with rts >= lts —
  * DuckDB `l.ts <= r.ts`). The FIRST argument must come from the left
  * (probe) side. The join must be LEFT (as-of is left-preserving; its
  * output schema equals LEFT JOIN's) with exactly one cross-side
  * equality conjunct beside the marker.
  *
  * The marker is [[Unevaluable]] on purpose: if the rule does not fire
  * (not registered, unsupported shape — reversed marker arguments,
  * extra conjuncts), execution fails loudly rather than silently
  * computing something else. The markers and the rule are part of
  * [[GraftExtensions]], so every graft session has them.
  */
case class AsOfMark(left: Expression, right: Expression, forward: Boolean)
    extends BinaryExpression with Unevaluable {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = if (forward) "asof_next" else "asof_match"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AsOfMark =
    copy(left = newLeft, right = newRight)
}

/** Lower `LEFT JOIN ... ON lk = rk AND asof_match(lts, rts)` onto
  * [[AsOfJoinPlan]]. Injected by [[GraftExtensions]], so it runs inside
  * Spark's operator-optimization batches, beside predicate pushdown and
  * column pruning: the marker and the equality reference both sides, so
  * they stay in the join condition while those rules reshape the
  * children. Requires strict orientation (marker's first arg and one
  * equality side on the left child): anything else is left untouched,
  * and the Unevaluable marker then fails execution loudly. */
case class AsOfJoinRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def split(e: Expression): Seq[Expression] = e match {
    case And(a, b) => split(a) ++ split(b)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(JOIN)) {
      case j @ Join(l, r, LeftOuter, Some(cond), _) =>
        val conjuncts = split(cond)
        val (markers, rest) = conjuncts.partition(_.isInstanceOf[AsOfMark])
        (markers, rest) match {
          case (Seq(m: AsOfMark), Seq(EqualTo(a, b)))
              if m.left.references.subsetOf(l.outputSet) &&
                m.right.references.subsetOf(r.outputSet) =>
            val oriented: Option[(Expression, Expression)] =
              if (a.references.subsetOf(l.outputSet) &&
                b.references.subsetOf(r.outputSet)) Some((a, b))
              else if (b.references.subsetOf(l.outputSet) &&
                a.references.subsetOf(r.outputSet)) Some((b, a))
              else None
            oriented
              .map { case (lk, rk) =>
                AsOfJoinPlan(l, r, lk, rk, m.left, m.right, m.forward): LogicalPlan
              }
              .getOrElse(j)
          case _ => j
        }
    }
}

object AsOfSqlSurface {

  /** The builder of `asof_match` (`forward = false`) and `asof_next`. */
  private[plans] def marker(forward: Boolean): FunctionBuilder = { exprs =>
    require(exprs.length == 2,
      s"asof_${if (forward) "next" else "match"}(leftTs, rightTs) takes 2 arguments")
    AsOfMark(exprs.head, exprs(1), forward)
  }
}
