package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: rewrite a non-equi point-in-interval join
  * (`p >= lo AND p <= hi`, no equality conjunct) into the binned
  * equi-join [[graft.operators.RangeJoin]] builds by hand — Spark's
  * only native plan for that shape is BroadcastNestedLoopJoin, which is
  * O(|points|·|intervals|) and a guaranteed scale-killer.
  *
  * Rewrite (semantics-preserving, physical only):
  *   - points keep one row, keyed by `p div w`;
  *   - intervals explode onto their covered bin range
  *     `sequence(lo div w, hi div w)` (`div` is monotone, so every
  *     matching pair shares the point's bin);
  *   - the join becomes `pBin = iBin AND p >= lo AND p <= hi` — a hash
  *     equi-join with the range conjuncts as residual filters. Each
  *     point owns exactly ONE bin, so no pair duplicates and no dedup
  *     pass is needed.
  *
  * The rule fires only when: the join is INNER with a conjunctive
  * `>=`/`<=` (or flipped) pair over LongType attributes, point and
  * bounds on opposite sides, and NO cross-side equality conjunct
  * (if one exists Spark already plans a hash join — and the guard also
  * makes the rule a fixpoint: its own output contains an equality).
  * The switch is a conf key: bin width comes from
  * `spark.graft.rangeJoin.binWidth`, and unset disables the rule. The
  * rule itself is in every graft session ([[GraftExtensions]]), so a
  * query turns it on by setting the key on its session, e.g. through
  * `graft.GraftSession.withConf`.
  */
case class RangeJoinRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def binWidth: Option[Long] =
    spark.conf.getOption(RangeJoinRule.widthKey).flatMap(v =>
      scala.util.Try(v.toLong).toOption).filter(_ > 0)

  override def apply(plan: LogicalPlan): LogicalPlan = binWidth match {
    case None => plan
    case Some(w) =>
      plan.transformUp {
        case j @ Join(left, right, Inner, Some(cond), hint) =>
          rewrite(left, right, cond, hint, w).getOrElse(j)
      }
  }

  /** a conjunct `EqualTo` spanning both sides — already an equi join. */
  private def crossEq(e: Expression, l: LogicalPlan, r: LogicalPlan): Boolean = e match {
    case EqualTo(a, b) =>
      (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet)) ||
        (a.references.subsetOf(r.outputSet) && b.references.subsetOf(l.outputSet))
    case _ => false
  }

  /** Both readings of a comparison conjunct as `(point, bound, isLower)`:
    * `x <= y` is either "point x below upper bound y" or "lower bound x
    * under point y" — syntactically ambiguous, so emit both and let the
    * side-consistency check in [[rewrite]] pick the one where the point
    * and the two bounds land on opposite join sides. */
  private def asBound(e: Expression): Seq[(Attribute, Attribute, Boolean)] = e match {
    case GreaterThanOrEqual(a: AttributeReference, b: AttributeReference) =>
      Seq((a, b, true), (b, a, false)) // a >= lo | hi >= p
    case LessThanOrEqual(a: AttributeReference, b: AttributeReference) =>
      Seq((a, b, false), (b, a, true)) // a <= hi | lo <= p
    case _ => Nil
  }

  private def rewrite(
      left: LogicalPlan, right: LogicalPlan, cond: Expression,
      hint: JoinHint, w: Long): Option[LogicalPlan] = {
    val conjuncts = {
      def split(e: Expression): Seq[Expression] = e match {
        case And(a, b) => split(a) ++ split(b)
        case other => Seq(other)
      }
      split(cond)
    }
    if (conjuncts.exists(crossEq(_, left, right))) return None

    val bounds = conjuncts.flatMap(e => asBound(e).map(e -> _))
    // find a lower and an upper bound reading that share one point
    // attribute AND split point/bounds across the two sides — the side
    // check is what disambiguates the two readings of each comparison
    def sidesOf(p: Attribute, lo: Attribute, hi: Attribute)
        : Option[(LogicalPlan, LogicalPlan, Boolean)] =
      if (p.references.subsetOf(left.outputSet) &&
        (lo.references ++ hi.references).subsetOf(right.outputSet))
        Some((left, right, false))
      else if (p.references.subsetOf(right.outputSet) &&
        (lo.references ++ hi.references).subsetOf(left.outputSet))
        Some((right, left, true))
      else None

    val pair = (for {
      (eLo, (p1, lo, true)) <- bounds
      (eHi, (p2, hi, false)) <- bounds
      if !(eLo eq eHi) && p1.semanticEquals(p2) && p1.dataType == LongType &&
        lo.dataType == LongType && hi.dataType == LongType
      s <- sidesOf(p1, lo, hi)
    } yield (eLo, eHi, p1, lo, hi, s)).headOption

    pair.map { case (eLo, eHi, p, lo, hi, (pointSide, intervalSide, swapped)) =>
        val width = Literal(w, LongType)
        // Sequence is TimeZoneAware: unresolved without a zone, even for longs
        val seq = new Sequence(
          IntegralDivide(lo, width), IntegralDivide(hi, width), Literal(1L, LongType))
          .withTimeZone(spark.sessionState.conf.sessionLocalTimeZone)
        val binAttr = AttributeReference("__graft_bin", LongType,
          nullable = seq.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)()
        val gen = Generate(Explode(seq), unrequiredChildIndex = Nil, outer = false,
          qualifier = None, generatorOutput = Seq(binAttr), child = intervalSide)
        val rest = conjuncts.filterNot(c => (c eq eLo) || (c eq eHi))
        val newCond = (EqualTo(IntegralDivide(p, width), binAttr) +: eLo +: eHi +: rest)
          .reduce(And)
        val (nl, nr) = if (swapped) (gen: LogicalPlan, pointSide) else (pointSide, gen: LogicalPlan)
        // project the generator column away: output must equal the
        // original join's (left ++ right)
        Project((left.output ++ right.output).map(a => a: NamedExpression),
          Join(nl, nr, Inner, Some(newCond), hint))
    }
  }
}

object RangeJoinRule {
  val widthKey = "spark.graft.rangeJoin.binWidth"
}
