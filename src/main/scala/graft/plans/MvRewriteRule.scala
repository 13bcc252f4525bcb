package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DataType
import graft.Tables

/** Optimizer rule: answer an aggregate over a base table from a stored
  * MATERIALIZED VIEW of partial aggregates instead of the raw scan.
  *
  * The classic OLAP summary-table rewrite (Gupta & Mumick's MV
  * answering-queries-using-views line; every warehouse engine ships
  * one): a registered MV stores `GROUP BY g1..gn` partials — count,
  * sum, min, max — and any query that groups by a SUBSET of those keys
  * with re-aggregable functions is rewritten to re-aggregate the MV:
  *
  *   count(*)  -> sum(mv.cnt)        min(x) -> min(mv.min_x)
  *   sum(x)    -> sum(mv.sum_x)      max(x) -> max(mv.max_x)
  *
  * At 100 TB this is the difference between scanning the fact table and
  * scanning a summary thousands of times smaller; the rewrite is
  * transparent, so dashboards keep issuing the base-table query and the
  * optimizer serves whichever MVs are registered. The rewrite is purely
  * logical and exact — no approximation — which the
  * `k22_mv_rewrite` DuckDB oracle certifies: the oracle aggregates the
  * BASE table while Spark's plan (plan-asserted in the spec) only ever
  * scans the MV, and the hashes must still match.
  *
  * Matching is deliberately conservative — a rewrite that fires wrongly
  * is a correctness bug, one that fails to fire is only a missed
  * optimization. The rule fires ONLY when:
  *   - the plan is Aggregate over [Project of plain attributes over]
  *     the LogicalRelation whose root path equals the registered base
  *     (no Filter in between: a residual predicate over non-group
  *     columns is not answerable from the summary);
  *   - every grouping expression is a bare attribute within the MV's
  *     grouping set;
  *   - every aggregate is count(literal) / sum / min / max, non-
  *     DISTINCT and unfiltered, over a bare attribute (or the exact
  *     Cast registered for it — sums routed through DECIMAL register
  *     the cast so a query casting differently is NOT rewritten).
  * Output attribute ids, names, and types are preserved (re-summing a
  * decimal widens precision, so the result re-casts to the original
  * type), making the rewrite invisible to the parent plan.
  */
case class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import MvRewriteRule._

  private def enabled: Boolean =
    spark.conf.getOption(enabledKey).contains("true")

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled || catalog.isEmpty) plan
    else plan.transformUp {
      case agg @ Aggregate(_, _, child, _) =>
        baseScan(child).flatMap { path =>
          catalog.get(path).flatMap(mv => rewrite(agg, mv))
        }.getOrElse(agg)
    }

  /** The registered-base root path under Aggregate's child, if the
    * child is exactly a scan (possibly behind an attribute-only
    * Project). */
  private def baseScan(p: LogicalPlan): Option[String] = p match {
    case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
      baseScan(child)
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.headOption.map(_.toUri.getPath)
        case _ => None
      }
    case _ => None
  }

  private def rewrite(agg: Aggregate, mv: MvDef): Option[LogicalPlan] = {
    // Fresh scan of the MV (fresh exprIds every firing, so repeated
    // rewrites in one session can't collide).
    val mvPlan = Tables.parquet(spark, mv.mvPath).queryExecution.analyzed
    def mvAttr(name: String): Option[Attribute] = mvPlan.output.find(_.name == name)

    val groupOk = agg.groupingExpressions.forall {
      case a: AttributeReference => mv.groupCols.contains(a.name)
      case _ => false
    }
    if (!groupOk) return None

    // (base column, cast applied in the query) for a re-aggregable arg
    def argOf(e: Expression): Option[(String, Option[DataType])] = e match {
      case a: AttributeReference => Some((a.name, None))
      case Cast(a: AttributeReference, dt, _, _) => Some((a.name, Some(dt)))
      case _ => None
    }

    def lookup(fn: String, e: Expression): Option[Attribute] =
      argOf(e).flatMap { case (base, cast) =>
        mv.aggs.find(m => m.fn == fn && m.baseCol == base && m.cast == cast)
      }.flatMap(m => mvAttr(m.mvCol))

    // Rewrite one aggregate call; None kills the whole rewrite.
    def reAgg(fn: AggregateFunction): Option[AggregateFunction] = fn match {
      case c: Count if c.children.forall(_.isInstanceOf[Literal]) =>
        mv.cnt.flatMap(mvAttr).map(new Sum(_))
      case s: Sum => lookup("sum", s.child).map(new Sum(_))
      case m: Min => lookup("min", m.child).map(Min(_))
      case m: Max => lookup("max", m.child).map(Max(_))
      case _ => None
    }

    // Rebuild one aggregate expression, preserving the original result
    // type exactly (re-summing widens decimal precision, so the rewrite
    // re-casts back) — the parent plan must not observe the swap.
    def reExpr(ae: AggregateExpression): Option[Expression] = ae match {
      case AggregateExpression(fn, Complete, false, None, _) =>
        reAgg(fn).map { nf =>
          val ne = AggregateExpression(nf, Complete, isDistinct = false, filter = None)
          if (ne.dataType == ae.dataType) ne else Cast(ne, ae.dataType)
        }
      case _ => None
    }

    val results: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference if mv.groupCols.contains(a.name) =>
        mvAttr(a.name).map(g => Alias(g, a.name)(exprId = a.exprId))
      case al @ Alias(ae: AggregateExpression, name) =>
        reExpr(ae).map(e => Alias(e, name)(exprId = al.exprId))
      // the house parity style wraps exact-decimal sums in an outer
      // cast-to-double: rewrite inside it, keep the cast
      case al @ Alias(c @ Cast(ae: AggregateExpression, _, _, _), name) =>
        reExpr(ae).map(e => Alias(c.copy(child = e), name)(exprId = al.exprId))
      case _ => None
    }
    if (results.exists(_.isEmpty)) return None

    val newGroups = agg.groupingExpressions.map {
      case a: AttributeReference => mvAttr(a.name).get
    }
    Some(Aggregate(newGroups, results.map(_.get), mvPlan, None))
  }
}

object MvRewriteRule {
  val enabledKey = "spark.graft.mv.enabled"

  /** One re-aggregable column: `fn(cast(baseCol))` in a query answers
    * from `mvCol`. `cast` must match the query's cast EXACTLY (None =
    * bare column). */
  final case class MvAgg(fn: String, baseCol: String, cast: Option[DataType], mvCol: String)

  /** A registered summary table: `mvPath` stores base grouped by
    * `groupCols` with a `cnt` row count and `aggs` partials. */
  final case class MvDef(
      mvPath: String,
      groupCols: Seq[String],
      cnt: Option[String],
      aggs: Seq[MvAgg])

  /** base-table root path (URI path part) -> its MV. Driver-side state,
    * exactly like a warehouse catalog's MV registry. */
  private val catalog = TrieMap.empty[String, MvDef]

  def register(basePath: String, mv: MvDef): Unit =
    catalog.put(new Path(basePath).toUri.getPath, mv)

  def unregister(basePath: String): Unit =
    catalog.remove(new Path(basePath).toUri.getPath)

  /** Turn the rewrite on for a live session (extraOptimizations path —
    * [[GraftExtensions]] covers `spark.sql.extensions` injection). */
  def enable(spark: SparkSession): Unit = {
    spark.conf.set(enabledKey, "true")
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[MvRewriteRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewriteRule(spark)
  }

  def disable(spark: SparkSession): Unit = spark.conf.unset(enabledKey)
}
