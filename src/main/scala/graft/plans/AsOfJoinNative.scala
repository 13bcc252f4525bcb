package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.{col, unix_micros, when}
import org.apache.spark.sql.graftbridge

/** As-of (point-in-time) join: the full custom-operator tier (SURVEY.md
  * §7.4 / extension ladder step (c)) — a LogicalPlan node, a planner
  * Strategy, and a physical BinaryExecNode, injectable via
  * SparkSessionExtensions. graft's only as-of join.
  *
  * Why a physical operator: Spark has no as-of join, and composing one
  * from built-ins means unioning both sides (padding every row with the
  * other side's nulls) and carrying the latest right row forward with a
  * window over the union. This operator instead hash-partitions each
  * side by its own key, sorts by (key, ts), and does ONE streaming merge
  * pass per partition: for every left row, the most recent right row
  * with rightTs <= leftTs (inclusive ties, same rule as DuckDB ASOF), or
  * with `forward` the earliest with rightTs >= leftTs. The whole matched
  * right row is emitted, so a NULL field of it stays NULL. Like DuckDB,
  * a NULL key or timestamp never matches: such right rows are skipped
  * and such left rows get a NULL right side.
  *
  * The planner contract does the heavy lifting: requiredChildDistribution
  * + requiredChildOrdering make EnsureRequirements insert exactly the
  * exchanges/sorts needed (and skip them when the children are already
  * bucketed/sorted — free co-located as-of joins on bucketed tables).
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression,
    forward: Boolean = false) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lts, rts, fwd) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, fwd) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression,
    forward: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(Seq(leftKey)),
    ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val lKeyTs = Seq(leftKey, leftTs)
    val rKeyTs = Seq(rightKey, rightTs)
    val keyType = leftKey.dataType
    val tsType = leftTs.dataType
    val lOut = left.output
    val rOut = right.output
    val keyOrdering = TypeUtils.getInterpretedOrdering(keyType)
    val tsOrdering = TypeUtils.getInterpretedOrdering(tsType)

    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lProj = UnsafeProjection.create(lKeyTs, lOut)
      val rProj = UnsafeProjection.create(rKeyTs, rOut)
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow
      // Bind right attributes nullable: unmatched left rows project
      // nullRight, and without the null checks non-nullable right columns
      // would surface as 0/false instead of NULL. BindReferences takes
      // nullability from the INPUT schema attribute, so the input side
      // must be marked nullable too.
      val rOutNullable = rOut.map(_.withNullability(true))
      val output = UnsafeProjection.create(
        lOut ++ rOutNullable, lOut ++ rOutNullable)

      new Iterator[InternalRow] {
        private var rHead: InternalRow = _          // next unconsumed right row
        private var rHeadKey: Any = _
        private var rHeadTs: Any = _
        private var matched: InternalRow = _        // last right row taken for current key
        private var matchedKey: Any = _

        // Right rows with a NULL key or ts can never match, so they are
        // skipped here (the orderings would read a NULL long as 0 and
        // throw on a NULL string).
        private def advanceRight(): Unit = {
          rHead = null
          while (rHead == null && rIt.hasNext) {
            val r = rIt.next()
            val kt = rProj(r)
            if (!kt.anyNull) {
              rHead = r.copy()
              // UnsafeProjection reuses its buffer: for non-primitive key
              // types .get() returns a view into it, which the next
              // advanceRight() overwrites — copy the values out so
              // matchedKey stays valid across iterations.
              rHeadKey = InternalRow.copyValue(kt.get(0, keyType))
              rHeadTs = InternalRow.copyValue(kt.get(1, tsType))
            }
          }
        }

        advanceRight()

        override def hasNext: Boolean = lIt.hasNext

        override def next(): InternalRow = {
          val l = lIt.next()
          val kt = lProj(l)
          val k = kt.get(0, keyType)
          val t = kt.get(1, tsType)
          val rightSide =
            if (kt.anyNull) nullRight
            else if (forward) {
              // FORWARD direction: earliest right with rts >= lts.
              // Consume right rows strictly behind the current left
              // (rkey < k, or rkey == k && rts < t) — left ts ascends, so
              // a discarded row can never match a later left row; the
              // surviving head is shared by every left row it covers
              // (NOT consumed on match — the same future right row is the
              // answer for every earlier left in its gap).
              var continue = rHead != null
              while (continue) {
                val c = keyOrdering.asInstanceOf[Ordering[Any]].compare(rHeadKey, k)
                if (c < 0 || (c == 0 &&
                    tsOrdering.asInstanceOf[Ordering[Any]].compare(rHeadTs, t) < 0)) {
                  advanceRight(); continue = rHead != null
                } else continue = false
              }
              if (rHead != null && keyOrdering.asInstanceOf[Ordering[Any]]
                .compare(rHeadKey, k) == 0) rHead
              else nullRight
            } else {
              // BACKWARD (default): consume right rows with (rkey < k) or
              // (rkey == k && rts <= t); the last one with rkey == k
              // becomes the match
              var continue = rHead != null
              while (continue) {
                val c = keyOrdering.asInstanceOf[Ordering[Any]].compare(rHeadKey, k)
                if (c < 0) {
                  advanceRight(); continue = rHead != null
                } else if (c == 0 &&
                    tsOrdering.asInstanceOf[Ordering[Any]].compare(rHeadTs, t) <= 0) {
                  matched = rHead; matchedKey = rHeadKey
                  advanceRight(); continue = rHead != null
                } else continue = false
              }
              if (matched != null && keyOrdering.asInstanceOf[Ordering[Any]]
                .compare(matchedKey, k) == 0) matched
              else nullRight
            }
          output(joined(l, rightSide))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing API + extension registration. */
object AsOfJoinNative {

  /** Install the planner strategy (idempotent). Alternatively register
    * [[GraftExtensions]] via `spark.sql.extensions` at session build. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy

  /** As-of join: for every left row, the latest right row with the same
    * key and rightTs <= leftTs (inclusive ties, left-preserving). With
    * `forward = true` the direction flips: EARLIEST right with rightTs >=
    * leftTs (DuckDB's `l.ts <= r.ts` ASOF shape) — the "next event after"
    * point-in-time lookup. Right's key/ts columns are kept in the output. */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      forward: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    install(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def resolve(plan: LogicalPlan, name: String): Expression =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    graftbridge.datasetOf(spark, AsOfJoinPlan(
      lPlan, rPlan,
      resolve(lPlan, leftKey), resolve(rPlan, rightKey),
      resolve(lPlan, leftTs), resolve(rPlan, rightTs), forward))
  }

  /** [[asofJoin]] with a MATCH TOLERANCE: the latest right row at most
    * `toleranceSeconds` old still matches; anything staler is treated as
    * no match — the market-data/feature-freshness rule ("use the last
    * quote, unless it's gone stale"). One projection over the join nulls
    * every right column (key and ts included) of a stale or missing
    * match: no second join, no extra shuffle. Selects by name, so right
    * column names must differ from left's. */
  def asofJoinTolerance(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      toleranceSeconds: Long): DataFrame = {
    val fresh =
      unix_micros(col(leftTs)) - unix_micros(col(rightTs)) <= toleranceSeconds * 1000000L
    asofJoin(left, right, leftKey, rightKey, leftTs, rightTs)
      .select(left.columns.map(col) ++ right.columns.map(c => when(fresh, col(c)).as(c)): _*)
  }
}

/** `spark.sql.extensions`-compatible registration. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectOptimizerRule(session => RangeJoinRule(session))
    e.injectOptimizerRule(session => JoinReorderRule(session))
    e.injectOptimizerRule(session => MvRewriteRule(session))
    e.injectOptimizerRule(session => AsOfJoinRule(session))
    AsOfSqlSurface.functions.foreach(e.injectFunction)
  }
}
