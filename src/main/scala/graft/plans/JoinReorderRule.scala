package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

import graft.operators.StatsStore

/** Optimizer rule: REORDER a ≥3-relation inner equi-join chain from
  * [[graft.operators.StatsStore]] estimates — the planning loop k49
  * runs by hand ([[graft.operators.JoinAdvisor.planLeftDeep]]), applied
  * to a USER plan the way `RangeJoinRule` applies the k-binning rewrite:
  * the user writes the join in whatever order reads naturally, and the
  * rule re-lands it left-deep in the greedy Selinger-lite order (seed
  * with the globally cheapest edge by |A|·|B| / max(ndv_A, ndv_B), then
  * extend the prefix with the cheapest connected edge, NDV containment-
  * capped by the running cardinality). At 100 TB the first join of a
  * chain decides the largest intermediate of the query; Spark's own
  * CBO needs ANALYZE-collected catalog stats that freshly-landed
  * parquet never has, while this rule reads the incrementally-
  * maintained stats rows (driver-sized: k rows + 256-slot registers
  * per tracked column, no data-table I/O at plan time).
  *
  * Scope guards (all must hold, else the plan is left untouched):
  *   - the chain flattens to ≥3 base relations through INNER,
  *     hint-free joins (and attribute-only Projects, which column
  *     pruning inserts between joins — re-pruned after the rewrite);
  *   - every join conjunct is `EqualTo` between attributes of two
  *     DIFFERENT bases (any residual/non-equi conjunct → skip);
  *   - every base's join attributes resolve to exactly ONE configured
  *     stats rel (matched by tracked-column NAME, injectively);
  *   - the edge graph connects all bases (else a rebuild would need a
  *     cross join — refuse, don't guess).
  *
  * Fixpoint safety: the greedy order is deterministic (md5-derived
  * max-merged registers; ties break on base position), and a chain
  * already in that order is returned UNCHANGED (reference-equal), so
  * the optimizer batch converges — the rule's own output re-flattens
  * to its chosen order and no-ops on the next pass.
  *
  * Semantics: inner-join reorder is result-identical; the rebuilt tree
  * is wrapped in a Project of the original output so column order is
  * preserved bit-for-bit. Like every CBO decision this is a RANKING,
  * not a cardinality promise — the k55 gate reports the naive and the
  * rewritten first-join ACTUAL rows side by side from executed-plan
  * metrics.
  *
  * The switches are conf keys: `spark.graft.joinReorder.rels` =
  * `"name=statsPath;name2=statsPath2;…"` (rendered by
  * [[JoinReorderRule.relsValue]]); unset disables the rule. The rule is
  * in every graft session ([[GraftExtensions]]).
  * `spark.graft.joinReorder.maxBroadcastRows` additionally BROADCAST-
  * hints base rels whose exact stats row count fits the budget (never
  * an intermediate — those have only estimates).
  * Stats are read through a per-path memo (the optimizer may visit a
  * plan many times per query): changing a plain stats store
  * mid-session needs [[JoinReorderRule.refresh]].
  */
case class JoinReorderRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import JoinReorderRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val conf = spark.conf.getOption(relsKey).map(_.trim).filter(_.nonEmpty)
    if (conf.isEmpty || !plan.resolved || loading.get()) plan
    else {
      val stats = loadStats(conf.get)
      plan.transformUp {
        case j @ Join(_, _, Inner, Some(_), _) =>
          rewrite(j, stats).getOrElse(j)
      }
    }
  }

  /** Stats per configured rel, memoized per (statsPath, VERSION) — NOT
    * per conf tuple, so a commit that bumps one relation refolds only
    * that relation (round-13 wave 2: the conf-tuple key refolded every
    * rel on every version bump, and each refold ran one collect per
    * rows-sum plus one per NDV column — k59 paid ~36 tiny jobs per run
    * here). A path may be a plain [[StatsStore]] parquet dir OR a
    * [[graft.operators.VersionedStats]] table — the versioned form is
    * what makes the rule's stats LIVE: a transactional stats commit
    * bumps the table version, which changes the memo key, so the very
    * next query plans against the new cardinalities with no refresh
    * (the k59 gate's flip). Each fold is ONE collect of the k stats
    * rows ([[StatsStore.summary]], driver-sized by design). The loads
    * themselves compile queries — the ThreadLocal re-entrancy latch
    * keeps this rule out of its own stats plans. */
  private def loadStats(conf: String): Seq[RelStats] = {
    loading.set(true)
    try {
      parseRels(conf).map { case (name, path) =>
        val v = graft.operators.Versioned.latestVersion(spark, path)
        val (rows, ndv) = statsCache.synchronized {
          // a long-lived session committing versioned stats mints a new
          // key per commit — bound the memo (driver heap) instead of
          // growing with txn history; a clear only costs k-row refolds
          if (statsCache.size > 64 && !statsCache.contains((path, v)))
            statsCache.clear()
          statsCache.getOrElseUpdate((path, v), foldStats(path, v))
        }
        require(rows > 0,
          s"stats store at $path (rel '$name') is empty — rebuild it " +
            "(StatsStore.rebuild) before enabling join reorder")
        RelStats(name, rows.toDouble, ndv)
      }
    } finally loading.set(false)
  }

  /** One [[StatsStore.summary]] fold of every tracked column →
    * (total rows, per-column merged NDV). */
  private def foldStats(path: String, v: Long): (Long, Map[String, Double]) = {
    val st =
      if (v > 0) graft.operators.Versioned.readAsOf(spark, path)
      else StatsStore.read(spark, path)
    val tracked = st.schema.fieldNames.collect {
      case f if f.startsWith("ndv_regs_") => f.stripPrefix("ndv_regs_")
    }.toSeq
    val s = StatsStore.summary(st, tracked)
    (s.rows.getOrElse(0L), s.ndv.map { case (c, n) => c -> n.est })
  }

  /** Flatten an inner hint-free join chain, looking through the
    * attribute-only Projects column pruning inserts between joins.
    * Returns (base plans in current left-to-right order, conjuncts). */
  private def flatten(p: LogicalPlan): (Seq[LogicalPlan], Seq[Expression]) = p match {
    case Join(l, r, Inner, cond, hint) if hint == JoinHint.NONE =>
      val (lb, lc) = flatten(l); val (rb, rc) = flatten(r)
      (lb ++ rb, lc ++ rc ++ cond.toSeq.flatMap(splitConjuncts))
    case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) &&
        child.isInstanceOf[Join] =>
      flatten(child)
    case other => (Seq(other), Nil)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  private def rewrite(j: Join, stats: Seq[RelStats]): Option[LogicalPlan] = {
    val (bases, conjuncts) = flatten(j)
    if (bases.size < 3 || conjuncts.isEmpty) return None

    // every conjunct must be attr = attr across two DIFFERENT bases
    def baseOf(a: Attribute): Option[Int] =
      bases.indices.find(i => bases(i).outputSet.contains(a))
    val edges: Seq[EdgeIdx] = conjuncts.map {
      case eq @ EqualTo(a: AttributeReference, b: AttributeReference) =>
        (baseOf(a), baseOf(b)) match {
          case (Some(i), Some(k)) if i != k => EdgeIdx(i, a.name, k, b.name, eq)
          case _ => return None
        }
      case _ => return None
    }

    // injective base → stats-rel match by join-attribute NAME, resolved
    // by elimination: a rel tracking a SUPERSET of another's columns is
    // compatible with both bases, but once the wider base claims it the
    // narrower base has one candidate left. Stuck (no forced move) or
    // starved (no candidate) → skip: never guess which table is which.
    val joinColsOf: Map[Int, Set[String]] = edges
      .flatMap(e => Seq(e.li -> e.lcol, e.ri -> e.rcol))
      .groupBy(_._1).map { case (i, xs) => i -> xs.map(_._2).toSet }
    if (joinColsOf.size != bases.size) return None // a base with no edge
    var avail = stats
    var assign = Map.empty[Int, RelStats]
    var pending = joinColsOf.keySet.toSeq.sorted
    var progress = true
    while (pending.nonEmpty && progress) {
      progress = false
      val forced = pending.flatMap { i =>
        avail.filter(r => joinColsOf(i).subsetOf(r.ndv.keySet)) match {
          case Seq() => return None // starved — no rel tracks these cols
          case Seq(one) => Some(i -> one)
          case _ => None
        }
      }
      // claim forced moves one at a time: two bases forced onto the SAME
      // rel in one sweep is a conflict the next sweep must re-derive
      forced.headOption.foreach { case (i, r) =>
        assign += i -> r
        avail = avail.filterNot(_ eq r)
        pending = pending.filterNot(_ == i)
        progress = true
      }
    }
    if (pending.nonEmpty) return None // ambiguous — refuse to guess
    val matched = assign

    // greedy left-deep: seed with the globally cheapest edge, extend
    // with the cheapest connected edge; NDV containment-capped by the
    // running cardinality (JoinAdvisor.planLeftDeep's arithmetic)
    def rows(i: Int): Double = matched(i).rows
    def ndv(i: Int, c: String): Double = matched(i).ndv(c)
    def est(inRows: Double, inNdv: Double, out: Int, outCol: String): Double = {
      val m = math.max(inNdv, ndv(out, outCol))
      if (m <= 0.0) 0.0 else inRows * rows(out) / m
    }
    val (firstEst, firstEdge) = edges.map { e =>
      (est(rows(e.li), ndv(e.li, e.lcol), e.ri, e.rcol), e)
    }.minBy { case (v, e) => (v, e.li, e.ri) }
    var order = Vector(firstEdge.li, firstEdge.ri)
    var inSet = order.toSet
    var curRows = firstEst
    var remaining = edges.filterNot(_ eq firstEdge)
    while (remaining.exists(e => inSet(e.li) ^ inSet(e.ri))) {
      val (v, e) = remaining.filter(e => inSet(e.li) ^ inSet(e.ri)).map { e =>
        val (inI, inC, outI, outC) =
          if (inSet(e.li)) (e.li, e.lcol, e.ri, e.rcol)
          else (e.ri, e.rcol, e.li, e.lcol)
        (est(curRows, math.min(ndv(inI, inC), curRows), outI, outC), e)
      }.minBy { case (v, e) => (v, e.li, e.ri) }
      val added = if (inSet(e.li)) e.ri else e.li
      order :+= added
      inSet += added
      curRows = v
      remaining = remaining.filterNot(_ eq e)
    }
    if (inSet.size != bases.size) return None // disconnected graph

    // already in the chosen order → reference-equal no-op (fixpoint)
    if (order == bases.indices.toVector) return None

    // rebuild left-deep; each conjunct lands at the step where its
    // LATER endpoint enters the prefix (cycle edges included, so no
    // residual Filter and no condition is dropped). Intermediates are
    // re-pruned HERE: when this rule runs in the late user-rule batch,
    // ColumnPruning never sees its output, and an unpruned column in a
    // reordered intermediate is an extra column in every exchange above.
    val pos = order.zipWithIndex.toMap
    def stepOf(e: EdgeIdx): Int = math.max(pos(e.li), pos(e.ri))
    val outSet = AttributeSet(j.output)
    // stats-driven PHYSICAL hint (k50's refusal discipline, in-plan):
    // a base whose EXACT stats row count fits the configured budget is
    // hinted BROADCAST — at scale autoBroadcastJoinThreshold is
    // routinely disabled or blind to freshly-landed tables, and the
    // alternative is shuffling a dim table through the largest exchange
    // of the plan. Only BASE relations are ever hinted (exact counts);
    // the left-deep intermediate has only an ESTIMATE, and broadcasting
    // a misestimated intermediate OOMs every executor — refuse.
    val bcastBudget: Option[Long] =
      spark.conf.getOption(broadcastKey).flatMap(v =>
        scala.util.Try(v.toLong).toOption).filter(_ > 0)
    def hintFor(baseIdx: Int): Option[HintInfo] =
      bcastBudget.filter(matched(baseIdx).rows <= _)
        .map(_ => HintInfo(strategy = Some(BROADCAST)))
    var cur: LogicalPlan = bases(order(0))
    (1 until order.size).foreach { k =>
      val conds = edges.filter(stepOf(_) == k).map(_.expr)
      // connectivity guarantees the edge that pulled order(k) in lands here
      val hint = JoinHint(
        leftHint = if (k == 1) hintFor(order(0)) else None,
        rightHint = hintFor(order(k)))
      var joined: LogicalPlan = Join(cur, bases(order(k)), Inner,
        Some(conds.reduce(And)), hint)
      if (k < order.size - 1) {
        val needed = outSet ++
          AttributeSet(edges.filter(stepOf(_) > k).flatMap(_.expr.references))
        val kept = joined.output.filter(needed.contains)
        if (kept.size < joined.output.size)
          joined = Project(kept.map(a => a: NamedExpression), joined)
      }
      cur = joined
    }
    Some(Project(j.output.map(a => a: NamedExpression), cur))
  }
}

object JoinReorderRule {
  val relsKey = "spark.graft.joinReorder.rels"

  /** Optional row budget: base rels whose exact stats row count fits
    * are BROADCAST-hinted during the rewrite (k50's refusal: anything
    * over the budget — or any intermediate, which has only an
    * estimate — is never hinted). Unset = no hints. */
  val broadcastKey = "spark.graft.joinReorder.maxBroadcastRows"

  private[plans] final case class RelStats(
      name: String, rows: Double, ndv: Map[String, Double])

  /** One equi-join edge between base-plan indices, keeping the original
    * conjunct expression for the rebuild. */
  private[plans] final case class EdgeIdx(
      li: Int, lcol: String, ri: Int, rcol: String, expr: Expression)

  /** Loading stats compiles queries — keep this rule out of them. */
  private val loading = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Memoized per-relation stats keyed by (statsPath, version) — see
    * loadStats. */
  private val statsCache =
    scala.collection.mutable.Map.empty[(String, Long), (Long, Map[String, Double])]

  private[plans] def parseRels(conf: String): Seq[(String, String)] =
    conf.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0 && i < kv.length - 1,
        s"$relsKey entry '$kv' is not name=statsPath")
      (kv.substring(0, i).trim, kv.substring(i + 1).trim)
    }

  /** The [[relsKey]] value for rels as (name → statsPath). */
  def relsValue(rels: Seq[(String, String)]): String =
    rels.map { case (n, p) => s"$n=$p" }.mkString(";")

  /** Drop memoized stats (e.g. after a StatsStore rebuild mid-session). */
  def refresh(): Unit = statsCache.synchronized(statsCache.clear())
}
