package graft.operators

import org.apache.spark.sql.SparkSession

/** Stats-driven JOIN-ORDER advisor — the planning consumer that closes
  * the [[StatsStore]] loop: reads NOTHING but stats rows (per-partition
  * row counts + mergeable HLL NDV registers) and ranks the candidate
  * first joins of a join chain by the textbook output estimate
  * |A ⋈ B| ≈ |A|·|B| / max(ndv_A, ndv_B), greedily extending left-deep.
  * The estimate every CBO starts from (Selinger '79), fed here by
  * incrementally-maintained stats instead of a planning-time ANALYZE
  * scan — at 100 TB the advisor's cost is a k-row fold of each stats
  * table, while the decision it informs (which join runs first, what
  * gets broadcast) moves hours.
  *
  * Determinism: the register arrays are md5-derived and max-merged, so
  * estimates — and therefore the chosen order — are bit-reproducible
  * across engines (the k46 gate hash-proves the ranking against a SQL
  * recomputation of the same registers). Downstream-join estimates use
  * the standard containment assumption (the intermediate inherits the
  * base table's key NDV); like every CBO estimate they are a RANKING
  * signal, not a cardinality promise — the gate reports estimated and
  * ACTUAL rows side by side.
  */
object JoinAdvisor {

  /** One relation in the chain: its stats store and the join keys it
    * exposes (column name in the stats rows). */
  final case class Rel(name: String, statsPath: String)

  /** A candidate first join: left rel/key vs right rel/key. */
  final case class Candidate(label: String,
      left: Rel, leftKey: String, right: Rel, rightKey: String)

  /** Total row count plus one [[StatsStore.summary]] fold of the
    * register columns `r` tracks among `cols`, GUARDED: an empty stats
    * table sums `rows` to nothing, and advice computed off a bare
    * NPE-or-zero is worse than no advice — require a positive count
    * with the stats path named, so "rebuild the stats" is the error
    * message, not a stack trace. */
  private def guardedFold(
      spark: SparkSession, r: Rel, cols: Seq[String]): (Long, StatsStore.Summary) = {
    val st = StatsStore.read(spark, r.statsPath)
    val s = StatsStore.summary(st, cols.filter(c => st.columns.contains(s"ndv_regs_$c")))
    require(s.rows.isDefined,
      s"stats store at ${r.statsPath} (rel '${r.name}') is empty — " +
        "rebuild it (StatsStore.rebuild) before asking for join advice")
    val n = s.rows.get
    require(n > 0,
      s"stats store at ${r.statsPath} (rel '${r.name}') reports $n total " +
        "rows — join advice needs a positive row count; rebuild the stats")
    (n, s)
  }

  /** Rank candidates by estimated output rows, ascending — the advisor
    * picks `ranked.head`. Driver-sized: two stats folds (one collect
    * of k stats rows each) per candidate, no data-table I/O. Returns
    * (label, estRows) pairs sorted by (estRows, label) so ties break
    * deterministically. */
  def rank(spark: SparkSession, cands: Seq[Candidate]): Seq[(String, Double)] = {
    def fold(r: Rel, c: String) = StatsStore.summary(StatsStore.read(spark, r.statsPath), Seq(c))
    cands.map { c =>
      c.label -> StatsStore.estimateJoinRows(
        c.left.statsPath, fold(c.left, c.leftKey), c.leftKey,
        c.right.statsPath, fold(c.right, c.rightKey), c.rightKey)
    }.sortBy { case (l, e) => (e, l) }
  }

  /** PHYSICAL-strategy advice for one equi-join, off stats row counts
    * alone (exact per-partition counts, not HLL — the one stat that is
    * never an estimate): broadcast the smaller side iff its rows fit
    * `maxBroadcastRows`, else shuffle both. Returns ("left"|"right"|
    * "shuffle", leftRows, rightRows). This is the second decision the
    * stats loop informs (k46/k49 pick the ORDER; this picks the
    * STRATEGY) — at 100 TB a dim table broadcast instead of shuffled
    * removes the largest exchange in the plan, and a fact table
    * broadcast by mistake OOMs every executor, so the advisor refuses
    * anything over the threshold no matter how it compares to the other
    * side. Deterministic: exact counts, label-free tie-break (left
    * wins an exact tie — broadcast cost is symmetric there). */
  def broadcastSide(
      spark: SparkSession,
      left: Rel, right: Rel,
      maxBroadcastRows: Long): (String, Long, Long) = {
    val (lr, rr) = (guardedFold(spark, left, Nil)._1, guardedFold(spark, right, Nil)._1)
    val side =
      if (lr <= rr && lr <= maxBroadcastRows) "left"
      else if (rr < lr && rr <= maxBroadcastRows) "right"
      else "shuffle"
    (side, lr, rr)
  }

  /** Apply [[broadcastSide]]'s advice to an actual join: the advised
    * side gets the `broadcast()` hint (Catalyst plans a
    * BroadcastHashJoin regardless of autoBroadcastJoinThreshold, which
    * at scale is routinely disabled or mis-sized for freshly-landed
    * tables that have no file statistics yet); "shuffle" leaves the
    * planner alone. */
  def advisedJoin(
      spark: SparkSession,
      leftDf: org.apache.spark.sql.DataFrame, left: Rel,
      rightDf: org.apache.spark.sql.DataFrame, right: Rel,
      joinExprs: org.apache.spark.sql.Column,
      maxBroadcastRows: Long): (org.apache.spark.sql.DataFrame, String) = {
    import org.apache.spark.sql.functions.broadcast
    val (side, _, _) = broadcastSide(spark, left, right, maxBroadcastRows)
    val joined = side match {
      case "left" => broadcast(leftDf).join(rightDf, joinExprs)
      case "right" => leftDf.join(broadcast(rightDf), joinExprs)
      case _ => leftDf.join(rightDf, joinExprs)
    }
    (joined, side)
  }

  /** One equi-join edge of a join graph: `left.leftCol = right.rightCol`
    * (rel names, not stats paths — [[planLeftDeep]] resolves stats). */
  final case class Edge(left: String, leftCol: String,
      right: String, rightCol: String) {
    def label: String = s"${left}_join_$right"
    def touches(rel: String): Boolean = rel == left || rel == right
  }

  /** One greedy step: the edge picked, the relation it pulled into the
    * left-deep prefix, and the estimated rows AFTER this join. */
  final case class Step(edge: Edge, added: String, estRows: Double)

  /** GREEDY LEFT-DEEP join-order enumeration over a join graph of ≥2
    * relations — the full Selinger-lite loop [[rank]] only seeds:
    * start from the globally cheapest edge, then repeatedly extend the
    * prefix with the connected edge whose estimated output is smallest,
    * until every relation joined. Estimates read NOTHING but stats
    * stores (row counts + mergeable HLL NDV registers — driver-sized
    * folds, no data-table I/O).
    *
    * NDV PROPAGATION under the containment assumption (System R's):
    * the intermediate inherits each surviving column's BASE-table NDV,
    * capped by the intermediate's own estimated cardinality —
    * ndv_I(c) = min(ndv_base(c), |I|) — so a selective early join
    * correctly shrinks the key domain later joins divide by. Each
    * extension estimates |I ⋈ R| = |I|·|R| / max(ndv_I(key), ndv_R(key)).
    *
    * Determinism: register arrays are md5-derived and max-merged, so
    * estimates — and therefore the chosen order — reproduce
    * bit-for-bit in a SQL recomputation (the k49 gate); ties break by
    * edge label. Like every CBO output this is a RANKING signal, not a
    * cardinality promise — gates report estimated and ACTUAL rows side
    * by side, and the JoinAdvisorSpec measures the intermediate-row
    * delta between the chosen and the naive order on executed plans. */
  def planLeftDeep(
      spark: SparkSession, rels: Seq[Rel], edges: Seq[Edge]): Seq[Step] = {
    require(rels.size >= 2 && edges.nonEmpty, "need a joinable graph")
    val byName = rels.map(r => r.name -> r).toMap
    // one stats fold per rel an edge references, over the columns its
    // edges join on; every row count is checked before any NDV
    val needed: Seq[(String, String)] = edges
      .flatMap(e => Seq(e.left -> e.leftCol, e.right -> e.rightCol)).distinct
    val folds: Map[String, (Long, StatsStore.Summary)] = needed.map(_._1).distinct.map { r =>
      r -> guardedFold(spark, byName(r), needed.collect { case (`r`, c) => c })
    }.toMap
    val rowsOf: Map[String, Double] = folds.map { case (r, (n, _)) => r -> n.toDouble }
    val ndvOf: Map[(String, String), Double] = needed.map { case (r, c) =>
      val est = folds(r)._2.ndv.get(c).map(_.est).getOrElse(0.0)
      require(est > 0.0,
        s"stats store at ${byName(r).statsPath} (rel '$r') has no NDV " +
          s"registers for column '$c' — rebuild the stats tracking it")
      (r, c) -> est
    }.toMap

    def est(insideRows: Double, insideNdv: Double, outside: String, outsideCol: String): Double = {
      val maxNdv = math.max(insideNdv, ndvOf((outside, outsideCol)))
      if (maxNdv <= 0.0) 0.0 else insideRows * rowsOf(outside) / maxNdv
    }
    // seed: the globally cheapest single edge
    val first = edges.map { e =>
      (est(rowsOf(e.left), ndvOf((e.left, e.leftCol)), e.right, e.rightCol), e)
    }.minBy { case (v, e) => (v, e.label) }
    var inSet = Set(first._2.left, first._2.right)
    var curRows = first._1
    val steps = scala.collection.mutable.ArrayBuffer(
      Step(first._2, first._2.right, curRows))
    var remaining = edges.filterNot(_ == first._2)
    // frontier extension; edges whose BOTH endpoints are already in the
    // prefix are cycle edges — residual filter predicates the caller
    // applies after the joins, never a new relation (they are left in
    // `remaining` and simply not steps)
    while (remaining.exists(e => inSet(e.left) ^ inSet(e.right))) {
      val (v, e) = remaining
        .filter(e => inSet(e.left) ^ inSet(e.right))
        .map { e =>
          // orient: the in-prefix side's NDV is containment-capped
          val (inRel, inCol, outRel, outCol) =
            if (inSet(e.left)) (e.left, e.leftCol, e.right, e.rightCol)
            else (e.right, e.rightCol, e.left, e.leftCol)
          val ndvIn = math.min(ndvOf((inRel, inCol)), curRows)
          (est(curRows, ndvIn, outRel, outCol), e)
        }
        .minBy { case (v, e) => (v, e.label) }
      val added = if (inSet(e.left)) e.right else e.left
      inSet += added
      curRows = v
      steps += Step(e, added, v)
      remaining = remaining.filterNot(_ == e)
    }
    // a left-deep plan must COVER the graph: a disconnected input would
    // otherwise return a partial plan the caller silently trusts (the
    // missing relations would need a cross join — refuse, don't guess)
    val uncovered = rels.map(_.name).filterNot(inSet)
    require(uncovered.isEmpty,
      s"join graph is disconnected: no edge reaches ${uncovered.mkString(", ")} " +
        "from the planned prefix — add the join predicate or plan the " +
        "components separately")
    steps.toSeq
  }
}
