package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import graft.plans.AsOfJoinExec

/** Physical-plan regression guards: the perf-critical plan properties
  * (pushdown, pruning, broadcast strategy, partial aggregation) are
  * asserted so a refactor can't silently regress them. Plans are
  * inspected pre-execution with AQE's initial plan formatting.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(FormattedMode)

  test("a12: filters and projection reach the parquet scan") {
    val p = planOf("a12_scan_filter_project")
    assert(p.contains("PushedFilters"), "no pushed filters section")
    assert(p.contains("GreaterThan(l_quantity,45.0)"), s"quantity bound not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,"), "shipdate lower bound not pushed")
    // pruned read schema: only the 4 selected columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_returnflag"),
      s"column pruning failed: $readSchema")
  }

  test("a1: aggregate is partial+final (map-side combine before the exchange)") {
    val p = planOf("a1_pricing_summary")
    val aggCount = "HashAggregate".r.findAllIn(p).size
    assert(aggCount >= 2, s"expected partial+final HashAggregate, got $aggCount:\n$p")
    assert(p.contains("Exchange"), "no shuffle exchange for groupBy")
  }

  test("a3: all dimension joins broadcast, no nested-loop join") {
    val p = planOf("a3_nation_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "nation/region dims must broadcast")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "unexpected nested-loop/cartesian join")
  }

  test("j3: left lookup join broadcasts the dimension side") {
    val p = planOf("j3_lookup")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"expected broadcast left-outer lookup:\n$p")
  }

  test("a6/a7: semi and anti joins stay join-shaped (no aggregate rewrite)") {
    assert(planOf("a6_semi_join").contains("LeftSemi"))
    assert(planOf("a7_anti_join").contains("LeftAnti"))
  }

  test("events scan prunes columns for p2 projection") {
    val p = planOf("p2_time_window")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props"), s"props should be pruned: $readSchema")
  }

  test("q6: every predicate reaches the parquet scan (the pure-pushdown query)") {
    val p = planOf("q6_forecast_revenue")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,"), "shipdate lower bound not pushed")
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"), s"discount bound not pushed:\n$p")
    assert(p.contains("LessThan(l_quantity,24"), "quantity bound not pushed")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_orderkey"),
      s"column pruning failed: $readSchema")
  }

  test("signature kernels run inside whole-stage codegen, no explode stage") {
    val d4 = planOf("d4_simhash")
    assert(d4.contains("simhash32"), s"native kernel missing from d4 plan:\n$d4")
    assert(!d4.contains("Generate"), "d4 must not explode tokens")
    assert(!d4.contains("Exchange"), "d4 signature computation must not shuffle")
    assert(d4.contains("[codegen id :"), "d4 must be inside whole-stage codegen")
    val d3 = planOf("d3_minhash_lsh")
    assert(d3.contains("minhash16"), s"native kernel missing from d3 plan:\n$d3")
  }

  test("v2 ANN: bucket join broadcasts the query side; buckets via native kernel") {
    val p = planOf("v2_ann_lsh")
    assert(p.contains("array_lsh_buckets"), s"native bucket kernel missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), "query side of the bucket join must broadcast")
  }

  test("registry-wide: no query plans a logical scale-killer (PlanLint fatal)") {
    // Dogfoods the user-facing linter: the same rules a library user
    // runs via PlanLint.assertScales sweep every registered query's
    // optimized logical plan (partition-less windows and friends).
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
      val fatals = graft.plans.PlanLint.lintLogical(plan).filter(_.severity == "fatal")
      if (fatals.nonEmpty) Some(s"$name -> ${fatals.mkString("; ")}") else None
    }
    assert(offenders.isEmpty,
      s"logical scale-killers in: ${offenders.mkString(", ")}")
  }

  test("q15: global max is a scalar aggregate broadcast back, not a window") {
    val p = planOf("q15_top_supplier")
    assert(!p.contains("Window"), s"q15 must not use a window for the global max:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"scalar max + supplier dim must both broadcast:\n$p")
  }

  test("q18: lineitem pre-aggregates below the joins (no aggregate above a join)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val plan = SparkEntry.queries("q18_large_volume")(spark, sfDir)
      .queryExecution.optimizedPlan
    val aggAboveJoin = plan.collect {
      case a: Aggregate if a.find(_.isInstanceOf[Join]).isDefined => a
    }
    assert(aggAboveJoin.isEmpty,
      s"q18 aggregate must sit below the joins, not above the join product:\n$plan")
  }

  test("d5: the eval-set shingle universe broadcasts; corpus side never shuffles for it") {
    val p = planOf("d5_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingles must broadcast for the contamination probe:\n$p")
    assert(p.contains("xxhash64"), "shingles must be hashed to 8-byte keys before the join")
  }

  test("v5 IVF: centroid set and probe set broadcast; assignment is one linear pass") {
    val p = planOf("v5_ann_ivf")
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(p).nonEmpty ||
      p.contains("BroadcastExchange"),
      s"centroids must broadcast for the assignment pass:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"assignment must broadcast, not shuffle a cartesian:\n$p")
  }

  test("q17: part filter semi-restricts lineitem; aggregates are partial+final") {
    val p = planOf("q17_small_quantity")
    assert(p.contains("LeftSemi"), s"lineitem must be semi-restricted by the part filter:\n$p")
    assert(p.contains("BroadcastHashJoin"), "the filtered part side must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "per-part agg must map-side combine")
  }

  test("t8 packing: one shuffle (the stratum window), nothing else moves") {
    val p = planOf("t8_pack_sequences")
    assert(p.contains("Window"), s"packing is a window cumsum:\n$p")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size === 1,
      s"only the (lang, shard) stratum shuffle is allowed:\n$p")
  }

  test("t9/t12: n-gram aggregation combines map-side; t9 top-k avoids a global sort") {
    val t9 = planOf("t9_ngram_counts")
    assert("HashAggregate".r.findAllIn(t9).size >= 2, "bigram counts must partial-agg")
    assert(t9.contains("TakeOrderedAndProject"),
      s"global top-k must be TakeOrdered, not sort-the-world:\n$t9")
    val t12 = planOf("t12_repetition")
    assert("HashAggregate".r.findAllIn(t12).size >= 2, "per-doc stats must partial-agg")
  }

  test("q5/q9: dimension joins broadcast in the multi-join TPC-H shapes") {
    Seq("q5_local_supplier", "q9_profit").foreach { q =>
      val p = planOf(q)
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, s"$q dims must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("q10: revenue pre-aggregates by key below the customer join (no strings in the agg)") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val plan = SparkEntry.queries("q10_returned_items")(spark, sfDir)
      .queryExecution.optimizedPlan
    val aggsWithCustomerAttrs = plan.collect {
      case a: Aggregate if a.references.exists(r =>
        Set("c_name", "c_acctbal", "n_name").contains(r.name)) => a
    }
    assert(aggsWithCustomerAttrs.isEmpty,
      s"q10 must aggregate on the key alone, attaching customer attrs after:\n$plan")
  }

  test("c1/d7: k-means centroids broadcast every round; in-cell self-join is a hash join") {
    Seq("c1_kmeans", "d7_semantic_dedup").foreach { q =>
      val p = planOf(q)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"$q centroid set must broadcast for the assignment pass:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q assignment must broadcast the k-row side, never shuffle a cartesian:\n$p")
    }
    // the SemDeDup pairwise stage must join on cell, not window/sort globally
    val d7 = planOf("d7_semantic_dedup")
    assert(!d7.contains("GlobalLimit"), "d7 must not rank globally")
  }

  test("t16/a20: data-driven quotas and histogram bounds are scalar broadcasts") {
    Seq("t16_temperature_mix", "a20_histogram").foreach { q =>
      val p = planOf(q)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastExchange"),
        s"$q scalar aggregate must broadcast back onto the scan:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("k8: both increments partial-aggregate before their single shuffle; merge adds one more") {
    val p = planOf("k8_incr_agg")
    // 2 increments × (partial+final) + merge (partial+final) = ≥6 HashAggregates
    assert("HashAggregate".r.findAllIn(p).size >= 6,
      s"k8 partials must map-side combine at every level:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("j4: the range join is a hash equi-join on the bin grid, never a nested loop") {
    val p = planOf("j4_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the binned rewrite must remove the nested-loop range join:\n$p")
    assert(p.contains("Join") || p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"j4 must still be a join:\n$p")
  }

  test("q2: the pair distinct is semi-restricted by the filtered part set") {
    val p = planOf("q2_best_supplier")
    assert(p.contains("LeftSemi"),
      s"q2's distinct must only shuffle small-part pairs:\n$p")
    assert(p.contains("BroadcastHashJoin"), "the filtered part side must broadcast")
  }

  test("j5/e10: interval and sliding-window joins stay equi — never a nested loop") {
    Seq("j5_interval_overlap", "e10_rolling_dau").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q must rewrite its non-equi predicate into an equi join:\n$p")
    }
  }

  test("k9: the snapshot diff is exactly one co-partitioned join, nothing else moves") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val plan = SparkEntry.queries("k9_snapshot_diff")(spark, sfDir)
      .queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.size === 1,
      s"k9 must be one keyed full-outer join:\n$plan")
    val p = planOf("k9_snapshot_diff")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"k9 must not fall back to a non-keyed join:\n$p")
  }

  test("k11: the year predicate prunes partitions at the scan, not per-row") {
    val p = planOf("k11_partitioned_prune")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("o_year") && pf.contains("1997"),
      s"year predicate must land in PartitionFilters:\n$p")
  }

  test("t21 chunking is map-only: no exchange anywhere in the plan") {
    val p = planOf("t21_chunk_overlap")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("d10: both eval-side joins broadcast; corpus never builds a hash table") {
    val p = planOf("d10_containment_pairs")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"eval shingles and eval sizes must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d10 must stay equi:\n$p")
  }

  test("g2: triangle counting stays equi — no wedge cartesian beyond scalar assembly") {
    val p = planOf("g2_triangle_count")
    assert(!p.contains("CartesianProduct"), s"g2 must join on keys only:\n$p")
    // exactly two nested-loop joins: the 1-row × 1-row × 1-row scalar
    // assembly of (n_nodes, n_edges, n_triangles); none may touch edges
    // (FormattedMode lists each operator once in the tree and once in
    // the detail section — count the numbered detail entries)
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size === 2,
      s"only the scalar-assembly crossJoins may nested-loop:\n$p")
  }

  test("a24: skyline never self-joins the data; thresholds broadcast back") {
    val p = planOf("a24_pareto_front")
    // the only joins allowed are the tiny per-size threshold tables
    // coming back over the data as broadcasts
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"per-size max and strictly-larger-best must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a24 must not shuffle-join the raw data:\n$p")
  }

  test("j8 auto range join: the optimizer rule kills the nested loop") {
    val p = planOf("j8_auto_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"RangeJoinRule must rewrite the BETWEEN join to an equi-join:\n$p")
    assert(p.contains("HashJoin"), s"expected a hash equi-join on the bin key:\n$p")
  }

  test("j9 salted join: equi on (key, salt) — no nested loop, no cartesian") {
    val p = planOf("j9_salted_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"salting must stay an equi join:\n$p")
    assert(p.contains("__salt"), s"the salt column must be a join key:\n$p")
  }

  test("t28 BM25: 1-row stats broadcast; ranking window partitioned by term") {
    val p = planOf("t28_bm25")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"N/avgdl must broadcast as a scalar frame:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the scoring join:\n$p")
  }

  test("m4 image knn: probe pairing broadcasts; distance is codegen'd array math") {
    val p = planOf("m4_image_knn")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"the 20-image probe side must broadcast:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython"), "no python/UDF in the distance")
  }

  test("dq3: both FK probes are broadcast joins on the parent key") {
    val p = planOf("dq3_ref_integrity")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"parent sides must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"FK audit must stay keyed:\n$p")
  }

  test("k17 IVM: both base⋈delta terms broadcast the delta side") {
    val p = planOf("k17_ivm_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"ΔA⋈B and A⋈ΔB must be map-side joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the IVM refresh:\n$p")
  }

  test("t27 scoring: the weight table broadcasts; no shuffle beyond the two aggregates") {
    val p = planOf("t27_linear_score")
    assert(p.contains("BroadcastHashJoin"), s"model weights must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"feature×weight contraction must not shuffle-join:\n$p")
  }

  test("e17 paths: top-20 is TakeOrdered (per-partition top-k), never a global sort") {
    val p = planOf("e17_session_paths")
    assert(p.contains("TakeOrderedAndProject"),
      s"LIMIT over ORDER BY must plan as TakeOrdered:\n$p")
  }

  test("j10 geo join: radius search is a grid-cell equi join, haversine only filters candidates") {
    val p = planOf("j10_geo_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"distance predicate must not plan a nested loop:\n$p")
    assert(p.contains("gx") && p.contains("gy"),
      s"join must key on the grid cells:\n$p")
  }

  test("q21: the sole-late verdict is ONE per-order aggregate below the supplier join") {
    val p = planOf("q21_waiting_supplier")
    assert(!p.contains("CartesianProduct"), s"decorrelation must stay keyed:\n$p")
    // supplier×nation dim broadcasts; lineitem is never broadcast
    assert(p.contains("BroadcastHashJoin"), s"supplier dim must broadcast:\n$p")
    // distinct-supplier stats: expand-based count-distinct pair partial-aggregates
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"per-order stats must partial-aggregate:\n$p")
  }

  test("q11: scalar total and nation dim broadcast back onto the per-part aggregate") {
    val p = planOf("q11_important_value")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row total must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("v14: binary codes are codegen'd sign-bit kernels; query side broadcasts") {
    val p = planOf("v14_binary_hamming")
    assert(p.contains("array_sign_bits"), s"sign-bit kernel missing from the plan:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"the 5-query code set must broadcast:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython"), "no UDF in the hamming path")
  }

  test("g8 k-core: every peel round stays a semi join — no cartesian, no nested loop") {
    val p = planOf("g8_kcore")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"peel rounds must stay keyed:\n$p")
  }

  test("dq4: both window totals broadcast as 1-row frames onto the type table") {
    val p = planOf("dq4_drift_psi")
    assert((p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin")),
      s"scalar totals must broadcast:\n$p")
  }

  test("t29: the boilerplate dictionary broadcasts; shingle keys are 8-byte hashes") {
    val p = planOf("t29_boilerplate")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"boilerplate set must broadcast onto the per-doc probe:\n$p")
    assert(p.contains("xxhash64"), s"shingles must hash to longs before any shuffle:\n$p")
  }

  test("g7/v13: candidate generation stays equi-joined — no cartesian") {
    Seq("g7_neighborhood_jaccard", "v13_ivfpq").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q must not plan a cartesian:\n$p")
    }
  }

  test("e4/e4e/j11: every as-of join is an AsOfJoinExec — no union, no window over the join") {
    // the nodes outside the as-of joins' right (lookup-side) inputs:
    // j11 builds its feature snapshots with cumulative windows there
    def spine(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => spine(a.executedPlan)
      case j: AsOfJoinExec => j +: spine(j.left)
      case _ => p +: p.children.flatMap(spine)
    }
    Seq("e4_asof_join" -> 1, "e4e_asof_tolerance" -> 1, "j11_pit_features" -> 2).foreach {
      case (q, joins) =>
        val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
        val nodes = spine(plan)
        assert(nodes.count(_.isInstanceOf[AsOfJoinExec]) === joins, s"$q:\n$plan")
        assert(!nodes.exists(n => n.isInstanceOf[UnionExec] || n.isInstanceOf[WindowExec]),
          s"$q must not carry matches with a union + window:\n$plan")
    }
  }
}
