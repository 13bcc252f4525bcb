package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables => T}
import graft.operators.PageRank

/** Graph analytics over fixture-derived graphs (operators.PageRank,
  * operators.Components). */
object Graphs {

  /** The part co-purchase graph as a MATERIALIZED table: distinct
    * undirected edges (u < v) between parts co-occurring in an order,
    * written once per dataset under a deterministic path (k11/k14's
    * write-once layout discipline) and read by every graph query (g2
    * orientation/triangles, g4 BFS). At 100 TB a derived graph is a
    * landed artifact of ingest — deriving it per query would re-pay the
    * order self-join on every traversal. */
  private[queries] def coPurchaseEdges(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    coPurchaseWeighted(s, d).select(col("u"), col("v"))

  /** The undirected (both-directions) weighted mirror, landed ONCE per
    * dataset beside [[coPurchaseWeighted]]: every traversal consumer
    * (BFS, SSSP, k-core, Jaccard …) needs edges in both directions, and
    * re-mirroring + re-staging per query re-pays a full-graph parquet
    * write each run. A projection on this table replaces each consumer's
    * private stage. */
  private[queries] def coPurchaseUndirected(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val (stage, landed) = graft.Scratch.cache(
      s, s"copurchase-undir-v1-${Integer.toHexString(d.hashCode)}")
    if (!landed) {
      val e0 = coPurchaseWeighted(s, d)
      e0.unionByName(e0.select(col("v").as("u"), col("u").as("v"), col("w")))
        .write.mode("overwrite").parquet(stage)
    }
    T.parquet(s, stage)
  }

  /** Degree-ORIENTED co-purchase edges (src = lower-(degree,id)
    * endpoint), landed ONCE per dataset beside the other graph
    * artifacts: g2 (triangle count) and g16 (clustering coefficient)
    * both pay the orientation lineage — edge build + 2 distincts +
    * degree joins — and previously each staged its own private copy per
    * RUN. One write-once artifact serves every triangle-family
    * consumer (and future wedge/4-cycle counters). */
  private[queries] def coPurchaseOriented(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val (stage, landed) = graft.Scratch.cache(
      s, s"copurchase-oriented-v1-${Integer.toHexString(d.hashCode)}")
    if (!landed) {
      val e = coPurchaseEdges(s, d)
      val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val withDeg = e
        .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
        .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
      withDeg.select(
          when(fwd, col("u")).otherwise(col("v")).as("src"),
          when(fwd, col("v")).otherwise(col("u")).as("dst"))
        .write.mode("overwrite").parquet(stage)
    }
    T.parquet(s, stage)
  }

  /** Loud HUB guard for the `collect_list` adjacency builds of the
    * triangle family (g2/g16/g17): degree orientation bounds oriented
    * out-degree by O(√m) — the standard sparse-graph argument — but
    * nothing enforced it at runtime, so at 100× a pathological hub
    * would OOM the task materializing its neighbor array long after
    * the plan looked fine. ONE partial-aggregated probe (column-pruned
    * edge scan → per-src counts → 1-row max+sum) fails loudly up front
    * instead. The default bound 32·√m + 4096 sits an order above the
    * theory bound on real graphs (no false alarms) yet far below the
    * array size that kills an executor; callers that KNOW their hub is
    * fine pass an explicit bound (Hits.checkBounds' dial). */
  private[graft] def assertNoAdjacencyHub(
      oriented: org.apache.spark.sql.DataFrame,
      maxOutDeg: Option[Long] = None): Unit = {
    val row = oriented.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(coalesce(max(col("d")), lit(0L)).as("mx"),
        coalesce(sum(col("d")), lit(0L)).as("m"))
      .collect()(0)
    val (mx, m) = (row.getLong(0), row.getLong(1))
    val bound = maxOutDeg.getOrElse(32L * math.sqrt(m.toDouble).toLong + 4096L)
    require(mx <= bound,
      s"adjacency hub guard: max oriented out-degree $mx exceeds bound $bound " +
        s"(m=$m edges) — the collect_list neighbor array for that hub risks task " +
        "OOM at scale; pre-split the hub (salt its neighbor list) or pass a " +
        "higher bound knowingly")
  }

  private[queries] def coPurchaseWeighted(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val (stage, landed) = graft.Scratch.cache(
      s, s"copurchase-v2-${Integer.toHexString(d.hashCode)}")
    if (!landed) {
      val it = T.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      // The landed artifact carries the co-occurrence COUNT: unweighted
      // consumers (g2/g4/...) project it away for free, weight-filtered
      // consumers (g8's repeat-co-purchase graph) prune on it without
      // re-paying the order self-join.
      it.as("x").join(it.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("u"), col("y.p").as("v"))
        .agg(count(lit(1)).as("w"))
        .write.mode("overwrite").parquet(stage)
    }
    T.parquet(s, stage)
  }

  // --- g1_pagerank: weighted PageRank over the event-type transition
  // graph (e9's edges: consecutive events per user, weight = transition
  // count), 3 rounds. Ranks are exact scaled integers, so the unrolled
  // SQL oracle matches bit-for-bit — iterative graph centrality under
  // the same hash gate as everything else. ---
  val g1Pagerank = QueryDef.sql(
    "g1_pagerank",
    s"""WITH seq AS (SELECT event_type AS src,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
       |  FROM events),
       |${PageRank.sqlRanks(
            "SELECT src, dst, count(*) AS w FROM seq WHERE dst IS NOT NULL GROUP BY src, dst",
            iters = 3)}
       |SELECT id AS event_type, r AS rank_scaled,
       |  CAST(r AS DOUBLE) / CAST(1000000000000 AS DOUBLE) AS pr
       |FROM r3""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = T.events(s, d)
      .select(col("event_type").as("src"), lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
    PageRank.ranks(edges, iters = 3)
      .select(col("id").as("event_type"), col("r").as("rank_scaled"),
        expr("CAST(r AS DOUBLE) / CAST(1000000000000 AS DOUBLE)").as("pr"))
  }

  // --- g2_triangle_count: triangle counting over the part co-purchase
  // graph (parts co-occurring in one order, normalized u<v, distinct).
  // The Spark plan uses DEGREE-ORIENTED wedges — every edge points from
  // its lower-(degree,id) endpoint to the higher, so each triangle is
  // generated exactly once at its minimum vertex and the wedge fan-out
  // per node is bounded by O(√E) even on power-law graphs (the classic
  // MapReduce triangle algorithm; a naive 3-way self-join explodes on
  // hub nodes). All joins are equi-joins (src for wedges, (b,c) for
  // closure) — shuffles, never nested loops. The oracle counts the same
  // triangles by the simpler a<b<c formulation: orientation changes the
  // plan, not the count. ---
  val g2TriangleCount = QueryDef.sql(
    "g2_triangle_count",
    """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT x.p AS u, y.p AS v FROM it x JOIN it y ON x.o = y.o AND x.p < y.p),
      |tri AS (SELECT count(*) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |nn AS (SELECT count(DISTINCT n) AS n_nodes
      |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) z),
      |ne AS (SELECT count(*) AS n_edges FROM e)
      |SELECT n_nodes, n_edges, n_triangles FROM nn, ne, tri""".stripMargin) { (s, d) =>
    // the LANDED oriented-edge artifact (write-once per dataset, shared
    // with g16): the edge-building lineage must not re-execute for each
    // of the three consumers below — nor per RUN
    val oriented = coPurchaseOriented(s, d)
    assertNoAdjacencyHub(oriented) // loud hub probe before collect_list
    // Per-edge adjacency intersection instead of wedge materialization:
    // tri(u→v) = |N⁺(u) ∩ N⁺(v)| — the intersect runs in-place inside
    // codegen per edge row, so the O(Σ outdeg²) wedge set (40M rows at
    // sf0.1) never hits a shuffle; only |E| rows carrying neighbor
    // arrays move. Each triangle a<b<c (by the degree order) is counted
    // exactly once, at edge (a,b) via common out-neighbor c.
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val tri = oriented
      .join(adj.select(col("src"), col("nbrs").as("nu")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")), Seq("dst"), "left_outer")
      .select(coalesce(size(array_intersect(col("nu"), col("nv"))), lit(0)).as("t"))
      .agg(sum(col("t")).cast("long").as("n_triangles"))
    val nn = oriented.select(col("src").as("n")).unionAll(oriented.select(col("dst").as("n")))
      .agg(count_distinct(col("n")).as("n_nodes"))
    val ne = oriented.agg(count(lit(1)).as("n_edges"))
    nn.crossJoin(ne).crossJoin(tri)
  }

  /** One SQL label-propagation round: labels `prev` → labels `l$r`
    * (same clamped-majority semantics as operators.LabelProp). */
  private def sqlLpRound(prev: String, r: Int): String =
    s"""n$r AS (SELECT e.src AS id, l.label, count(*) AS c
       |  FROM edges e JOIN $prev l ON l.id = e.dst GROUP BY e.src, l.label),
       |m$r AS (SELECT id, label FROM (SELECT *, row_number() OVER (PARTITION BY id
       |    ORDER BY c DESC, label) AS rk FROM n$r) WHERE rk = 1),
       |l$r AS (SELECT id, label FROM $prev UNION ALL
       |  SELECT m.id, m.label FROM m$r m WHERE m.id NOT IN (SELECT id FROM $prev))""".stripMargin

  // --- g3_label_prop: semi-supervised label propagation over the
  // semantic-similarity graph (d7's in-cell near-dup pairs as
  // undirected edges), seeded with every 5th vector's true label and
  // spread for 2 clamped-majority rounds (operators.LabelProp). The
  // unrolled SQL oracle replays both rounds CTE-by-CTE, so an
  // iterative transductive-learning pass sits under the exact hash
  // gate. Scale: edge generation is cell-bounded (d7's argument), each
  // round is an equi-join + two partial aggregates, labels stage to
  // parquet between rounds — no lineage growth, no windows over the
  // pair space. ---
  val g3LabelProp = QueryDef.sql(
    "g3_label_prop",
    s"""WITH asg AS (SELECT vec_id, cell FROM (WITH ${Clustering.sqlKmeansA2}
       |    SELECT vec_id, cell FROM a2) t),
       |${Clustering.sqlNearDupPairs("0.3")},
       |edges AS (SELECT id1 AS src, id2 AS dst FROM npairs
       |  UNION ALL SELECT id2 AS src, id1 AS dst FROM npairs),
       |l0 AS (SELECT vec_id AS id, label FROM embeddings WHERE vec_id % 5 = 0),
       |${sqlLpRound("l0", 1)},
       |${sqlLpRound("l1", 2)}
       |SELECT e.vec_id, l.label FROM embeddings e LEFT JOIN l2 l ON l.id = e.vec_id""".stripMargin) {
    (s, d) =>
    val emb = T.embeddings(s, d)
    val embq = emb.select(col("vec_id"), Similarity.quantize("embedding").as("q"))
    // assignment via the dataset's materialized k-means model (trained
    // once — Clustering.sharedModel; identical cells to kmeansAssign)
    val asg = Clustering.assignWithModel(s, Clustering.sharedModel(s, d), emb)
    val pairs = Clustering.nearDupPairs(asg, embq, 0.3)
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
    val seeds = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("id"), col("label"))
    val lab = graft.operators.LabelProp.propagate(edges, seeds, rounds = 2)
    emb.select(col("vec_id"))
      .join(lab.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"))
  }

  /** One unrolled SQL BFS relaxation: labels `prev` → labels `r$r`.
    * Expanding ALL labeled nodes (not just the frontier) is min-
    * equivalent to operators.Bfs's frontier-only expansion — settled
    * nodes re-yield distances their neighbors already have. */
  private def sqlBfsRound(prev: String, r: Int): String =
    s"""r$r AS (SELECT id, min(dist) AS dist FROM (
       |  SELECT id, dist FROM $prev
       |  UNION ALL
       |  SELECT e.v AS id, l.dist + 1 AS dist FROM $prev l JOIN edges e ON e.u = l.id) t
       |GROUP BY id)""".stripMargin

  // --- g4_shortest_path: multi-source depth-bounded BFS over the part
  // co-purchase graph (g2's edge set, undirected): exact hop distance
  // from the seed parts (p % 97 = 0), 3 rounds. The Spark side runs
  // operators.Bfs — frontier-only expansion, per-round parquet-staged
  // labels — while the oracle unrolls three full relaxations (min-
  // equivalent); hop metrics can't pointer-jump (shortcuts change the
  // metric), so a depth budget is the scale-honest contract. Per round:
  // one frontier ⋈ edges equi-join + partial-agg min — work tracks the
  // frontier's incident edges, never the whole graph. ---
  val g4ShortestPath = QueryDef.sql(
    "g4_shortest_path",
    s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS (SELECT DISTINCT x.p AS u, y.p AS v FROM it x JOIN it y ON x.o = y.o AND x.p < y.p),
       |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
       |l0 AS (SELECT DISTINCT p AS id, 0 AS dist FROM it WHERE p % 97 = 0),
       |${sqlBfsRound("l0", 1)},
       |${sqlBfsRound("r1", 2)},
       |${sqlBfsRound("r2", 3)}
       |SELECT id AS part_id, dist FROM r3""".stripMargin) { (s, d) =>
    // the landed undirected mirror: BFS rounds must not re-execute even
    // the cheap union lineage (Components' discipline), and the mirror
    // write itself is paid once per dataset, not per run
    val edges = coPurchaseUndirected(s, d).select(col("u"), col("v"))
    val stage = graft.Scratch.dir("g4-bfs")
    val seeds = T.lineitem(s, d).select(col("l_partkey").as("p")).distinct()
      .filter(col("p") % 97 === 0).select(col("p").as("id"))
    graft.operators.Bfs.distances(edges, seeds, rounds = 3, s"$stage/labels")
      .select(col("id").as("part_id"), col("dist"))
  }

  // --- g5_assortativity: degree assortativity of the co-purchase graph
  // — Pearson correlation of endpoint degrees over directed edge
  // instances (Newman's r): do hubs connect to hubs? a27's exact-sums
  // discipline on a graph statistic: degrees and all six sufficient
  // statistics are exact integer aggregates (order-independent), only
  // the closed-form division runs in double, identical expression both
  // engines. Shape: one degree aggregate + two equi-joins of the edge
  // list against the (node-sized, broadcastable) degree table + one
  // partial-aggregated reduction to a single row. ---
  val g5Assortativity = QueryDef.sql(
    "g5_assortativity",
    """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS (SELECT DISTINCT x.p AS u, y.p AS v FROM it x JOIN it y ON x.o = y.o AND x.p < y.p),
      |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      |deg AS (SELECT u AS nid, count(*) AS dg FROM edges GROUP BY u),
      |p AS (SELECT a.dg AS dx, b.dg AS dy
      |      FROM edges e JOIN deg a ON a.nid = e.u JOIN deg b ON b.nid = e.v),
      |s AS (SELECT count(*) AS n_dir_edges,
      |    sum(dx) AS sx, sum(dy) AS sy,
      |    sum(dx * dx) AS sxx, sum(dy * dy) AS syy, sum(dx * dy) AS sxy
      |  FROM p)
      |SELECT n_dir_edges,
      |  (CAST(n_dir_edges AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (sqrt(CAST(n_dir_edges AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |     sqrt(CAST(n_dir_edges AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS assortativity
      |FROM s""".stripMargin) { (s, d) =>
    val edges = coPurchaseUndirected(s, d).select(col("u"), col("v"))
    val deg = edges.groupBy(col("u").as("nid")).agg(count(lit(1)).as("dg"))
    val p = edges
      .join(broadcast(deg.select(col("nid").as("u"), col("dg").as("dx"))), Seq("u"))
      .join(broadcast(deg.select(col("nid").as("v"), col("dg").as("dy"))), Seq("v"))
    val st = p.agg(count(lit(1)).as("n_dir_edges"),
      sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("dx") * col("dx")).as("sxx"), sum(col("dy") * col("dy")).as("syy"),
      sum(col("dx") * col("dy")).as("sxy"))
    def dbl(c: String) = col(c).cast("double")
    st.select(col("n_dir_edges"),
      ((dbl("n_dir_edges") * dbl("sxy") - dbl("sx") * dbl("sy")) /
        (sqrt(dbl("n_dir_edges") * dbl("sxx") - dbl("sx") * dbl("sx")) *
          sqrt(dbl("n_dir_edges") * dbl("syy") - dbl("sy") * dbl("sy")))).as("assortativity"))
  }

  // --- g6_link_predict: common-neighbors link prediction for the seed
  // parts (g4's seed set): for each seed, the top-5 non-adjacent parts
  // ranked by shared co-purchase neighbors — "customers who bought X's
  // companions also bought". Scale containment: the quadratic wedge
  // space is generated ONLY from seed-incident edges (|seeds|·deg²,
  // never the whole graph's Σdeg²), candidate counts partial-aggregate
  // before their shuffle, existing edges drop via one anti-join, and
  // the ranking window partitions per seed. ---
  val g6LinkPredict = QueryDef.sql(
    "g6_link_predict",
    """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS (SELECT DISTINCT x.p AS u, y.p AS v FROM it x JOIN it y ON x.o = y.o AND x.p < y.p),
      |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      |se AS (SELECT u AS seed, v AS nbr FROM edges WHERE u % 97 = 0),
      |cand AS (SELECT s.seed, e.v AS cand, count(*) AS common_nbrs
      |         FROM se s JOIN edges e ON e.u = s.nbr
      |         WHERE e.v <> s.seed
      |         GROUP BY s.seed, e.v),
      |new_links AS (SELECT c.seed, c.cand, c.common_nbrs
      |              FROM cand c LEFT JOIN edges x ON x.u = c.seed AND x.v = c.cand
      |              WHERE x.u IS NULL)
      |SELECT seed, cand, common_nbrs, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY seed
      |      ORDER BY common_nbrs DESC, cand) AS rank
      |  FROM new_links) t
      |WHERE rank <= 5""".stripMargin) { (s, d) =>
    val edges = coPurchaseUndirected(s, d).select(col("u"), col("v"))
    val se = edges.filter(col("u") % 97 === 0)
      .select(col("u").as("seed"), col("v").as("nbr"))
    val cand = se.join(edges.select(col("u").as("nbr"), col("v").as("cand")), Seq("nbr"))
      .filter(col("cand") =!= col("seed"))
      .groupBy(col("seed"), col("cand"))
      .agg(count(lit(1)).as("common_nbrs"))
    val fresh = cand.join(
        edges.select(col("u").as("seed"), col("v").as("cand")),
        Seq("seed", "cand"), "left_anti")
    fresh
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("seed")).orderBy(col("common_nbrs").desc, col("cand"))))
      .filter(col("rank") <= 5)
      .select(col("seed"), col("cand"), col("common_nbrs"), col("rank"))
  }

  // --- g7_neighborhood_jaccard: "parts similar to X" — Jaccard
  // similarity of co-purchase neighborhoods for the g6 seed set:
  // J(a,b) = |N(a)∩N(b)| / (deg(a)+deg(b)−|N(a)∩N(b)|). The
  // intersection count is g6's wedge walk (seed→shared neighbor→cand:
  // one join from the seed fan-out, partial-aggregated), degrees are
  // one groupBy landed once, and the union size falls out of
  // inclusion-exclusion — set algebra on counts, no pairwise set
  // materialization anywhere. Seeds scale the cost knob exactly like
  // g6: the walk is O(edges incident to seeds' neighborhoods), never
  // all-pairs. ---
  val g7NeighborhoodJaccard = QueryDef.sql(
    "g7_neighborhood_jaccard",
    """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS (SELECT DISTINCT x.p AS u, y.p AS v FROM it x JOIN it y ON x.o = y.o AND x.p < y.p),
      |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      |deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
      |se AS (SELECT u AS seed, v AS nbr FROM edges WHERE u % 97 = 0),
      |com AS (SELECT s.seed, e.v AS cand, count(*) AS common_nbrs
      |        FROM se s JOIN edges e ON e.u = s.nbr
      |        WHERE e.v <> s.seed
      |        GROUP BY s.seed, e.v),
      |j AS (SELECT c.seed, c.cand, c.common_nbrs,
      |        da.deg AS deg_seed, db.deg AS deg_cand,
      |        CAST(c.common_nbrs AS DOUBLE) /
      |          CAST(da.deg + db.deg - c.common_nbrs AS DOUBLE) AS jaccard
      |      FROM com c
      |      JOIN deg da ON da.u = c.seed
      |      JOIN deg db ON db.u = c.cand)
      |SELECT seed, cand, common_nbrs, deg_seed, deg_cand, jaccard, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY seed
      |      ORDER BY jaccard DESC, cand) AS rank
      |  FROM j) t
      |WHERE rank <= 5""".stripMargin) { (s, d) =>
    val edges = coPurchaseUndirected(s, d).select(col("u"), col("v"))
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val se = edges.filter(col("u") % 97 === 0)
      .select(col("u").as("seed"), col("v").as("nbr"))
    val com = se.join(edges.select(col("u").as("nbr"), col("v").as("cand")), Seq("nbr"))
      .filter(col("cand") =!= col("seed"))
      .groupBy(col("seed"), col("cand"))
      .agg(count(lit(1)).as("common_nbrs"))
    com
      .join(deg.select(col("u").as("seed"), col("deg").as("deg_seed")), Seq("seed"))
      .join(deg.select(col("u").as("cand"), col("deg").as("deg_cand")), Seq("cand"))
      .withColumn("jaccard",
        col("common_nbrs").cast("double") /
          (col("deg_seed") + col("deg_cand") - col("common_nbrs")).cast("double"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("seed")).orderBy(col("jaccard").desc, col("cand"))))
      .filter(col("rank") <= 5)
      .select(col("seed"), col("cand"), col("common_nbrs"),
        col("deg_seed"), col("deg_cand"), col("jaccard"), col("rank"))
  }

  // --- g8_kcore: 2-core of the REPEAT-co-purchase graph (parts bought
  // together in ≥2 distinct orders — a single random co-occurrence is
  // noise at corpus scale, so the weight filter is the graph's
  // denoising step). Three synchronized peel rounds: drop nodes of
  // degree < k, induce, repeat — the standard distributed k-core
  // schedule (each round is one partial-aggregated degree count plus two
  // semi joins on the shrinking survivor set; nothing ever moves more
  // than the live edge list, and the edge list only shrinks). At the
  // gated SF round 3 is already the fixed point (peeling a 4th round
  // removes nothing), so the fixed-round output IS the true 2-core; the
  // oracle replays the identical peel as chained CTEs. Output: each core
  // member with its degree inside the core. ---
  val g8KCore = QueryDef.sql(
    "g8_kcore",
    """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS (SELECT x.p AS u, y.p AS v FROM it x JOIN it y ON x.o = y.o AND x.p < y.p
      |       GROUP BY x.p, y.p HAVING count(*) >= 2),
      |und AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v AS a, u AS b FROM e0),
      |d0 AS (SELECT a, count(*) AS deg FROM und GROUP BY a),
      |n1 AS (SELECT a FROM d0 WHERE deg >= 2),
      |e1 AS (SELECT und.a, und.b FROM und JOIN n1 x ON und.a = x.a JOIN n1 y ON und.b = y.a),
      |d1 AS (SELECT a, count(*) AS deg FROM e1 GROUP BY a),
      |n2 AS (SELECT a FROM d1 WHERE deg >= 2),
      |e2 AS (SELECT e1.a, e1.b FROM e1 JOIN n2 x ON e1.a = x.a JOIN n2 y ON e1.b = y.a),
      |d2 AS (SELECT a, count(*) AS deg FROM e2 GROUP BY a),
      |n3 AS (SELECT a FROM d2 WHERE deg >= 2),
      |e3 AS (SELECT e2.a, e2.b FROM e2 JOIN n3 x ON e2.a = x.a JOIN n3 y ON e2.b = y.a)
      |SELECT a AS node, count(*) AS deg_core FROM e3 GROUP BY a""".stripMargin) { (s, d) =>
    // The weight filter prunes the LANDED co-purchase artifact — the
    // order self-join was paid once at graph materialization, not here.
    val e0 = coPurchaseWeighted(s, d).filter(col("w") >= 2)
      .select(col("u"), col("v"))
    // Each peel round RESTAGES the surviving edge list (d6's label
    // discipline): each round references `edges` three times (degree
    // count + two semi probes), so without the round-trip the lazy
    // lineage re-derives the order self-join a multiplicative number of
    // times — measured 9.3 s → the self-join once plus three cheap
    // shrinking rounds. The staged table is the live edge list (small
    // and shrinking), exactly what a cluster would land between rounds.
    val stage = graft.Scratch.dir("g8-kcore")
    // each peel round supersedes the previous — eagerly freed
    val chain = new graft.Scratch.RoundChain(s)
    var edges = chain.stage(
      e0.select(col("u").as("a"), col("v").as("b"))
        .unionByName(e0.select(col("v").as("a"), col("u").as("b"))), s"$stage/r0")
    for (r <- 1 to 3) {
      val surv = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2).select(col("a").as("sa"))
      edges = chain.stage(
        edges
          .join(surv, col("a") === col("sa"), "left_semi")
          .join(surv, col("b") === col("sa"), "left_semi"), s"$stage/r$r")
    }
    edges.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg_core"))
  }

  // --- g9_personalized_pr: PERSONALIZED PageRank over the weighted
  // co-purchase graph — proximity-to-seed-set scoring ("parts related
  // to these parts"), the graph-side recommendation/expansion
  // primitive g1's global centrality can't express. Teleport mass lands
  // only on the seed parts (partkey % 97 = 0); two rounds over the
  // LANDED artifact (both directions of each undirected edge), exact
  // scaled-integer rank updates, unrolled-SQL oracle reproduces every
  // unit. Output keeps the strictly-positive ranks — the ≤2-hop
  // neighborhood of the seed set, which is how PPR output is consumed
  // (everything else is exactly 0 by construction). ---
  val g9PersonalizedPr = QueryDef.sql(
    "g9_personalized_pr",
    s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |cp AS (SELECT x.p AS u, y.p AS v, count(*) AS w
       |  FROM it x JOIN it y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
       |${PageRank.sqlPersonalized(
            "SELECT u AS src, v AS dst, w FROM cp UNION ALL SELECT v, u, w FROM cp",
            "SELECT u AS id FROM cp WHERE u % 97 = 0 UNION ALL SELECT v FROM cp WHERE v % 97 = 0",
            iters = 2)}
       |SELECT id AS part_id, r AS rank_scaled FROM r2 WHERE r > 0""".stripMargin) { (s, d) =>
    val cp = coPurchaseWeighted(s, d)
    val edges = cp.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionByName(cp.select(col("v").as("src"), col("u").as("dst"), col("w")))
    val seeds = edges.select(col("src").as("id")).filter(col("id") % 97 === 0)
    PageRank.personalizedRanks(edges, seeds, iters = 2)
      .filter(col("r") > 0)
      .select(col("id").as("part_id"), col("r").as("rank_scaled"))
  }

  // --- g10_hits: HITS hubs & authorities over the user→event-type
  // bipartite engagement graph (edge weight = interaction count): users
  // are scored as HUBS (engage with authoritative content), event types
  // as AUTHORITIES (engaged by strong hubs) — the centrality PageRank's
  // single score conflates. Two full rounds of operators.Hits: each
  // half-round is one edge⋈score equi-join + a partial-aggregated
  // shuffle on the gathering endpoint; normalization is a 1-row max
  // broadcast back (q22's pattern), in exact integer arithmetic
  // (x div (max div scale)) so the unrolled SQL oracle reproduces every
  // unit — no L2 norms, no floats in the iteration. ---
  val g10Hits = QueryDef.sql(
    "g10_hits",
    s"""WITH ${graft.operators.Hits.sqlScores(
          "SELECT 'u:' || CAST(user_id AS VARCHAR) AS src, 't:' || event_type AS dst, " +
            "count(*) AS w FROM events GROUP BY 1, 2",
          iters = 2)}
       |SELECT h2.id, h2.h AS hub_scaled, a2.a AS auth_scaled
       |FROM h2 JOIN a2 ON a2.id = h2.id""".stripMargin) { (s, d) =>
    val edges = T.events(s, d)
      .groupBy(
        concat(lit("u:"), col("user_id").cast("string")).as("src"),
        concat(lit("t:"), col("event_type")).as("dst"))
      .agg(count(lit(1)).as("w"))
    graft.operators.Hits.scores(edges, iters = 2)
      .select(col("id"), col("h").as("hub_scaled"), col("a").as("auth_scaled"))
  }

  /** One unrolled SQL Bellman-Ford relaxation over weighted `edges`
    * (u, v, cost): labels `prev` → labels `r$r`. Relaxing ALL labeled
    * nodes is min-equivalent to the operator's improved-only frontier. */
  private def sqlRelaxRound(prev: String, r: Int): String =
    s"""r$r AS (SELECT id, min(dist) AS dist FROM (
       |  SELECT id, dist FROM $prev
       |  UNION ALL
       |  SELECT e.v AS id, l.dist + e.cost AS dist FROM $prev l JOIN edges e ON e.u = l.id) t
       |GROUP BY id)""".stripMargin

  // --- g11_cheapest_path: WEIGHTED shortest paths over the co-purchase
  // graph — g4's hop metric can't tell a strong tie from a one-off;
  // here edge cost = 1000000 div w (frequently co-bought = close), and
  // the result is the exact cheapest total cost from the seed set
  // within 3 relaxations (operators.Bfs.weightedDistances). Unlike BFS
  // a settled node can improve later (longer-but-cheaper path), so the
  // frontier is the improved set per round — the Bellman-Ford
  // invariant; work tracks improved nodes' incident edges, never the
  // graph. Integer costs make every distance exact; the oracle unrolls
  // three full relaxations (min-equivalent to improved-only). ---
  val g11CheapestPath = QueryDef.sql(
    "g11_cheapest_path",
    s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |cp AS (SELECT x.p AS u, y.p AS v, count(*) AS w
       |  FROM it x JOIN it y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
       |e0 AS (SELECT u, v, 1000000 // w AS cost FROM cp),
       |edges AS (SELECT u, v, cost FROM e0 UNION ALL SELECT v AS u, u AS v, cost FROM e0),
       |l0 AS (SELECT DISTINCT p AS id, CAST(0 AS BIGINT) AS dist FROM it WHERE p % 97 = 0),
       |${sqlRelaxRound("l0", 1)},
       |${sqlRelaxRound("r1", 2)},
       |${sqlRelaxRound("r2", 3)}
       |SELECT id AS part_id, dist AS cost FROM r3""".stripMargin) { (s, d) =>
    // cost is a projection over the LANDED undirected mirror — no
    // per-run edge staging; relaxation rounds re-read the artifact
    val edges = coPurchaseUndirected(s, d)
      .select(col("u"), col("v"), expr("1000000 div w").as("cost"))
    val stage = graft.Scratch.dir("g11-sssp")
    val seeds = T.lineitem(s, d).select(col("l_partkey").as("p")).distinct()
      .filter(col("p") % 97 === 0).select(col("p").as("id"))
    graft.operators.Bfs.weightedDistances(edges, seeds, rounds = 3, s"$stage/labels")
      .select(col("id").as("part_id"), col("dist").as("cost"))
  }

  // --- g12_modularity: Newman modularity of a node partition over the
  // WEIGHTED co-purchase graph, communities = part brand — the
  // partition-quality score every community-detection loop (Louvain,
  // Leiden, g3's label prop) maximizes, here as a standalone audit: "is
  // the co-purchase structure aligned with the brand taxonomy?". Per
  // community c: Q_c = in_c/m − (tot_c/2m)², reported as the EXACT
  // integer numerator 4·m·in_c − tot_c² over the common denominator 4m²
  // (one double division at the very end, identical expression both
  // engines — no floats in any aggregate). Scale shape: brand lookup is
  // a broadcast join onto the landed edge artifact, degrees are one
  // partial-agg shuffle over the 2|E| endpoint rows, in/tot collapse to
  // |brands| rows, and m is a 1-row aggregate broadcast back (q22's
  // pattern) — nothing ever materializes the pair space. ---
  val g12Modularity = QueryDef.sql(
    "g12_modularity",
    """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |cp AS (SELECT x.p AS u, y.p AS v, count(*) AS w
      |  FROM it x JOIN it y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
      |bm AS (SELECT p_partkey AS p, p_brand AS b FROM part),
      |e AS (SELECT cp.w, bu.b AS bu, bv.b AS bv
      |  FROM cp JOIN bm bu ON bu.p = cp.u JOIN bm bv ON bv.p = cp.v),
      |m AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM e),
      |ends AS (SELECT bu AS b, w FROM e UNION ALL SELECT bv AS b, w FROM e),
      |tot AS (SELECT b, CAST(sum(w) AS BIGINT) AS tot_w FROM ends GROUP BY b),
      |inn AS (SELECT bu AS b, CAST(sum(w) AS BIGINT) AS in_w FROM e WHERE bu = bv GROUP BY bu)
      |SELECT t.b AS brand, coalesce(i.in_w, 0) AS in_w, t.tot_w,
      |  CAST(4 * m.m * coalesce(i.in_w, 0) - t.tot_w * t.tot_w AS BIGINT) AS q_num,
      |  CAST(4 * m.m * coalesce(i.in_w, 0) - t.tot_w * t.tot_w AS DOUBLE)
      |    / CAST(4 * m.m * m.m AS DOUBLE) AS q_contrib
      |FROM tot t LEFT JOIN inn i ON i.b = t.b, m""".stripMargin) { (s, d) =>
    val bm = T.part(s, d).select(col("p_partkey").as("p"), col("p_brand").as("b"))
    val e = coPurchaseWeighted(s, d)
      .join(broadcast(bm).as("bu"), col("u") === col("bu.p"))
      .join(broadcast(bm).as("bv"), col("v") === col("bv.p"))
      .select(col("w"), col("bu.b").as("bu"), col("bv.b").as("bv"))
    val m = e.agg(sum(col("w")).as("m"))
    val ends = e.select(col("bu").as("b"), col("w"))
      .unionByName(e.select(col("bv").as("b"), col("w")))
    val tot = ends.groupBy(col("b")).agg(sum(col("w")).as("tot_w"))
    val inn = e.filter(col("bu") === col("bv"))
      .groupBy(col("bu").as("b")).agg(sum(col("w")).as("in_w"))
    tot.join(inn, Seq("b"), "left_outer")
      .crossJoin(broadcast(m))
      .select(col("b").as("brand"),
        coalesce(col("in_w"), lit(0L)).as("in_w"), col("tot_w"),
        (lit(4L) * col("m") * coalesce(col("in_w"), lit(0L))
          - col("tot_w") * col("tot_w")).as("q_num"),
        ((lit(4L) * col("m") * coalesce(col("in_w"), lit(0L))
          - col("tot_w") * col("tot_w")).cast("double")
          / (lit(4L) * col("m") * col("m")).cast("double")).as("q_contrib"))
  }

  /** One unrolled SQL walk step: pick per walk the neighbor of `cur`
    * with the MINIMAL md5(walk:step:neighbor) digest. */
  private def sqlWalkStep(prev: String, step: Int): String =
    s"""s$step AS (SELECT walk, v AS cur FROM (
       |  SELECT w.walk, e.v, row_number() OVER (PARTITION BY w.walk
       |    ORDER BY md5(CAST(w.walk AS VARCHAR) || ':$step:' || CAST(e.v AS VARCHAR)), e.v) AS rn
       |  FROM $prev w JOIN edges e ON e.u = w.cur) t WHERE rn = 1)""".stripMargin

  // --- g13_random_walks: node2vec-style graph-walk SAMPLING — the
  // operator that turns a graph into sequence training data (DeepWalk /
  // node2vec corpora). The "randomness" is a deterministic lottery:
  // step k of walk w moves to the neighbor minimizing
  // md5(walk:step:neighbor) — i.i.d.-uniform-like over the adjacency
  // list, yet exactly replayable by any engine with md5 (the t6
  // hash-sampling discipline lifted to sequences; no RNG state, no
  // seed plumbing, restart-safe by construction). Per step: ONE
  // frontier⋈edges equi-join + a window PARTITIONED BY WALK over each
  // candidate adjacency list (millions of tiny partitions at corpus
  // scale — never global), walks that hit a dead end simply stop
  // emitting. Output: (walk, step, node) sequence rows, steps 0–3. ---
  val g13RandomWalks = QueryDef.sql(
    "g13_random_walks",
    s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS (SELECT DISTINCT x.p AS u, y.p AS v FROM it x JOIN it y ON x.o = y.o AND x.p < y.p),
       |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
       |w0 AS (SELECT DISTINCT p AS walk, p AS cur FROM it WHERE p % 97 = 0),
       |${sqlWalkStep("w0", 1)},
       |${sqlWalkStep("s1", 2)},
       |${sqlWalkStep("s2", 3)}
       |SELECT walk, 0 AS step, cur AS node FROM w0
       |UNION ALL SELECT walk, 1, cur FROM s1
       |UNION ALL SELECT walk, 2, cur FROM s2
       |UNION ALL SELECT walk, 3, cur FROM s3""".stripMargin) { (s, d) =>
    val edges = coPurchaseUndirected(s, d).select(col("u"), col("v"))
    val w0 = T.lineitem(s, d).select(col("l_partkey").as("p")).distinct()
      .filter(col("p") % 97 === 0)
      .select(col("p").as("walk"), col("p").as("cur"))
    def step(prev: org.apache.spark.sql.DataFrame, k: Int) = {
      val w = Window.partitionBy(col("walk")).orderBy(
        md5(concat(col("walk").cast("string"), lit(s":$k:"), col("v").cast("string"))),
        col("v"))
      prev.join(edges, prev("cur") === edges("u"))
        .select(col("walk"), col("v"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("walk"), col("v").as("cur"))
    }
    val s1 = step(w0, 1); val s2 = step(s1, 2); val s3 = step(s2, 3)
    w0.select(col("walk"), lit(0).as("step"), col("cur").as("node"))
      .unionByName(s1.select(col("walk"), lit(1).as("step"), col("cur").as("node")))
      .unionByName(s2.select(col("walk"), lit(2).as("step"), col("cur").as("node")))
      .unionByName(s3.select(col("walk"), lit(3).as("step"), col("cur").as("node")))
  }

  /** One per-source BFS relaxation round for the g14 oracle: labels are
    * keyed by (src, id) — each seed's BFS unrolls independently inside
    * the same round (min-equivalent to frontier-only expansion, g4's
    * argument, per seed). */
  private def sqlSrcBfsRound(prev: String, r: Int): String =
    s"""r$r AS (SELECT src, id, min(dist) AS dist FROM (
       |  SELECT src, id, dist FROM $prev
       |  UNION ALL
       |  SELECT l.src, e.v AS id, l.dist + 1 AS dist
       |  FROM $prev l JOIN edges e ON e.u = l.id) t
       |GROUP BY src, id)""".stripMargin

  // --- g14_harmonic_centrality: depth-3 harmonic centrality of the g4
  // seed parts — Σ 1/d over reached nodes, the closeness variant that
  // handles disconnected graphs (unreached nodes contribute 0, not ∞).
  // Labels are PER-SEED (Bfs.perSourceDistances: src-keyed frontiers,
  // every seed's BFS in the same per-round equi-join), the sampled-
  // landmark pattern — exact all-sources closeness is quadratic and is
  // exactly what ANF/HyperBall-style sketches exist to replace, so the
  // explicit seed sample is the scale-honest contract. The harmonic sum
  // never adds doubles in data order: per-distance counts n1/n2/n3 are
  // exact integers and the final n1 + n2/2 + n3/3 is one closed-form
  // double expression, identical both engines. ---
  val g14HarmonicCentrality = QueryDef.sql(
    "g14_harmonic_centrality",
    s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS (SELECT DISTINCT x.p AS u, y.p AS v FROM it x JOIN it y ON x.o = y.o AND x.p < y.p),
       |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
       |l0 AS (SELECT DISTINCT p AS src, p AS id, 0 AS dist FROM it WHERE p % 97 = 0),
       |${sqlSrcBfsRound("l0", 1)},
       |${sqlSrcBfsRound("r1", 2)},
       |${sqlSrcBfsRound("r2", 3)},
       |g AS (SELECT src,
       |    CAST(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |    CAST(sum(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
       |  FROM r3 GROUP BY src)
       |SELECT src AS part_id, n1, n2, n3,
       |  CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) / 2 + CAST(n3 AS DOUBLE) / 3 AS harmonic
       |FROM g""".stripMargin) { (s, d) =>
    val edges = coPurchaseUndirected(s, d).select(col("u"), col("v"))
    val stage = graft.Scratch.dir("g14-bfs")
    val seeds = T.lineitem(s, d).select(col("l_partkey").as("p")).distinct()
      .filter(col("p") % 97 === 0).select(col("p").as("id"))
    graft.operators.Bfs.perSourceDistancesBitmask(edges, seeds, rounds = 3, s"$stage/labels")
      .groupBy(col("src")).agg(
        sum(when(col("dist") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("dist") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("dist") === 3, 1L).otherwise(0L)).as("n3"))
      .select(col("src").as("part_id"), col("n1"), col("n2"), col("n3"),
        (col("n1").cast("double") + col("n2").cast("double") / 2
          + col("n3").cast("double") / 3).as("harmonic"))
  }

  // --- g15_katz: KATZ centrality, 3 fixed rounds, exact scaled
  // integers — the walk-counting centrality (every path contributes,
  // damped α^length) completing the triad with PageRank (g1: random
  // surfer) and HITS (g10: mutual reinforcement). α = 1/8 makes the
  // round-k scores rationals with denominator 8^k, so carrying
  // y_k = 8^k·x_k keeps every round a pure BIGINT recurrence
  // y_{k+1}(v) = 8^{k+1} + Σ_{u→v} y_k(u) — one edges ⋈ labels
  // equi-join + partial-agg sum per round, labels parquet-staged
  // (g1's discipline), nodes without in-edges keep the teleport-only
  // term via the left join. Overflow bound: y₃ ≤ 512 + d·(64+d·(8+d))
  // < 2⁶³ for max degree d up to ~2 000 000. Only the final
  // katz = y₃/8³ casts to double. ---
  val g15Katz = QueryDef.sql(
    "g15_katz",
    """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS (SELECT DISTINCT x.p AS u, y.p AS v FROM it x JOIN it y ON x.o = y.o AND x.p < y.p),
      |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |nodes AS (SELECT DISTINCT u AS id FROM edges),
      |y1 AS (SELECT n.id, 8 + coalesce(s.s, 0) AS y FROM nodes n LEFT JOIN
      |  (SELECT v AS id, CAST(count(*) AS BIGINT) AS s FROM edges GROUP BY v) s
      |  ON s.id = n.id),
      |y2 AS (SELECT n.id, 64 + coalesce(s.s, 0) AS y FROM nodes n LEFT JOIN
      |  (SELECT e.v AS id, CAST(sum(y1.y) AS BIGINT) AS s FROM edges e
      |   JOIN y1 ON y1.id = e.u GROUP BY e.v) s ON s.id = n.id),
      |y3 AS (SELECT n.id, 512 + coalesce(s.s, 0) AS y FROM nodes n LEFT JOIN
      |  (SELECT e.v AS id, CAST(sum(y2.y) AS BIGINT) AS s FROM edges e
      |   JOIN y2 ON y2.id = e.u GROUP BY e.v) s ON s.id = n.id)
      |SELECT id AS part_id, CAST(y AS BIGINT) AS katz_scaled,
      |  CAST(y AS DOUBLE) / 512 AS katz
      |FROM y3""".stripMargin) { (s, d) =>
    val edges = coPurchaseUndirected(s, d).select(col("u"), col("v"))
    val stage = graft.Scratch.dir("g15-katz")
    def staged(df: org.apache.spark.sql.DataFrame, name: String) =
      graft.Scratch.stageFrame(s, df, s"$stage/$name")
    // nodes stays referenced every round — NOT on the chain; the y
    // rounds supersede each other (eagerly freed)
    val chain = new graft.Scratch.RoundChain(s)
    val nodes = staged(edges.select(col("u").as("id")).distinct(), "nodes")
    var y = nodes.withColumn("y", lit(1L))
    for (k <- 1 to 3) {
      val gathered = edges.join(y.select(col("id").as("u"), col("y")), Seq("u"))
        .groupBy(col("v").as("id")).agg(sum(col("y")).as("s"))
      y = chain.stage(
        nodes.join(gathered, Seq("id"), "left")
          .select(col("id"),
            (lit(math.pow(8, k).toLong) + coalesce(col("s"), lit(0L))).as("y")),
        s"$stage/y$k")
    }
    y.select(col("id").as("part_id"), col("y").as("katz_scaled"),
      (col("y").cast("double") / 512).as("katz"))
  }

  // --- g16_clustering_coeff: LOCAL clustering coefficient per node —
  // 2·triangles(v) / (deg(v)·(deg(v)−1)), the "how clique-like is this
  // node's neighborhood" metric (g2 reports the GLOBAL triangle count;
  // the per-node coefficient is what community/fraud features consume).
  // Same degree-oriented machinery as g2 — staged oriented edges,
  // per-edge adjacency-array intersect — but the intersect's ELEMENTS
  // explode into (a, b, c) triples (triangle-count rows, never the
  // O(Σ outdeg²) wedge set), and each triangle credits all three
  // corners through one 3-projection union + partial-agg count.
  // Orientation invariance is the correctness argument: the oracle
  // enumerates triangles under the id order (a<b<c), Spark under the
  // degree order — the triangle SET is identical, so per-corner counts
  // agree. Exact integers; one double division. ---
  val g16ClusteringCoeff = QueryDef.sql(
    "g16_clustering_coeff",
    """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT x.p AS u, y.p AS v FROM it x JOIN it y ON x.o = y.o AND x.p < y.p),
      |tric AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |         FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |corners AS (SELECT a AS n FROM tric UNION ALL SELECT b FROM tric
      |            UNION ALL SELECT c FROM tric),
      |tcnt AS (SELECT n, CAST(count(*) AS BIGINT) AS t FROM corners GROUP BY n),
      |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM
      |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) z GROUP BY n)
      |SELECT deg.n AS part_id, deg.deg, coalesce(t, 0) AS triangles,
      |  CASE WHEN deg >= 2
      |       THEN CAST(2 * coalesce(t, 0) AS DOUBLE) / (deg * (deg - 1))
      |       ELSE CAST(0.0 AS DOUBLE) END AS clustering
      |FROM deg LEFT JOIN tcnt ON tcnt.n = deg.n""".stripMargin) { (s, d) =>
    val e = coPurchaseEdges(s, d)
    val degAll = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orientation comes from the LANDED shared artifact (g2's note)
    val oriented = coPurchaseOriented(s, d)
    assertNoAdjacencyHub(oriented) // loud hub probe before collect_list
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val triples = oriented
      .join(adj.select(col("src"), col("nbrs").as("nu")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")), Seq("dst"))
      .select(col("src"), col("dst"),
        explode(expr("array_intersect(nu, nv)")).as("c"))
    val corners = triples.select(col("src").as("n"))
      .unionAll(triples.select(col("dst").as("n")))
      .unionAll(triples.select(col("c").as("n")))
    val tcnt = corners.groupBy(col("n")).agg(count(lit(1)).as("t"))
    degAll.join(tcnt, Seq("n"), "left")
      .select(col("n").as("part_id"), col("deg"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          lit(2) * coalesce(col("t"), lit(0L)).cast("double") /
            (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** One k-truss peel round over edge set `e` (u < v): per-edge triangle
    * SUPPORT via g2/g16's degree-oriented adjacency-intersect (triples
    * exploded from the intersect elements — triangle-count rows, never
    * the wedge set), each triangle crediting its THREE edges (normalized
    * back to u < v), then the `support ≥ minSup` filter. Edges in no
    * triangle vanish with the inner join (support 0 < any threshold). */
  private def trussPeelRound(e: DataFrame, minSup: Long): DataFrame = {
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(fwd, col("u")).otherwise(col("v")).as("src"),
      when(fwd, col("v")).otherwise(col("u")).as("dst"))
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val triples = oriented
      .join(adj.select(col("src"), col("nbrs").as("nu")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")), Seq("dst"))
      .select(col("src").as("a"), col("dst").as("b"),
        explode(expr("array_intersect(nu, nv)")).as("c"))
    val credit = triples.select(col("a").as("x"), col("b").as("y"))
      .unionAll(triples.select(col("a").as("x"), col("c").as("y")))
      .unionAll(triples.select(col("b").as("x"), col("c").as("y")))
    credit
      .select(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("s"))
      .filter(col("s") >= minSup)
  }

  /** Peel to the k-truss FIXED POINT: repeat [[trussPeelRound]] until a
    * round removes no edge (the truss is closed under its own support
    * recomputation) or `maxRounds` is exhausted — the convergence-mode
    * contract the fixed-round g17 gate doesn't need at its SF but a
    * 100× graph does (ConvergenceSpec's discipline: the probe is ONE
    * 1-row count on the already-staged survivors, and every round
    * restages so lineage stays flat). Returns (survivors with their
    * final support, rounds run). */
  private[graft] def trussFixpoint(
      spark: org.apache.spark.sql.SparkSession,
      e0: DataFrame,
      minSup: Long,
      maxRounds: Int,
      stagePath: String): (DataFrame, Int) = {
    var cur = e0.select(col("u"), col("v"))
    var out: DataFrame = null
    var prevCount = -1L
    var r = 0
    while (r < maxRounds) {
      val kept = trussPeelRound(cur, minSup)
      out = graft.Scratch.stageFrame(spark, kept, s"$stagePath/r${r % 2}")
      val n = out.count() // 1-row probe on the staged survivors
      r += 1
      if (n == prevCount) return (out, r)
      prevCount = n
      cur = out.select(col("u"), col("v"))
    }
    (out, r)
  }

  /** One unrolled SQL truss round `prev` → `t$r` (id-ordered triangle
    * enumeration — orientation changes the plan, not the triangle set).
    * Every round output is MATERIALIZED: DuckDB inlines plain CTEs, so
    * round 3's two references to t2 would re-derive t2 (and
    * transitively t1, e0) exponentially — measured never-finishing at
    * sf0.1 vs 0.5 s materialized. */
  private def sqlTrussRound(prev: String, r: Int): String =
    s"""b$r AS (SELECT u, v FROM $prev UNION ALL SELECT v AS u, u AS v FROM $prev),
       |s$r AS (SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS s
       |  FROM $prev e JOIN b$r x ON x.u = e.u JOIN b$r y ON y.u = e.v AND y.v = x.v
       |  GROUP BY e.u, e.v),
       |t$r AS MATERIALIZED (SELECT u, v, s FROM s$r WHERE s >= 2)""".stripMargin

  // --- g17_ktruss: k-TRUSS peeling (k = 4: every surviving edge must
  // sit in ≥ 2 triangles among surviving edges) over the SAME-BRAND
  // co-purchase subgraph, 3 peel rounds — the edge-density community
  // core between g8's k-core (degree peel) and full clique mining.
  // The brand restriction is the semantic scope (brand-level product
  // communities) AND what makes the peel non-trivial: the raw
  // co-purchase graph is a union of per-order cliques whose every edge
  // has support ≥ 5 (nothing peels), while the same-brand subgraph
  // thins cross-order support so rounds genuinely shrink
  // (sf0.01: 4 685 → 337 → 70 → 69 edges). Per round the Spark plan is
  // g2's degree-oriented adjacency-intersect — support from exploded
  // triangle triples crediting all three edges, equi-joins + partial
  // aggs only, wedge set never materialized — with survivors RESTAGED
  // to parquet (k-core's shrinking-input lesson: round r+1's 4 joins
  // must not replay round r's lineage). The oracle unrolls the three
  // rounds with id-ordered triangle enumeration; orientation
  // invariance of the triangle set is the correctness argument (g16).
  // Fixed rounds, exact integer supports — deterministic at any
  // parallelism; at 100× the same rounds peel toward the same fixed
  // point (convergence-mode iteration is the documented extension,
  // ConvergenceSpec's pattern). ---
  val g17Ktruss = QueryDef.sql(
    "g17_ktruss",
    s"""WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pb AS (SELECT p_partkey, p_brand FROM part),
       |e0 AS MATERIALIZED (SELECT DISTINCT x.p AS u, y.p AS v
       |  FROM it x JOIN it y ON x.o = y.o AND x.p < y.p
       |  JOIN pb a ON a.p_partkey = x.p
       |  JOIN pb b ON b.p_partkey = y.p AND a.p_brand = b.p_brand),
       |${sqlTrussRound("e0", 1)},
       |${sqlTrussRound("t1", 2)},
       |${sqlTrussRound("t2", 3)}
       |SELECT u, v, s FROM t3""".stripMargin) { (s, d) =>
    val pb = T.part(s, d).select(col("p_partkey"), col("p_brand"))
    val tmp = graft.Scratch.dir("g17-truss")
    // stage e0 FIRST: both the hub probe and peel round 1 consume it,
    // and an unstaged e0 would re-execute the co-purchase ⋈ brand join
    // once per consumer (the round-7 probe cost exactly one extra
    // derivation — the r8 A/B's g17 delta)
    val e0 = graft.Scratch.stageFrame(s,
      coPurchaseEdges(s, d)
        .join(pb.select(col("p_partkey").as("u"), col("p_brand").as("bu")), Seq("u"))
        .join(pb.select(col("p_partkey").as("v"), col("p_brand").as("bv")), Seq("v"))
        .filter(col("bu") === col("bv"))
        .select(col("u"), col("v")),
      s"$tmp/r0")
    // total degree upper-bounds oriented out-degree in every peel round
    // (rounds only remove edges), so one probe up front covers them all
    assertNoAdjacencyHub(
      e0.select(col("u").as("src")).unionAll(e0.select(col("v").as("src"))))
    var out: DataFrame = e0
    for (r <- 1 to 3) {
      val kept = trussPeelRound(out.select(col("u"), col("v")), minSup = 2L)
      out = graft.Scratch.stageFrame(s, kept, s"$tmp/r$r")
    }
    out.select(col("u"), col("v"), col("s"))
  }

  // --- g18_mutual_knn_clusters: connected components over the MUTUAL
  // edges of v20's k-NN graph — the semantic-clustering primitive
  // (mutual-kNN components are the standard "tight cluster" definition:
  // one-directional attraction to a hub doesn't glue, reciprocated
  // similarity does; SemDeDup-family pipelines and density clustering
  // both build on it). Composes two gated layers end-to-end: the LSH
  // k-NN graph feeds Components' min-label propagation (per-round label
  // restaging, d6's discipline); the oracle replays the graph AND runs
  // an exact recursive-CTE closure — so a wrong mutuality flag, a lost
  // edge, or a mis-propagated label all break one hash. Labels converge
  // to the per-component minimum vec_id — iteration-order independent. ---
  val g18MutualKnnClusters = QueryDef.sql(
    "g18_mutual_knn_clusters",
    "WITH RECURSIVE knn AS (SELECT * FROM (\n" + Similarity.v20KnnGraph.oracle.get +
      """
        |) t),
        |medges AS (SELECT src AS a, dst AS b FROM knn WHERE mutual
        |  UNION SELECT dst, src FROM knn WHERE mutual),
        |nodes AS (SELECT DISTINCT a AS id FROM medges),
        |reach(a, b) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN medges e ON r.b = e.a)
        |SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a""".stripMargin) {
    (s, d) =>
    val stage = graft.Scratch.dir("g18-labels")
    // stage the mutual edge list ONCE: Components re-reads its edge
    // frame every round, and an unstaged frame would re-execute the
    // whole LSH + rescore lineage per round (measured 16.7 s → edges
    // staged: the rounds pay a tiny parquet read instead)
    val mutualEdges = graft.Scratch.stageFrame(s,
      Similarity.v20KnnGraph.run(s, d)
        .filter(col("mutual"))
        .select(col("src").as("a"), col("dst").as("b")),
      s"$stage/edges")
    graft.operators.Components.connectedComponents(
        mutualEdges,
        stagePath = Some(s"$stage/labels"))
      .select(col("id").as("vec_id"), col("cluster_id"))
  }

  // --- g19_butterflies: BUTTERFLY (bipartite 4-cycle) census over the
  // order⋈part graph — the bipartite cohesion metric (Wang et al.,
  // "Butterfly Counting in Bipartite Networks") that triangle counts
  // can't express, since a bipartite projection has no triangles of its
  // own. A butterfly is (o1, o2, p1, p2) with all four purchase edges —
  // two orders co-containing the same two parts, the smallest unit of
  // co-purchase redundancy. The landed weighted artifact already IS the
  // sufficient statistic: w(u,v) counts orders containing both parts,
  // so butterflies per part pair = C(w, 2), and the full census is one
  // partial-aggregated pass over the edge table — no 4-way join ever
  // runs. Output: the cocount histogram (w, edges at w, butterflies at
  // w), the complete distribution the single global number hides.
  // Exact integers; at 100× the same one-aggregate shape holds because
  // the artifact stays edge-sized. ---
  val g19Butterflies = QueryDef.sql(
    "g19_butterflies",
    """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT x.p AS u, y.p AS v, CAST(count(*) AS BIGINT) AS w
      |      FROM it x JOIN it y ON x.o = y.o AND x.p < y.p GROUP BY x.p, y.p)
      |SELECT w AS cocount, CAST(count(*) AS BIGINT) AS n_edges,
      |  CAST(count(*) * (w*(w-1)//2) AS BIGINT) AS butterflies
      |FROM e GROUP BY w""".stripMargin) { (s, d) =>
    coPurchaseWeighted(s, d)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_edges"))
      .select(col("w").as("cocount"), col("n_edges"),
        (col("n_edges") * expr("w * (w - 1) div 2")).as("butterflies"))
  }

  // --- g20_hyperball: the HyperBall neighborhood function (Boldi &
  // Vigna 2013 — the algorithm behind the "four degrees of separation"
  // measurements): |B(v,h)|, the number of nodes within h hops of v,
  // estimated for EVERY node simultaneously by giving each node a tiny
  // HLL counter (m=16 registers here — rse ≈ 26%, the right dial for
  // ball-size/effective-diameter curves) and max-merging neighbors'
  // counters each hop: regs_{h+1}(v) = max(regs_h(v), regs_h(w) ∀ w~v).
  // THE scale algorithm for reachability statistics — exact per-node
  // BFS from every node is Θ(n·m); HyperBall is h rounds of one
  // edges⋈registers join + partial-agg max, ≤ 16 rows of state per
  // node. Registers are md5-derived (HllSketch's arithmetic at m=16,
  // rho cap 24 keeps the harmonic sum in exact BIGINT), so the oracle
  // replays every register and estimate bit-for-bit through two
  // materialized rounds. Gate: hops 1 and 2 for the g4 seed set, with
  // rounds staged to scratch parquet (Components' restage discipline). ---
  val g20Hyperball: QueryDef = {
    val hexOf = "instr('0123456789abcdef', %s) - 1"
    val alphaNum: String = {
      val v = 0.673 * 256.0 * 16777216.0
      s"CAST('${v.toString}' AS DOUBLE)"
    }
    def sqlRound(prev: String, out: String): String =
      s"""$out AS MATERIALIZED (SELECT nid, bkt, max(mr) AS mr FROM (
         |    SELECT e.v AS nid, r.bkt, r.mr FROM edges e JOIN $prev r ON r.nid = e.u
         |    UNION ALL SELECT nid, bkt, mr FROM $prev) t GROUP BY nid, bkt)""".stripMargin
    def sqlEst(regs: String, hop: Int): String =
      s"""SELECT $hop AS hop, nid AS part_id, CAST(count(*) AS BIGINT) AS nz,
         |  $alphaNum / CAST(sum(CAST(pow(2, 24 - mr) AS BIGINT)) + (16 - count(*)) * 16777216 AS DOUBLE) AS est
         |FROM $regs WHERE nid % 97 = 0 GROUP BY nid""".stripMargin
    QueryDef.sql(
      "g20_hyperball",
      s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS (SELECT DISTINCT x.p AS u, y.p AS v FROM it x JOIN it y ON x.o = y.o AND x.p < y.p),
         |edges AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
         |nodes AS (SELECT DISTINCT u AS nid FROM edges),
         |h0 AS (SELECT nid, md5(CAST(nid AS VARCHAR)) AS hx FROM nodes),
         |r0 AS MATERIALIZED (SELECT nid,
         |    (${hexOf.format("substr(hx,1,1)")}) AS bkt,
         |    least(4*length(regexp_extract(substr(hx,2,30), '^(0*)', 1))
         |      + (CASE WHEN ${hexOf.format("substr(hx, 2 + length(regexp_extract(substr(hx,2,30), '^(0*)', 1)), 1)")} >= 8 THEN 0
         |              WHEN ${hexOf.format("substr(hx, 2 + length(regexp_extract(substr(hx,2,30), '^(0*)', 1)), 1)")} >= 4 THEN 1
         |              WHEN ${hexOf.format("substr(hx, 2 + length(regexp_extract(substr(hx,2,30), '^(0*)', 1)), 1)")} >= 2 THEN 2
         |              ELSE 3 END) + 1, 24) AS mr
         |  FROM h0),
         |${sqlRound("r0", "r1")},
         |${sqlRound("r1", "r2")}
         |${sqlEst("r1", 1)}
         |UNION ALL
         |${sqlEst("r2", 2)}""".stripMargin) { (s, d) =>
      val edges = coPurchaseUndirected(s, d).select(col("u"), col("v"))
      val nodes = edges.select(col("u").as("nid")).distinct()
      val r0 = nodes
        .withColumn("hx", md5(col("nid").cast("string")))
        .withColumn("bkt", expr(hexOf.format("substr(hx,1,1)")))
        .withColumn("z", expr("length(regexp_extract(substr(hx,2,30), '^(0*)', 1))"))
        .withColumn("dd", expr(hexOf.format("substr(hx, 2 + z, 1)")))
        .withColumn("mr", expr(
          "least(4*z + (CASE WHEN dd>=8 THEN 0 WHEN dd>=4 THEN 1 WHEN dd>=2 THEN 2 ELSE 3 END) + 1, 24)"))
        .select(col("nid"), col("bkt"), col("mr"))
      val stage = graft.Scratch.dir("g20-hyperball")
      def round(prev: DataFrame, h: Int): DataFrame =
        graft.Scratch.stageFrame(s,
          prev.join(edges.withColumnRenamed("u", "nid"), Seq("nid"))
            .select(col("v").as("nid"), col("bkt"), col("mr"))
            .unionByName(prev)
            .groupBy(col("nid"), col("bkt")).agg(max(col("mr")).as("mr")),
          s"$stage/r$h")
      val r1 = round(r0, 1)
      // the FINAL round's registers are only ever read for the sampled
      // nodes (nid % 97): merge only edges INTO the sample + the
      // sample's own prior registers — 1/97th of the round's shuffle,
      // identical registers for every estimated node (earlier rounds
      // must stay full: a sampled node's hop-2 ball reads every
      // neighbor's hop-1 registers). Single consumer, so no restage.
      val r2 = r1
        .join(edges.filter(col("v") % 97 === 0).withColumnRenamed("u", "nid"),
          Seq("nid"))
        .select(col("v").as("nid"), col("bkt"), col("mr"))
        .unionByName(r1.filter(col("nid") % 97 === 0))
        .groupBy(col("nid"), col("bkt")).agg(max(col("mr")).as("mr"))
      def est(regs: DataFrame, hop: Int): DataFrame =
        regs.filter(col("nid") % 97 === 0)
          .groupBy(col("nid"))
          .agg(count(lit(1)).as("nz"),
            sum(expr("CAST(pow(2, 24 - mr) AS BIGINT)")).as("isum"))
          .select(lit(hop).as("hop"), col("nid").as("part_id"), col("nz"),
            (expr(alphaNum) /
              (col("isum") + (lit(16) - col("nz")) * 16777216L).cast("double")).as("est"))
      est(r1, 1).unionByName(est(r2, 2))
    }
  }

  // --- g21_temporal_reach: TIME-RESPECTING reachability — the temporal
  // graph member of the family: an edge is traversable only at or after
  // the time you ARRIVE at its source, so reach is "who could the
  // information have flowed to", not static connectivity (a static BFS
  // over the same edges overcounts by ignoring edge order). Substrate:
  // per-part purchase CHAINS — each part's orders sorted by
  // (orderdate, orderkey), customer i linked to the NEXT purchaser of
  // the same part at that purchase's date (|it| edges, never the
  // per-part clique). Seeds (custkey % 97) start at their own earliest
  // order; three rounds propagate earliest ARRIVAL time: arrival(dst) =
  // min over in-edges with t ≥ arrival(src) of t — the min-merge makes
  // rounds idempotent and order-independent. Scale: rounds are staged
  // equi-joins on src + partial-agg min (RoundChain frees superseded
  // rounds); the time predicate rides the hash join as a residual,
  // never a range-only join. Oracle unrolls the three rounds with
  // MATERIALIZED CTEs. ---
  val g21TemporalReach = QueryDef.sql(
    "g21_temporal_reach", {
      def round(prev: String, k: Int): String =
        s"""r$k AS MATERIALIZED (SELECT id, min(arr) AS arr FROM (
           |  SELECT id, arr FROM $prev
           |  UNION ALL
           |  SELECT e.dst AS id, e.t AS arr
           |  FROM edges e JOIN $prev p ON p.id = e.src AND e.t >= p.arr)
           |GROUP BY id)""".stripMargin
      s"""WITH it AS (SELECT DISTINCT l_partkey AS p, o_custkey AS c,
         |    o_orderdate AS dt, o_orderkey AS ok
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |ch AS (SELECT c AS src,
         |    lead(c) OVER (PARTITION BY p ORDER BY dt, ok) AS dst,
         |    lead(dt) OVER (PARTITION BY p ORDER BY dt, ok) AS t
         |  FROM it),
         |edges AS (SELECT src, dst, t FROM ch WHERE dst IS NOT NULL AND src <> dst),
         |l0 AS (SELECT c AS id, min(dt) AS arr FROM it WHERE c % 97 = 0 GROUP BY c),
         |${round("l0", 1)},
         |${round("r1", 2)},
         |${round("r2", 3)}
         |SELECT id AS cust_id, arr AS arrival FROM r3""".stripMargin
    }) { (s, d) =>
    val stage = graft.Scratch.dir("g21-treach")
    val it = T.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      .join(T.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").as("p"), col("o_custkey").as("c"),
        col("o_orderdate").as("dt"), col("o_orderkey").as("ok"))
      .distinct()
    val w = Window.partitionBy(col("p")).orderBy(col("dt"), col("ok"))
    // staged once: every round reads the staged frame, not the join lineage
    val edges = graft.Scratch.stageFrame(s,
      it.select(col("c").as("src"),
          lead(col("c"), 1).over(w).as("dst"),
          lead(col("dt"), 1).over(w).as("t"))
        .filter(col("dst").isNotNull && col("src") =!= col("dst")),
      s"$stage/edges")
    val seeds = it.filter(col("c") % 97 === 0)
      .groupBy(col("c").as("id")).agg(min(col("dt")).as("arr"))
    graft.operators.TemporalReach.earliestArrival(edges, seeds, rounds = 3, stage)
      .select(col("id").as("cust_id"), col("arr").as("arrival"))
  }

  // --- g22_incremental_pagerank: INCREMENTAL graph maintenance — at
  // 100 TB the graph never stops changing, and recomputing centrality
  // from scratch after every delta is the cost model that kills graph
  // pipelines. g22 runs the maintenance contract: ranks converged on
  // the OLD graph (3 rounds, half the events), then the full event set
  // lands and the new ranks come from TWO warm-started rounds seeded by
  // the old fixed point (PageRank.ranksFrom — new nodes start at the
  // uniform share), compared against the 3-round COLD recompute on the
  // new graph. Both chains are exact fixed-point integers, so the
  // oracle unrolls all three rank computations (namespaced CTEs) and
  // the per-node disagreement_units column is bit-deterministic — the
  // gate proves the warm path lands near the cold one while paying
  // 2 rounds instead of 3 on the changed graph (and in production,
  // far fewer as deltas shrink relative to the graph). ---
  val g22IncrementalPagerank = QueryDef.sql(
    "g22_incremental_pagerank", {
      def seq(name: String, where: String) =
        s"""$name AS (SELECT src, dst, count(*) AS w FROM (
           |  SELECT event_type AS src,
           |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
           |  FROM events$where) q WHERE dst IS NOT NULL GROUP BY src, dst)""".stripMargin
      s"""WITH ${seq("oe", " WHERE event_id % 2 = 0")},
         |${PageRank.sqlRanksPrefixed("SELECT * FROM oe", iters = 3, prefix = "o_")},
         |${seq("ne", "")},
         |${PageRank.sqlRanksPrefixed("SELECT * FROM ne", iters = 2, prefix = "",
            init = Some("SELECT n.id, coalesce(o.r, 1000000000000 // nt.n_nodes) AS r" +
              " FROM nodes n LEFT JOIN o_r3 o ON o.id = n.id, nt"))},
         |${PageRank.sqlRanksPrefixed("SELECT * FROM ne", iters = 3, prefix = "c_")}
         |SELECT r2.id AS event_type, r2.r AS warm_scaled, c_r3.r AS cold_scaled,
         |  abs(r2.r - c_r3.r) AS disagreement_units
         |FROM r2 JOIN c_r3 ON c_r3.id = r2.id""".stripMargin
    }) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    def edges(ev: DataFrame): DataFrame = ev
      .select(col("event_type").as("src"), lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
    val evAll = T.events(s, d)
    val oldEdges = edges(evAll.filter(col("event_id") % 2 === 0))
    val newEdges = edges(evAll)
    val oldRanks = PageRank.ranks(oldEdges, iters = 3)
    val warm = PageRank.ranksFrom(newEdges, oldRanks, iters = 2)
    val cold = PageRank.ranks(newEdges, iters = 3)
    warm.select(col("id"), col("r").as("warm_scaled"))
      .join(cold.select(col("id"), col("r").as("cold_scaled")), Seq("id"))
      .select(col("id").as("event_type"), col("warm_scaled"), col("cold_scaled"),
        abs(col("warm_scaled") - col("cold_scaled")).as("disagreement_units"))
  }

  // --- g23_scc: STRONGLY CONNECTED COMPONENTS — the g-family's first
  // DIRECTED-reachability decomposition (g-CC via label prop answers
  // "some path exists"; SCC requires paths BOTH ways, which no single
  // propagation decides). The graph is the part-bucket PURCHASE-FLOW
  // digraph: for each customer, consecutive orders (by date, key)
  // contribute an edge between the orders' representative part buckets
  // (min partkey mod 24) — "bought u then v". Edges are kept only
  // within a LAYER (bucket mod 4) or one layer forward (0→1→2→3, no
  // wrap), so cross-layer flow is provably acyclic and the SCC
  // structure is non-trivial at EVERY scale factor: cycles live inside
  // layers, the layer chain never collapses into one giant component
  // (the fate of any unconstrained dense transition graph). The 24-
  // bucket domain is what makes the ORACLE exact: DuckDB replays the
  // same edges and decides mutual reachability by recursive transitive
  // closure — tractable at 24 nodes, impossible at raw-part
  // cardinality. Spark-side the decomposition is operators.Scc:
  // iterative forward–backward min-label settle-and-remove, every
  // inner round one Θ(E) equi-join + partial-agg min, labels staged
  // between rounds (the LabelProp discipline) — the shape that holds
  // when the edge list is 100 TB even though this gate's node domain
  // is bucketed for oracle tractability. require()s: ≥2 components and
  // a non-trivial (size ≥ 2) component — the decomposition is real,
  // not vacuously all-singletons or one blob. ---
  val g23Scc = QueryDef.sql(
    "g23_scc",
    """WITH rep AS (SELECT l_orderkey AS k, CAST(min(l_partkey) % 24 AS BIGINT) AS b
      |  FROM lineitem GROUP BY l_orderkey),
      |seq AS (SELECT o.o_custkey AS c, o.o_orderdate AS d, o.o_orderkey AS k, r.b
      |  FROM orders o JOIN rep r ON r.k = o.o_orderkey),
      |nxt AS (SELECT b AS u, lead(b) OVER (PARTITION BY c ORDER BY d, k) AS v
      |  FROM seq),
      |edges AS (SELECT DISTINCT u, v FROM nxt
      |  WHERE v IS NOT NULL AND v <> u
      |    AND (v % 4 = u % 4 OR (u % 4 < 3 AND v % 4 = u % 4 + 1))),
      |nodes AS (SELECT u AS n FROM edges UNION SELECT v FROM edges),
      |reach AS MATERIALIZED (
      |  WITH RECURSIVE r(a, z) AS (
      |    SELECT u, v FROM edges
      |    UNION
      |    SELECT r.a, e.v FROM r JOIN edges e ON e.u = r.z)
      |  SELECT a, z FROM r),
      |mutual AS (SELECT r1.a AS x, r1.z AS y FROM reach r1
      |  JOIN reach r2 ON r1.a = r2.z AND r1.z = r2.a),
      |ids AS (SELECT n.n AS node,
      |    CAST(least(n.n, coalesce(min(m.y), n.n)) AS BIGINT) AS scc_id
      |  FROM nodes n LEFT JOIN mutual m ON m.x = n.n GROUP BY n.n),
      |sz AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
      |  FROM ids GROUP BY scc_id)
      |SELECT i.node, i.scc_id, s.scc_size FROM ids i
      |JOIN sz s ON s.scc_id = i.scc_id""".stripMargin) { (s, d) =>
    import graft.operators.Scc
    val rep = T.lineitem(s, d).groupBy(col("l_orderkey").as("k"))
      .agg((min(col("l_partkey")) % 24).cast("long").as("b"))
    val seq = T.orders(s, d)
      .join(rep, col("o_orderkey") === col("k"))
      .select(col("o_custkey").as("c"), col("o_orderdate").as("d"),
        col("o_orderkey").as("ok"), col("b"))
    val w = Window.partitionBy(col("c")).orderBy(col("d"), col("ok"))
    val edges = seq.withColumn("nb", lead(col("b"), 1).over(w))
      .filter(col("nb").isNotNull && col("nb") =!= col("b"))
      .filter(col("nb") % 4 === col("b") % 4 ||
        (col("b") % 4 < 3 && col("nb") % 4 === col("b") % 4 + 1))
      .select(col("b").as("u"), col("nb").as("v")).distinct()
    val scc = Scc.strongComponents(edges)
    val sizes = scc.groupBy(col("scc_id")).agg(count(lit(1)).as("scc_size"))
    val out = scc.join(sizes, Seq("scc_id"))
      .select(col("node"), col("scc_id"), col("scc_size"))
    val (nScc, maxSz) = {
      val r = sizes.agg(count(lit(1)), max(col("scc_size"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    require(nScc >= 2 && maxSz >= 2,
      s"decomposition must be non-trivial: $nScc components, max size $maxSz")
    out
  }

  val all: Seq[QueryDef] = Seq(
    g23Scc, g22IncrementalPagerank,
    g21TemporalReach,
    g1Pagerank, g2TriangleCount, g3LabelProp, g4ShortestPath, g5Assortativity,
    g6LinkPredict, g7NeighborhoodJaccard, g8KCore, g9PersonalizedPr, g10Hits,
    g11CheapestPath, g12Modularity, g13RandomWalks, g14HarmonicCentrality,
    g15Katz, g16ClusteringCoeff, g17Ktruss, g18MutualKnnClusters, g19Butterflies,
    g20Hyperball)
}
