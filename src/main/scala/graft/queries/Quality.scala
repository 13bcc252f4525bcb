package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables => T}
import graft.operators.DataQuality

/** Data-governance queries: declarative quality expectations and
  * anonymity audits — the validation layer a training-data pipeline runs
  * before (and after) every ingest.
  */
object Quality {

  // --- dq1_expectations: a 9-rule Deequ-style expectation suite over
  // orders + lineitem. All seven row-local rules fold into exactly TWO
  // aggregate scans (one per table, count(*) shared per scan);
  // uniqueness is one count-distinct; referential integrity one semi
  // join against the distinct key side (broadcast under AQE). Verdicts
  // are integer-exact (metric*100 >= denom*minPct), so the oracle
  // reproduces the report bit-for-bit — at 100 TB this whole suite costs
  // two table reads and one semi join, not nine validation jobs. ---
  val dq1Expectations = QueryDef.sql(
    "dq1_expectations",
    """WITH ro AS (SELECT count(*) AS denom,
      |    count(*) FILTER (WHERE o_custkey IS NOT NULL) AS m0,
      |    count(*) FILTER (WHERE o_orderstatus IN ('O','F','P')) AS m1,
      |    count(*) FILTER (WHERE o_totalprice >= 0.0 AND o_totalprice <= 600000.0) AS m2,
      |    count(*) FILTER (WHERE regexp_matches(o_orderpriority, '^[1-5]-')) AS m3
      |  FROM orders),
      |rl AS (SELECT count(*) AS denom,
      |    count(*) FILTER (WHERE l_quantity >= 1.0 AND l_quantity <= 50.0) AS m0,
      |    count(*) FILTER (WHERE l_discount >= 0.0 AND l_discount <= 0.1) AS m1,
      |    count(*) FILTER (WHERE l_shipdate IS NOT NULL) AS m2
      |  FROM lineitem),
      |u AS (SELECT count(*) AS denom, count(DISTINCT o_orderkey) AS metric FROM orders),
      |ri AS (SELECT count(*) AS denom,
      |    count(*) FILTER (WHERE l_orderkey IN (SELECT o_orderkey FROM orders)) AS metric
      |  FROM lineitem)
      |SELECT 'not_null(o_custkey)' AS chk, m0 AS metric, denom, m0*100 >= denom*100 AS pass FROM ro
      |UNION ALL SELECT 'accepted(o_orderstatus)', m1, denom, m1*100 >= denom*100 FROM ro
      |UNION ALL SELECT 'in_range(o_totalprice)', m2, denom, m2*100 >= denom*99 FROM ro
      |UNION ALL SELECT 'matches(o_orderpriority)', m3, denom, m3*100 >= denom*100 FROM ro
      |UNION ALL SELECT 'in_range(l_quantity)', m0, denom, m0*100 >= denom*100 FROM rl
      |UNION ALL SELECT 'in_range(l_discount)', m1, denom, m1*100 >= denom*100 FROM rl
      |UNION ALL SELECT 'not_null(l_shipdate)', m2, denom, m2*100 >= denom*100 FROM rl
      |UNION ALL SELECT 'unique(o_orderkey)', metric, denom, metric*100 >= denom*100 FROM u
      |UNION ALL SELECT 'ref_integrity(l_orderkey)', metric, denom, metric*100 >= denom*100 FROM ri""".stripMargin) {
    (s, d) =>
      val o = T.orders(s, d)
      val li = T.lineitem(s, d)
      val ordersReport = DataQuality.validateRows(o, Seq(
        DataQuality.notNull("o_custkey"),
        DataQuality.accepted("o_orderstatus", Seq("O", "F", "P")),
        DataQuality.inRange("o_totalprice", 0.0, 600000.0, minPct = 99),
        DataQuality.matches("o_orderpriority", "^[1-5]-")))
      val lineitemReport = DataQuality.validateRows(li, Seq(
        DataQuality.inRange("l_quantity", 1.0, 50.0),
        DataQuality.inRange("l_discount", 0.0, 0.1),
        DataQuality.notNull("l_shipdate")))
      ordersReport
        .unionAll(lineitemReport)
        .unionAll(DataQuality.unique(o, Seq("o_orderkey")))
        .unionAll(DataQuality.refIntegrity(li, "l_orderkey", o, "o_orderkey"))
  }

  // --- dq2_k_anonymity: k-anonymity audit over the customer
  // quasi-identifier (c_nationkey, c_mktsegment) — every equivalence
  // class of the quasi-identifier must contain at least k=5 individuals
  // or the grouping is re-identifiable. One partial-aggregated groupBy
  // (the class count), then a 1-row summary: the smallest class, how
  // many classes violate, and the verdict. The shuffle carries one row
  // per equivalence class — thousands, never |customers|. ---
  val dq2KAnonymity = QueryDef.sql(
    "dq2_k_anonymity",
    """WITH cls AS (
      |  SELECT c_nationkey, c_mktsegment, count(*) AS n
      |  FROM customer GROUP BY c_nationkey, c_mktsegment)
      |SELECT CAST(count(*) AS BIGINT) AS classes,
      |       min(n) AS min_class,
      |       CAST(count(*) FILTER (WHERE n < 5) AS BIGINT) AS violating,
      |       min(n) >= 5 AS k_anonymous
      |FROM cls""".stripMargin) { (s, d) =>
    val classes = T.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    classes.agg(
      count(lit(1)).as("classes"),
      min(col("n")).as("min_class"),
      count(when(col("n") < 5, 1)).as("violating"),
      (min(col("n")) >= 5).as("k_anonymous"))
  }

  // --- dq9_l_diversity: the attribute-disclosure audit k-anonymity
  // misses — a class of 5 identical customers is k-anonymous, but if
  // all 5 share one sensitive value (account-balance sign here), the
  // attribute still leaks. Per quasi-identifier class: exact distinct
  // count of the sensitive attribute, worst class, violators under
  // l = 2. Same scale shape as dq2 — one partial-aggregated two-level
  // groupBy whose shuffles carry (class, value) then class rows, never
  // |customers| — plus the per-class summary. Reported per nation so
  // the output localizes WHERE the leak is, not just that one exists. ---
  val dq9LDiversity = QueryDef.sql(
    "dq9_l_diversity",
    """WITH cv AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'nonneg' END AS sv,
      |    count(*) AS n
      |  FROM customer GROUP BY 1, 2, 3),
      |cls AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(count(*) AS BIGINT) AS l_distinct, sum(n) AS class_size
      |  FROM cv GROUP BY 1, 2)
      |SELECT c_nationkey,
      |  CAST(count(*) AS BIGINT) AS classes,
      |  min(l_distinct) AS min_l,
      |  CAST(count(*) FILTER (WHERE l_distinct < 2) AS BIGINT) AS violating,
      |  min(l_distinct) >= 2 AS l_diverse
      |FROM cls GROUP BY c_nationkey""".stripMargin) { (s, d) =>
    val cv = T.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        when(col("c_acctbal") < 0, "neg").otherwise("nonneg").as("sv"))
      .agg(count(lit(1)).as("n"))
    val cls = cv.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("l_distinct"), sum(col("n")).as("class_size"))
    cls.groupBy(col("c_nationkey")).agg(
      count(lit(1)).as("classes"),
      min(col("l_distinct")).as("min_l"),
      count(when(col("l_distinct") < 2, 1)).as("violating"),
      (min(col("l_distinct")) >= 2).as("l_diverse"))
  }

  // --- dq3_ref_integrity: referential-integrity audit — orphan-rate per
  // foreign-key relationship (orders→customer, lineitem→orders), the
  // join-health check a warehouse runs before trusting any star join.
  // Each relationship is ONE left join probed for null parents with
  // exact integer counts; the parent side broadcasts when small and the
  // child never moves more than its key column. A nonzero orphan rate
  // is the canary for partial loads and late dimension arrival. ---
  val dq3RefIntegrity = QueryDef.sql(
    "dq3_ref_integrity",
    """WITH oc AS (SELECT count(*) AS n,
      |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orph
      |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
      |lo AS (SELECT count(*) AS n,
      |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orph
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT 'orders_customer' AS rel, n AS n_child, orph AS n_orphan,
      |  CAST(orph AS DOUBLE) / CAST(n AS DOUBLE) AS orphan_rate FROM oc
      |UNION ALL
      |SELECT 'lineitem_orders', n, orph,
      |  CAST(orph AS DOUBLE) / CAST(n AS DOUBLE) FROM lo""".stripMargin) { (s, d) =>
    def audit(rel: String, child: org.apache.spark.sql.DataFrame, ck: String,
        parent: org.apache.spark.sql.DataFrame, pk: String) =
      child.select(col(ck)).join(parent.select(col(pk)), col(ck) === col(pk), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col(pk).isNull, 1L).otherwise(0L)).as("n_orphan"))
        .select(lit(rel).as("rel"), col("n_child"), col("n_orphan"),
          (col("n_orphan").cast("double") / col("n_child").cast("double"))
            .as("orphan_rate"))
    audit("orders_customer", T.orders(s, d), "o_custkey", T.customer(s, d), "c_custkey")
      .unionByName(
        audit("lineitem_orders", T.lineitem(s, d), "l_orderkey", T.orders(s, d), "o_orderkey"))
  }

  // --- dq4_drift_psi: population-stability-index drift report between
  // a baseline and a current window of the event stream — the standard
  // "did the input distribution move?" gate a pipeline runs before
  // retraining on fresh data. Per event type: both window shares and the
  // PSI contribution (share_cur − share_base) · ln(share_cur/share_base).
  // Each window is ONE partial-aggregated count scan; the two 1-row
  // totals broadcast back onto the 5-row type table (q22's scalar
  // pattern), so at 100 TB the cost is two filtered scans — no shuffle
  // ever carries more than the type cardinality. Shares and the PSI term
  // are double arithmetic in the identical expression shape on both
  // engines (one division each, one ln, one product), so the report —
  // and any threshold verdict downstream — decides identically. ---
  val dq4DriftPsi = QueryDef.sql(
    "dq4_drift_psi",
    """WITH base AS (SELECT event_type, count(*) AS c FROM events
      |  WHERE ts < TIMESTAMP '2024-01-16' GROUP BY event_type),
      |cur AS (SELECT event_type, count(*) AS c FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY event_type),
      |bt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM base),
      |ct AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cur)
      |SELECT base.event_type,
      |  CAST(base.c AS BIGINT) AS n_base, CAST(cur.c AS BIGINT) AS n_cur,
      |  CAST(base.c AS DOUBLE) / CAST(bt.t AS DOUBLE) AS share_base,
      |  CAST(cur.c AS DOUBLE) / CAST(ct.t AS DOUBLE) AS share_cur,
      |  (CAST(cur.c AS DOUBLE) / CAST(ct.t AS DOUBLE)
      |     - CAST(base.c AS DOUBLE) / CAST(bt.t AS DOUBLE))
      |    * ln((CAST(cur.c AS DOUBLE) / CAST(ct.t AS DOUBLE))
      |        / (CAST(base.c AS DOUBLE) / CAST(bt.t AS DOUBLE))) AS psi_term
      |FROM base JOIN cur ON base.event_type = cur.event_type, bt, ct""".stripMargin) { (s, d) =>
    val ev = T.events(s, d)
    val cut = to_timestamp(lit("2024-01-16"))
    val base = ev.filter(col("ts") < cut)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cb"))
    val cur = ev.filter(col("ts") >= cut)
      .groupBy(col("event_type").as("et")).agg(count(lit(1)).as("cc"))
    val bt = base.agg(sum(col("cb")).cast("long").as("tb"))
    val ct = cur.agg(sum(col("cc")).cast("long").as("tc"))
    val sb = col("cb").cast("double") / col("tb").cast("double")
    val sc = col("cc").cast("double") / col("tc").cast("double")
    base.join(cur, col("event_type") === col("et"))
      .join(broadcast(bt)).join(broadcast(ct))
      .select(col("event_type"),
        col("cb").cast("long").as("n_base"), col("cc").cast("long").as("n_cur"),
        sb.as("share_base"), sc.as("share_cur"),
        ((sc - sb) * log(sc / sb)).as("psi_term"))
  }

  // --- dq5_freshness: partition-completeness audit — the "did every
  // feed land every day?" gate a warehouse runs before publishing. The
  // expected grid is (distinct event_type) × (full min→max day spine,
  // sequence-exploded — rows ∝ output, never a range join); actual
  // daily counts left-join onto it and absent cells surface as n=0
  // gap rows, which a HAVING-style consumer alerts on. The spine
  // bounds ride a broadcast 1-row scalar aggregate (q22's pattern —
  // a global min/max never needs a partition-less window). ---
  val dq5Freshness = QueryDef.sql(
    "dq5_freshness",
    """WITH b AS (SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS d0,
      |    CAST(max(date_trunc('day', ts)) AS DATE) AS d1 FROM events),
      |types AS (SELECT DISTINCT event_type FROM events),
      |spine AS (SELECT t.event_type, b.d0 + CAST(gs.i AS INTEGER) AS day
      |  FROM types t, b, generate_series(0, 366) gs(i)
      |  WHERE b.d0 + CAST(gs.i AS INTEGER) <= b.d1),
      |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT s.event_type, CAST(s.day AS VARCHAR) AS day,
      |  CAST(coalesce(d.n, 0) AS BIGINT) AS n,
      |  (coalesce(d.n, 0) = 0) AS is_gap
      |FROM spine s LEFT JOIN daily d
      |  ON s.event_type = d.event_type AND s.day = d.day""".stripMargin) { (s, d) =>
    val ev = T.events(s, d)
      .select(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"))
    val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val types = ev.select(col("event_type")).distinct()
    val spine = types.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val daily = ev.groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day").cast("string").as("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        (coalesce(col("n"), lit(0L)) === 0).as("is_gap"))
  }

  // --- dq6_benford: first-digit (Benford) conformance audit on order
  // totals — the forensic screen for fabricated or truncated numeric
  // columns. The leading digit comes from the DECIMAL's string form
  // (values ≥ 1, no leading zero — engine-identical rendering, no
  // log10-of-double edge cases); observed counts are one partial-agg
  // shuffle into ≤9 rows; expected mass n·log10(1+1/d) and each χ²
  // term (obs−exp)²/exp run in double with identical expression shape
  // on both engines, n riding a 1-row broadcast. ---
  val dq6Benford = QueryDef.sql(
    "dq6_benford",
    """WITH p AS (SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR), 1, 1) AS d
      |  FROM orders WHERE o_totalprice >= 1),
      |o AS (SELECT d, count(*) AS n_obs FROM p GROUP BY d),
      |n AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM o)
      |SELECT o.d AS digit, o.n_obs,
      |  CAST(n.n AS DOUBLE) * log10(1 + 1.0 / CAST(o.d AS BIGINT)) AS expected,
      |  (CAST(o.n_obs AS DOUBLE) - CAST(n.n AS DOUBLE) * log10(1 + 1.0 / CAST(o.d AS BIGINT)))
      |    * (CAST(o.n_obs AS DOUBLE) - CAST(n.n AS DOUBLE) * log10(1 + 1.0 / CAST(o.d AS BIGINT)))
      |    / (CAST(n.n AS DOUBLE) * log10(1 + 1.0 / CAST(o.d AS BIGINT))) AS chi2_term
      |FROM o, n""".stripMargin) { (s, d) =>
    val p = T.orders(s, d).filter(col("o_totalprice") >= 1)
      .select(substring(col("o_totalprice").cast("decimal(14,2)").cast("string"), 1, 1).as("d"))
    val o = p.groupBy(col("d")).agg(count(lit(1)).as("n_obs"))
    val n = o.agg(sum(col("n_obs")).as("n"))
    o.crossJoin(broadcast(n))
      .select(col("d").as("digit"), col("n_obs"),
        (col("n").cast("double") * log10(lit(1) + lit(1.0) / col("d").cast("bigint"))).as("expected"),
        (((col("n_obs").cast("double")
            - col("n").cast("double") * log10(lit(1) + lit(1.0) / col("d").cast("bigint")))
          * (col("n_obs").cast("double")
            - col("n").cast("double") * log10(lit(1) + lit(1.0) / col("d").cast("bigint"))))
          / (col("n").cast("double") * log10(lit(1) + lit(1.0) / col("d").cast("bigint"))))
          .as("chi2_term"))
  }

  // --- dq7_outlier_iqr: Tukey-fence outlier audit per event type — the
  // robust complement of e6's z-score flags (quartiles don't move when
  // the outliers do). Q1/Q3 are EXACT interpolated order statistics via
  // a30's machinery (per-group partitioned rank windows + straddling-
  // rank joins — never a global sort); the per-type fences broadcast
  // back onto one counting pass. Identical double interpolation/fence
  // expressions both engines; counts exact. ---
  val dq7OutlierIqr = QueryDef.sql(
    "dq7_outlier_iqr",
    """WITH s AS (SELECT event_type, CAST(value AS DOUBLE) AS v, event_id,
      |    row_number() OVER (PARTITION BY event_type ORDER BY CAST(value AS DOUBLE), event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events WHERE value IS NOT NULL),
      |p AS (SELECT unnest([0.25, 0.75]) AS pct),
      |g AS (SELECT DISTINCT event_type, n FROM s),
      |pick AS (SELECT g.event_type, p.pct,
      |    (CAST(g.n AS DOUBLE) - 1.0) * p.pct AS r,
      |    CAST(floor((CAST(g.n AS DOUBLE) - 1.0) * p.pct) AS BIGINT) + 1 AS lorn,
      |    least(CAST(floor((CAST(g.n AS DOUBLE) - 1.0) * p.pct) AS BIGINT) + 2, g.n) AS hirn
      |  FROM g, p),
      |q AS (SELECT k.event_type, k.pct,
      |    vlo.v + (k.r - floor(k.r)) * (vhi.v - vlo.v) AS pctl
      |  FROM pick k
      |  JOIN s vlo ON vlo.event_type = k.event_type AND vlo.rn = k.lorn
      |  JOIN s vhi ON vhi.event_type = k.event_type AND vhi.rn = k.hirn),
      |f AS (SELECT event_type,
      |    max(CASE WHEN pct = 0.25 THEN pctl END) AS q1,
      |    max(CASE WHEN pct = 0.75 THEN pctl END) AS q3
      |  FROM q GROUP BY event_type),
      |fe AS (SELECT event_type, q1, q3,
      |    q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM f)
      |SELECT s.event_type, count(*) AS n, fe.q1, fe.q3,
      |  CAST(sum(CASE WHEN s.v < fe.lo OR s.v > fe.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  CAST(sum(CASE WHEN s.v < fe.lo OR s.v > fe.hi THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*) AS outlier_rate
      |FROM s JOIN fe ON fe.event_type = s.event_type
      |GROUP BY s.event_type, fe.q1, fe.q3""".stripMargin) { (s, d) =>
    import s.implicits._
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("v"), col("event_id"))
    val wN = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    // value IS NOT NULL on BOTH engines: Spark windows sort NULLS FIRST,
    // DuckDB NULLS LAST — a null value would shift every rank/quartile.
    val ranked = T.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), col("value").cast("double").as("v"), col("event_id"))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wN))
    val pick = ranked.select(col("event_type"), col("n")).distinct()
      .crossJoin(broadcast(Seq(0.25, 0.75).toDF("pct")))
      .withColumn("r", (col("n").cast("double") - lit(1.0)) * col("pct"))
      .withColumn("lorn", floor(col("r")).cast("long") + 1)
      .withColumn("hirn", least(floor(col("r")).cast("long") + 2, col("n")))
    val vlo = ranked.select(col("event_type").as("et1"), col("rn").as("rn1"), col("v").as("v1"))
    val vhi = ranked.select(col("event_type").as("et2"), col("rn").as("rn2"), col("v").as("v2"))
    val q = pick
      .join(vlo, col("event_type") === col("et1") && col("lorn") === col("rn1"))
      .join(vhi, col("event_type") === col("et2") && col("hirn") === col("rn2"))
      .select(col("event_type"), col("pct"),
        (col("v1") + (col("r") - floor(col("r"))) * (col("v2") - col("v1"))).as("pctl"))
    val f = q.groupBy(col("event_type")).agg(
      max(when(col("pct") === 0.25, col("pctl"))).as("q1"),
      max(when(col("pct") === 0.75, col("pctl"))).as("q3"))
    val fe = f.select(col("event_type").as("fet"), col("q1"), col("q3"),
      (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
      (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
    ranked.join(broadcast(fe), col("event_type") === col("fet"))
      .groupBy(col("event_type"), col("q1"), col("q3"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") < col("lo") || col("v") > col("hi"), 1L).otherwise(0L))
          .as("n_outliers"),
        (sum(when(col("v") < col("lo") || col("v") > col("hi"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("outlier_rate"))
      .select(col("event_type"), col("n"), col("q1"), col("q3"),
        col("n_outliers"), col("outlier_rate"))
  }

  // --- dq8_reconciliation: source↔target table diff — the validation
  // pass behind every migration/backfill/replication (dq3 checks keys
  // EXIST; dq8 checks the rows are THE SAME). The target is a
  // deterministically perturbed copy of orders (every 97th key dropped,
  // every 89th totalprice bumped, every 178th also status-corrupted,
  // every 101st re-keyed as an extra), so all four verdict classes and
  // both drifted-column signatures are exercised — and the oracle can
  // recompute the class of every key from the perturbation rule alone,
  // gating operators.Reconcile's full-outer-join classification without
  // ever trusting it. Shape: ONE full-outer sort-merge shuffle on the
  // key (the exact-diff minimum), null-safe column compare in the fused
  // post-join stage, partial-agg rollup. ---
  val dq8Reconciliation = QueryDef.sql(
    "dq8_reconciliation",
    """WITH cls AS (
      |  SELECT CASE WHEN o_orderkey % 97 = 0 THEN 'MISSING_IN_TARGET'
      |              WHEN o_orderkey % 89 = 0 THEN 'MISMATCH'
      |              ELSE 'MATCH' END AS status,
      |         CASE WHEN o_orderkey % 97 = 0 THEN ''
      |              WHEN o_orderkey % 178 = 0 THEN 'o_totalprice,o_orderstatus'
      |              WHEN o_orderkey % 89 = 0 THEN 'o_totalprice'
      |              ELSE '' END AS diff_cols
      |  FROM orders
      |  UNION ALL
      |  SELECT 'EXTRA_IN_TARGET', '' FROM orders WHERE o_orderkey % 101 = 0)
      |SELECT status, diff_cols, count(*) AS n
      |FROM cls GROUP BY status, diff_cols""".stripMargin) { (s, d) =>
    import graft.operators.Reconcile
    val src = T.orders(s, d).select(col("o_orderkey"),
      col("o_totalprice").cast("decimal(12,2)").as("o_totalprice"),
      col("o_orderstatus"))
    val kept = src.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 89 === 0, col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 178 === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
    val extra = src.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
    val target = kept.unionByName(extra)
    Reconcile.summarize(
        Reconcile.compare(src, target, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus")))
      .select(col("status"), col("diff_cols"), col("n"))
  }

  // --- dq10_t_closeness: the distribution-disclosure audit l-diversity
  // misses — a class can hold many DISTINCT sensitive values yet still
  // leak if its distribution differs sharply from the table's (all-rich
  // vs all-poor segments both pass l-diversity). t-closeness bounds the
  // Earth Mover's Distance between each class's sensitive-attribute
  // distribution and the global one. For an ordered numeric attribute
  // (account balance, binned to $1000 bands) EMD has the closed form
  // (1/(m-1))·Σᵢ|CDF_class(i) − CDF_global(i)| over the m ordered bins.
  // Exactness: the CDF gap is cross-multiplied to integers —
  // |cum_class·N − cum_global·n_class| — summed as BIGINT, with ONE
  // double division at the end, so no float accumulation can diverge
  // between engines (dq7's discipline). Bound: the products stay under
  // 2^63 up to ~3·10^9 rows; past that lift the sums to DECIMAL(38,0).
  // Scale: one (segment, bin) partial-aggregated count shuffle (never
  // |customers| rows), a broadcast m-row global histogram, and a dense
  // segment×bin grid that is |segments|·|bins| — dimension-sized by
  // construction. ---
  val dq10TCloseness = QueryDef.sql(
    "dq10_t_closeness",
    """WITH b AS (SELECT c_mktsegment AS seg,
      |    CAST(floor(c_acctbal / 1000.0) AS INT) AS bin FROM customer),
      |sb AS (SELECT seg, bin, count(*) AS n FROM b GROUP BY seg, bin),
      |gb AS (SELECT bin, CAST(sum(n) AS BIGINT) AS gn FROM sb GROUP BY bin),
      |segs AS (SELECT seg, CAST(sum(n) AS BIGINT) AS n_class FROM sb GROUP BY seg),
      |tot AS (SELECT CAST(sum(gn) AS BIGINT) AS n_total,
      |    CAST(count(*) AS BIGINT) AS m FROM gb),
      |grid AS (SELECT seg, n_class, bin, gn, coalesce(sb.n, 0) AS cn
      |  FROM segs CROSS JOIN gb LEFT JOIN sb USING (seg, bin)),
      |cum AS (SELECT seg, n_class, bin,
      |    sum(cn) OVER (PARTITION BY seg ORDER BY bin) AS cum_c,
      |    sum(gn) OVER (PARTITION BY seg ORDER BY bin) AS cum_g
      |  FROM grid)
      |SELECT seg, n_class,
      |  CAST(sum(abs(cum_c * n_total - cum_g * n_class)) AS DOUBLE)
      |    / (CAST(n_class AS DOUBLE) * n_total * (m - 1)) AS t_emd,
      |  CAST(sum(abs(cum_c * n_total - cum_g * n_class)) AS DOUBLE)
      |    / (CAST(n_class AS DOUBLE) * n_total * (m - 1)) <= 0.2 AS t_close
      |FROM cum, tot GROUP BY seg, n_class, n_total, m""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val b = T.customer(s, d).select(
      col("c_mktsegment").as("seg"),
      floor(col("c_acctbal") / 1000.0).cast("int").as("bin"))
    val sb = b.groupBy(col("seg"), col("bin")).agg(count(lit(1)).as("n"))
    val gb = sb.groupBy(col("bin")).agg(sum(col("n")).as("gn"))
    val segs = sb.groupBy(col("seg")).agg(sum(col("n")).as("n_class"))
    val tot = gb.agg(sum(col("gn")).as("n_total"), count(lit(1)).as("m"))
    val grid = segs.crossJoin(broadcast(gb))
      .join(sb, Seq("seg", "bin"), "left")
      .withColumn("cn", coalesce(col("n"), lit(0L)))
    val w = Window.partitionBy(col("seg")).orderBy(col("bin"))
    val cum = grid
      .withColumn("cum_c", sum(col("cn")).over(w))
      .withColumn("cum_g", sum(col("gn")).over(w))
      .crossJoin(broadcast(tot))
    cum.groupBy(col("seg"), col("n_class"), col("n_total"), col("m"))
      .agg(
        (sum(abs(col("cum_c") * col("n_total") - col("cum_g") * col("n_class"))).cast("double") /
          (col("n_class").cast("double") * col("n_total") * (col("m") - 1))).as("t_emd"))
      .select(col("seg"), col("n_class"), col("t_emd"),
        (col("t_emd") <= 0.2).as("t_close"))
  }

  // --- dq11_bounded_contribution: the differential-privacy PREP
  // aggregate — per-user contribution bounding plus k-threshold
  // suppression, the deterministic 90% of every production DP release
  // (Google/LinkedIn-style pipelines clamp and threshold exactly like
  // this; only the final noise draw is random, and noise is the
  // caller's last step precisely BECAUSE it must come from a sampler,
  // not a query engine). Semantics: per (event_type, day) release cell,
  // each user contributes at most 5 events and at most $500 of value
  // (sensitivity bound: one user can move the released sum by ≤ 500 —
  // that is what calibrates the caller's noise scale); cells with fewer
  // than 50 distinct contributors are flagged suppressed rather than
  // silently dropped, so the audit sees WHAT was withheld. Exactness:
  // clamps and sums are DECIMAL end-to-end, one double cast at the
  // output. Scale: one (cell, user) partial-aggregated shuffle then a
  // cell-level reduce — user-grain rows never reach the driver, and the
  // clamp happens BEFORE the second aggregate, so no cell's state ever
  // exceeds |users| rows. ---
  val dq11BoundedContribution = QueryDef.sql(
    "dq11_bounded_contribution",
    """WITH e AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, user_id,
      |    CAST(value AS DECIMAL(10,2)) AS v FROM events),
      |u AS (SELECT event_type, day, user_id,
      |    CAST(count(*) AS BIGINT) AS n_ev, sum(v) AS sv
      |  FROM e GROUP BY 1, 2, 3),
      |cl AS (SELECT event_type, day, user_id,
      |    least(n_ev, 5) AS cn,
      |    least(sv, CAST(500 AS DECIMAL(12,2))) AS cv FROM u),
      |g AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(cn) AS BIGINT) AS events_bounded,
      |    CAST(sum(cv) AS DOUBLE) AS value_bounded
      |  FROM cl GROUP BY 1, 2)
      |SELECT event_type, day, n_users, events_bounded, value_bounded,
      |  n_users >= 50 AS released FROM g""".stripMargin) { (s, d) =>
    val e = T.events(s, d).select(col("event_type"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"),
      col("value").cast("decimal(10,2)").as("v"))
    val u = e.groupBy(col("event_type"), col("day"), col("user_id"))
      .agg(count(lit(1)).as("n_ev"), sum(col("v")).as("sv"))
    val cl = u.select(col("event_type"), col("day"), col("user_id"),
      least(col("n_ev"), lit(5L)).as("cn"),
      least(col("sv"), lit(500).cast("decimal(12,2)")).as("cv"))
    cl.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("cn")).as("events_bounded"),
        sum(col("cv")).cast("double").as("value_bounded"))
      .select(col("event_type"), col("day"), col("n_users"),
        col("events_bounded"), col("value_bounded"),
        (col("n_users") >= 50).as("released"))
  }

  // --- dq12_fd_violations: approximate functional-dependency audit —
  // for each declared candidate FD X→Y, the g3 error: the minimum
  // number of rows that must be removed for the dependency to hold,
  // Σₓ(nₓ − max_y n_{x,y}). This is the constraint-mining half of data
  // profiling ([[graft.operators.Profiler]] does per-column stats; this
  // audits cross-column STRUCTURE): an FD that "almost" holds usually
  // marks dirty rows, a broken denormalization, or an undocumented key.
  // Three declared FDs span the spectrum: a true key dependency
  // (o_orderkey→o_orderstatus, must hold exactly), a plausible-but-
  // false business rule (o_custkey→o_orderpriority), and a cross-grain
  // one (l_orderkey→l_returnflag). Exactness: counts all the way, one
  // double division for the error rate. Scale: per FD, one (x, y)
  // partial-aggregated count shuffle then an x-level reduce — the same
  // two-level shape as dq2, never a row-grain exchange; the per-FD
  // summary is ONE row. ---
  val dq12FdViolations = QueryDef.sql(
    "dq12_fd_violations",
    """WITH f1 AS (SELECT o_orderkey AS x, o_orderstatus AS y FROM orders),
      |f2 AS (SELECT CAST(o_custkey AS VARCHAR) AS x, o_orderpriority AS y FROM orders),
      |f3 AS (SELECT CAST(l_orderkey AS VARCHAR) AS x, l_returnflag AS y FROM lineitem),
      |g1 AS (SELECT CAST(x AS VARCHAR) AS x, y, count(*) AS n FROM f1 GROUP BY 1, 2),
      |g2 AS (SELECT x, y, count(*) AS n FROM f2 GROUP BY 1, 2),
      |g3 AS (SELECT x, y, count(*) AS n FROM f3 GROUP BY 1, 2),
      |s1 AS (SELECT 'o_orderkey->o_orderstatus' AS fd,
      |    CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(nx) AS BIGINT) AS n_rows,
      |    CAST(sum(nx - mxn) AS BIGINT) AS violations
      |  FROM (SELECT x, sum(n) AS nx, max(n) AS mxn FROM g1 GROUP BY x) t),
      |s2 AS (SELECT 'o_custkey->o_orderpriority' AS fd,
      |    CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(nx) AS BIGINT) AS n_rows,
      |    CAST(sum(nx - mxn) AS BIGINT) AS violations
      |  FROM (SELECT x, sum(n) AS nx, max(n) AS mxn FROM g2 GROUP BY x) t),
      |s3 AS (SELECT 'l_orderkey->l_returnflag' AS fd,
      |    CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(nx) AS BIGINT) AS n_rows,
      |    CAST(sum(nx - mxn) AS BIGINT) AS violations
      |  FROM (SELECT x, sum(n) AS nx, max(n) AS mxn FROM g3 GROUP BY x) t),
      |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
      |SELECT fd, n_keys, n_rows, violations, violations = 0 AS holds,
      |  CAST(violations AS DOUBLE) / n_rows AS error_rate
      |FROM u""".stripMargin) { (s, d) =>
    def g3Error(df: DataFrame, x: Column, y: Column, fd: String): DataFrame =
      df.select(x.cast("string").as("x"), y.as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
        .groupBy(col("x")).agg(sum(col("n")).as("nx"), max(col("n")).as("mxn"))
        .agg(count(lit(1)).as("n_keys"), sum(col("nx")).as("n_rows"),
          sum(col("nx") - col("mxn")).as("violations"))
        .select(lit(fd).as("fd"), col("n_keys"), col("n_rows"), col("violations"))
    val o = T.orders(s, d); val l = T.lineitem(s, d)
    g3Error(o, col("o_orderkey"), col("o_orderstatus"), "o_orderkey->o_orderstatus")
      .unionByName(g3Error(o, col("o_custkey"), col("o_orderpriority"),
        "o_custkey->o_orderpriority"))
      .unionByName(g3Error(l, col("l_orderkey"), col("l_returnflag"),
        "l_orderkey->l_returnflag"))
      .select(col("fd"), col("n_keys"), col("n_rows"), col("violations"),
        (col("violations") === 0).as("holds"),
        (col("violations").cast("double") / col("n_rows")).as("error_rate"))
  }

  // --- dq13_schema_drift: SCHEMA-drift audit between two landed
  // generations of a table — the metadata half of dq8's value
  // reconciliation and the read-side complement of k13's schema-
  // evolving write: a source generation and an evolved target (one
  // column dropped, one added, one retyped double→decimal) land as
  // parquet, and Reconcile.schemaDiff classifies every column from the
  // FOOTERS alone (added/removed/retyped/unchanged + both type
  // strings). The oracle pins the full expected classification as
  // literals, so a drifted writer (wrong type mapping, silently dropped
  // column) hash-mismatches. Metadata-only: identical cost at any SF. ---
  val dq13SchemaDrift = QueryDef.sql(
    "dq13_schema_drift",
    """SELECT * FROM (VALUES
      |  ('event_id',   'unchanged', 'bigint',    'bigint'),
      |  ('event_type', 'unchanged', 'string',    'string'),
      |  ('props',      'removed',   'string',    NULL),
      |  ('source',     'added',     NULL,        'string'),
      |  ('ts',         'unchanged', 'timestamp', 'timestamp'),
      |  ('user_id',    'unchanged', 'bigint',    'bigint'),
      |  ('value',      'retyped',   'double',    'decimal(10,2)')
      |) AS t(col_name, change, type_source, type_target)""".stripMargin) { (s, d) =>
    import graft.operators.Reconcile
    val root = graft.Scratch.dir("dq13-drift")
    val src = T.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    src.write.parquet(s"$root/v1")
    src.drop("props")
      .withColumn("value", col("value").cast("decimal(10,2)"))
      .withColumn("source", lit("api"))
      .write.parquet(s"$root/v2")
    Reconcile.schemaDiff(s, s"$root/v1", s"$root/v2")
  }

  // --- dq14_null_drift: MISSINGNESS drift — dq4's PSI reads value
  // DISTRIBUTIONS; an upstream producer that starts emitting nulls
  // (dropped sensor, schema mishap behind a lenient parser) shifts
  // null RATES first, often before any value drift registers. A
  // second-half-of-month ingest regression is synthesized into a
  // LANDED copy of events (value nulled for user_id % 17 from Jan 16 —
  // injected so the audit is NOT vacuously green, the q7 lesson; props
  // stays clean as the negative control), and the audit reports
  // per-column base/current null counts and rates with a 1-point
  // drift threshold. Exact counts, double rates in identical shape.
  // Scale: one pass over the landed table, two conditional-sum rows
  // out. ---
  val dq14NullDrift = QueryDef.sql(
    "dq14_null_drift",
    """WITH e AS (SELECT
      |    CASE WHEN ts >= TIMESTAMP '2024-01-16' AND user_id % 17 = 0
      |         THEN NULL ELSE value END AS value,
      |    props, ts >= TIMESTAMP '2024-01-16' AS cur
      |  FROM events),
      |agg AS (SELECT
      |    CAST(sum(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS BIGINT) AS base_n,
      |    CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS cur_n,
      |    CAST(sum(CASE WHEN NOT cur AND value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS vb,
      |    CAST(sum(CASE WHEN cur AND value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS vc,
      |    CAST(sum(CASE WHEN NOT cur AND props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS pb,
      |    CAST(sum(CASE WHEN cur AND props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS pc
      |  FROM e)
      |SELECT 'value' AS col_name, base_n, vb AS base_nulls, cur_n, vc AS cur_nulls,
      |  CAST(vb AS DOUBLE) / base_n AS base_rate,
      |  CAST(vc AS DOUBLE) / cur_n AS cur_rate,
      |  CAST(vc AS DOUBLE) / cur_n - CAST(vb AS DOUBLE) / base_n > 0.01 AS drifted
      |FROM agg
      |UNION ALL
      |SELECT 'props', base_n, pb, cur_n, pc,
      |  CAST(pb AS DOUBLE) / base_n, CAST(pc AS DOUBLE) / cur_n,
      |  CAST(pc AS DOUBLE) / cur_n - CAST(pb AS DOUBLE) / base_n > 0.01
      |FROM agg""".stripMargin) { (s, d) =>
    val tbl = graft.Scratch.dir("dq14-null") + "/events"
    val cut = lit("2024-01-16").cast("timestamp")
    T.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        when(col("ts") >= cut && col("user_id") % 17 === 0,
          lit(null).cast("double")).otherwise(col("value")).as("value"),
        col("props"))
      .write.parquet(tbl)
    val e = T.parquet(s, tbl).withColumn("cur", col("ts") >= cut)
    val agg = e.agg(
      count(when(!col("cur"), 1)).as("base_n"),
      count(when(col("cur"), 1)).as("cur_n"),
      count(when(!col("cur") && col("value").isNull, 1)).as("vb"),
      count(when(col("cur") && col("value").isNull, 1)).as("vc"),
      count(when(!col("cur") && col("props").isNull, 1)).as("pb"),
      count(when(col("cur") && col("props").isNull, 1)).as("pc"))
    def row(name: String, b: String, c: String) = agg.select(
      lit(name).as("col_name"), col("base_n"), col(b).as("base_nulls"),
      col("cur_n"), col(c).as("cur_nulls"),
      (col(b).cast("double") / col("base_n")).as("base_rate"),
      (col(c).cast("double") / col("cur_n")).as("cur_rate"),
      (col(c).cast("double") / col("cur_n") -
        col(b).cast("double") / col("base_n") > 0.01).as("drifted"))
    row("value", "vb", "vc").unionByName(row("props", "pb", "pc"))
  }

  // --- dq15_masking_policy: column-level MASKING enforcement — the
  // governance half that acts (ColumnLineage.sensitiveReach finds where
  // sensitive values flow; Masking.mask produces the protected view
  // untrusted consumers actually read). Three policy shapes in one
  // gate: SHA-256 pseudonymization of the identifying name (joinable,
  // irreversible), constant redaction of the segment, and k-anonymity
  // numeric generalization of the balance (floor-division to the
  // $100 bucket's lower bound — FLOOR, not truncate-toward-zero, so
  // negative balances bucket uniformly across the sign boundary; both
  // engines compute the identical SQL floor). The oracle applies the
  // same policies in SQL — SHA-256 is bit-identical across engines, so
  // the hash gate covers every masked cell. Pure projection: masking
  // costs one codegen'd pass and composes into any plan. ---
  val dq15MaskingPolicy = QueryDef.sql(
    "dq15_masking_policy",
    """SELECT c_custkey, sha256(c_name) AS c_name, c_nationkey,
      |  CAST(floor(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS DOUBLE)
      |    / 10000) * 100 AS BIGINT) AS c_acctbal,
      |  'REDACTED' AS c_mktsegment
      |FROM customer""".stripMargin) { (s, d) =>
    import graft.operators.Masking
    Masking.mask(T.customer(s, d), Map(
      "c_name" -> Masking.hash,
      "c_acctbal" -> (c => Masking.generalizeNumeric(
        c.cast("decimal(12,2)"), step = 100L)),
      "c_mktsegment" -> (_ => Masking.redact)))
  }

  // --- dq16_fd_discovery: functional-dependency MINING — dq12 audits
  // DECLARED FDs; dq16 discovers which candidate dependencies actually
  // hold: for every ordered pair (A→B) over the profiled column set,
  // violations = Σ_a (distinct B within a − 1), and the FD holds iff
  // that sum is zero (the standard TANE-style check, enumerated over a
  // declared candidate set — real miners prune the lattice, but the
  // per-pair check IS this aggregate). Scale: one partial-aggregated
  // (A, B)-distinct count per pair, each its own keyed shuffle over
  // the pair's two columns only (column pruning reaches the scan);
  // pairs are schema-bounded, never data-bounded. Profiled over the
  // lineitem status/flag/quantity triple — whichever direction holds
  // is the discovery, zeros and all. ---
  val dq16FdDiscovery: QueryDef = {
    val cols = Seq("l_returnflag", "l_linestatus", "l_quantity")
    val pairs = for { a <- cols; b <- cols if a != b } yield (a, b)
    val sql = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS lhs, '$b' AS rhs,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(nd - 1) AS BIGINT) AS violations,
         |  CAST(sum(nd - 1) = 0 AS INT) AS holds
         |FROM (SELECT $a, count(DISTINCT $b) AS nd FROM lineitem GROUP BY $a) t""".stripMargin
    }.mkString("\nUNION ALL\n")
    QueryDef.sql("dq16_fd_discovery", sql) { (s, d) =>
      // ONE distinct pass over the profiled triple feeds all 6 pair
      // checks (round-13 wave 2: each pair re-scanned and re-shuffled
      // lineitem). count(DISTINCT b) GROUP BY a is invariant under
      // collapsing the base table to its distinct (a, b, c) triples —
      // the triple set preserves every pair's distinct combinations —
      // and the domain is schema-bounded (|rf|·|ls|·|qty| ≤ a few
      // hundred rows), so the 6 aggregates run over a staged leaf.
      val triples = graft.Scratch.stageFrame(s,
        T.lineitem(s, d).select(cols.map(col).toIndexedSeq: _*).distinct(),
        s"${graft.Scratch.dir(s, "dq16-triples")}/t")
      pairs.map { case (a, b) =>
        triples.groupBy(col(a)).agg(countDistinct(col(b)).as("nd"))
          .agg(count(lit(1)).as("n_groups"),
            sum(col("nd") - 1).as("violations"),
            (sum(col("nd") - 1) === 0).cast("int").as("holds"))
          .select(lit(a).as("lhs"), lit(b).as("rhs"),
            col("n_groups"), col("violations"), col("holds"))
      }.reduce(_ unionByName _)
    }
  }

  val all: Seq[QueryDef] = Seq(dq16FdDiscovery,
    dq1Expectations, dq2KAnonymity, dq3RefIntegrity, dq4DriftPsi,
    dq5Freshness, dq6Benford, dq7OutlierIqr, dq8Reconciliation, dq9LDiversity,
    dq10TCloseness, dq11BoundedContribution, dq12FdViolations, dq13SchemaDrift,
    dq14NullDrift, dq15MaskingPolicy)
}
