package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables => T}
import graft.operators.{FuzzyJoin, IncrementalAgg, RangeJoin, Scd2, SnapshotDiff, Upsert}

/** SURVEY.md §2 operator semantics exercised over the driver fixture
  * tables so each operator class carries a DuckDB-oracle check. The
  * Square-shaped pipelines themselves (P1-P11/J1-J3/K1-K6 on Square
  * payloads) live in graft.pipeline and are covered by ScalaTest golden
  * tests; these queries prove the same relational semantics on data the
  * oracle can see.
  */
object EtlOps {

  // --- j1_first_wins: deterministic first-per-key dedup (SURVEY §2.4 J1,
  // reference src/etl-square-orders.ts:181-193). Window + row_number, NOT
  // dropDuplicates (which is not order-stable under repartitioning). ---
  val j1FirstWins = QueryDef.sql(
    "j1_first_wins",
    """SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate FROM (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn = 1""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    T.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey").as("first_orderkey"),
        col("o_orderdate").as("first_orderdate"))
  }

  // --- j2_flatten: parent⋈child flatten carrying parent columns, with
  // child validity filter (SURVEY §2.4 J2 + §2.3 P4,
  // reference src/etl-square-orders.ts:197-213). Inner join drops
  // childless parents = the reference's skip-missing-order semantics. ---
  val j2Flatten = QueryDef.sql(
    "j2_flatten",
    """SELECT o_orderkey, o_custkey, o_orderdate, l_linenumber, l_partkey, l_quantity,
      |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_quantity > 0 AND l_partkey IS NOT NULL
      |  AND o_orderdate >= TIMESTAMP '1997-06-01'""".stripMargin) { (s, d) =>
    val ord = T.orders(s, d).filter(col("o_orderdate") >= to_timestamp(lit("1997-06-01")))
    val li = T.lineitem(s, d).filter(col("l_quantity") > 0 && col("l_partkey").isNotNull)
    ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("l_linenumber"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice").cast("decimal(12,2)").cast("double").as("price"))
  }

  // --- j3_lookup: fact→dimension left broadcast join, missing parent →
  // nulls (SURVEY §2.4 J3, reference src/etl-square-catalog.ts:134-168) ---
  val j3Lookup = QueryDef.sql(
    "j3_lookup",
    """SELECT p_brand, count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand""".stripMargin) { (s, d) =>
    T.lineitem(s, d)
      .join(broadcast(T.part(s, d)), col("l_partkey") === col("p_partkey"), "left")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("qty"))
  }

  // --- p2_time_window: incremental lookback-window predicate (SURVEY §2.3
  // P2, reference src/etl-square-payments.ts:18-25) — pushed to the scan. ---
  val p2TimeWindow = QueryDef.sql(
    "p2_time_window",
    """SELECT event_id, user_id, event_type, value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'""".stripMargin) { (s, d) =>
    T.events(s, d)
      .filter(col("ts") >= to_timestamp(lit("2024-01-10")) && col("ts") < to_timestamp(lit("2024-01-20")))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
  }

  // --- p4_cast_validate: numeric-string parse + validity filter; garbage
  // casts to NULL and is dropped, never thrown (SURVEY §2.3 P4/P8,
  // reference src/etl-square-orders.ts:61-68). regexp_extract works
  // identically in Spark and DuckDB here (group 0, first match). ---
  val p4CastValidate = QueryDef.sql(
    "p4_cast_validate",
    """SELECT event_id, event_type, CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k
      |FROM events
      |WHERE CAST(regexp_extract(props, '[0-9]+') AS BIGINT) IS NOT NULL
      |  AND CAST(regexp_extract(props, '[0-9]+') AS BIGINT) > 0""".stripMargin) { (s, d) =>
    val k = regexp_extract(col("props"), "[0-9]+", 0).cast("bigint")
    T.events(s, d)
      .select(col("event_id"), col("event_type"), k.as("k"))
      .filter(col("k").isNotNull && col("k") > 0)
  }

  // --- p10_defaults_concat: constant-column injection, coalesce
  // defaulting, null-skipping concat (SURVEY §2.3 P3/P9/P10,
  // reference src/etl-square-locations.ts:29-53) ---
  val p10DefaultsConcat = QueryDef.sql(
    "p10_defaults_concat",
    """SELECT 'tenant-1' AS tenant_id, c_custkey,
      |  coalesce(nullif(c_mktsegment, 'HOUSEHOLD'), 'UNKNOWN') AS segment,
      |  concat_ws(', ', c_name, nullif(c_mktsegment, 'HOUSEHOLD'), n_name) AS label
      |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey""".stripMargin) { (s, d) =>
    T.customer(s, d)
      .join(broadcast(T.nation(s, d)), col("c_nationkey") === col("n_nationkey"), "left")
      .select(
        lit("tenant-1").as("tenant_id"),
        col("c_custkey"),
        coalesce(nullif(col("c_mktsegment"), lit("HOUSEHOLD")), lit("UNKNOWN")).as("segment"),
        concat_ws(", ", col("c_name"), nullif(col("c_mktsegment"), lit("HOUSEHOLD")), col("n_name")).as("label"))
  }

  // --- k1_upsert_merge: ON CONFLICT DO UPDATE semantics as a relational
  // merge (SURVEY §2.2 K1-K6): delta (a re-pulled lookback window with
  // updated values) wins over base on the key; disjoint base rows pass
  // through. Runs the actual Upsert.merge operator. ---
  val k1UpsertMerge = QueryDef.sql(
    "k1_upsert_merge",
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, 'RERUN' AS o_orderpriority
      |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01'
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |FROM orders
      |WHERE o_orderdate < TIMESTAMP '1997-06-01'
      |  AND o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01')""".stripMargin) { (s, d) =>
    val base = T.orders(s, d)
    val delta = base
      .filter(col("o_orderdate") >= to_timestamp(lit("1997-06-01")))
      .withColumn("o_orderpriority", lit("RERUN"))
    Upsert.merge(base, delta, Seq("o_orderkey"))
  }

  // --- k7_scd2: Type-2 slowly-changing-dimension history over the
  // events change log (user_id's tracked state = event_type + value),
  // built INCREMENTALLY: the first half of the month seeds the history
  // via Scd2.fromChangeLog, the second half lands as a delta batch via
  // Scd2.applyDelta (touching only affected keys). The oracle builds the
  // same history in ONE window pass over the whole log — so the hash gate
  // proves the incremental merge is exactly equivalent to a full rebuild,
  // including change collapse across the batch boundary and close-out of
  // superseded open rows. Output instants truncate to seconds (nanos-vs-
  // micros parquet parity); ordering uses the raw instants. ---
  val k7Scd2 = QueryDef.sql(
    "k7_scd2",
    """WITH ordered AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pt,
      |    lag(value)      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
      |  FROM events),
      |changes AS (
      |  SELECT user_id, ts, event_id, event_type, value FROM ordered
      |  WHERE pt IS DISTINCT FROM event_type OR pv IS DISTINCT FROM value),
      |hist AS (
      |  SELECT user_id, event_type, value, ts AS vf,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
      |  FROM changes)
      |SELECT user_id, event_type, value,
      |  date_trunc('second', vf) AS valid_from,
      |  date_trunc('second', vt) AS valid_to,
      |  vt IS NULL AS is_current
      |FROM hist""".stripMargin) { (s, d) =>
    val ev = T.events(s, d)
    val split = to_timestamp(lit("2024-01-16"))
    val key = Seq("user_id"); val order = Seq("ts", "event_id")
    val attrs = Seq("event_type", "value")
    val hist = Scd2.fromChangeLog(ev.filter(col("ts") < split), key, order, attrs, "ts")
    Scd2.applyDelta(hist, ev.filter(col("ts") >= split), key, order, attrs, "ts")
      .select(col("user_id"), col("event_type"), col("value"),
        date_trunc("second", col("valid_from")).as("valid_from"),
        date_trunc("second", col("valid_to")).as("valid_to"),
        col("is_current"))
  }

  // --- k8_incr_agg: incremental materialized-aggregate maintenance —
  // per-supplier revenue stats kept as mergeable partials (count / exact
  // DECIMAL sum / min / max), seeded from pre-1999 lineitem and folded
  // forward with the post-1999 delta via IncrementalAgg.merge. The
  // oracle recomputes from scratch over the whole table: the hash gate
  // proves partial-merge ≡ full recompute (exact decimal sums make the
  // merge batching-independent; avg is derived at read time because avg
  // partials don't merge). ---
  val k8IncrAgg = QueryDef.sql(
    "k8_incr_agg",
    """SELECT l_suppkey, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  CAST(min(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS min_rev,
      |  CAST(max(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS max_rev,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) / count(*) AS DOUBLE) AS avg_rev
      |FROM lineitem GROUP BY l_suppkey""".stripMargin) { (s, d) =>
    val li = T.lineitem(s, d)
    val split = to_timestamp(lit("1999-01-01"))
    val rev = col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
    val key = Seq("l_suppkey")
    val state = IncrementalAgg.partials(li.filter(col("l_shipdate") < split), key, rev)
    val merged = IncrementalAgg.merge(
      state, IncrementalAgg.partials(li.filter(col("l_shipdate") >= split), key, rev))
    IncrementalAgg.finish(merged)
      .select(col("l_suppkey"), col("n"),
        col("s").cast("double").as("revenue"),
        col("mn").cast("double").as("min_rev"),
        col("mx").cast("double").as("max_rev"),
        col("avg").cast("double").as("avg_rev"))
  }

  // --- k9_snapshot_diff: keyed change-data-capture between two table
  // snapshots (added / removed / changed; unchanged rows filtered — the
  // diff output is delta-sized). Snapshot A drops keys ≡0 mod 11,
  // snapshot B drops keys ≡0 mod 13 and rewrites recent priorities, so
  // all three change classes occur. One co-partitioned full outer join —
  // the minimal movement any diff can do. ---
  val k9SnapshotDiff = QueryDef.sql(
    "k9_snapshot_diff",
    """WITH a AS (SELECT * FROM orders WHERE o_orderkey % 11 <> 0),
      |b AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |        CASE WHEN o_orderdate >= TIMESTAMP '1997-06-01' THEN 'RERUN'
      |             ELSE o_orderpriority END AS o_orderpriority
      |      FROM orders WHERE o_orderkey % 13 <> 0)
      |SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
      |  CASE WHEN a.o_orderkey IS NULL THEN 'added'
      |       WHEN b.o_orderkey IS NULL THEN 'removed'
      |       ELSE 'changed' END AS change_type
      |FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey
      |WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
      |  OR a.o_custkey IS DISTINCT FROM b.o_custkey
      |  OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
      |  OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
      |  OR a.o_orderdate IS DISTINCT FROM b.o_orderdate
      |  OR a.o_orderpriority IS DISTINCT FROM b.o_orderpriority""".stripMargin) { (s, d) =>
    val orders = T.orders(s, d)
    val snapA = orders.filter(col("o_orderkey") % 11 =!= 0)
    val snapB = orders.filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_orderpriority",
        when(col("o_orderdate") >= to_timestamp(lit("1997-06-01")), lit("RERUN"))
          .otherwise(col("o_orderpriority")))
    SnapshotDiff.diff(snapA, snapB, Seq("o_orderkey"))
  }

  // --- j4_range_join: point-in-interval join against OVERLAPPING price
  // bands (stride 250, width 500 — every order lands in exactly two
  // bands) via the binned equi-join rewrite. A naive BETWEEN join is a
  // nested loop; RangeJoin's bin grid turns it into a hash join both
  // sides shuffle into co-partitioned — the rewrite is physical only,
  // so the DuckDB oracle can use the naive BETWEEN join and must agree
  // row-for-row. ---
  val j4RangeJoin = QueryDef.sql(
    "j4_range_join",
    """WITH bands AS (SELECT i AS band,
      |    CAST(i * 250 AS DOUBLE) AS lo, CAST(i * 250 + 500 AS DOUBLE) AS hi
      |  FROM (SELECT unnest(range(0, 2001)) AS i) t)
      |SELECT b.band, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders o JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice <= b.hi
      |GROUP BY b.band""".stripMargin) { (s, d) =>
    val bands = s.range(0, 2001).select(col("id").as("band"),
      (col("id") * 250).cast("double").as("lo"),
      (col("id") * 250 + 500).cast("double").as("hi"))
    RangeJoin.pointInInterval(T.orders(s, d), "o_totalprice", bands, "lo", "hi", 500.0)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("total"))
  }

  // --- j5_interval_overlap: interval×interval overlap join — per-user
  // daily click activity windows against the (small) error windows of
  // users 0-9, on hour-wide epoch bins. Same binned rewrite as j4 but
  // BOTH sides explode, and each overlapping pair is owned by exactly
  // one bin (the later start bin) so the result needs no dedup shuffle.
  // The oracle runs the naive quadratic overlap join. ---
  val j5IntervalOverlap = QueryDef.sql(
    "j5_interval_overlap",
    """WITH a AS (SELECT user_id AS ua, CAST(ts AS DATE) AS day,
      |    CAST(floor(min(date_part('epoch', ts))) AS BIGINT) AS alo,
      |    CAST(floor(max(date_part('epoch', ts))) AS BIGINT) AS ahi
      |  FROM events WHERE event_type = 'click' GROUP BY ua, day),
      |b AS (SELECT user_id AS ub, CAST(ts AS DATE) AS bday,
      |    CAST(floor(min(date_part('epoch', ts))) AS BIGINT) AS blo,
      |    CAST(floor(max(date_part('epoch', ts))) AS BIGINT) AS bhi
      |  FROM events WHERE event_type = 'error' AND user_id < 10 GROUP BY ub, bday)
      |SELECT ua, ub, count(*) AS n_overlaps
      |FROM a JOIN b ON alo <= bhi AND blo <= ahi
      |GROUP BY ua, ub""".stripMargin) { (s, d) =>
    val ev = T.events(s, d)
    val a = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("ua"), col("ts").cast("date").as("day"))
      .agg(min(unix_timestamp(col("ts"))).as("alo"), max(unix_timestamp(col("ts"))).as("ahi"))
    val b = ev.filter(col("event_type") === "error" && col("user_id") < 10)
      .groupBy(col("user_id").as("ub"), col("ts").cast("date").as("bday"))
      .agg(min(unix_timestamp(col("ts"))).as("blo"), max(unix_timestamp(col("ts"))).as("bhi"))
    RangeJoin.intervalOverlap(a, "alo", "ahi", b, "blo", "bhi", binWidth = 3600.0)
      .groupBy(col("ua"), col("ub"))
      .agg(count(lit(1)).as("n_overlaps"))
  }

  // --- j6_fuzzy_match: approximate string-match join (entity
  // resolution) — a small probe set of part names matched against the
  // odd-key master side by character-3-gram Jaccard >= 0.5, via the
  // inverted-index equi-join (never a string-distance nested loop).
  // The oracle decomposes grams with a DuckDB list comprehension and
  // runs the same set algebra. ---
  val j6FuzzyMatch = QueryDef.sql(
    "j6_fuzzy_match",
    """WITH ga AS (SELECT DISTINCT p_partkey AS ka, q FROM (
      |    SELECT p_partkey, unnest([substr(p_name, i, 3) for i in range(1, len(p_name) - 1)]) AS q
      |    FROM part WHERE p_partkey %% 397 = 0 AND len(p_name) >= 3) t),
      |gb AS (SELECT DISTINCT p_partkey AS kb, q FROM (
      |    SELECT p_partkey, unnest([substr(p_name, i, 3) for i in range(1, len(p_name) - 1)]) AS q
      |    FROM part WHERE p_partkey %% 2 = 1 AND len(p_name) >= 3) t),
      |sa AS (SELECT ka, count(*) AS ca FROM ga GROUP BY ka),
      |sb AS (SELECT kb, count(*) AS cb FROM gb GROUP BY kb),
      |inter AS (SELECT ka, kb, count(*) AS i FROM ga JOIN gb USING (q) GROUP BY ka, kb)
      |SELECT ka, kb, CAST(i AS DOUBLE) / (ca + cb - i) AS jaccard
      |FROM inter JOIN sa USING (ka) JOIN sb USING (kb)
      |WHERE CAST(i AS DOUBLE) / (ca + cb - i) >= 0.5""".stripMargin
      .replace("%%", "%")) { (s, d) =>
    val part = T.part(s, d)
    FuzzyJoin.qgramJoin(
      part.filter(col("p_partkey") % 397 === 0), "p_partkey", "p_name",
      part.filter(col("p_partkey") % 2 === 1), "p_partkey", "p_name",
      n = 3, threshold = 0.5)
  }

  // --- j7_edit_distance: edit-distance join — j6's inverted-index
  // candidates (>= 8 shared 3-grams) refined by exact Levenshtein <= 4.
  // The O(|s|·|t|) distance kernel runs only on candidates that also
  // clear the free length prefilter; DuckDB's levenshtein and Spark's
  // are both the unit-cost classic, so the gate is an exact match. ---
  val j7EditDistance = QueryDef.sql(
    "j7_edit_distance",
    """WITH ga AS (SELECT DISTINCT p_partkey AS ka, q FROM (
      |    SELECT p_partkey, unnest([substr(p_name, i, 3) for i in range(1, len(p_name) - 1)]) AS q
      |    FROM part WHERE p_partkey %% 397 = 0 AND len(p_name) >= 3) t),
      |gb AS (SELECT DISTINCT p_partkey AS kb, q FROM (
      |    SELECT p_partkey, unnest([substr(p_name, i, 3) for i in range(1, len(p_name) - 1)]) AS q
      |    FROM part WHERE p_partkey %% 2 = 1 AND len(p_name) >= 3) t),
      |cand AS (SELECT ka, kb FROM ga JOIN gb USING (q) GROUP BY ka, kb HAVING count(*) >= 8)
      |SELECT c.ka, c.kb, levenshtein(a.p_name, b.p_name) AS dist
      |FROM cand c JOIN part a ON a.p_partkey = c.ka JOIN part b ON b.p_partkey = c.kb
      |WHERE abs(len(a.p_name) - len(b.p_name)) <= 4
      |  AND levenshtein(a.p_name, b.p_name) <= 4""".stripMargin
      .replace("%%", "%")) { (s, d) =>
    val part = T.part(s, d)
    FuzzyJoin.editDistanceJoin(
      part.filter(col("p_partkey") % 397 === 0), "p_partkey", "p_name",
      part.filter(col("p_partkey") % 2 === 1), "p_partkey", "p_name",
      n = 3, minShared = 8, maxDist = 4)
  }

  // --- j8_auto_range_join: the j4 shape WITHOUT the manual rewrite —
  // the query is written as a naive BETWEEN join (which Spark alone
  // plans as a BroadcastNestedLoopJoin) and graft.plans.RangeJoinRule
  // rewrites it into the binned hash equi-join during optimization.
  // Points: click-event epoch seconds; intervals: per-user-day error
  // windows of users 0-9 (same construction j5 uses). Bin width 3600
  // puts each point in one hour bucket; intervals explode onto covered
  // hours. The oracle runs the naive BETWEEN join — the hash match
  // proves the rule is physical-only. The width is set on the session
  // the query is built on and stays there, since the returned frame is
  // planned later; the registry run loop builds each query on its own
  // `newSession()` child, so the switch never reaches the next query. ---
  val j8AutoRangeJoin = QueryDef.sql(
    "j8_auto_range_join",
    """WITH w AS (SELECT user_id AS wu, CAST(CAST(ts AS DATE) AS VARCHAR) AS wday,
      |    CAST(floor(min(date_part('epoch', ts))) AS BIGINT) AS wlo,
      |    CAST(floor(max(date_part('epoch', ts))) AS BIGINT) AS whi
      |  FROM events WHERE event_type = 'error' AND user_id < 10 GROUP BY wu, wday)
      |SELECT wu, wday, count(*) AS n_in_window
      |FROM (SELECT CAST(floor(date_part('epoch', ts)) AS BIGINT) AS p
      |      FROM events WHERE event_type = 'click') e
      |JOIN w ON e.p >= w.wlo AND e.p <= w.whi
      |GROUP BY wu, wday""".stripMargin) { (s, d) =>
    s.conf.set(graft.plans.RangeJoinRule.widthKey, "3600")
    val ev = T.events(s, d)
    val pts = ev.filter(col("event_type") === "click")
      .select(unix_timestamp(col("ts")).as("p"))
    val w = ev.filter(col("event_type") === "error" && col("user_id") < 10)
      .groupBy(col("user_id").as("wu"),
        col("ts").cast("date").cast("string").as("wday"))
      .agg(min(unix_timestamp(col("ts"))).as("wlo"),
        max(unix_timestamp(col("ts"))).as("whi"))
    pts.join(w, col("p") >= col("wlo") && col("p") <= col("whi"))
      .groupBy(col("wu"), col("wday"))
      .agg(count(lit(1)).as("n_in_window"))
  }

  // --- j9_salted_join: explicit skew-salted equi-join under the hash
  // gate — SkewTools.saltedJoin spreads each hot key's rows across
  // `salt` reducers (deterministic whole-row hash salt on the big side,
  // `salt`-fold replication of the small side) so one pathological key
  // can't pin a single straggler task. The oracle runs the plain join:
  // the hash match proves salting is a pure physical redistribution.
  // AQE's skew split covers sort-merge joins automatically; explicit
  // salting is the tool when the small side is replicated anyway or the
  // join runs on a shuffle-hash path. ---
  val j9SaltedJoin = QueryDef.sql(
    "j9_salted_join",
    """WITH dim AS (SELECT DISTINCT user_id, user_id % 5 AS tier
      |  FROM events WHERE user_id < 500)
      |SELECT tier, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total
      |FROM events e JOIN dim USING (user_id)
      |GROUP BY tier""".stripMargin) { (s, d) =>
    import graft.operators.SkewTools
    val ev = T.events(s, d)
    val dim = ev.filter(col("user_id") < 500).select(col("user_id")).distinct()
      .withColumn("tier", col("user_id") % 5)
    SkewTools.saltedJoin(ev, dim, "user_id", salt = 8)
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total"))
  }

  // --- j10_geo_join: spatial radius join (customers within 75 km of a
  // supplier site) as a GRID-BINNED hash equi-join — the geo analog of
  // j4's binned range join. Coordinates are synthesized deterministically
  // from the keys (integer modulo, one double division — bit-identical
  // on both engines; latitudes capped to ±45° so one longitude degree is
  // ≥78 km and the 75 km radius can never escape the 3×3 neighborhood of
  // 1°×1° cells). Each supplier explodes onto its 9 candidate cells; the
  // join is on (cell_lat, cell_lon) — a shuffle, never the nested-loop
  // cross product Spark plans for a raw distance predicate — and the
  // exact haversine (identical expression shape both engines, so the
  // radius boundary decides identically) filters candidates. At 100 TB
  // the candidate set per row is bounded by cell density, not corpus
  // size — the classic spatial-bucketing scale story. The oracle runs
  // the naive cross-product distance filter: the hash match proves the
  // grid is a pure physical rewrite. ---
  val j10GeoJoin = QueryDef.sql(
    "j10_geo_join",
    """WITH c AS (SELECT c_custkey,
      |    (c_custkey * 37 % 9000)/100.0 - 45.0 AS lat,
      |    (c_custkey * 91 % 36000)/100.0 - 180.0 AS lon FROM customer),
      |s AS (SELECT s_suppkey,
      |    (s_suppkey * 53 % 9000)/100.0 - 45.0 AS lat,
      |    (s_suppkey * 67 % 36000)/100.0 - 180.0 AS lon FROM supplier),
      |pairs AS (SELECT s_suppkey, c_custkey,
      |    2.0 * 6371.0 * asin(sqrt(
      |      sin(radians((c.lat - s.lat)/2.0)) * sin(radians((c.lat - s.lat)/2.0))
      |      + cos(radians(s.lat)) * cos(radians(c.lat))
      |        * sin(radians((c.lon - s.lon)/2.0)) * sin(radians((c.lon - s.lon)/2.0)))) AS dist_km
      |  FROM s, c)
      |SELECT s_suppkey, c_custkey, dist_km FROM pairs WHERE dist_km <= 75.0""".stripMargin) { (s, d) =>
    val cust = T.customer(s, d).select(col("c_custkey"),
      ((col("c_custkey") * 37 % 9000) / 100.0 - 45.0).as("clat"),
      ((col("c_custkey") * 91 % 36000) / 100.0 - 180.0).as("clon"))
      .withColumn("gx", floor(col("clat"))).withColumn("gy", floor(col("clon")))
    val supp = T.supplier(s, d).select(col("s_suppkey"),
      ((col("s_suppkey") * 53 % 9000) / 100.0 - 45.0).as("slat"),
      ((col("s_suppkey") * 67 % 36000) / 100.0 - 180.0).as("slon"))
      .withColumn("gx", explode(array((-1 to 1).map(o => floor(col("slat")) + o): _*)))
      .withColumn("gy", explode(array((-1 to 1).map(o => floor(col("slon")) + o): _*)))
    val dist = lit(2.0) * lit(6371.0) * asin(sqrt(
      sin(radians((col("clat") - col("slat")) / 2.0)) * sin(radians((col("clat") - col("slat")) / 2.0))
        + cos(radians(col("slat"))) * cos(radians(col("clat")))
          * sin(radians((col("clon") - col("slon")) / 2.0)) * sin(radians((col("clon") - col("slon")) / 2.0))))
    supp.join(cust, Seq("gx", "gy"))
      .withColumn("dist_km", dist)
      .filter(col("dist_km") <= 75.0)
      .select(col("s_suppkey"), col("c_custkey"), col("dist_km"))
  }

  // --- j11_pit_features: POINT-IN-TIME training-set assembly — each
  // label (a purchase) is joined to the latest DAILY SNAPSHOT of every
  // feature table strictly completed before the label's timestamp (the
  // feature-store discipline that keeps future signal out of training
  // rows; snapshots stamp day_end, so a label can only see days that
  // closed before it). Two as-of joins chain over AsOfJoinExec (e4's
  // operator: co-partitioned sort + one merge pass emitting the whole
  // matched snapshot row); feature snapshots are built by per-user
  // cumulative windows over partial-aggregated daily rows.
  // Earliest-day labels correctly surface NULL features. The oracle runs
  // DuckDB's native chained ASOF LEFT JOINs. Scale: snapshot tables are
  // days × users (not events), each as-of is one hash partition on
  // user_id — the standard offline feature-store topology. ---
  val j11PitFeatures = QueryDef.sql(
    "j11_pit_features",
    """WITH sp AS (
      |  SELECT user_id, date_trunc('day', ts) + INTERVAL 1 DAY AS snap_a,
      |    CAST(sum(sum(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)))
      |      OVER (PARTITION BY user_id ORDER BY date_trunc('day', ts)
      |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS spend_cents
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, date_trunc('day', ts)),
      |ck AS (
      |  SELECT user_id, date_trunc('day', ts) + INTERVAL 1 DAY AS snap_b,
      |    CAST(sum(count(*)) OVER (PARTITION BY user_id ORDER BY date_trunc('day', ts)
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS clicks
      |  FROM events WHERE event_type = 'click'
      |  GROUP BY user_id, date_trunc('day', ts)),
      |lbl AS (SELECT event_id, user_id, ts AS lts FROM events WHERE event_type = 'purchase')
      |SELECT l.event_id, l.user_id, sp.spend_cents, ck.clicks
      |FROM lbl l
      |ASOF LEFT JOIN sp ON l.user_id = sp.user_id AND l.lts >= sp.snap_a
      |ASOF LEFT JOIN ck ON l.user_id = ck.user_id AND l.lts >= ck.snap_b""".stripMargin) { (s, d) =>
    import graft.plans.AsOfJoinNative
    import org.apache.spark.sql.expressions.Window
    val ev = T.events(s, d)
    val wCum = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sp = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(sum((col("value").cast("decimal(14,2)") * 100).cast("long")).as("dv"))
      .select(col("user_id").as("sp_user"), (col("day") + expr("INTERVAL 1 DAY")).as("snap_a"),
        sum(col("dv")).over(wCum).cast("long").as("spend_cents"))
    val ck = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("dc"))
      .select(col("user_id").as("ck_user"), (col("day") + expr("INTERVAL 1 DAY")).as("snap_b"),
        sum(col("dc")).over(wCum).cast("long").as("clicks"))
    val lbl = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("lts"))
    val withSpend = AsOfJoinNative.asofJoin(lbl, sp, "user_id", "sp_user", "lts", "snap_a")
    AsOfJoinNative.asofJoin(withSpend, ck, "user_id", "ck_user", "lts", "snap_b")
      .select(col("event_id"), col("user_id"), col("spend_cents"), col("clicks"))
  }

  // --- er1_entity_clusters: end-to-end entity resolution — fuzzy
  // self-match (3-gram Jaccard >= 0.6 over the inverted index, never a
  // distance nested loop) feeds connected components, so transitive
  // matches (A~B, B~C) collapse to ONE entity even when A~C was never
  // emitted; unmatched records stay their own entity. The canonical id
  // is the component minimum — deterministic, so the recursive-CTE
  // oracle reproduces it exactly. The d6 pipeline shape on an entity
  // table instead of a near-dup corpus. ---
  /** The part-entity cluster labels (id, cluster_id) as a LANDED
    * artifact: fuzzy q-gram self-match + connected components computed
    * once per dataset, read by er1 (membership report) and er4
    * (survivorship merge) — at warehouse scale resolved entities are a
    * landed table of ingest, not a per-query recomputation. */
  private def partEntityLabels(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val (stage, landed) = graft.Scratch.cache(
      s, s"er-labels-v1-${Integer.toHexString(d.hashCode)}")
    if (!landed) {
      val sub = T.part(s, d).filter(col("p_partkey") % 23 === 0)
      val pairs = FuzzyJoin.qgramJoin(
        sub, "p_partkey", "p_name", sub, "p_partkey", "p_name", n = 3, threshold = 0.6)
        .filter(col("ka") < col("kb"))
      val tmp = graft.Scratch.dir("er-edges")
      val edges = graft.Scratch.stageFrame(s,
        pairs.select(col("ka").as("a"), col("kb").as("b")), tmp)
      graft.operators.Components.connectedComponents(
          edges, stagePath = Some(s"$tmp/labels"))
        .write.mode("overwrite").parquet(stage)
    }
    T.parquet(s, stage)
  }

  val er1EntityClusters = QueryDef.sql(
    "er1_entity_clusters",
    """WITH RECURSIVE g AS (SELECT DISTINCT p_partkey AS k, q FROM (
      |    SELECT p_partkey, unnest([substr(p_name, i, 3) for i in range(1, len(p_name) - 1)]) AS q
      |    FROM part WHERE p_partkey %% 23 = 0 AND len(p_name) >= 3) t),
      |sz AS (SELECT k, count(*) AS c FROM g GROUP BY k),
      |pr AS (SELECT a.k AS ka, b.k AS kb, count(*) AS i
      |       FROM g a JOIN g b ON a.q = b.q AND a.k < b.k GROUP BY a.k, b.k),
      |ed0 AS (SELECT ka, kb FROM pr JOIN sz sa ON sa.k = pr.ka JOIN sz sb ON sb.k = pr.kb
      |        WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.6),
      |edges AS (SELECT ka AS a, kb AS b FROM ed0 UNION SELECT kb, ka FROM ed0),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |reach(a, b) AS (SELECT id, id FROM nodes
      |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |lbl AS (SELECT a AS k, min(b) AS cid FROM reach GROUP BY a)
      |SELECT p.p_partkey, coalesce(l.cid, p.p_partkey) AS entity_id,
      |  coalesce(l.cid, p.p_partkey) = p.p_partkey AS canonical
      |FROM part p LEFT JOIN lbl l ON l.k = p.p_partkey
      |WHERE p.p_partkey %% 23 = 0""".stripMargin
      .replace("%%", "%")) { (s, d) =>
    val sub = T.part(s, d).filter(col("p_partkey") % 23 === 0)
    val cc = partEntityLabels(s, d)
    sub.select(col("p_partkey"))
      .join(cc.select(col("id").as("p_partkey"), col("cluster_id")),
        Seq("p_partkey"), "left_outer")
      .select(col("p_partkey"),
        coalesce(col("cluster_id"), col("p_partkey")).as("entity_id"))
      .withColumn("canonical", col("entity_id") === col("p_partkey"))
  }

  // --- er4_golden_record: SURVIVORSHIP — the step after er1's clusters
  // that makes entity resolution useful: one merged "golden" row per
  // entity, each field resolved by its own rule (canonical name = the
  // canonical member's, brand = most frequent with deterministic
  // smallest-brand tie-break, price = min/max envelope). Shape at
  // scale: the cluster labels join back to the record attributes once,
  // then everything is per-entity partial aggregates plus one window
  // PARTITIONED BY entity for the mode — thousands of small partitions,
  // never global. Exactness: counts and decimal prices; doubles only in
  // the final cast. ---
  val er4GoldenRecord = QueryDef.sql(
    "er4_golden_record",
    """WITH RECURSIVE g AS (SELECT DISTINCT p_partkey AS k, q FROM (
      |    SELECT p_partkey, unnest([substr(p_name, i, 3) for i in range(1, len(p_name) - 1)]) AS q
      |    FROM part WHERE p_partkey %% 23 = 0 AND len(p_name) >= 3) t),
      |sz AS (SELECT k, count(*) AS c FROM g GROUP BY k),
      |pr AS (SELECT a.k AS ka, b.k AS kb, count(*) AS i
      |       FROM g a JOIN g b ON a.q = b.q AND a.k < b.k GROUP BY a.k, b.k),
      |ed0 AS (SELECT ka, kb FROM pr JOIN sz sa ON sa.k = pr.ka JOIN sz sb ON sb.k = pr.kb
      |        WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.6),
      |edges AS (SELECT ka AS a, kb AS b FROM ed0 UNION SELECT kb, ka FROM ed0),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |reach(a, b) AS (SELECT id, id FROM nodes
      |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |lbl AS (SELECT a AS k, min(b) AS cid FROM reach GROUP BY a),
      |ent AS (SELECT p.p_partkey AS k, coalesce(l.cid, p.p_partkey) AS entity_id,
      |    p.p_name, p.p_brand, CAST(p.p_retailprice AS DECIMAL(12,2)) AS price
      |  FROM part p LEFT JOIN lbl l ON l.k = p.p_partkey WHERE p.p_partkey %% 23 = 0),
      |agg AS (SELECT entity_id, count(*) AS n_members,
      |    CAST(min(price) AS DOUBLE) AS min_price, CAST(max(price) AS DOUBLE) AS max_price
      |  FROM ent GROUP BY entity_id),
      |bc AS (SELECT entity_id, p_brand, count(*) AS c FROM ent GROUP BY entity_id, p_brand),
      |bmode AS (SELECT entity_id, p_brand AS brand_mode FROM (
      |    SELECT entity_id, p_brand,
      |      row_number() OVER (PARTITION BY entity_id ORDER BY c DESC, p_brand) AS rn
      |    FROM bc) t WHERE rn = 1),
      |can AS (SELECT entity_id, p_name AS canonical_name FROM ent WHERE k = entity_id)
      |SELECT a.entity_id, can.canonical_name, bmode.brand_mode, a.n_members,
      |  a.min_price, a.max_price
      |FROM agg a JOIN can USING (entity_id) JOIN bmode USING (entity_id)""".stripMargin
      .replace("%%", "%")) { (s, d) =>
    val sub = T.part(s, d).filter(col("p_partkey") % 23 === 0)
    val cc = partEntityLabels(s, d)
    val ent = sub
      .join(cc.select(col("id").as("p_partkey"), col("cluster_id")),
        Seq("p_partkey"), "left_outer")
      .select(col("p_partkey").as("k"),
        coalesce(col("cluster_id"), col("p_partkey")).as("entity_id"),
        col("p_name"), col("p_brand"),
        col("p_retailprice").cast("decimal(12,2)").as("price"))
    val agg = ent.groupBy(col("entity_id")).agg(
      count(lit(1)).as("n_members"),
      min(col("price")).cast("double").as("min_price"),
      max(col("price")).cast("double").as("max_price"))
    val bc = ent.groupBy(col("entity_id"), col("p_brand")).agg(count(lit(1)).as("c"))
    val wMode = Window.partitionBy(col("entity_id"))
      .orderBy(col("c").desc, col("p_brand"))
    val bmode = bc.withColumn("rn", row_number().over(wMode))
      .filter(col("rn") === 1)
      .select(col("entity_id"), col("p_brand").as("brand_mode"))
    val can = ent.filter(col("k") === col("entity_id"))
      .select(col("entity_id"), col("p_name").as("canonical_name"))
    agg.join(can, Seq("entity_id")).join(bmode, Seq("entity_id"))
      .select(col("entity_id"), col("canonical_name"), col("brand_mode"),
        col("n_members"), col("min_price"), col("max_price"))
  }

  // --- er5_incremental_link: INCREMENTAL entity resolution — link a
  // batch of NEW records against the EXISTING resolved entities without
  // re-clustering the base (the er-side analog of IncrementalDedup's
  // promise: per-ingest cost is O(increment × blocked candidates),
  // never O(base²)). Each new record probes the landed er1 cluster
  // artifact through the same q-gram inverted index (FuzzyJoin: the
  // increment side broadcasts, grams equi-join — no distance nested
  // loop); its best match at Jaccard ≥ 0.6 (deterministic tie-break:
  // highest j, then smallest base key) ADOPTS that member's entity id;
  // non-matches mint their own. The oracle recomputes base clusters via
  // the recursive CTE and the increment's best links from first
  // principles, so the gate proves the incremental path lands exactly
  // where a from-scratch resolution would place the new records. ---
  val er5IncrementalLink = QueryDef.sql(
    "er5_incremental_link",
    """WITH RECURSIVE gb AS (SELECT DISTINCT p_partkey AS k, q FROM (
      |    SELECT p_partkey, unnest([substr(p_name, i, 3) for i in range(1, len(p_name) - 1)]) AS q
      |    FROM part WHERE p_partkey %% 23 = 0 AND len(p_name) >= 3) t),
      |szb AS (SELECT k, count(*) AS c FROM gb GROUP BY k),
      |prb AS (SELECT a.k AS ka, b.k AS kb, count(*) AS i
      |       FROM gb a JOIN gb b ON a.q = b.q AND a.k < b.k GROUP BY a.k, b.k),
      |ed0 AS (SELECT ka, kb FROM prb JOIN szb sa ON sa.k = prb.ka JOIN szb sb ON sb.k = prb.kb
      |        WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.6),
      |edges AS (SELECT ka AS a, kb AS b FROM ed0 UNION SELECT kb, ka FROM ed0),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |reach(a, b) AS (SELECT id, id FROM nodes
      |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |lbl AS (SELECT a AS k, min(b) AS cid FROM reach GROUP BY a),
      |gi AS (SELECT DISTINCT p_partkey AS k, q FROM (
      |    SELECT p_partkey, unnest([substr(p_name, i, 3) for i in range(1, len(p_name) - 1)]) AS q
      |    FROM part WHERE p_partkey %% 23 = 1 AND len(p_name) >= 3) t),
      |szi AS (SELECT k, count(*) AS c FROM gi GROUP BY k),
      |pri AS (SELECT i.k AS ki, b.k AS kb, count(*) AS i
      |       FROM gi i JOIN gb b ON i.q = b.q GROUP BY i.k, b.k),
      |sc AS (SELECT ki, kb, CAST(i AS DOUBLE) / (si.c + s2.c - i) AS j
      |       FROM pri JOIN szi si ON si.k = pri.ki JOIN szb s2 ON s2.k = pri.kb),
      |best AS (SELECT ki, kb, j FROM (
      |    SELECT ki, kb, j, row_number() OVER (PARTITION BY ki ORDER BY j DESC, kb) AS rn
      |    FROM sc WHERE j >= 0.6) t WHERE rn = 1)
      |SELECT p.p_partkey, best.kb IS NOT NULL AS matched,
      |  coalesce(l.cid, best.kb, p.p_partkey) AS entity_id,
      |  best.kb AS linked_to, best.j AS best_j
      |FROM part p LEFT JOIN best ON best.ki = p.p_partkey
      |  LEFT JOIN lbl l ON l.k = best.kb
      |WHERE p.p_partkey %% 23 = 1""".stripMargin
      .replace("%%", "%")) { (s, d) =>
    import graft.operators.FuzzyJoin
    val base = T.part(s, d).filter(col("p_partkey") % 23 === 0)
    val incr = T.part(s, d).filter(col("p_partkey") % 23 === 1)
    val labels = partEntityLabels(s, d)
    val matches = FuzzyJoin.qgramJoin(
      incr, "p_partkey", "p_name", base, "p_partkey", "p_name", n = 3, threshold = 0.6)
    val w = Window.partitionBy(col("ka")).orderBy(col("jaccard").desc, col("kb"))
    val best = matches.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("ka").as("p_partkey"), col("kb").as("linked_to"),
        col("jaccard").as("best_j"))
    incr.select(col("p_partkey"))
      .join(best, Seq("p_partkey"), "left")
      .join(labels.select(col("id").as("linked_to"), col("cluster_id")),
        Seq("linked_to"), "left")
      .select(col("p_partkey"),
        col("linked_to").isNotNull.as("matched"),
        coalesce(col("cluster_id"), col("linked_to"), col("p_partkey")).as("entity_id"),
        col("linked_to"), col("best_j"))
  }

  // --- er2_blocking_audit: measures the BLOCKER, not the matches — the
  // two numbers every entity-resolution pipeline must report before
  // anyone trusts its clusters: reduction ratio (what fraction of the
  // n² cross product the rare-gram inverted index never generates) and
  // pair completeness (what fraction of TRUE matches survive blocking).
  // Ground truth is the exact Jaccard >= 0.6 pair set; the audited
  // blocker joins only through grams appearing in <= 10 entities (the
  // common-gram prune that keeps hot grams from exploding candidates at
  // corpus scale — this query is the evidence the prune costs no
  // recall at its threshold). All counts are exact integers from
  // partial-aggregated joins; the two ratios are single double
  // divisions. ---
  val er2BlockingAudit = QueryDef.sql(
    "er2_blocking_audit",
    """WITH g AS (SELECT DISTINCT p_partkey AS k, q FROM (
      |    SELECT p_partkey, unnest([substr(p_name, i, 3) for i in range(1, len(p_name) - 1)]) AS q
      |    FROM part WHERE p_partkey %% 23 = 0 AND len(p_name) >= 3) t),
      |sz AS (SELECT k, count(*) AS c FROM g GROUP BY k),
      |n AS (SELECT count(*) AS ents FROM sz),
      |rare AS (SELECT q FROM g GROUP BY q HAVING count(*) <= 10),
      |cand AS (SELECT DISTINCT a.k AS ka, b.k AS kb FROM g a JOIN rare r ON a.q = r.q
      |         JOIN g b ON b.q = a.q AND a.k < b.k),
      |tru AS (SELECT a.k AS ka, b.k AS kb, count(*) AS i
      |        FROM g a JOIN g b ON a.q = b.q AND a.k < b.k GROUP BY a.k, b.k),
      |truth AS (SELECT t.ka, t.kb FROM tru t JOIN sz sa ON sa.k = t.ka JOIN sz sb ON sb.k = t.kb
      |          WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.6),
      |m AS (SELECT
      |  (SELECT ents FROM n) AS n_entities,
      |  (SELECT CAST(ents * (ents - 1) / 2 AS BIGINT) FROM n) AS n_pairs,
      |  (SELECT count(*) FROM cand) AS n_candidates,
      |  (SELECT count(*) FROM truth) AS n_true,
      |  (SELECT count(*) FROM truth JOIN cand ON truth.ka = cand.ka AND truth.kb = cand.kb) AS n_found)
      |SELECT n_entities, n_pairs, n_candidates, n_true, n_found,
      |  1.0 - CAST(n_candidates AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS reduction_ratio,
      |  CAST(n_found AS DOUBLE) / CAST(n_true AS DOUBLE) AS pair_completeness
      |FROM m""".stripMargin.replace("%%", "%")) { (s, d) =>
    import graft.operators.FuzzyJoin
    val sub = T.part(s, d).filter(col("p_partkey") % 23 === 0)
    val g = FuzzyJoin.grams(sub, "p_partkey", "p_name", 3, "k")
    val sz = g.groupBy(col("k")).agg(count(lit(1)).as("c"))
    val rare = g.groupBy(col("q")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 10).select(col("q"))
    val cand = g.join(rare, Seq("q")).select(col("q"), col("k").as("ka"))
      .join(g.select(col("q"), col("k").as("kb")), Seq("q"))
      .filter(col("ka") < col("kb"))
      .select(col("ka"), col("kb")).distinct()
    val tru = g.select(col("q"), col("k").as("ka"))
      .join(g.select(col("q"), col("k").as("kb")), Seq("q"))
      .filter(col("ka") < col("kb"))
      .groupBy(col("ka"), col("kb")).agg(count(lit(1)).as("i"))
    val truth = tru
      .join(sz.select(col("k").as("ka"), col("c").as("ca")), Seq("ka"))
      .join(sz.select(col("k").as("kb"), col("c").as("cb")), Seq("kb"))
      .filter(col("i").cast("double") / (col("ca") + col("cb") - col("i")) >= 0.6)
      .select(col("ka"), col("kb"))
    val nE = sz.agg(count(lit(1)).as("n_entities"))
    val nC = cand.agg(count(lit(1)).as("n_candidates"))
    val nT = truth.agg(count(lit(1)).as("n_true"))
    val nF = truth.join(cand, Seq("ka", "kb"), "left_semi")
      .agg(count(lit(1)).as("n_found"))
    nE.crossJoin(broadcast(nC)).crossJoin(broadcast(nT)).crossJoin(broadcast(nF))
      .select(col("n_entities"),
        expr("CAST(n_entities * (n_entities - 1) / 2 AS BIGINT)").as("n_pairs"),
        col("n_candidates"), col("n_true"), col("n_found"),
        (lit(1.0) - col("n_candidates").cast("double")
          / expr("CAST(n_entities * (n_entities - 1) / 2 AS BIGINT)").cast("double"))
          .as("reduction_ratio"),
        (col("n_found").cast("double") / col("n_true").cast("double"))
          .as("pair_completeness"))
  }

  // --- k11_partitioned_prune: Hive-style partitioned layout + partition
  // pruning — THE dominant 100 TB lever: a year-partitioned table read
  // with a year predicate must open only that year's files, turning a
  // full-corpus scan into a 1/N directory listing before a single row is
  // read. The query lands orders partitioned by o_year, reads back with
  // o_year = 1997, and aggregates; PlanSpec asserts the scan carries the
  // PartitionFilters (pruning happens at planning, not per-row). The
  // oracle computes the same aggregate from the unpartitioned parquet —
  // the hash match proves the partitioned layout is lossless. ---
  val k11PartitionedPrune = QueryDef.sql(
    "k11_partitioned_prune",
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      |FROM orders
      |WHERE year(o_orderdate) = 1997
      |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    partitionedOrders(s, d)
      .filter(col("o_year") === 1997)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))
  }

  /** The root paths `df`'s file scans read, off its optimized plan. A
    * gate that proves which tables a plan reads checks these, not the
    * plan string: a scan node's printed location is cut at 100
    * characters, so a string match depends on how long the path is. */
  private def scannedRoots(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.relation
    }.flatMap {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        fs.location.rootPaths.map(_.toString)
      case _ => Nil
    }

  /** Orders in a year-partitioned parquet layout, staged once per
    * (sfDir, session) under a deterministic temp path so repeated reads
    * (bench, tests) reuse the layout. Library users call
    * [[graft.operators.Maintenance]] for production partitioned writes;
    * this staging keeps the registered query self-contained. */
  private def partitionedOrders(s: SparkSession, d: String): DataFrame = {
    val (stage, landed) = graft.Scratch.cache(
      s, s"k11-${Integer.toHexString(d.hashCode)}")
    if (!landed) {
      T.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(stage)
    }
    T.parquet(s, stage)
  }

  // --- k12_time_travel: versioned snapshots + time travel
  // (graft.operators.Versioned — Iceberg-style manifests with
  // file-level reuse across versions). The query commits orders as
  // version 1, merges a keyed price-correction delta as version 2
  // (only the delta's partition is rewritten; the manifest carries
  // every other partition forward untouched), then reads BOTH versions
  // back as-of and reports the changed keys with old and new price.
  // The oracle recomputes the expected change set from the base table,
  // so the hash gate covers commit → manifest → as-of read for both
  // versions end-to-end: any corruption of either snapshot breaks the
  // join. At 100 TB the commit is O(delta partition), time travel is a
  // manifest lookup, and expired generations reclaim via
  // Versioned.expire. ---
  val k12TimeTravel = QueryDef.sql(
    "k12_time_travel",
    """SELECT o_orderkey,
      |  o_totalprice AS old_price,
      |  o_totalprice + 1000 AS new_price
      |FROM orders
      |WHERE o_orderstatus = 'O' AND o_orderkey % 7 = 0""".stripMargin) { (s, d) =>
    import graft.operators.Versioned
    val root = graft.Scratch.dir("k12-versions")
    val tbl = s"$root/orders_v"
    val base = T.orders(s, d)
    Versioned.commit(s, tbl, base, "o_orderstatus", Seq("o_orderkey"))
    val delta = base
      .filter(col("o_orderstatus") === "O" && col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
    Versioned.commit(s, tbl, delta, "o_orderstatus", Seq("o_orderkey"))
    val v1 = Versioned.readAsOf(s, tbl, 1)
      .select(col("o_orderkey"), col("o_totalprice").as("old_price"))
    val v2 = Versioned.readAsOf(s, tbl, 2)
      .select(col("o_orderkey"), col("o_totalprice").as("new_price"))
    v1.join(v2, Seq("o_orderkey"))
      .filter(col("old_price") =!= col("new_price"))
      .select(col("o_orderkey"), col("old_price"), col("new_price"))
  }

  // --- k13_schema_evolution: additive schema evolution through the
  // keyed upsert (Upsert.mergeEvolve) — the feed-grows-a-field case
  // every long-lived pipeline hits: the delta carries a column the base
  // table never had, the merged table's schema is the union, and
  // pre-existing rows surface NULL there. Delta still wins on key
  // collisions. The oracle reconstructs the evolved table from the
  // base fixture, so the hash gate pins both the union schema and the
  // NULL backfill semantics. Same scale shape as k1 (one anti-join +
  // union — no shuffle beyond the key join). ---
  val k13SchemaEvolution = QueryDef.sql(
    "k13_schema_evolution",
    """SELECT o_orderkey, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderkey % 5 = 0
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR)
      |FROM orders WHERE o_orderkey % 5 <> 0""".stripMargin) { (s, d) =>
    import graft.operators.Upsert
    val orders = T.orders(s, d)
    val base = orders.select(col("o_orderkey"), col("o_totalprice"))
    val delta = orders.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    Upsert.mergeEvolve(base, delta, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
  }

  // --- k14_bucketed_join: bucketed co-located join — the OTHER dominant
  // 100 TB layout lever next to k11's partition pruning: both sides land
  // bucketed+sorted on the join key ONCE at write time, so every later
  // join/agg on that key plans with ZERO shuffle exchanges on the fact
  // sides (BucketingTopKSpec pins the no-Exchange plan property; this
  // query pins the numbers). The only shuffle left is the final tiny
  // per-priority aggregate. The oracle joins the unbucketed fixtures —
  // the hash match proves the bucketed layout is lossless. ---
  val k14BucketedJoin = QueryDef.sql(
    "k14_bucketed_join",
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    import graft.operators.Bucketing
    Bucketing.writeBucketed(
      T.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
      "k14_ord", "o_orderkey", 16)
    Bucketing.writeBucketed(
      T.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice")),
      "k14_li", "o_orderkey", 16)
    Bucketing.colocatedJoin(s, "k14_ord", "k14_li", "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("total"))
  }

  // --- k15_cdc_apply: fold an ordered change feed (upserts + deletes,
  // multiple changes per key) into a base snapshot — the generalization
  // of the reference's per-run keyed upsert (which never deletes and
  // carries one change per key: /root/reference/src/etl-square-payments
  // .ts:59-95) to a real CDC contract (operators.Cdc). Feed synthesized
  // deterministically from orders: seq-1 price corrections on keys %3=0
  // (keys %4=3 are absent from the snapshot, so those arrive as inserts),
  // then seq-2 deletes on keys %6=0 — exercising last-wins, insert-via-
  // update, delete, and carry-through in one gate. Scale: one key
  // shuffle of snapshot ∪ feed (the keyed-merge minimum), top-1 window
  // per key. ---
  val k15CdcApply = QueryDef.sql(
    "k15_cdc_apply",
    """WITH snap AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(14,2)) AS price,
      |    'I' AS op, 0 AS seq
      |  FROM orders WHERE o_orderkey % 4 <> 3),
      |feed AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) + 5 AS DECIMAL(14,2)) AS price,
      |    'U' AS op, 1 AS seq
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, CAST(NULL AS DECIMAL(14,2)), 'D', 2
      |  FROM orders WHERE o_orderkey % 6 = 0),
      |u AS (SELECT * FROM snap UNION ALL SELECT * FROM feed),
      |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rk
      |      FROM u)
      |SELECT o_orderkey, CAST(price AS DOUBLE) AS price
      |FROM r WHERE rk = 1 AND op <> 'D'""".stripMargin) { (s, d) =>
    val orders = T.orders(s, d)
    val snapshot = orders.filter(col("o_orderkey") % 4 =!= 3)
      .select(col("o_orderkey"), col("o_totalprice").cast("decimal(14,2)").as("price"))
    val feed = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(14,2)") + 5).cast("decimal(14,2)").as("price"),
        lit("U").as("op"), lit(1L).as("seq"))
      .unionByName(orders.filter(col("o_orderkey") % 6 === 0)
        .select(col("o_orderkey"), lit(null).cast("decimal(14,2)").as("price"),
          lit("D").as("op"), lit(2L).as("seq")))
    graft.operators.Cdc(snapshot, feed, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("price").cast("double").as("price"))
  }

  // --- k16_compaction_gate: small-file compaction under the hash gate —
  // the table lands as 64 fragment files (the streaming/incremental-
  // ingest pathology: file count grows with batch count, scans drown in
  // open() calls), Maintenance.compact crash-safely rewrites it to the
  // target file size, and the aggregate over the compacted table must
  // hash-match the oracle's view of the original fixture — proving the
  // rewrite lossless. MaintenanceSpec pins the file-count and crash-
  // recovery properties; this pins the data. ---
  val k16CompactionGate = QueryDef.sql(
    "k16_compaction_gate",
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    val tbl = graft.Scratch.dir("k16-compact") + "/orders"
    T.orders(s, d).repartition(64).write.mode("overwrite").parquet(tbl)
    graft.operators.Maintenance.compact(s, tbl)
    T.parquet(s, tbl)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))
  }

  // --- k28_partition_evolution: partition-SCHEME migration under the
  // hash gate — the table lands partitioned by event_type (the scheme
  // someone chose on day one) while every real query filters by DAY;
  // Maintenance.evolvePartitioning rewrites it once, crash-safely, into
  // day partitions derived from the timestamp. The gated read then
  // filters an 8-day window — a predicate the NEW layout answers with
  // directory-level partition pruning (22 of 30 day directories are
  // never opened; under the old layout every file would be scanned) —
  // and aggregates per day. The oracle recomputes from the fixture, so
  // the gate proves the migration lossless AND the derived partition
  // values correct (a wrong day boundary or dropped row hash-
  // mismatches). MaintenanceSpec pins the layout + crash-window
  // properties; this pins the data. ---
  val k28PartitionEvolution = QueryDef.sql(
    "k28_partition_evolution",
    """WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS day, user_id, value FROM events)
      |SELECT day, count(*) AS n, count(DISTINCT user_id) AS users,
      |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total
      |FROM e WHERE day >= '2024-01-10' AND day <= '2024-01-17'
      |GROUP BY day""".stripMargin) { (s, d) =>
    val tbl = graft.Scratch.dir("k28-evolve") + "/events"
    T.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .write.partitionBy("event_type").mode("overwrite").parquet(tbl)
    graft.operators.Maintenance.evolvePartitioning(s, tbl, Seq("day"),
      df => df.withColumn("day", date_format(col("ts"), "yyyy-MM-dd")))
    T.parquet(s, tbl)
      .filter(col("day") >= "2024-01-10" && col("day") <= "2024-01-17")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total"))
      .select(col("day").cast("string").as("day"), col("n"), col("users"), col("total"))
  }

  // --- k29_zonemap_gate: file-level zone-map index under the hash gate
  // — the cluster-then-index workflow: orders lands range-clustered on
  // o_totalprice across 8 files, ZoneMap.build indexes per-file min/max
  // with one column-pruned scan, and the gated read resolves a price-
  // band predicate through the INDEX (only files whose [min,max] zone
  // intersects the band are opened; ZoneMapSpec pins that most files
  // are skipped). The residual row-level filter then applies on the
  // surviving files, and the oracle recomputes from the raw fixture —
  // so the hash gate proves conservative pruning drops NO qualifying
  // row and admits no extra one, end-to-end through the index build,
  // the file-list cut, and the pruned scan. ---
  val k29ZonemapGate = QueryDef.sql(
    "k29_zonemap_gate",
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      |FROM orders WHERE o_totalprice >= 1000 AND o_totalprice <= 5000
      |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    import graft.operators.ZoneMap
    val root = graft.Scratch.dir("k29-zonemap")
    val tbl = s"$root/orders"; val idx = s"$root/orders_zm"
    T.orders(s, d)
      .repartitionByRange(8, col("o_totalprice"))
      .sortWithinPartitions(col("o_totalprice"))
      .write.parquet(tbl)
    ZoneMap.build(s, tbl, Seq("o_totalprice"), idx)
    ZoneMap.readPruned(s, tbl, idx,
        col("max_o_totalprice") >= 1000 && col("min_o_totalprice") <= 5000)
      .filter(col("o_totalprice") >= 1000 && col("o_totalprice") <= 5000)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))
  }

  // --- k31_warehouse_compose: the warehouse ops COMPOSED end-to-end
  // under one hash gate — t33's composition argument on the k-side
  // (each stage is individually gated; the bugs live between them):
  // (1) orders lands via the crash-safe keyed upsert, (2) a price-
  // restatement delta (keys %11, exponent-only ×2) upserts into it,
  // (3) the merged table goes out through the Write-Audit-Publish gate
  // (audit: no null keys, exact row count preserved), (4) a zone-map
  // index is built over the PUBLISHED run's files and the final
  // price-band aggregate reads through index-pruned file cuts + the
  // residual filter. The oracle recomputes the restated band aggregate
  // straight from the fixture — upsert convergence, publish
  // visibility, and conservative pruning all have to agree for the
  // hash to land. ---
  val k31WarehouseCompose = QueryDef.sql(
    "k31_warehouse_compose",
    """WITH restated AS (SELECT o_orderkey, o_orderpriority,
      |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS p
      |  FROM orders)
      |SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(p AS DECIMAL(14,2))) AS DOUBLE) AS total
      |FROM restated WHERE p >= 1000 AND p <= 5000
      |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    import graft.operators.{Publish, Upsert, ZoneMap}
    val root = graft.Scratch.dir("k31-wh")
    val tbl = s"$root/orders"; val pub = s"$root/pub"; val idx = s"$root/zm"
    val orders = T.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    Upsert.upsertParquet(s, tbl, orders, Seq("o_orderkey"))
    val delta = orders.filter(col("o_orderkey") % 11 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2) // exponent-only
    Upsert.upsertParquet(s, tbl, delta, Seq("o_orderkey"))
    val merged = T.parquet(s, tbl)
    val expected = orders.count()
    val run = Publish.publishAudited(s, pub, Map("orders" -> merged)) { staged =>
      val t = staged("orders")
      t.filter(col("o_orderkey").isNull).isEmpty && t.count() == expected
    }.getOrElse(sys.error("audit refused the warehouse publish"))
    val published = s"${root}/pub/runs/run=$run/orders"
    ZoneMap.build(s,
      published,
      Seq("o_totalprice"), idx)
    ZoneMap.readPruned(s, published, idx,
        col("max_o_totalprice") >= 1000 && col("min_o_totalprice") <= 5000)
      .filter(col("o_totalprice") >= 1000 && col("o_totalprice") <= 5000)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))
  }

  // --- k32_version_diff: WHAT CHANGED between two retained versions —
  // k12 time-travels to a version, k9 diffs two raw snapshots; this
  // composes them into the audit every versioned warehouse actually
  // runs ("diff v1..v2"): commit v1, commit a delta (status flip for
  // %7 keys, one brand-new synthetic key per priority), then
  // SnapshotDiff over the two AS-OF reads. Summarized per
  // (o_orderpriority, change_type) with exact counts; the oracle
  // derives the same changed/added sets from the fixture. The diff is
  // one key-co-partitioned full outer join over two manifest-resolved
  // reads — delta-sized output, never a table copy. ---
  val k32VersionDiff = QueryDef.sql(
    "k32_version_diff",
    """SELECT o_orderpriority, 'changed' AS change_type, CAST(count(*) AS BIGINT) AS n
      |FROM orders WHERE o_orderkey % 7 = 0 GROUP BY o_orderpriority
      |UNION ALL
      |SELECT DISTINCT o_orderpriority, 'added', CAST(1 AS BIGINT) FROM orders""".stripMargin) {
    (s, d) =>
    import graft.operators.{SnapshotDiff, Versioned}
    val root = graft.Scratch.dir("k32-vdiff")
    val tbl = s"$root/orders_v"
    val base = T.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"))
    Versioned.commit(s, tbl, base, "o_orderpriority", Seq("o_orderkey"))
    val flipped = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("X"))
    val minted = base.groupBy(col("o_orderpriority"))
      .agg(max(col("o_orderkey")).as("mx"))
      .select((col("mx") + 1000000000L).as("o_orderkey"), col("o_orderpriority"),
        lit("N").as("o_orderstatus"))
    Versioned.commit(s, tbl, flipped.unionByName(minted),
      "o_orderpriority", Seq("o_orderkey"))
    val v = Versioned.latestVersion(s, tbl)
    SnapshotDiff.diff(
        Versioned.readAsOf(s, tbl, v - 1),
        Versioned.readAsOf(s, tbl, v),
        Seq("o_orderkey", "o_orderpriority"))
      .groupBy(col("o_orderpriority"), col("change_type"))
      .agg(count(lit(1)).as("n"))
  }

  // --- k33_manifest_fsck: MANIFEST-INTEGRITY audit of the version
  // store — the fsck every snapshot/manifest table format ships
  // (missing references = readers of that version fail; orphan
  // directories = space the retention pass should have reclaimed or
  // debris from a pre-marker crash). The gate builds two committed
  // versions, fscks (expect: 2 versions, one gen dir per partition for
  // v1 plus one per DELTA-affected partition for v2, zero
  // missing/orphans), expires to keep=1, and fscks again (expect: the
  // per-partition dir count only, still zero/zero — proving expire
  // reclaimed exactly the unreferenced generations). The oracle
  // derives both expected reference counts from the fixture, so a
  // manifest pointing nowhere, a leaked directory, or an over-eager
  // expire all hash-mismatch. Metadata-only audit: manifests +
  // ONE directory listing, never the data. ---
  val k33ManifestFsck = QueryDef.sql(
    "k33_manifest_fsck",
    """WITH t AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS nt FROM events),
      |d AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS nd
      |      FROM events WHERE user_id % 7 = 0)
      |SELECT 'pre_expire' AS stage, CAST(2 AS BIGINT) AS versions,
      |  nt + nd AS dirs_referenced, CAST(0 AS BIGINT) AS missing,
      |  CAST(0 AS BIGINT) AS orphans FROM t, d
      |UNION ALL
      |SELECT 'post_expire', CAST(1 AS BIGINT), nt, CAST(0 AS BIGINT),
      |  CAST(0 AS BIGINT) FROM t, d""".stripMargin) { (s, d) =>
    import graft.operators.Versioned
    val root = graft.Scratch.dir("k33-fsck")
    val tbl = s"$root/events_v"
    val ev = T.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Versioned.commit(s, tbl, ev, "event_type", Seq("event_id"))
    Versioned.commit(s, tbl,
      ev.filter(col("user_id") % 7 === 0).withColumn("value", col("value") * 2),
      "event_type", Seq("event_id"))
    val pre = Versioned.fsck(s, tbl)
    Versioned.expire(s, tbl, keep = 1)
    val post = Versioned.fsck(s, tbl)
    import s.implicits._
    Seq(("pre_expire", pre._1, pre._2, pre._3, pre._4),
      ("post_expire", post._1, post._2, post._3, post._4))
      .toDF("stage", "versions", "dirs_referenced", "missing", "orphans")
  }

  // --- k34_shallow_clone: ZERO-COPY table clone + divergent evolution
  // (Versioned.shallowClone — Delta/Iceberg's CLONE SHALLOW): the clone
  // commits only a manifest pointing at the source's generation
  // directories, then source and clone each take a keyed commit of
  // their own. The gate reads THREE states — the clone's base version
  // (must still equal the source's state AT clone time: later source
  // commits write new generations, so the shared write-once dirs can't
  // leak either direction), the clone's head (its own delta applied),
  // and the source's head (its delta applied, clone's absent) — and the
  // oracle replays all three from the fixture, so broken isolation,
  // a mis-resolved shared partition, or copy-on-write clobbering the
  // source all hash-mismatch. At 100 TB the clone is a k-row metadata
  // write; clone commits localize ONLY the partitions they touch
  // (VersionedSpec pins the zero-copy file counts). ---
  val k34ShallowClone = QueryDef.sql(
    "k34_shallow_clone",
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
      |state2 AS (SELECT k, st,
      |    CASE WHEN k % 8 = 0 THEN p + 100 ELSE p END AS p
      |  FROM base WHERE k % 4 IN (0, 1, 2)),
      |clone_head AS (SELECT k, st,
      |    CASE WHEN k % 8 = 1 THEN p + 1000 ELSE p END AS p FROM state2),
      |src_head AS (SELECT k, st,
      |    CASE WHEN k % 8 = 2 THEN p + 500 ELSE p END AS p FROM state2),
      |u AS (SELECT 'clone_v0' AS tag, st, p FROM state2
      |  UNION ALL SELECT 'clone_head' AS tag, st, p FROM clone_head
      |  UNION ALL SELECT 'src_head' AS tag, st, p FROM src_head)
      |SELECT tag, st AS o_orderstatus, count(*) AS n,
      |  CAST(sum(p) AS DOUBLE) AS total
      |FROM u GROUP BY tag, st""".stripMargin) { (s, d) =>
    import graft.operators.Versioned
    val root = graft.Scratch.dir("k34-clone")
    val srcT = s"$root/src"
    val dstT = s"$root/clone"
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("st"), col("o_totalprice").cast("decimal(12,2)").as("p"))
    Versioned.commit(s, srcT, base.filter(col("k") % 4 < 2), "st", Seq("k"))
    Versioned.commit(s, srcT,
      base.filter(col("k") % 4 === 2).unionByName(
        base.filter(col("k") % 8 === 0)
          .withColumn("p", (col("p") + lit(100)).cast("decimal(12,2)"))),
      "st", Seq("k"))
    val v0 = Versioned.shallowClone(s, srcT, dstT)
    // divergence: clone takes one keyed commit, source takes another
    Versioned.commit(s, dstT,
      base.filter(col("k") % 8 === 1)
        .withColumn("p", (col("p") + lit(1000)).cast("decimal(12,2)")),
      "st", Seq("k"))
    Versioned.commit(s, srcT,
      base.filter(col("k") % 8 === 2)
        .withColumn("p", (col("p") + lit(500)).cast("decimal(12,2)")),
      "st", Seq("k"))
    def summarize(df: DataFrame, tag: String): DataFrame =
      df.groupBy(col("st"))
        .agg(count(lit(1)).as("n"), sum(col("p")).cast("double").as("total"))
        .select(lit(tag).as("tag"), col("st").as("o_orderstatus"),
          col("n"), col("total"))
    summarize(Versioned.readAsOf(s, dstT, v0), "clone_v0")
      .unionByName(summarize(Versioned.readAsOf(s, dstT), "clone_head"))
      .unionByName(summarize(Versioned.readAsOf(s, srcT), "src_head"))
  }

  // --- k35_asof_stamp: stamp-based time travel — `AS OF <logical
  // stamp>` reads over the versioned store (Delta's TIMESTAMP AS OF,
  // but on the CALLER's clock: event time / ingest watermark / run
  // sequence, so replays and backfills resolve deterministically —
  // wall-clock commit times would make the gate unhashable and real
  // backfills ambiguous). Three stamped commits (100, 200, 300); the
  // gate reads AS OF 250 (→ the stamp-200 state: between-stamps
  // resolution picks the newest ≤) and AS OF 300 (→ exact hit), and
  // the oracle replays both states from the fixture — a wrong
  // between-stamps pick or a delta-application drift hash-mismatches.
  // Resolution cost is manifest-only (k rows per retained version);
  // no data is touched until the chosen version reads. ---
  val k35AsofStamp = QueryDef.sql(
    "k35_asof_stamp",
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
      |s2 AS (SELECT k, st,
      |    CASE WHEN k % 6 = 0 THEN p + 50 ELSE p END AS p
      |  FROM base WHERE k % 2 = 0),
      |s3 AS (SELECT k, st,
      |    CASE WHEN k % 4 = 2 THEN p + 75
      |         WHEN k % 6 = 0 THEN p + 50 ELSE p END AS p
      |  FROM base WHERE k % 2 = 0),
      |u AS (SELECT 'asof_250' AS tag, st, p FROM s2
      |  UNION ALL SELECT 'asof_300' AS tag, st, p FROM s3)
      |SELECT tag, st AS o_orderstatus, count(*) AS n,
      |  CAST(sum(p) AS DOUBLE) AS total
      |FROM u GROUP BY tag, st""".stripMargin) { (s, d) =>
    import graft.operators.Versioned
    val root = graft.Scratch.dir("k35-stamp")
    val tbl = s"$root/orders_v"
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("st"), col("o_totalprice").cast("decimal(12,2)").as("p"))
    Versioned.commit(s, tbl, base.filter(col("k") % 2 === 0), "st", Seq("k"),
      stamp = Some(100L))
    Versioned.commit(s, tbl,
      base.filter(col("k") % 6 === 0)
        .withColumn("p", (col("p") + lit(50)).cast("decimal(12,2)")),
      "st", Seq("k"), stamp = Some(200L))
    Versioned.commit(s, tbl,
      base.filter(col("k") % 4 === 2)
        .withColumn("p", (col("p") + lit(75)).cast("decimal(12,2)")),
      "st", Seq("k"), stamp = Some(300L))
    def summarize(df: DataFrame, tag: String): DataFrame =
      df.groupBy(col("st"))
        .agg(count(lit(1)).as("n"), sum(col("p")).cast("double").as("total"))
        .select(lit(tag).as("tag"), col("st").as("o_orderstatus"),
          col("n"), col("total"))
    summarize(Versioned.readAsOfStamp(s, tbl, 250L), "asof_250")
      .unionByName(summarize(Versioned.readAsOfStamp(s, tbl, 300L), "asof_300"))
  }

  // --- k36_bloom_index: file-level BLOOM-index point lookup — the
  // data-skipping cell zone maps can't cover: the probe column is
  // high-cardinality and the landed layout is UNCLUSTERED (16-way
  // round-robin), so every file's [min, max] spans the whole key
  // domain and k29's range index would prune nothing; the per-file
  // bloom (k = 2 hashes, sparse sorted-position arrays, one
  // broadcastable row per file) still cuts the probe to the few files
  // that may hold each key. The gate lands the table, builds the
  // index, resolves 5 data-derived probe keys through
  // BloomIndex.lookup (candidate files only + exact re-filter — false
  // positives cost a file open, never a row), and aggregates; the
  // oracle computes the same aggregate from the fixture, so a
  // dropped candidate file (false NEGATIVE — the bug class bloom
  // must never have) hash-mismatches. BloomIndexSpec pins the actual
  // skip ratio and the fp-only-overhead property. ---
  val k36BloomIndex = QueryDef.sql(
    "k36_bloom_index",
    """WITH probes AS (SELECT DISTINCT o_custkey FROM orders
      |  ORDER BY o_custkey LIMIT 5)
      |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders WHERE o_custkey IN (SELECT o_custkey FROM probes)
      |GROUP BY o_custkey""".stripMargin) { (s, d) =>
    import graft.operators.BloomIndex
    val root = graft.Scratch.dir("k36-bloom")
    val tbl = s"$root/orders"
    val idx = s"$root/idx"
    T.orders(s, d).repartition(16).write.mode("overwrite").parquet(tbl)
    BloomIndex.build(s, tbl, "o_custkey", idx)
    val probes: Seq[Long] = T.orders(s, d).select(col("o_custkey")).distinct()
      .orderBy(col("o_custkey")).limit(5)
      .collect().map(_.getAs[Number](0).longValue()).toSeq // 5 keys — driver-sized
    BloomIndex.lookup(s, tbl, idx, "o_custkey", probes)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("total"))
  }

  // --- k37_incremental_stats: O(changed-partitions) ANALYZE — the
  // stats-maintenance discipline that keeps optimizer/zone-map feeds
  // fresh at 100 TB (a full-table ANALYZE after every upsert is why
  // stats go stale in practice). The gate lands orders stats per
  // status, upserts a delta touching ONE partition ('O' rows get a
  // price bump), refreshes stats for exactly the upsert's affected
  // set (StatsStore.refreshPartitions — a partition-pruned scan + a
  // dynamic overwrite of just those stats rows), and the oracle
  // recomputes the post-upsert stats from the fixture: if the
  // incremental refresh missed the change, double-counted it, or
  // clobbered an untouched partition's stats, the hash breaks —
  // incremental ≡ rebuild is the whole contract. ---
  val k37IncrementalStats = QueryDef.sql(
    "k37_incremental_stats",
    """WITH t AS (SELECT o_orderstatus AS st, o_orderkey,
      |    CASE WHEN o_orderstatus = 'O' AND o_orderkey % 9 = 0
      |         THEN CAST(o_totalprice AS DECIMAL(12,2)) + 500
      |         ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS p
      |  FROM orders)
      |SELECT st AS o_orderstatus, CAST(count(*) AS BIGINT) AS "rows",
      |  CAST(min(p) AS DOUBLE) AS min_p, CAST(max(p) AS DOUBLE) AS max_p,
      |  CAST(0 AS BIGINT) AS nulls_p
      |FROM t GROUP BY st""".stripMargin) { (s, d) =>
    import graft.operators.{StatsStore, Upsert}
    val root = graft.Scratch.dir("k37-stats")
    val tbl = s"$root/orders"
    val stats = s"$root/stats"
    val base = T.orders(s, d).select(col("o_orderstatus").as("st"),
      col("o_orderkey"), col("o_totalprice").cast("decimal(12,2)").as("p"))
    base.write.partitionBy("st").parquet(tbl)
    StatsStore.rebuild(s, tbl, stats, "st", Seq("p"))
    // keyed upsert whose affected set is ONE partition value
    val delta = base.filter(col("st") === "O" && col("o_orderkey") % 9 === 0)
      .withColumn("p", (col("p") + lit(500)).cast("decimal(12,2)"))
    Upsert.upsertParquet(s, tbl, delta, Seq("o_orderkey"), partitionBy = Seq("st"))
    StatsStore.refreshPartitions(s, tbl, stats, "st", Seq("p"), changed = Seq("O"))
    StatsStore.read(s, stats)
      .select(col("st").as("o_orderstatus"), col("rows"),
        col("min_p").cast("double").as("min_p"),
        col("max_p").cast("double").as("max_p"),
        col("nulls_p"))
  }

  // --- k43_ndv_stats: MERGEABLE NDV in the stats store — the piece a
  // 100 TB join planner reads before touching either table. The gate
  // lands orders partitioned by status with per-partition HLL registers
  // in the stats rows (StatsStore.rebuild), mutates ONE partition's key
  // column through a keyed upsert, refreshes stats for exactly that
  // partition (registers recomputed only for 'O'), then reports: each
  // partition's NDV estimate off its stored registers, the whole-table
  // estimate formed by MERGING the stored registers (element-wise max —
  // no rescan of any partition), and the |orders ⋈ customer| output-size
  // estimate read off the two stats stores (|A|·|B| / max(ndv)). The
  // oracle recomputes every register from the mutated fixture via the
  // shared md5 dialect — a refresh that missed the 'O' change, a merge
  // that dropped a register, or a join estimate off stale NDV all
  // hash-mismatch (the registers are deterministic; there is no
  // tolerance band). ---
  val k43NdvStats = QueryDef.sql(
    "k43_ndv_stats",
    s"""WITH t AS (SELECT o_orderstatus AS part,
       |    CASE WHEN o_orderstatus = 'O' AND o_orderkey % 13 = 0
       |         THEN o_custkey + 1000000 ELSE o_custkey END AS k
       |  FROM orders),
       |${graft.operators.HllSketch.sqlRegisters("t", "part", "k", "oreg")},
       |per AS (${graft.operators.HllSketch.sqlEstimate("oreg", "part")}),
       |${graft.operators.HllSketch.sqlRegisters("t", "1 AS g", "k", "goreg")},
       |gl AS (${graft.operators.HllSketch.sqlEstimate("goreg", "g")}),
       |${graft.operators.HllSketch.sqlRegisters("customer", "1 AS g", "c_custkey", "creg")},
       |cgl AS (${graft.operators.HllSketch.sqlEstimate("creg", "g")}),
       |n AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM orders) AS ra,
       |             (SELECT CAST(count(*) AS DOUBLE) FROM customer) AS rb)
       |SELECT part, CAST(nz AS BIGINT) AS nz, est AS ndv_est FROM per
       |UNION ALL SELECT '__all__' AS part, CAST(nz AS BIGINT) AS nz, est AS ndv_est FROM gl
       |UNION ALL SELECT '__join_est__' AS part, CAST(0 AS BIGINT) AS nz,
       |  ra * rb / greatest(gl.est, cgl.est) AS ndv_est FROM n, gl, cgl""".stripMargin) { (s, d) =>
    import graft.operators.StatsStore
    // round-13 wave 2: the PRE-MUTATION orders table + stats are a pure
    // function of the dataset — landed once per content; the per-run
    // clone (a byte copy of a ~MB fixture dir) is what the upsert and
    // the incremental refresh — the operators under test — mutate. The
    // read-only customer stats come straight from the shared CBO trio.
    val base = graft.Scratch.cachedArtifact(s, "k43-ndv-base-v1",
      Seq(s"$d/orders.parquet")) { r =>
      T.orders(s, d)
        .select(col("o_orderstatus").as("st"), col("o_orderkey"),
          col("o_custkey").as("k"))
        .write.partitionBy("st").parquet(s"$r/orders")
      StatsStore.rebuild(s, s"$r/orders", s"$r/orders_stats", "st", Seq("k"))
    }
    val root = graft.Scratch.dir("k43-ndv")
    val oTbl = s"$root/orders"; val oSt = s"$root/orders_stats"
    graft.Scratch.copyDir(s, s"$base/orders", oTbl)
    graft.Scratch.copyDir(s, s"$base/orders_stats", oSt)
    val (_, _, _, _, _, cSt) = statsTrioFixture(s, d)
    // keyed upsert rewrites ONE partition's key column; the incremental
    // refresh recomputes registers for exactly that partition
    val delta = T.parquet(s, oTbl)
      .filter(col("st") === "O" && col("o_orderkey") % 13 === 0)
      .withColumn("k", col("k") + lit(1000000L))
    Upsert.upsertParquet(s, oTbl, delta, Seq("o_orderkey"), partitionBy = Seq("st"))
    StatsStore.refreshPartitions(s, oTbl, oSt, "st", Seq("k"), changed = Seq("O"))
    val st = StatsStore.read(s, oSt)
    val per = StatsStore.ndvPerPartition(st, "st", "k")
      .select(col("st").as("part"), col("nz").cast("long").as("nz"), col("ndv_est"))
    // the whole-table and join-size rows are driver folds of the stats
    // rows, landed as one local frame; orders' one fold serves both
    val oSum = StatsStore.summary(st, Seq("k"))
    val glob = oSum.ndv("k")
    val joinEst = StatsStore.estimateJoinRows(
      oSt, oSum, "k", cSt, StatsStore.summary(StatsStore.read(s, cSt), Seq("cck")), "cck")
    import s.implicits._
    per.unionByName(Seq(("__all__", glob.nz, glob.est), ("__join_est__", 0L, joinEst))
      .toDF("part", "nz", "ndv_est"))
  }

  // --- k46_join_advisor: STATS-DRIVEN join ordering — the planning
  // loop closed end-to-end: k37 maintains per-partition stats
  // incrementally, k43 carries mergeable HLL NDV registers in them,
  // and k46 makes a PLANNING DECISION from nothing but those stats
  // rows (operators.JoinAdvisor): rank the two candidate first joins
  // of the lineitem–orders–customer chain by |A|·|B| / max(ndv) —
  // Selinger's estimate off an incrementally-maintained ANALYZE, no
  // planning-time scan. Registers are md5-deterministic, so the
  // estimates AND the chosen order reproduce bit-for-bit in the
  // oracle's SQL recomputation; actual join counts ride along to show
  // the estimate's ranking is right for the right reason (orders⋈
  // customer is genuinely the smaller first join). Ties break by
  // label on both sides. ---
  val k46JoinAdvisor = QueryDef.sql(
    "k46_join_advisor",
    s"""WITH ${graft.operators.HllSketch.sqlRegisters("lineitem", "1 AS g", "l_orderkey", "lreg")},
       |le AS (${graft.operators.HllSketch.sqlEstimate("lreg", "g")}),
       |${graft.operators.HllSketch.sqlRegisters("orders", "1 AS g", "o_orderkey", "okreg")},
       |oke AS (${graft.operators.HllSketch.sqlEstimate("okreg", "g")}),
       |${graft.operators.HllSketch.sqlRegisters("orders", "1 AS g", "o_custkey", "ckreg")},
       |cke AS (${graft.operators.HllSketch.sqlEstimate("ckreg", "g")}),
       |${graft.operators.HllSketch.sqlRegisters("customer", "1 AS g", "c_custkey", "creg")},
       |ce AS (${graft.operators.HllSketch.sqlEstimate("creg", "g")}),
       |n AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM lineitem) AS rl,
       |             (SELECT CAST(count(*) AS DOUBLE) FROM orders) AS ro,
       |             (SELECT CAST(count(*) AS DOUBLE) FROM customer) AS rc),
       |est AS (SELECT rl * ro / greatest(le.est, oke.est) AS e_lo,
       |    ro * rc / greatest(cke.est, ce.est) AS e_oc
       |  FROM n, le, oke, cke, ce),
       |act AS (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem JOIN orders ON l_orderkey = o_orderkey) AS a_lo,
       |  (SELECT CAST(count(*) AS BIGINT) FROM orders JOIN customer ON o_custkey = c_custkey) AS a_oc)
       |SELECT 'L_join_O' AS candidate, e_lo AS est_rows, a_lo AS actual_rows,
       |  e_lo <= e_oc AS chosen FROM est, act
       |UNION ALL
       |SELECT 'O_join_C', e_oc, a_oc, e_oc < e_lo FROM est, act""".stripMargin) { (s, d) =>
    import graft.operators.JoinAdvisor
    import JoinAdvisor.{Candidate, Rel}
    // the (l, o, c) partitioned copies + stats this gate ranks over are
    // exactly the shared CBO trio — pure functions of the dataset,
    // landed once per content (k49/k50/k55/k58's fixture; round-13
    // wave 2: k46 re-stood the identical tables privately per run,
    // ~4 s of per-run write amplification for zero claim value)
    val (_, lSt, _, oSt, _, cSt) = statsTrioFixture(s, d)
    val ranked = JoinAdvisor.rank(s, Seq(
      Candidate("L_join_O", Rel("L", lSt), "lok", Rel("O", oSt), "ok"),
      Candidate("O_join_C", Rel("O", oSt), "ck", Rel("C", cSt), "cck")))
    val chosen = ranked.head._1
    val aLo = T.lineitem(s, d).select(col("l_orderkey"))
      .join(T.orders(s, d).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey")).count()
    val aOc = T.orders(s, d).select(col("o_custkey"))
      .join(T.customer(s, d).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey")).count()
    val actual = Map("L_join_O" -> aLo, "O_join_C" -> aOc)
    import s.implicits._
    ranked.map { case (label, est) =>
      (label, est, actual(label), label == chosen)
    }.toDF("candidate", "est_rows", "actual_rows", "chosen")
  }

  /** SHARED CBO stats fixture for k43/k46/k49/k50/k55/k58: partitioned copies
    * of lineitem (rf, lok), orders (st, ok, ck), customer (seg, cck)
    * with their StatsStore stats — pure functions of the fixture
    * dataset, landed ONCE per (dataset content) via
    * [[graft.Scratch.cachedArtifact]] and read by every gate. Each
    * gate's claim is about the ADVISOR/RULE reading the stats, not
    * about standing the tables: round 12's driver box spent ~760 s
    * re-landing private copies of exactly these tables per gate per
    * pass. k50 needs only (o, c) and ignores the rest; its advisor
    * reads stats by column name, so the wider (ok, ck) stats cover its
    * (ck) need. Returns (l, lStats, o, oStats, c, cStats) paths. */
  private def statsTrioFixture(
      s: org.apache.spark.sql.SparkSession, d: String):
      (String, String, String, String, String, String) = {
    import graft.operators.StatsStore
    val root = graft.Scratch.cachedArtifact(s, "cbo-stats-trio-v1",
      Seq(s"$d/lineitem.parquet", s"$d/orders.parquet", s"$d/customer.parquet")) { root =>
      T.lineitem(s, d)
        .select(col("l_returnflag").as("rf"), col("l_orderkey").as("lok"))
        .write.partitionBy("rf").parquet(s"$root/l")
      StatsStore.rebuild(s, s"$root/l", s"$root/l_stats", "rf", Seq("lok"))
      T.orders(s, d).select(col("o_orderstatus").as("st"),
          col("o_orderkey").as("ok"), col("o_custkey").as("ck"))
        .write.partitionBy("st").parquet(s"$root/o")
      StatsStore.rebuild(s, s"$root/o", s"$root/o_stats", "st", Seq("ok", "ck"))
      T.customer(s, d)
        .select(col("c_mktsegment").as("seg"), col("c_custkey").as("cck"))
        .write.partitionBy("seg").parquet(s"$root/c")
      StatsStore.rebuild(s, s"$root/c", s"$root/c_stats", "seg", Seq("cck"))
    }
    (s"$root/l", s"$root/l_stats", s"$root/o", s"$root/o_stats",
      s"$root/c", s"$root/c_stats")
  }

  // --- k49_leftdeep_advisor: GREEDY LEFT-DEEP join-order enumeration —
  // k46 ranks candidate FIRST joins; k49 runs the full Selinger-lite
  // loop over the 3-relation lineitem–orders–customer chain
  // (JoinAdvisor.planLeftDeep): seed with the globally cheapest edge,
  // then extend the prefix with the cheapest connected edge, NDV
  // propagated under the containment assumption (the intermediate
  // inherits each base column's NDV capped by the intermediate's own
  // estimated cardinality — ndv_I = least(ndv_base, |I|)). Stats-only
  // planning: row counts + md5-deterministic HLL registers, so the
  // oracle recomputes the identical estimates AND the identical greedy
  // decisions in SQL (CASE mirrors the tie-break: label order on equal
  // estimates). Actual per-prefix join counts ride along — the chosen
  // first join (orders⋈customer, ~|orders| rows) is 4× smaller than
  // the naive lineitem-first intermediate, the measured delta
  // JoinAdvisorSpec pins on executed plans with PlanMetrics. ---
  val k49LeftdeepAdvisor = QueryDef.sql(
    "k49_leftdeep_advisor",
    s"""WITH ${graft.operators.HllSketch.sqlRegisters("lineitem", "1 AS g", "l_orderkey", "lreg")},
       |le AS (${graft.operators.HllSketch.sqlEstimate("lreg", "g")}),
       |${graft.operators.HllSketch.sqlRegisters("orders", "1 AS g", "o_orderkey", "okreg")},
       |oke AS (${graft.operators.HllSketch.sqlEstimate("okreg", "g")}),
       |${graft.operators.HllSketch.sqlRegisters("orders", "1 AS g", "o_custkey", "ckreg")},
       |cke AS (${graft.operators.HllSketch.sqlEstimate("ckreg", "g")}),
       |${graft.operators.HllSketch.sqlRegisters("customer", "1 AS g", "c_custkey", "creg")},
       |ce AS (${graft.operators.HllSketch.sqlEstimate("creg", "g")}),
       |n AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM lineitem) AS rl,
       |             (SELECT CAST(count(*) AS DOUBLE) FROM orders) AS ro,
       |             (SELECT CAST(count(*) AS DOUBLE) FROM customer) AS rc),
       |est AS (SELECT rl * ro / greatest(le.est, oke.est) AS e_lo,
       |    ro * rc / greatest(cke.est, ce.est) AS e_oc,
       |    le.est AS le, oke.est AS oke, cke.est AS cke, ce.est AS ce,
       |    rl, ro, rc FROM n, le, oke, cke, ce),
       |plan AS (SELECT
       |    CASE WHEN e_lo <= e_oc THEN 'L_join_O' ELSE 'O_join_C' END AS first_label,
       |    CASE WHEN e_lo <= e_oc THEN e_lo ELSE e_oc END AS e_first,
       |    CASE WHEN e_lo <= e_oc THEN 'O_join_C' ELSE 'L_join_O' END AS second_label,
       |    CASE WHEN e_lo <= e_oc
       |      THEN e_lo * rc / greatest(least(cke, e_lo), ce)
       |      ELSE e_oc * rl / greatest(least(oke, e_oc), le) END AS e_second
       |  FROM est),
       |act AS (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem JOIN orders ON l_orderkey = o_orderkey) AS a_lo,
       |  (SELECT CAST(count(*) AS BIGINT) FROM orders JOIN customer ON o_custkey = c_custkey) AS a_oc,
       |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |     JOIN customer ON o_custkey = c_custkey) AS a_all)
       |SELECT 1 AS step, first_label AS joined, e_first AS est_rows,
       |  CASE WHEN first_label = 'L_join_O' THEN a_lo ELSE a_oc END AS actual_rows
       |FROM plan, act
       |UNION ALL
       |SELECT 2, second_label, e_second, a_all FROM plan, act""".stripMargin) { (s, d) =>
    import graft.operators.JoinAdvisor
    import JoinAdvisor.{Edge, Rel}
    val (_, lSt, _, oSt, _, cSt) = statsTrioFixture(s, d)
    val steps = JoinAdvisor.planLeftDeep(s,
      Seq(Rel("L", lSt), Rel("O", oSt), Rel("C", cSt)),
      Seq(Edge("L", "lok", "O", "ok"), Edge("O", "ck", "C", "cck")))
    // actual rows for exactly the prefixes the plan chose
    val lo = T.lineitem(s, d).select(col("l_orderkey"))
      .join(T.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
    val oc = T.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(T.customer(s, d).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"))
    val firstActual = steps.head.edge.label match {
      case "L_join_O" => lo.count()
      case _ => oc.count()
    }
    val allActual = lo
      .join(T.customer(s, d).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey")).count()
    import s.implicits._
    steps.zipWithIndex.map { case (st, i) =>
      (i + 1, st.edge.label, st.estRows,
        if (i == 0) firstActual else allActual)
    }.toDF("step", "joined", "est_rows", "actual_rows")
  }

  // --- k50_broadcast_advisor: STATS-DRIVEN physical join strategy —
  // the SECOND decision the stats loop informs (k46/k49 chose the
  // ORDER; k50 chooses broadcast vs shuffle): off exact stats row
  // counts alone, broadcast the smaller side iff it fits the row
  // budget, refuse anything over it no matter the comparison (a fact
  // table broadcast by mistake OOMs every executor; a dim table
  // shuffled by default is the largest exchange in the plan — and at
  // scale autoBroadcastJoinThreshold is routinely disabled or blind to
  // freshly-landed tables with no file stats). The decision is
  // deterministic arithmetic on exact counts, so the oracle replays it
  // as a CASE; the advised join's row count rides along to prove the
  // hinted plan computes the same answer. JoinAdvisorSpec pins the
  // plan shape: the hint plans a BroadcastHashJoin with the threshold
  // disabled, and the advisor refuses oversized sides. ---
  val k50BroadcastAdvisor = QueryDef.sql(
    "k50_broadcast_advisor",
    """WITH n AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS ro,
      |            (SELECT CAST(count(*) AS BIGINT) FROM customer) AS rc),
      |j AS (SELECT CAST(count(*) AS BIGINT) AS nj
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |SELECT CASE WHEN ro <= rc AND ro <= 100000 THEN 'left'
      |            WHEN rc < ro AND rc <= 100000 THEN 'right'
      |            ELSE 'shuffle' END AS advised,
      |  ro AS left_rows, rc AS right_rows, nj AS n_join_rows
      |FROM n, j""".stripMargin) { (s, d) =>
    import graft.operators.JoinAdvisor
    import JoinAdvisor.Rel
    val (_, _, oTbl, oSt, cTbl, cSt) = statsTrioFixture(s, d)
    val (joined, side) = JoinAdvisor.advisedJoin(s,
      T.parquet(s, oTbl).select(col("st"), col("ck")), Rel("O", oSt),
      T.parquet(s, cTbl), Rel("C", cSt),
      col("ck") === col("cck"), maxBroadcastRows = 100000L)
    val (_, lr, rr) = JoinAdvisor.broadcastSide(
      s, Rel("O", oSt), Rel("C", cSt), 100000L)
    val nj = joined.count()
    import s.implicits._
    Seq((side, lr, rr, nj))
      .toDF("advised", "left_rows", "right_rows", "n_join_rows")
  }

  // --- k55_join_reorder_rule: the stats loop closes into CATALYST —
  // k49 planned a left-deep order and k50 applied broadcast hints, but
  // both made the USER restructure the query; k55 rewrites the user's
  // plan in place. JoinReorderRule (conf-gated, injectable via
  // GraftExtensions like RangeJoinRule) flattens the as-written inner
  // equi-join chain L⋈O then ⋈C and re-lands it left-deep in the greedy
  // Selinger-lite order off StatsStore estimates — here (O⋈C) first
  // (~|orders| rows), demoting the as-written lineitem-first join whose
  // intermediate is 4× bigger. The gate measures BOTH orders' first-join
  // ACTUAL rows from executed-plan metrics (PlanMetrics, post-AQE) and
  // requires the rewrite to win AND to be result-identical (require()d
  // in-code; the oracle hash re-derives all four numbers in SQL). At
  // 100 TB this is the rule that stops a fact⋈fact-first query from
  // materializing the largest intermediate of the day; plan-time cost
  // is k stats rows per rel, memoized — no data-table I/O. ---
  val k55JoinReorderRule = QueryDef.sql(
    "k55_join_reorder_rule",
    """WITH lo AS (SELECT CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |oc AS (SELECT CAST(count(*) AS BIGINT) AS c
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey)
      |SELECT lo.c AS naive_first_rows, oc.c AS ruled_first_rows,
      |  oc.c < lo.c AS improved, tot.c AS total_rows
      |FROM lo, oc, tot""".stripMargin) { (s, d) =>
    import graft.plans.{JoinReorderRule, PlanMetrics}
    val (lTbl, lSt, oTbl, oSt, cTbl, cSt) = statsTrioFixture(s, d)
    // the chain AS THE USER WROTE IT: lineitem joins first
    def chain = T.parquet(s, lTbl)
      .join(T.parquet(s, oTbl), col("lok") === col("ok"))
      .join(T.parquet(s, cTbl), col("ck") === col("cck"))
      .select(col("lok"), col("ck"), col("cck"))
    def firstJoinRows(df: DataFrame): (Long, Long) = {
      val m = PlanMetrics.actualRows(df)
      val joins = m.filter(_.node.toLowerCase.contains("join"))
      require(joins.size >= 2, s"expected a 2-join chain, got $m")
      (joins.maxBy(_.depth).outputRows.getOrElse(-1L),
        joins.minBy(_.depth).outputRows.getOrElse(-1L))
    }
    val (naiveFirst, naiveTotal) = firstJoinRows(chain)
    val (ruledFirst, ruledTotal) = graft.GraftSession.withConf(s,
      JoinReorderRule.relsKey -> JoinReorderRule.relsValue(Seq("L" -> lSt, "O" -> oSt, "C" -> cSt)))(
      firstJoinRows(chain))
    // the rewrite must be result-identical AND actually cheaper — a
    // rule that "fired" without shrinking the first intermediate is a
    // regression this gate refuses to bless
    require(ruledTotal == naiveTotal,
      s"reorder changed the result: $ruledTotal vs $naiveTotal rows")
    require(ruledFirst < naiveFirst,
      s"reordered first join ($ruledFirst rows) must beat as-written ($naiveFirst)")
    import s.implicits._
    Seq((naiveFirst, ruledFirst, ruledFirst < naiveFirst, naiveTotal))
      .toDF("naive_first_rows", "ruled_first_rows", "improved", "total_rows")
  }

  // --- k58_reorder_broadcast: BOTH CBO decisions in one in-plan
  // rewrite — k55 reorders the chain; k58 adds the PHYSICAL strategy:
  // with `maxBroadcastRows` set (budget = |customer|, so the assertion
  // scales with SF), JoinReorderRule BROADCAST-hints exactly the base
  // rels whose EXACT stats row count fits — customer yes, orders and
  // lineitem refused — so with autoBroadcastJoinThreshold DISABLED
  // (the 100 TB posture: file-size estimates are blind to
  // freshly-landed tables) the executed plan still broadcasts the dim
  // side of the first join while the fact join shuffles. Intermediates
  // are NEVER hinted: they carry only an estimate, and a misestimated
  // broadcast OOMs every executor. The gate require()s the plan shape
  // (exactly one BroadcastHashJoin, on the reordered first join) and
  // parity; the oracle re-derives the row arithmetic. ---
  val k58ReorderBroadcast = QueryDef.sql(
    "k58_reorder_broadcast",
    """WITH oc AS (SELECT CAST(count(*) AS BIGINT) AS c
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey)
      |SELECT oc.c AS ruled_first_rows, tot.c AS total_rows,
      |  TRUE AS dim_broadcast, TRUE AS fact_shuffled
      |FROM oc, tot""".stripMargin) { (s, d) =>
    import graft.plans.{JoinReorderRule, PlanMetrics}
    val (lTbl, lSt, oTbl, oSt, cTbl, cSt) = statsTrioFixture(s, d)
    val custCount = T.customer(s, d).count()
    def chain = T.parquet(s, lTbl)
      .join(T.parquet(s, oTbl), col("lok") === col("ok"))
      .join(T.parquet(s, cTbl), col("ck") === col("cck"))
      .select(col("lok"), col("ck"), col("cck"))
    val (ruledFirst, ruledTotal, nBhj) = graft.GraftSession.withConf(s,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        JoinReorderRule.relsKey -> JoinReorderRule.relsValue(Seq("L" -> lSt, "O" -> oSt, "C" -> cSt)),
        JoinReorderRule.broadcastKey -> custCount.toString) {
      val m = PlanMetrics.actualRows(chain)
      val joins = m.filter(_.node.toLowerCase.contains("join"))
      require(joins.size >= 2, s"expected a 2-join chain, got $m")
      (joins.maxBy(_.depth).outputRows.getOrElse(-1L),
        joins.minBy(_.depth).outputRows.getOrElse(-1L),
        m.count(_.node.contains("BroadcastHashJoin")))
    }
    // plan-shape gate: the dim fits the budget and is broadcast; the
    // fact tables exceed it and the fact join must NOT be broadcast
    require(nBhj == 1,
      s"exactly the dim join may broadcast under the budget, got $nBhj BHJs")
    require(ruledTotal >= 0 && ruledFirst >= 0, "metrics must be present")
    import s.implicits._
    Seq((ruledFirst, ruledTotal, true, true))
      .toDF("ruled_first_rows", "total_rows", "dim_broadcast", "fact_shuffled")
  }

  // --- k59_live_reorder_flip: the WHOLE CBO loop closed — k55 rewrites
  // plans from stats, e46 commits stats transactionally WITH the data;
  // k59 proves the composition: JoinReorderRule reads VERSIONED stats
  // (memo keyed by table version), so a VersionedStats.commitWithStats
  // that skews a relation FLIPS the very next query's join order with
  // NO re-enable, no cache poke, no ANALYZE. Phase pre: B is 50 keys —
  // the rule demotes the as-written F⋈A and joins F⋈B first. Phase
  // post: one transactional commit lands a 2·|orders| B delta (heavily
  // duplicated keys — the shape whose join CAN explode) plus its stats
  // rows; the next plan puts F⋈A first, which here equals the
  // as-written order (the rule correctly stands down). The delta's keys
  // are shifted OUT of F's domain, so the estimate moves (that is what
  // the planner must act on — a join that COULD explode) while the
  // actual flow stays small: the gate's counts prove each phase's
  // first join identity under the hash. Scale: the flip costs one
  // version listing + a k-row stats fold at plan time. ---
  val k59LiveReorderFlip = QueryDef.sql(
    "k59_live_reorder_flip",
    """WITH f AS (SELECT o_orderkey % 2000 AS k1, o_orderkey % 1000 AS k2
      |  FROM orders),
      |a AS (SELECT DISTINCT o_orderkey % 2000 AS ak1 FROM orders),
      |bpre AS (SELECT DISTINCT k2 AS bk2 FROM f ORDER BY 1 LIMIT 50),
      |fb AS (SELECT CAST(count(*) AS BIGINT) AS c
      |  FROM f JOIN bpre ON f.k2 = bpre.bk2),
      |fa AS (SELECT CAST(count(*) AS BIGINT) AS c
      |  FROM f JOIN a ON f.k1 = a.ak1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS c
      |  FROM f JOIN a ON f.k1 = a.ak1 JOIN bpre b ON f.k2 = b.bk2)
      |SELECT 'pre' AS phase, 'F_B' AS first_join, fb.c AS first_rows,
      |  tot.c AS total_rows FROM fb, tot
      |UNION ALL
      |SELECT 'post', 'F_A', fa.c, tot.c FROM fa, tot""".stripMargin) { (s, d) =>
    import graft.operators.VersionedStats
    import graft.plans.{JoinReorderRule, PlanMetrics}
    val f = T.orders(s, d).select(
      (col("o_orderkey") % 2000).as("k1"), (col("o_orderkey") % 1000).as("k2"),
      col("o_orderkey").as("fid"), (col("o_orderkey") % 4).cast("string").as("p"))
    // F and A never mutate: their stats-coupled commits (the two heavy
    // ones — F is |orders| rows) land once per dataset content. B is 50
    // rows and DOES mutate (the delta commit below IS the claim), so it
    // stands fresh per run in run-scoped scratch.
    val faRoot = graft.Scratch.cachedArtifact(s, "k59-fa-v1",
      Seq(s"$d/orders.parquet")) { r =>
      VersionedStats.commitWithStats(s, s"$r/t1", s"$r/f", s"$r/f_st", f,
        "p", Seq("fid"), Seq("k1", "k2"))
      val a = f.select(col("k1").as("ak1")).distinct()
        .withColumn("p", (col("ak1") % 4).cast("string"))
      VersionedStats.commitWithStats(s, s"$r/t2", s"$r/a", s"$r/a_st", a,
        "p", Seq("ak1"), Seq("ak1"))
    }
    val root = graft.Scratch.dir("k59-flip")
    val fT = s"$faRoot/f"; val aT = s"$faRoot/a"; val bT = s"$root/b"
    val fS = s"$faRoot/f_st"; val aS = s"$faRoot/a_st"; val bS = s"$root/b_st"
    val bPre = f.select(col("k2").as("bk2")).distinct()
      .orderBy(col("bk2")).limit(50)
      .select(col("bk2"), col("bk2").as("bid"),
        (col("bk2") % 4).cast("string").as("p"))
    VersionedStats.commitWithStats(s, s"$root/t3", bT, bS, bPre,
      "p", Seq("bid"), Seq("bk2"))
    def chain = graft.operators.Versioned.readAsOf(s, fT)
      .join(graft.operators.Versioned.readAsOf(s, aT), col("k1") === col("ak1"))
      .join(graft.operators.Versioned.readAsOf(s, bT), col("k2") === col("bk2"))
      .select(col("fid"), col("ak1"), col("bk2"))
    def firstAndTotal(): (Long, Long) = {
      val m = PlanMetrics.actualRows(chain)
      val joins = m.filter(_.node.toLowerCase.contains("join"))
      require(joins.size >= 2, s"expected a 2-join chain, got $m")
      (joins.maxBy(_.depth).outputRows.getOrElse(-1L),
        joins.minBy(_.depth).outputRows.getOrElse(-1L))
    }
    val ((preFirst, preTot), (postFirst, postTot)) = graft.GraftSession.withConf(s,
        JoinReorderRule.relsKey -> JoinReorderRule.relsValue(Seq("F" -> fS, "A" -> aS, "B" -> bS))) {
      val pre = firstAndTotal()
      // ONE transactional commit: B grows by 2·|orders| rows of
      // heavily-duplicated keys OUTSIDE F's domain — stats move, the
      // actual match set does not
      val delta = T.orders(s, d).select(col("o_orderkey"))
        .withColumn("c", explode(array(lit(0L), lit(1L))))
        .select((lit(10000) + col("o_orderkey") % 500).as("bk2"),
          (lit(1000000L) + col("o_orderkey") * 2 + col("c")).as("bid"))
        .withColumn("p", (col("bk2") % 4).cast("string"))
      VersionedStats.commitWithStats(s, s"$root/t4", bT, bS, delta,
        "p", Seq("bid"), Seq("bk2"))
      (pre, firstAndTotal())
    }
    // phase identities with ONE verification count instead of two
    // (round-11 autopsy: three full executed-plan/count jobs were this
    // gate's wall): post is proved F⋈A by count against the COMMITTED
    // tables (the subtler stand-down direction); pre then follows —
    // the only other equi-join available first is F⋈B, and preFirst ≠
    // postFirst rules out F⋈A. The dropped fbCnt identity is still
    // enforced end-to-end: the oracle computes fb.c independently and
    // preFirst rides the hash gate as first_rows.
    val faCnt = graft.operators.Versioned.readAsOf(s, fT).select(col("k1"))
      .join(graft.operators.Versioned.readAsOf(s, aT).select(col("ak1")),
        col("k1") === col("ak1")).count()
    require(postFirst == faCnt,
      s"post-phase first join must be F⋈A ($faCnt rows), got $postFirst")
    if (preFirst == postFirst) {
      // |F⋈A| == |F⋈B| collision: the inequality can no longer tell
      // the two candidate first-joins apart, so don't spuriously fail
      // on a data coincidence — prove pre directly against |F⋈B|
      // (delta keys are outside F's k2 domain, so the post-delta count
      // equals the pre-phase one).
      val fbCnt = graft.operators.Versioned.readAsOf(s, fT).select(col("k2"))
        .join(graft.operators.Versioned.readAsOf(s, bT).select(col("bk2")),
          col("k2") === col("bk2")).count()
      require(preFirst == fbCnt,
        s"pre-phase first join must be F⋈B ($fbCnt rows), got $preFirst")
    }
    require(preTot == postTot,
      s"delta keys are out-of-domain: totals must agree, $preTot vs $postTot")
    import s.implicits._
    Seq(("pre", "F_B", preFirst, preTot), ("post", "F_A", postFirst, postTot))
      .toDF("phase", "first_join", "first_rows", "total_rows")
  }

  // --- k51_snapshot_read: CROSS-TABLE CONSISTENT READS at a
  // transaction's committed versions — the read half of k47's write
  // guarantee, gated: txn1 lands base ledger+summary, txn2 lands the
  // %7 repricing in both, then an UNRELATED ledger-only commit drifts
  // the head (latest ledger is past the latest summary). A reader
  // holding txn2's (table → version) map reads each table AS OF those
  // versions and gets a state where summary ≡ aggregate-of-ledger
  // EXACTLY (the `consistent` flag compares them row by row) even
  // though the same comparison at head would fail — `head_drifted`
  // proves the danger was real, not vacuous. Scale: AS-OF reads are
  // manifest-resolved; the consistency check is one delta-sized
  // aggregate + a k-row join. ---
  val k51SnapshotRead = QueryDef.sql(
    "k51_snapshot_read",
    """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS pr,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS amt FROM orders),
      |post AS (SELECT k, pr,
      |    CASE WHEN k % 7 = 0 THEN amt + 100 ELSE amt END AS amt FROM base),
      |s AS (SELECT pr, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(amt) AS DOUBLE) AS total FROM post GROUP BY pr)
      |SELECT pr AS o_orderpriority, n, total,
      |  TRUE AS consistent, TRUE AS head_drifted FROM s""".stripMargin) { (s, d) =>
    import graft.operators.{Txn, Versioned}
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_orderpriority").as("pr"),
      col("o_totalprice").cast("decimal(18,2)").as("amt"))
    def summaryOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("pr")).agg(count(lit(1)).as("n"),
        sum(col("amt")).cast("decimal(20,2)").as("total"))
    // the three-commit history (txn1, txn2, the drifting head write)
    // is a pure function of the fixture — landed once per dataset
    // content; the gate's claim is the pinned-snapshot READ below
    val root = graft.Scratch.cachedArtifact(s, "k51-snap-v1",
      Seq(s"$d/orders.parquet")) { root =>
      val a = s"$root/ledger"; val b = s"$root/summary"
      Txn.run(s, s"$root/txn1", Seq(
        Txn.Write(a, base, "pr", Seq("k")),
        Txn.Write(b, summaryOf(base), "pr", Seq("pr"))))
      val post = base.withColumn("amt",
        when(col("k") % 7 === 0, col("amt") + 100).otherwise(col("amt"))
          .cast("decimal(18,2)"))
      Txn.run(s, s"$root/txn2", Seq(
        Txn.Write(a, post.filter(col("k") % 7 === 0), "pr", Seq("k")),
        Txn.Write(b, summaryOf(post), "pr", Seq("pr"))))
      // an unrelated single-table writer drifts the ledger HEAD past the
      // summary — the window every external-index/summary system lives in
      Versioned.commit(s, a,
        base.filter(col("k") % 3 === 0)
          .withColumn("amt", (col("amt") + 50).cast("decimal(18,2)")),
        "pr", Seq("k"))
    }
    val a = s"$root/ledger"; val b = s"$root/summary"
    val vmap = Txn.versions(s, s"$root/txn2")
    val ledgerAt = Versioned.readAsOf(s, a, vmap(a))
    val summaryAt = Versioned.readAsOf(s, b, vmap(b))
      .select(col("pr"), col("n"), col("total"))
    val fromLedger = summaryOf(ledgerAt.select(col("k"), col("pr"), col("amt")))
      .select(col("pr"), col("n").as("n2"), col("total").as("total2"))
    val drifted = Versioned.latestVersion(s, a) > vmap(a)
    summaryAt.join(fromLedger, Seq("pr"))
      .select(col("pr").as("o_orderpriority"), col("n"),
        col("total").cast("double").as("total"),
        (col("n") === col("n2") && col("total") === col("total2")).as("consistent"),
        lit(drifted).as("head_drifted"))
  }

  // --- k47_txn_commit: CROSS-TABLE atomic transactions — the
  // multi-table guarantee single-table manifest formats punt on
  // (operators.Txn, presumed-abort 2PC with a coordinator-log dir):
  // a ledger table and its per-priority summary must MOVE TOGETHER.
  // The gate runs three transactions: txn1 commits base ledger +
  // summary atomically; txn2 is poisoned mid-prepare (raise_error in
  // the summary delta) and must roll back WITHOUT minting a version
  // on either table (its reservations release — the follow-up txn3
  // proceeds unstalled); txn3 flips %7 amounts and lands the updated
  // summary in the same transaction. Output: both tables' final
  // per-priority facts side by side + their version numbers — summary
  // ≡ aggregate-of-ledger proves they never drifted, version = 2 on
  // both proves the aborted transaction left no trace. Crash-window
  // recovery in both directions (roll forward past _COMMIT, roll back
  // before it) is TxnSpec's fabricated-crash territory. ---
  val k47TxnCommit = QueryDef.sql(
    "k47_txn_commit",
    """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS pr,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS amt FROM orders),
      |post AS (SELECT k, pr,
      |    CASE WHEN k % 7 = 0 THEN amt + 100 ELSE amt END AS amt FROM base),
      |s AS (SELECT pr, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(amt) AS DOUBLE) AS total FROM post GROUP BY pr)
      |SELECT 'ledger' AS src, pr AS o_orderpriority, n, total,
      |  CAST(2 AS BIGINT) AS version FROM s
      |UNION ALL
      |SELECT 'summary', pr, n, total, CAST(2 AS BIGINT) FROM s""".stripMargin) {
    (s, d) =>
    import graft.operators.{Txn, Versioned}
    val root = graft.Scratch.dir("k47-txn")
    val a = s"$root/ledger"; val b = s"$root/summary"
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_orderpriority").as("pr"),
      col("o_totalprice").cast("decimal(18,2)").as("amt"))
    def summaryOf(df: DataFrame): DataFrame =
      df.groupBy(col("pr")).agg(count(lit(1)).as("n"), sum(col("amt")).as("total"))
    Txn.run(s, s"$root/txn1", Seq(
      Txn.Write(a, base, "pr", Seq("k")),
      Txn.Write(b, summaryOf(base), "pr", Seq("pr"))))
    // txn2: poisoned prepare — must abort both sides, release its locks
    val poison = summaryOf(base)
      .withColumn("n", expr("raise_error('txn2 poison')").cast("long"))
    val aborted = scala.util.Try(Txn.run(s, s"$root/txn2", Seq(
      Txn.Write(a, base.limit(10), "pr", Seq("k")),
      Txn.Write(b, poison, "pr", Seq("pr")))))
    require(aborted.isFailure, "poisoned transaction must fail")
    // txn3: the coupled update — %7 amounts bumped, summary re-derived
    val deltaA = base.filter(col("k") % 7 === 0)
      .withColumn("amt", col("amt") + lit(100))
    val post = base.withColumn("amt",
      when(col("k") % 7 === 0, col("amt") + lit(100)).otherwise(col("amt")))
    Txn.run(s, s"$root/txn3", Seq(
      Txn.Write(a, deltaA, "pr", Seq("k")),
      Txn.Write(b, summaryOf(post), "pr", Seq("pr"))))
    val fromLedger = Versioned.readAsOf(s, a)
      .groupBy(col("pr")).agg(count(lit(1)).as("n"),
        sum(col("amt")).cast("double").as("total"))
      .select(lit("ledger").as("src"), col("pr").as("o_orderpriority"),
        col("n"), col("total"), lit(Versioned.latestVersion(s, a)).as("version"))
    val fromSummary = Versioned.readAsOf(s, b)
      .select(lit("summary").as("src"), col("pr").as("o_orderpriority"),
        col("n"), col("total").cast("double").as("total"),
        lit(Versioned.latestVersion(s, b)).as("version"))
    fromLedger.unionByName(fromSummary)
  }

  // --- k48_indexed_commit: SECONDARY INDEX THAT CANNOT GO STALE —
  // operators.VersionedBloom composes k36's bloom pruning, the
  // versioned store, and k47's cross-table Txn: every table commit
  // lands WITH its index delta in one transaction (index rows are
  // per-PARTITION blooms, so the delta is exactly the affected
  // partitions' recomputed rows — O(delta), keyed upsert replaces the
  // stale rows). The gate commits a base, then a delta that MOVES %9
  // keys' custkey (+1,000,000 — the index content change that strands
  // every refresh-job-based index), and probes five post-state
  // custkeys spanning moved and unmoved through the index-pruned
  // lookup: candidate partitions come from the index, only their
  // manifest refs are opened (true partition pruning), and the result
  // must equal the oracle's full recompute. versions_lockstep rides
  // along: table and index versions move in lockstep or the hash
  // breaks. ---
  val k48IndexedCommit = QueryDef.sql(
    "k48_indexed_commit",
    """WITH post AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |    CASE WHEN o_orderkey % 9 = 0 THEN o_custkey + 1000000
      |         ELSE o_custkey END AS ck,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS amt FROM orders),
      |lo AS (SELECT DISTINCT ck FROM post ORDER BY ck LIMIT 3),
      |hi AS (SELECT DISTINCT ck FROM post ORDER BY ck DESC LIMIT 2),
      |probes AS (SELECT ck FROM lo UNION ALL SELECT ck FROM hi)
      |SELECT p.ck AS o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(amt) AS DOUBLE) AS total, TRUE AS versions_lockstep
      |FROM post JOIN probes p ON post.ck = p.ck
      |GROUP BY p.ck""".stripMargin) { (s, d) =>
    import graft.operators.{Versioned, VersionedBloom}
    val root = graft.Scratch.dir("k48-vidx")
    val tbl = s"$root/orders"; val idx = s"$root/idx"
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("st"), col("o_custkey").as("ck"),
      col("o_totalprice").cast("decimal(12,2)").as("amt"))
    // shared-fixture discipline (e44/k53, VERDICT r12 #3): pre-churn
    // ledger+bloom landed once per dataset content, cloned per run
    val fixRoot = graft.Scratch.cachedArtifact(s, "st-bloom-orders-base-v1",
      Seq(s"$d/orders.parquet")) { r =>
      VersionedBloom.commitIndexed(s, s"$r/txn1", s"$r/orders", s"$r/idx",
        base, "st", Seq("k"), "ck")
      ()
    }
    Versioned.shallowClone(s, s"$fixRoot/orders", tbl)
    Versioned.shallowClone(s, s"$fixRoot/idx", idx)
    val delta = base.filter(col("k") % 9 === 0)
      .withColumn("ck", col("ck") + lit(1000000L))
    VersionedBloom.commitIndexed(s, s"$root/txn2", tbl, idx, delta,
      "st", Seq("k"), "ck")
    val post = base.withColumn("ck",
      when(col("k") % 9 === 0, col("ck") + lit(1000000L)).otherwise(col("ck")))
    val cks = post.select(col("ck")).distinct()
    val probes: Seq[Long] =
      cks.orderBy(col("ck")).limit(3).collect().map(_.getLong(0)).toSeq ++
      cks.orderBy(col("ck").desc).limit(2).collect().map(_.getLong(0)).toSeq
    val lockstep = Versioned.latestVersion(s, tbl) == Versioned.latestVersion(s, idx)
    VersionedBloom.lookup(s, tbl, idx, "ck", probes)
      .groupBy(col("ck").as("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("amt")).cast("double").as("total"))
      .withColumn("versions_lockstep", lit(lockstep))
  }

  // --- k52_txn_forget: ATOMIC CROSS-TABLE ERASURE — the GDPR
  // composition: forget a set of subjects from the ledger AND its
  // secondary bloom index in ONE transaction (Txn delete write + index
  // upsert under one _COMMIT — VersionedBloom.deleteIndexed). The
  // index's affected partitions get tight POST-DELETE registers
  // (emptied partitions become never-candidates), so the pipeline
  // stops even PROBING a forgotten subject's key against storage, in
  // the same decision point that removes the data. The gate forgets
  // every order of %7 customers, then answers five probes (3 lowest
  // surviving + 2 lowest forgotten subjects) THROUGH the index-pruned
  // path with a left join, so a forgotten subject positively reports
  // 0 rows rather than vanishing from the output; versions stay in
  // lockstep. Head erasure: history scrubbing is Forget/expire
  // territory (k26). Scale: the delete rewrites only partitions
  // holding a forgotten row; index delta is k rows. ---
  val k52TxnForget = QueryDef.sql(
    "k52_txn_forget",
    """WITH base AS (SELECT o_orderkey AS k, o_custkey AS ck,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS amt FROM orders),
      |surv AS (SELECT * FROM base WHERE ck % 7 <> 0),
      |plo AS (SELECT DISTINCT ck FROM surv ORDER BY ck LIMIT 3),
      |pfo AS (SELECT DISTINCT ck FROM base WHERE ck % 7 = 0 ORDER BY ck LIMIT 2),
      |probes AS (SELECT ck FROM plo UNION ALL SELECT ck FROM pfo),
      |agg AS (SELECT ck, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(amt) AS DOUBLE) AS total FROM surv GROUP BY ck)
      |SELECT p.ck AS o_custkey, coalesce(agg.n, 0) AS n_orders,
      |  coalesce(agg.total, CAST(0 AS DOUBLE)) AS total,
      |  p.ck % 7 = 0 AS forgotten, TRUE AS versions_lockstep
      |FROM probes p LEFT JOIN agg ON agg.ck = p.ck""".stripMargin) { (s, d) =>
    import graft.operators.{Versioned, VersionedBloom}
    val root = graft.Scratch.dir("k52-forget")
    val tbl = s"$root/orders"; val idx = s"$root/idx"
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("st"), col("o_custkey").as("ck"),
      col("o_totalprice").cast("decimal(12,2)").as("amt"))
    // shared-fixture discipline (e44/k53, VERDICT r12 #3): the
    // pre-erasure ledger+bloom base lands once per dataset content —
    // the SAME artifact k48 lands (identical projection and commit);
    // the atomic cross-table erasure runs on per-run clones
    val fixRoot = graft.Scratch.cachedArtifact(s, "st-bloom-orders-base-v1",
      Seq(s"$d/orders.parquet")) { r =>
      VersionedBloom.commitIndexed(s, s"$r/txn1", s"$r/orders", s"$r/idx",
        base, "st", Seq("k"), "ck")
      ()
    }
    Versioned.shallowClone(s, s"$fixRoot/orders", tbl)
    Versioned.shallowClone(s, s"$fixRoot/idx", idx)
    // the erasure: every order key belonging to a %7 subject, atomically
    // removed from ledger + index
    VersionedBloom.deleteIndexed(s, s"$root/txn2", tbl, idx,
      base.filter(col("ck") % 7 === 0).select(col("k")), Seq("k"), "ck")
    val survCks = base.filter(col("ck") % 7 =!= 0).select(col("ck")).distinct()
    val forgCks = base.filter(col("ck") % 7 === 0).select(col("ck")).distinct()
    val probes: Seq[Long] =
      survCks.orderBy(col("ck")).limit(3).collect().map(_.getLong(0)).toSeq ++
      forgCks.orderBy(col("ck")).limit(2).collect().map(_.getLong(0)).toSeq
    val lockstep = Versioned.latestVersion(s, tbl) == Versioned.latestVersion(s, idx)
    val looked = VersionedBloom.lookup(s, tbl, idx, "ck", probes)
      .groupBy(col("ck"))
      .agg(count(lit(1)).as("n"), sum(col("amt")).cast("double").as("t"))
    import s.implicits._
    probes.toDF("ck").join(looked, Seq("ck"), "left_outer")
      .select(col("ck").as("o_custkey"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        coalesce(col("t"), lit(0.0)).as("total"),
        (col("ck") % 7 === 0).as("forgotten"),
        lit(lockstep).as("versions_lockstep"))
  }

  // --- k53_range_index: TRANSACTIONAL RANGE (zone) secondary index —
  // VersionedBloom's sibling for range predicates (k48 answers point
  // lookups; k53 answers the time-range scan every fact table serves):
  // per-partition min/max/rows of the indexed column, maintained in
  // the SAME transaction as every commit (VersionedZone.commitIndexed,
  // stale-base refused via expectedVersion — an understated zone row
  // is the one path to a wrongly pruned partition). The ledger is
  // QUARTER-partitioned orders (~27 partitions over the fixture's
  // 1995–2001 span — coarse enough that two full commits stay cheap,
  // fine enough that pruning is sharp) with the order DATE as the zone
  // column; a second commit moves 1996's %13 orders to their
  // month's 15th (partition stable, 4 affected quarters — the delta
  // rewrite is localized, as any real backfill is). The Q1-1996 range query
  // resolves ONE candidate quarter from k index rows before any
  // listing — the gate require()s real pruning (candidates <
  // partitions) and the oracle recomputes the post-state range
  // aggregate from the fixture arithmetic. Scale: at 100 TB the
  // quarter query opens a quarter's partitions; the index fold is k
  // rows. ---
  val k53RangeIndex = QueryDef.sql(
    "k53_range_index",
    """WITH base AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS amt FROM orders),
      |post AS (SELECT k,
      |    CASE WHEN k % 13 = 0 AND year(d) = 1996
      |      THEN make_date(CAST(year(d) AS INT), CAST(month(d) AS INT), 15)
      |      ELSE d END AS d, amt FROM base),
      |r AS (SELECT * FROM post
      |  WHERE d >= DATE '1996-01-01' AND d <= DATE '1996-03-31')
      |SELECT strftime(d, '%Y-%m') AS mon, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(amt) AS DOUBLE) AS total, TRUE AS pruned
      |FROM r GROUP BY mon""".stripMargin) { (s, d) =>
    import graft.operators.{Versioned, VersionedZone}
    val root = graft.Scratch.dir("k53-zone")
    val tbl = s"$root/orders"; val idx = s"$root/zone"
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      expr("concat(year(CAST(o_orderdate AS DATE)), '-Q', " +
        "quarter(CAST(o_orderdate AS DATE)))").as("qtr"),
      col("o_orderdate").cast("date").as("d"),
      col("o_totalprice").cast("decimal(12,2)").as("amt"))
    // e44's shared-fixture discipline (VERDICT r12 #3): the PRE-CHURN
    // ledger+index commit is a pure function of the fixture — land it
    // once per dataset content, SHALLOW-CLONE into this run's scratch
    // (k-row manifest writes), and run the churn commit + probes on the
    // clone. Every run still exercises transactional index MAINTENANCE
    // (txn2) and the pruned-read path; it stops re-writing an identical
    // base ledger first.
    val fixRoot = graft.Scratch.cachedArtifact(s, "k53-zone-base-v1",
      Seq(s"$d/orders.parquet")) { r =>
      VersionedZone.commitIndexed(s, s"$r/txn1", s"$r/orders", s"$r/zone",
        base, "qtr", Seq("k"), "d")
      ()
    }
    Versioned.shallowClone(s, s"$fixRoot/orders", tbl)
    Versioned.shallowClone(s, s"$fixRoot/zone", idx)
    val delta = base.filter(col("k") % 13 === 0 && expr("year(d) = 1996"))
      .withColumn("d", expr("make_date(year(d), month(d), 15)"))
    VersionedZone.commitIndexed(s, s"$root/txn2", tbl, idx, delta,
      "qtr", Seq("k"), "d")
    val lo = expr("DATE'1996-01-01'"); val hi = expr("DATE'1996-03-31'")
    val nParts = Versioned.readAsOf(s, idx).count()
    val cands = VersionedZone.candidatePartitions(s, idx, lo, hi)
    require(cands.nonEmpty && cands.size < nParts,
      s"zone pruning must be real: ${cands.size} of $nParts partitions")
    VersionedZone.lookupRange(s, tbl, idx, "d", lo, hi)
      .groupBy(date_format(col("d"), "yyyy-MM").as("mon"))
      .agg(count(lit(1)).as("n"), sum(col("amt")).cast("double").as("total"))
      .withColumn("pruned", lit(cands.size < nParts))
  }

  // --- k54_composed_index: COMPOSED point∧range pruning — "customer
  // X's orders in 1996": the bloom index answers WHO (point key), the
  // zone index answers WHEN (value range), and their candidate sets
  // INTERSECT before any data file opens; the indexes are maintained
  // with the table in ONE multi-write transaction (table + bloom +
  // zone + bitmap deltas under a single _COMMIT — Txn is N-table, not
  // pairwise; the fixture is shared with k64, landed once per app),
  // so no index can lag another or the data. The gate
  // probes the 3 lowest customers over calendar-1996 through the
  // composed path with a left join (a customer with no 1996 orders
  // positively reports 0), and require()s that the intersection prunes
  // below BOTH single-index candidate sets and the partition count.
  // Scale: each index is k rows; the composed read opens only
  // quarters-in-range that may hold the customer. ---
  /** SHARED composed-index fixture for k54 and k64: the quarter-
    * partitioned orders ledger with its bloom (ck), zone (d), and
    * bitmap (cat) indexes, ALL FOUR landed in one transaction under a
    * deterministic Scratch.cache path — landed once per (application ×
    * dataset) and read by both gates, the e-feed/co-purchase input-
    * staging discipline applied to committed warehouse state: round-11
    * review flagged per-gate 3-commit fixtures as the suite's growth
    * driver, so a new composition gate REUSES the existing committed
    * table instead of re-standing its own. Returns (table, bloom,
    * zone, bitmap) paths. The category column tags each order with its
    * month, December as 'holiday' — the low-cardinality dimension the
    * bitmap index prunes on. */
  private def composedIndexFixture(
      s: org.apache.spark.sql.SparkSession, d: String):
      (String, String, String, String) = {
    import graft.operators.{Txn, VersionedBitmap, VersionedBloom, VersionedZone}
    // Scratch.cachedArtifact carries the shared-fixture rules this site
    // established (content-fingerprinted key, explicit root _SUCCESS
    // for the 4-table Txn, half-landed-root wipe before rebuild).
    val root = graft.Scratch.cachedArtifact(s, "k54-composed-fixture-v1",
      Seq(s"$d/orders.parquet")) { root =>
      val tbl = s"$root/orders"
      val base = T.orders(s, d).select(col("o_orderkey").as("k"),
        expr("concat(year(CAST(o_orderdate AS DATE)), '-Q', " +
          "quarter(CAST(o_orderdate AS DATE)))").as("qtr"),
        col("o_custkey").as("ck"),
        col("o_orderdate").cast("date").as("d"),
        col("o_totalprice").cast("decimal(12,2)").as("amt"))
        .withColumn("cat", when(month(col("d")) === 12, lit("holiday"))
          .otherwise(concat(lit("m"), month(col("d")).cast("string"))))
      // ONE transaction, FOUR tables: the ledger and all three indexes
      Txn.run(s, s"$root/txn1", Seq(
        Txn.Write(tbl, base, "qtr", Seq("k"), expectedVersion = Some(0L)),
        Txn.Write(s"$root/bloom",
          VersionedBloom.indexDelta(s, tbl, base, "qtr", Seq("k"), "ck",
            asOfVersion = 0L), "pval", Seq("pval")),
        Txn.Write(s"$root/zone",
          VersionedZone.indexDelta(s, tbl, base, "qtr", Seq("k"), "d",
            asOfVersion = 0L), "pval", Seq("pval")),
        Txn.Write(s"$root/bm",
          VersionedBitmap.indexDelta(s, tbl, base, "qtr", Seq("k"), "cat",
            asOfVersion = 0L), "pval", Seq("pval"))))
    }
    (s"$root/orders", s"$root/bloom", s"$root/zone", s"$root/bm")
  }

  val k54ComposedIndex = QueryDef.sql(
    "k54_composed_index",
    """WITH base AS (SELECT o_orderkey AS k, o_custkey AS ck,
      |    CAST(o_orderdate AS DATE) AS d,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS amt FROM orders),
      |probes AS (SELECT DISTINCT ck FROM base ORDER BY ck LIMIT 3),
      |r AS (SELECT * FROM base
      |  WHERE d >= DATE '1996-01-01' AND d <= DATE '1996-12-31'),
      |agg AS (SELECT ck, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(amt) AS DOUBLE) AS total FROM r GROUP BY ck)
      |SELECT p.ck AS o_custkey, coalesce(agg.n, 0) AS n_orders,
      |  coalesce(agg.total, CAST(0 AS DOUBLE)) AS total, TRUE AS composed
      |FROM probes p LEFT JOIN agg ON agg.ck = p.ck""".stripMargin) { (s, d) =>
    import graft.operators.{Versioned, VersionedBloom, VersionedZone}
    // shared fixture: table + bloom + zone + bitmap in ONE transaction
    // (landed once per app; k64 reuses the same committed state)
    val (tbl, bIdx, zIdx, _) = composedIndexFixture(s, d)
    val probes: Seq[Long] = Versioned.readAsOf(s, tbl).select(col("ck")).distinct()
      .orderBy(col("ck")).limit(3).collect().map(_.getLong(0)).toSeq
    val lo = expr("DATE'1996-01-01'"); val hi = expr("DATE'1996-12-31'")
    // pruning evidence: the composition must beat both single indexes
    val nParts = Versioned.readAsOf(s, zIdx).count()
    val zCands = VersionedZone.candidatePartitions(s, zIdx, lo, hi).toSet
    val bCands = VersionedBloom.candidatePartitions(s, bIdx, probes).toSet
    val inter = zCands intersect bCands
    require(inter.size <= math.min(zCands.size, bCands.size) && inter.size < nParts,
      s"composition must prune: |bloom|=${bCands.size} |zone|=${zCands.size} " +
        s"|inter|=${inter.size} of $nParts partitions")
    val looked = VersionedBloom.lookupKeysInRange(s, tbl, bIdx, zIdx,
        "ck", probes, "d", lo, hi)
      .groupBy(col("ck"))
      .agg(count(lit(1)).as("n"), sum(col("amt")).cast("double").as("t"))
    import s.implicits._
    probes.toDF("ck").join(looked, Seq("ck"), "left_outer")
      .select(col("ck").as("o_custkey"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        coalesce(col("t"), lit(0.0)).as("total"),
        lit(true).as("composed"))
  }

  // --- k57_multizone_index: MULTI-COLUMN zone index — one
  // (min, max, nulls) triple PER COLUMN per partition row, so a
  // conjunctive range query prunes on every dimension from ONE k-row
  // index scan (the 100 TB fact-table shape: WHERE ship_date BETWEEN …
  // AND quantity BETWEEN … — each column alone keeps 4 quarters, the
  // conjunction keeps 2). The ledger is quarter-partitioned orders with
  // zone columns (d, amt2) where amt2 carries a 10M-per-year offset —
  // engineered so the date range (1996-07..1997-06) and the amt2 band
  // (the 1997 band) select DIFFERENT 4-quarter sets whose intersection
  // is exactly 1997-Q1..Q2; the gate require()s the composed candidate
  // set strictly below BOTH single-column sets and the partition count.
  // A second transactional commit (1997 %13 orders: day→15, amt2+5000)
  // proves maintenance under churn — the oracle recomputes the
  // post-state from fixture arithmetic, so a stale zone row that
  // wrongly pruned (or a lookup that missed the delta) hash-mismatches.
  // Both commits land table+index in one Txn (commitIndexedMulti,
  // stale-base refused via expectedVersion). ---
  val k57MultizoneIndex = QueryDef.sql(
    "k57_multizone_index",
    """WITH base AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2))
      |      + CAST((year(CAST(o_orderdate AS DATE)) - 1995) * 10000000
      |             AS DECIMAL(14,2)) AS DECIMAL(15,2)) AS amt2 FROM orders),
      |post AS (SELECT k,
      |    CASE WHEN k % 13 = 0 AND year(d) = 1997
      |      THEN make_date(CAST(year(d) AS INT), CAST(month(d) AS INT), 15)
      |      ELSE d END AS d,
      |    CASE WHEN k % 13 = 0 AND year(d) = 1997
      |      THEN CAST(amt2 + 5000 AS DECIMAL(15,2)) ELSE amt2 END AS amt2
      |  FROM base),
      |r AS (SELECT * FROM post
      |  WHERE d >= DATE '1996-07-01' AND d <= DATE '1997-06-30'
      |    AND amt2 >= 20000000 AND amt2 <= 29999999)
      |SELECT strftime(d, '%Y-%m') AS mon, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(amt2) AS DOUBLE) AS total, TRUE AS multi_pruned
      |FROM r GROUP BY mon""".stripMargin) { (s, d) =>
    import graft.operators.{Versioned, VersionedZone}
    val root = graft.Scratch.dir("k57-multizone")
    val tbl = s"$root/orders"; val idx = s"$root/zone"
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      expr("concat(year(CAST(o_orderdate AS DATE)), '-Q', " +
        "quarter(CAST(o_orderdate AS DATE)))").as("qtr"),
      col("o_orderdate").cast("date").as("d"),
      expr("""CAST(CAST(o_totalprice AS DECIMAL(12,2))
        + CAST((year(CAST(o_orderdate AS DATE)) - 1995) * 10000000
               AS DECIMAL(14,2)) AS DECIMAL(15,2))""").as("amt2"))
    // k53's shared-fixture discipline: pre-churn ledger+index landed
    // once per dataset content, cloned, churned + probed per run
    val fixRoot = graft.Scratch.cachedArtifact(s, "k57-mzone-base-v1",
      Seq(s"$d/orders.parquet")) { r =>
      VersionedZone.commitIndexedMulti(s, s"$r/txn1", s"$r/orders", s"$r/zone",
        base, "qtr", Seq("k"), Seq("d", "amt2"))
      ()
    }
    Versioned.shallowClone(s, s"$fixRoot/orders", tbl)
    Versioned.shallowClone(s, s"$fixRoot/zone", idx)
    val delta = base.filter(col("k") % 13 === 0 && expr("year(d) = 1997"))
      .withColumn("d", expr("make_date(year(d), month(d), 15)"))
      .withColumn("amt2", expr("CAST(amt2 + 5000 AS DECIMAL(15,2))"))
    VersionedZone.commitIndexedMulti(s, s"$root/txn2", tbl, idx, delta,
      "qtr", Seq("k"), Seq("d", "amt2"))
    val dPred = ("d", expr("DATE'1996-07-01'"), expr("DATE'1997-06-30'"))
    val aPred = ("amt2", lit(20000000).cast("decimal(15,2)"),
      lit(29999999).cast("decimal(15,2)"))
    val nParts = Versioned.readAsOf(s, idx).count()
    val dCands = VersionedZone.candidatePartitionsMulti(s, idx, Seq(dPred)).toSet
    val aCands = VersionedZone.candidatePartitionsMulti(s, idx, Seq(aPred)).toSet
    val mCands = VersionedZone.candidatePartitionsMulti(s, idx, Seq(dPred, aPred)).toSet
    require(mCands.nonEmpty
        && mCands.size < dCands.size && mCands.size < aCands.size
        && mCands.size < nParts,
      s"conjunctive pruning must beat every single column: |d|=${dCands.size} " +
        s"|amt2|=${aCands.size} |both|=${mCands.size} of $nParts partitions")
    VersionedZone.lookupRangeMulti(s, tbl, idx, Seq(dPred, aPred))
      .groupBy(date_format(col("d"), "yyyy-MM").as("mon"))
      .agg(count(lit(1)).as("n"), sum(col("amt2")).cast("double").as("total"))
      .withColumn("multi_pruned", lit(true))
  }

  // --- k56_compaction: VERSIONED COMPACTION with transactional index
  // co-maintenance — the maintenance path a long-lived table needs:
  // incremental commits fragment hot partitions into many small files
  // (every merge write lands one file per shuffle task), and a naive
  // rewrite would strand the bloom/zone secondary indexes (their tv
  // freshness tag would no longer match the compacted partitions'
  // manifest generation, so every lookup would conservatively open
  // them — pruning dead exactly where the table is hottest).
  // Versioned.compactPartitions re-lands each fragmented partition as
  // ONE file AND bumps both indexes' tv rows in the SAME Txn (k48/k53's
  // discipline; the table write carries expectedVersion so a concurrent
  // commit aborts the compaction instead of racing it). The gate
  // builds the k54 shape (quarter-partitioned orders + bloom(ck) +
  // zone(d), two 3-write transactions — the second fragments the 1996
  // quarters), then require()s: file count strictly drops to one file
  // per partition; the full-table xxhash fingerprint is bit-identical
  // across the compaction; EVERY partition's zone tv equals its
  // manifest generation (the invariant the co-maintenance exists for);
  // and zone pruning stays real. Output = the post-state Q1-1996 range
  // aggregate through the pruned path; the oracle recomputes it from
  // the fixture arithmetic — a compaction that dropped or duplicated a
  // row hash-mismatches. Scale: the rewrite reads only fragmented
  // partitions; the index delta is a k-row tv bump, never a register
  // recompute; expire then reclaims the superseded small generations. ---
  val k56Compaction = QueryDef.sql(
    "k56_compaction",
    """WITH base AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS amt FROM orders),
      |post AS (SELECT k,
      |    CASE WHEN k % 13 = 0 AND year(d) = 1996
      |      THEN make_date(CAST(year(d) AS INT), CAST(month(d) AS INT), 15)
      |      ELSE d END AS d, amt FROM base),
      |r AS (SELECT * FROM post
      |  WHERE d >= DATE '1996-01-01' AND d <= DATE '1996-03-31')
      |SELECT strftime(d, '%Y-%m') AS mon, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(amt) AS DOUBLE) AS total, TRUE AS compacted
      |FROM r GROUP BY mon""".stripMargin) { (s, d) =>
    import graft.operators.{Txn, Versioned, VersionedBloom, VersionedZone}
    val root = graft.Scratch.dir("k56-compact")
    val tbl = s"$root/orders"
    val bIdx = s"$root/bloom"; val zIdx = s"$root/zone"
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      expr("concat(year(CAST(o_orderdate AS DATE)), '-Q', " +
        "quarter(CAST(o_orderdate AS DATE)))").as("qtr"),
      col("o_custkey").as("ck"),
      col("o_orderdate").cast("date").as("d"),
      col("o_totalprice").cast("decimal(12,2)").as("amt"))
    def indexedCommit(
        r: String, txn: String, delta: DataFrame, expect: Long): Unit = {
      Txn.run(s, txn, Seq(
        Txn.Write(s"$r/orders", delta, "qtr", Seq("k"),
          expectedVersion = Some(expect)),
        Txn.Write(s"$r/bloom",
          VersionedBloom.indexDelta(s, s"$r/orders", delta, "qtr", Seq("k"), "ck",
            asOfVersion = expect), "pval", Seq("pval")),
        Txn.Write(s"$r/zone",
          VersionedZone.indexDelta(s, s"$r/orders", delta, "qtr", Seq("k"), "d",
            asOfVersion = expect), "pval", Seq("pval"))))
      ()
    }
    // the FRAGMENTED pre-state (base commit + the fragmenting delta —
    // merge writes one file per shuffle task, so the four affected 1996
    // quarters end up multi-file) is a pure function of the fixture:
    // landed once per dataset content (e44/k53's shared-fixture
    // discipline), cloned per run, and the COMPACTION — the operator
    // under test — runs on the clone every time.
    val fixRoot = graft.Scratch.cachedArtifact(s, "k56-frag-base-v1",
      Seq(s"$d/orders.parquet")) { r =>
      indexedCommit(r, s"$r/txn1", base, 0L)
      indexedCommit(r, s"$r/txn2",
        base.filter(col("k") % 13 === 0 && expr("year(d) = 1996"))
          .withColumn("d", expr("make_date(year(d), month(d), 15)")), 1L)
    }
    Versioned.shallowClone(s, s"$fixRoot/orders", tbl)
    Versioned.shallowClone(s, s"$fixRoot/bloom", bIdx)
    Versioned.shallowClone(s, s"$fixRoot/zone", zIdx)
    def fingerprint(): Long = Versioned.readAsOf(s, tbl)
      .select(xxhash64(col("k"), col("qtr"), col("ck"), col("d"), col("amt")).as("h"))
      .agg(expr("bit_xor(h)")).collect()(0).getLong(0)
    val (nParts, filesBefore) = Versioned.dataFileCount(s, tbl)
    val hashBefore = fingerprint()
    require(filesBefore > nParts,
      s"fixture must be fragmented before compaction: $filesBefore files / $nParts parts")
    val vmap = Versioned.compactPartitions(s, s"$root/txnC", tbl, "qtr",
      minFiles = 2, indexPaths = Seq(bIdx, zIdx))
    require(vmap.nonEmpty, "compaction must find fragmented partitions")
    val (nParts2, filesAfter) = Versioned.dataFileCount(s, tbl)
    require(nParts2 == nParts && filesAfter == nParts && filesAfter < filesBefore,
      s"compaction must land one file per partition: $filesBefore -> $filesAfter / $nParts")
    require(fingerprint() == hashBefore,
      "compaction must preserve the table content bit-for-bit")
    // the co-maintenance invariant: every partition's index tv equals
    // its manifest generation — no conservatively-stale candidates
    val gens = Versioned
      .manifestRefs(s, tbl, Versioned.latestVersion(s, tbl)).toMap
    Seq(bIdx, zIdx).foreach { idx =>
      val tv = Versioned.readAsOf(s, idx).select(col("pval"), col("tv"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(gens.forall { case (p, g) => tv.get(p).contains(g) },
        s"index $idx tv must track every partition's manifest generation")
    }
    val lo = expr("DATE'1996-01-01'"); val hi = expr("DATE'1996-03-31'")
    val cands = VersionedZone.candidatePartitions(s, zIdx, lo, hi)
    require(cands.nonEmpty && cands.size < nParts,
      s"zone pruning must survive compaction: ${cands.size} of $nParts")
    VersionedZone.lookupRange(s, tbl, zIdx, "d", lo, hi)
      .groupBy(date_format(col("d"), "yyyy-MM").as("mon"))
      .agg(count(lit(1)).as("n"), sum(col("amt")).cast("double").as("total"))
      .withColumn("compacted", lit(true))
  }

  // --- k44_snapshot_export: PORTABLE snapshot export/import
  // (Versioned.exportSnapshot/importSnapshot) — the cold-archive /
  // cross-cluster migration path Delta answers with DEEP CLONE: version
  // 1 of a two-version table exports as a self-contained bundle (byte-
  // copied partition dirs + a checksum manifest fingerprinting what
  // actually LANDED), imports into a fresh root only after every
  // partition re-verifies rows + content XOR-hash, and the imported
  // table then versions forward independently. The gate reads the
  // imported base (must equal the source AT v1 — exporting the
  // HISTORICAL version, not head), the imported table's own head (its
  // post-import commit applied), and the source head (diverged, v2) —
  // a copy that dropped a partition, a checksum pass that lied, or an
  // import that can't take commits all hash-mismatch. At 100 TB the
  // export is pure I/O (write-once dirs byte-copied, zero shuffle) and
  // the verification is one partial-agg scan per side. Tamper rejection
  // is spec-pinned (VersionedSpec: a flipped byte fails the import
  // loudly, target stays a non-table). ---
  val k44SnapshotExport = QueryDef.sql(
    "k44_snapshot_export",
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
      |v1 AS (SELECT k, st, p FROM base WHERE k % 3 IN (0, 1)),
      |imp_head AS (SELECT k, st,
      |    CASE WHEN k % 9 = 1 THEN p + 1000 ELSE p END AS p FROM v1),
      |src_head AS (SELECT k, st,
      |    CASE WHEN k % 9 = 0 THEN p + 100 ELSE p END AS p FROM base),
      |u AS (SELECT 'import_v1' AS tag, st, p FROM v1
      |  UNION ALL SELECT 'import_head' AS tag, st, p FROM imp_head
      |  UNION ALL SELECT 'src_head' AS tag, st, p FROM src_head)
      |SELECT tag, st AS o_orderstatus, count(*) AS n,
      |  CAST(sum(p) AS DOUBLE) AS total
      |FROM u GROUP BY tag, st""".stripMargin) { (s, d) =>
    import graft.operators.Versioned
    val root = graft.Scratch.dir("k44-export")
    val srcT = s"$root/src"; val bundle = s"$root/bundle"; val impT = s"$root/imp"
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("st"), col("o_totalprice").cast("decimal(12,2)").as("p"))
    Versioned.commit(s, srcT, base.filter(col("k") % 3 < 2), "st", Seq("k"))
    Versioned.commit(s, srcT,
      base.filter(col("k") % 3 === 2).unionByName(
        base.filter(col("k") % 9 === 0)
          .withColumn("p", (col("p") + lit(100)).cast("decimal(12,2)"))),
      "st", Seq("k"))
    // export the HISTORICAL v1, not head — snapshot portability is
    // time-travel-aware; import verifies every partition fingerprint
    Versioned.exportSnapshot(s, srcT, bundle, version = 1L)
    Versioned.importSnapshot(s, bundle, impT)
    // the imported table versions forward on its own
    Versioned.commit(s, impT,
      base.filter(col("k") % 9 === 1)
        .withColumn("p", (col("p") + lit(1000)).cast("decimal(12,2)")),
      "st", Seq("k"))
    def summarize(df: DataFrame, tag: String): DataFrame =
      df.groupBy(col("st"))
        .agg(count(lit(1)).as("n"), sum(col("p")).cast("double").as("total"))
        .select(lit(tag).as("tag"), col("st").as("o_orderstatus"),
          col("n"), col("total"))
    summarize(Versioned.readAsOf(s, impT, 1L), "import_v1")
      .unionByName(summarize(Versioned.readAsOf(s, impT), "import_head"))
      .unionByName(summarize(Versioned.readAsOf(s, srcT), "src_head"))
  }

  // --- k38_checked_commit: CONSTRAINT-enforced writes — Delta's
  // CHECK/NOT NULL at the commit path: the violating batch is REFUSED
  // (no version, no orphan generation, other readers never see it),
  // which is the write-side enforcement dq1's audit-after can't give.
  // The gate commits a clean slice (accepted), then attempts a delta
  // carrying BOTH violation classes — NULLed prices and duplicated
  // keys — which must bounce with exact per-constraint counts while
  // the table stays at the accepted state; the oracle recomputes the
  // violation counts AND the surviving table's aggregate from the
  // fixture, so a leaked bad version, a miscounted report, or a
  // check that silently passes NULLs all hash-mismatch. ---
  val k38CheckedCommit = QueryDef.sql(
    "k38_checked_commit",
    """WITH good AS (SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS p
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |bad AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 20 = 1 THEN NULL
      |         ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS p
      |  FROM orders WHERE o_orderkey % 10 = 1),
      |nullv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bad WHERE p IS NULL),
      |dupv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bad),
      |surv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM good)
      |SELECT 'not_null_price' AS fact, n FROM nullv
      |UNION ALL SELECT 'unique_key', n FROM dupv
      |UNION ALL SELECT 'table_rows', n FROM surv""".stripMargin) { (s, d) =>
    import graft.operators.Versioned
    val root = graft.Scratch.dir("k38-check")
    val tbl = s"$root/orders_v"
    val base = T.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("p"))
    val checks = Seq("not_null_price" -> col("p").isNotNull)
    val good = base.filter(col("o_orderkey") % 3 === 0)
    val first = Versioned.commitChecked(s, tbl, good, "o_orderstatus",
      Seq("o_orderkey"), checks)
    require(first.isRight, s"clean delta must commit: $first")
    // both violation classes at once: nulls + every key duplicated
    val badOnce = base.filter(col("o_orderkey") % 10 === 1)
      .withColumn("p", when(col("o_orderkey") % 20 === 1, lit(null)
        .cast("decimal(12,2)")).otherwise(col("p")))
    val bad = badOnce.unionByName(badOnce)
    val refused = Versioned.commitChecked(s, tbl, bad, "o_orderstatus",
      Seq("o_orderkey"), checks)
    val report = refused.swap.getOrElse(
      throw new IllegalStateException("violating delta must be refused"))
    require(Versioned.latestVersion(s, tbl) == first.toOption.get,
      "refused commit must not advance the version")
    import s.implicits._
    val reportDf = report.toDF("fact", "n")
      // the null count is over the doubled delta; report the per-batch
      // count oracle-side by halving the doubled union's violations
      .withColumn("n", when(col("fact") === "not_null_price",
        (col("n") / 2).cast("long")).otherwise(col("n")))
    val surv = Versioned.readAsOf(s, tbl)
      .agg(count(lit(1)).as("n"))
      .select(lit("table_rows").as("fact"), col("n"))
    reportDf.unionByName(surv)
  }

  // --- k23_zorder_gate: Z-ORDER clustering under the hash gate — the
  // table is rewritten ordered by the bit-interleaved (l_partkey,
  // l_suppkey) code (Maintenance.zorderBy), so parquet row-group min/max
  // stats turn selective on BOTH dimensions at once and a 2-D box
  // filter prunes most of the table from the scan (lexicographic
  // clusterBy only prunes its leading column). The aggregate over the
  // clustered copy must hash-match the oracle's view of the ORIGINAL
  // fixture — the rewrite is pure layout, zero content drift.
  // MaintenanceSpec pins the footer-level min/max tightening; this pins
  // the data. ---
  val k23ZorderGate = QueryDef.sql(
    "k23_zorder_gate",
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 40
      |GROUP BY l_returnflag""".stripMargin) { (s, d) =>
    // the z-ordered copy is a pure layout function of the fixture —
    // landed once per dataset content (Scratch.cachedArtifact), read
    // by every later run; the per-run cost is the pruned aggregate
    val tbl = graft.Scratch.cachedArtifact(s, "k23-zorder-v1",
      Seq(s"$d/lineitem.parquet")) { root =>
      T.lineitem(s, d).write.mode("overwrite").parquet(s"$root/lineitem")
      graft.operators.Maintenance.zorderBy(s, s"$root/lineitem",
        Seq("l_partkey", "l_suppkey"), targetBytesPerFile = 1L << 20)
    } + "/lineitem"
    T.parquet(s, tbl)
      .filter(col("l_partkey").between(100, 300) && col("l_suppkey").between(10, 40))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("qty"))
  }

  // --- k17_ivm_join: incremental view maintenance for the orders⋈items
  // join view (Ivm.deltaJoin): both inputs split at 1998-01-01 into base
  // + append-only delta, the view refreshed as
  // V ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — the old join is NEVER recomputed; the
  // deltas broadcast onto the base scans. The oracle is the plain full
  // join, so the hash match proves delta maintenance ≡ full recompute
  // row-for-row. At 100 TB this is the difference between an hourly
  // view refresh that joins one hour of feed against the key-pruned
  // base and one that re-joins years of history. ---
  val k17IvmJoin = QueryDef.sql(
    "k17_ivm_join",
    """SELECT o_orderkey, o_custkey, o_orderpriority, l_linenumber,
      |  l_quantity, l_extendedprice
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin) { (s, d) =>
    import graft.operators.Ivm
    val cut = to_timestamp(lit("1998-01-01"))
    val o = T.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        col("o_orderdate"))
    val li = T.lineitem(s, d)
      .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_shipdate"))
    val (oOld, oDelta) =
      (o.filter(col("o_orderdate") < cut), o.filter(col("o_orderdate") >= cut))
    val (liOld, liDelta) =
      (li.filter(col("l_shipdate") < cut), li.filter(col("l_shipdate") >= cut))
    val vOld = oOld.join(liOld, Seq("o_orderkey"))
    Ivm.maintain(vOld, oOld, oDelta, liOld, liDelta, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
  }

  // --- k18_format_roundtrip: ORC and CSV as first-class interchange
  // formats next to parquet (t22 covers JSONL): lineitem rides through
  // columnar ORC, orders through header CSV with an explicit read schema
  // and a pinned timestampFormat (schema-on-read discipline — inference
  // would make the pipeline depend on the data), then the two landed
  // tables join and aggregate. The oracle recomputes from the parquet
  // fixtures directly, so the hash match proves BOTH format paths are
  // lossless for longs, doubles, strings, and timestamps. Scale notes:
  // both writes/reads are embarrassingly parallel splittable scans; ORC
  // keeps predicate pushdown + column pruning, CSV is the lowest common
  // denominator for third-party handoff. ---
  val k18FormatRoundtrip = QueryDef.sql(
    "k18_format_roundtrip",
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
      |  count(DISTINCT o_orderpriority) AS n_prio,
      |  max(o_orderdate) AS max_date
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |GROUP BY l_returnflag""".stripMargin) { (s, d) =>
    val root = graft.Scratch.dir("k18-fmt")
    T.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
      .write.mode("overwrite").orc(s"$root/li_orc")
    // the fixture's timestamps are TIMESTAMP_NTZ (parquet without UTC
    // adjustment) — CSV formats those via timestampNTZFormat, and the
    // read schema must say TIMESTAMP_NTZ or the parse silently nulls
    val tsFmt = "yyyy-MM-dd HH:mm:ss"
    T.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      .write.mode("overwrite")
      .option("header", "true").option("timestampNTZFormat", tsFmt)
      .csv(s"$root/ord_csv")
    val li = s.read.orc(s"$root/li_orc")
    val ord = s.read
      .schema("o_orderkey BIGINT, o_orderpriority STRING, o_orderdate TIMESTAMP_NTZ")
      .option("header", "true").option("timestampNTZFormat", tsFmt)
      .csv(s"$root/ord_csv")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("total"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        max(col("o_orderdate")).as("max_date"))
  }

  // --- k19_forget_keys: right-to-be-forgotten — the events table lands
  // partitioned by event_type, a forget set (user_id % 101 = 0) is
  // scrubbed via Forget.scrub (broadcast anti-join, staged rewrite of
  // ONLY the partitions containing forgotten rows, crash-recoverable,
  // idempotent), and the output reconciles per-type remaining vs removed
  // counts against the pre-scrub table. The oracle recomputes both
  // counts from the fixture with plain filters, so the hash gate proves
  // the scrub removed exactly the forget set and nothing else — through
  // the real on-disk rewrite path, not a DataFrame filter. ---
  val k19ForgetKeys = QueryDef.sql(
    "k19_forget_keys",
    """SELECT event_type,
      |  count(*) FILTER (WHERE user_id % 101 <> 0) AS remaining,
      |  count(*) FILTER (WHERE user_id % 101 = 0) AS removed
      |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
    import graft.operators.Forget
    val ev = T.events(s, d).select(col("event_id"), col("user_id"), col("event_type"))
    // the scrubbed table is a pure function of the fixture: the land +
    // real on-disk rewrite runs once per dataset content; later runs
    // re-verify the reconciliation (the claim) against the landed state
    val tbl = graft.Scratch.cachedArtifact(s, "k19-forget-v1",
      Seq(s"$d/events.parquet")) { root =>
      val t = s"$root/events_t"
      ev.write.partitionBy("event_type").parquet(t)
      val forget = ev.filter(col("user_id") % 101 === 0)
        .select(col("user_id")).distinct()
      Forget.scrub(s, t, forget, Seq("user_id"), Seq("event_type"))
    } + "/events_t"
    val remaining = T.parquet(s, tbl)
      .groupBy(col("event_type")).agg(count(lit(1)).as("rem"))
    val orig = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n0"))
    orig.join(remaining, Seq("event_type"), "left")
      .select(col("event_type"),
        coalesce(col("rem"), lit(0L)).as("remaining"),
        (col("n0") - coalesce(col("rem"), lit(0L))).as("removed"))
  }

  // --- k20_atomic_publish: multi-table all-or-nothing visibility — two
  // derived tables (order counts, item revenue) publish TWICE through
  // Publish: run 1 from the full fixture, run 2 from the even-orderkey
  // subset; the query joins run 2 (latest) with run 1 (time travel) per
  // priority. The oracle recomputes both runs' aggregates from the
  // fixture, so the hash gate covers stage → one-marker commit → read
  // for both tables across both versions: any torn publish (one table
  // new, one old) breaks the join values. This is the reference's
  // single-transaction run visibility (etl-square-payments.ts) in
  // parquet form, across tables. ---
  val k20AtomicPublish = QueryDef.sql(
    "k20_atomic_publish",
    """WITH o1 AS (SELECT o_orderpriority, count(*) AS n_ord_prev FROM orders GROUP BY 1),
      |o2 AS (SELECT o_orderpriority, count(*) AS n_ord FROM orders
      |       WHERE o_orderkey % 2 = 0 GROUP BY 1),
      |i2 AS (SELECT o_orderpriority, count(*) AS n_items,
      |         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |       WHERE o_orderkey % 2 = 0 GROUP BY 1)
      |SELECT o_orderpriority, o1.n_ord_prev, o2.n_ord, i2.n_items, i2.total
      |FROM o1 JOIN o2 USING (o_orderpriority) JOIN i2 USING (o_orderpriority)""".stripMargin) {
    (s, d) =>
      import graft.operators.Publish
      def tablesOf(sub: org.apache.spark.sql.DataFrame) = {
        val li = T.lineitem(s, d)
          .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"))
        Map(
          "ord_counts" -> sub.groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n_ord")),
          "item_rev" -> sub.join(li, Seq("o_orderkey"))
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n_items"),
              sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("total")))
      }
      val o = T.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      // both publish runs are pure functions of the fixture — landed
      // once per dataset content; later runs re-read run 1 (time
      // travel) and run 2 (latest) from the committed root
      val root = graft.Scratch.cachedArtifact(s, "k20-pub-v1",
        Seq(s"$d/orders.parquet", s"$d/lineitem.parquet")) { r =>
        Publish.publish(s, s"$r/pub", tablesOf(o))
        Publish.publish(s, s"$r/pub",
          tablesOf(o.filter(col("o_orderkey") % 2 === 0)))
      } + "/pub"
      val prev = Publish.read(s, root, "ord_counts", run = 1)
        .select(col("o_orderpriority"), col("n_ord").as("n_ord_prev"))
      val cur = Publish.read(s, root, "ord_counts") // latest = run 2
      val items = Publish.read(s, root, "item_rev")
      prev.join(cur, Seq("o_orderpriority")).join(items, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n_ord_prev"), col("n_ord"),
          col("n_items"), col("total"))
  }

  // --- k27_wap_gate: Write-Audit-Publish — the audit gate BETWEEN
  // staging and visibility (k20 proves atomic visibility; k27 proves a
  // failing batch never becomes visible at all). Two runs of a daily
  // purchase-revenue table go through Publish.publishAudited: run 1 is
  // clean and commits; run 2 carries upstream corruption (nulled totals
  // on a third of the days) and is REFUSED by the same DataQuality
  // row-checks dq1 registers — the audit runs against the STAGED
  // parquet read back from the run directory, certifying the bytes
  // readers would see, not the input lineage. The returned frame is the
  // live (latest-committed) table, so the oracle — the CLEAN batch's
  // aggregate — hash-fails if the bad run ever commits or the good one
  // is torn. The refusal itself is asserted loudly in-line. ---
  val k27WapGate = QueryDef.sql(
    "k27_wap_gate",
    """SELECT strftime(ts, '%Y-%m-%d') AS dt, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total
      |FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
      |GROUP BY dt""".stripMargin) { (s, d) =>
    import graft.operators.{DataQuality, Publish}
    val root = graft.Scratch.dir("k27-wap") + "/pub"
    val daily = T.events(s, d)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total"))
    def audit(staged: Map[String, org.apache.spark.sql.DataFrame]): Boolean =
      DataQuality.validateRows(staged("daily_rev"),
          Seq(DataQuality.notNull("dt"), DataQuality.notNull("total")))
        .agg(min(col("pass").cast("int")).as("ok"))
        .collect().head.getInt(0) == 1
    val good = Publish.publishAudited(s, root, Map("daily_rev" -> daily))(audit)
    require(good.contains(1L), s"clean run must commit, got $good")
    val corrupted = daily.withColumn("total",
      when(col("n") % 3 === 0, lit(null)).otherwise(col("total")))
    val bad = Publish.publishAudited(s, root, Map("daily_rev" -> corrupted))(audit)
    require(bad.isEmpty, "corrupted run must be refused")
    require(Publish.latestCommitted(s, root) == 1L, "live view moved")
    Publish.read(s, root, "daily_rev")
      .select(col("dt"), col("n"), col("total"))
  }

  // --- k21_dynamic_overwrite: dynamic-partition-overwrite restatement —
  // the day-partitioned table lands once, then a corrected recomputation
  // of the tail days (value doubled for days >= the cut) is written with
  // partitionOverwriteMode=dynamic: ONLY the partitions present in the
  // restated frame are replaced, untouched days keep their files. This
  // is the standard backfill/restatement lever at 100 TB — the
  // alternative (full-table rewrite) scales with the table, this scales
  // with the correction. The oracle computes the post-restatement state
  // directly (CASE on the cut); the hash match proves the selective
  // overwrite equals the full recomputation. value*2 is an
  // exponent-only double op, so restated values carry no rounding
  // ambiguity. ---
  val k21DynamicOverwrite = QueryDef.sql(
    "k21_dynamic_overwrite",
    """SELECT strftime(ts, '%Y-%m-%d') AS dt, count(*) AS n,
      |  CAST(sum(CAST(CASE WHEN strftime(ts, '%Y-%m-%d') >= '2024-01-25'
      |                     THEN value * 2 ELSE value END AS DECIMAL(14,2)))
      |       AS DOUBLE) AS total
      |FROM events GROUP BY dt""".stripMargin) { (s, d) =>
    val ev = T.events(s, d).select(col("event_id"), col("user_id"), col("value"),
      date_format(col("ts"), "yyyy-MM-dd").as("dt"))
    // land + selective restatement are pure functions of the fixture —
    // run once per dataset content; the aggregate over the restated
    // table is the per-run claim check
    val tbl = graft.Scratch.cachedArtifact(s, "k21-dyn-v1",
      Seq(s"$d/events.parquet")) { root =>
      val t = s"$root/table"
      ev.write.partitionBy("dt").parquet(t)
      ev.filter(col("dt") >= "2024-01-25")
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("dt").parquet(t)
    } + "/table"
    // partition-column type inference reads dt back as DATE; restore the
    // string form the oracle emits
    T.parquet(s, tbl)
      .groupBy(date_format(col("dt").cast("date"), "yyyy-MM-dd").as("dt"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total"))
  }

  // --- k22_mv_rewrite: transparent MATERIALIZED-VIEW answering — the
  // query below is written against the BASE lineitem scan, and
  // graft.plans.MvRewriteRule rewrites it during optimization to
  // re-aggregate a summary table grouped one level FINER
  // (l_returnflag × l_linestatus): count→sum(cnt), sum→sum(sum_x),
  // min/max→min/max, types re-cast to the original. The run REQUIRES
  // the rewritten plan to scan only the MV (loud failure if the rule
  // ever stops firing), materializes under the enabled window, then
  // disables + unregisters so no other registry query can be silently
  // answered from a summary. The oracle aggregates the raw base table —
  // the hash match is the exactness proof of the whole rewrite. Scale:
  // this is the warehouse summary-table pattern — dashboards keep
  // issuing base-table SQL while the optimizer serves a table thousands
  // of times smaller; the MV itself refreshes incrementally (k8's
  // mergeable partials are exactly its maintenance discipline). ---
  val k22MvRewrite = QueryDef.sql(
    "k22_mv_rewrite",
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price,
      |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
      |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
    import graft.plans.MvRewriteRule
    import graft.plans.MvRewriteRule.{MvAgg, MvDef}
    val base = s"$d/lineitem.parquet"
    // the MV itself is a pure summary of the fixture — refreshed once
    // per dataset content; each run still exercises the REWRITE (rule
    // registration, plan check, materialization through the MV scan)
    val mvDir = graft.Scratch.cachedArtifact(s, "k22-mv-v1", Seq(base)) { root =>
      T.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(14,2)")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(14,2)")).as("sum_price"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
        .write.parquet(s"$root/mv")
    } + "/mv"
    val outDir = graft.Scratch.dir("k22-mv") + "/out"
    val dec = org.apache.spark.sql.types.DecimalType(14, 2)
    MvRewriteRule.register(base, MvDef(mvDir,
      Seq("l_returnflag", "l_linestatus"), Some("cnt"),
      Seq(MvAgg("sum", "l_quantity", Some(dec), "sum_qty"),
        MvAgg("sum", "l_extendedprice", Some(dec), "sum_price"),
        MvAgg("min", "l_shipdate", None, "min_ship"),
        MvAgg("max", "l_shipdate", None, "max_ship"))))
    try graft.GraftSession.withConf(s, MvRewriteRule.enabledKey -> "true") {
      val q = T.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(14,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(14,2)")).cast("double").as("sum_price"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
      val scanned = scannedRoots(q)
      require(scanned.contains(mvDir) && !scanned.exists(_.contains("lineitem.parquet")),
        s"MV rewrite did not fire — plan still scans the base table:\n" +
          q.queryExecution.optimizedPlan)
      q.write.parquet(outDir)
      T.parquet(s, outDir)
    } finally MvRewriteRule.unregister(base)
  }

  // --- k24_full_merge: scoped FULL merge — `MERGE … WHEN NOT MATCHED
  // BY SOURCE THEN DELETE` semantics via Upsert.fullMerge. A snapshot
  // feed re-sends the BUILDING segment in full: a third of its keys
  // vanished (real deletions), a third changed balances, and new keys
  // appeared; other segments must pass through untouched, and the
  // first_seen audit column must survive updates (only genuinely new
  // keys get the batch stamp 999). This sits between k1's upsert-only
  // merge (absent keys survive) and k21's partition restatement (whole
  // partitions replaced, no row-level preserve). Scale: the
  // out-of-scope side is scan+filter — zero shuffle; only the scope
  // slice joins on the key. Exact-cent balances. ---
  val k24FullMerge = QueryDef.sql(
    "k24_full_merge",
    """WITH tgt AS (SELECT c_custkey, c_name, c_mktsegment,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal,
      |    CAST(c_custkey % 1000 AS BIGINT) AS first_seen
      |  FROM customer),
      |src AS (
      |  SELECT c_custkey, c_name, c_mktsegment,
      |    CASE WHEN c_custkey % 3 = 1 THEN bal + 10000 ELSE bal END AS bal,
      |    CAST(999 AS BIGINT) AS first_seen
      |  FROM tgt WHERE c_mktsegment = 'BUILDING' AND c_custkey % 3 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 'NEW_' || CAST(c_custkey AS VARCHAR),
      |    'BUILDING', c_custkey, CAST(999 AS BIGINT)
      |  FROM tgt WHERE c_mktsegment = 'BUILDING' AND c_custkey % 3 = 2)
      |SELECT c_custkey, c_name, c_mktsegment, bal, first_seen
      |FROM tgt WHERE c_mktsegment <> 'BUILDING'
      |UNION ALL
      |SELECT s.c_custkey, s.c_name, s.c_mktsegment, s.bal,
      |  coalesce(t.first_seen, s.first_seen) AS first_seen
      |FROM src s LEFT JOIN tgt t ON s.c_custkey = t.c_custkey""".stripMargin) { (s, d) =>
    val tgt = T.customer(s, d).select(col("c_custkey"), col("c_name"),
      col("c_mktsegment"),
      (col("c_acctbal").cast("decimal(12,2)") * 100).cast("long").as("bal"),
      (col("c_custkey") % 1000).cast("long").as("first_seen"))
    val inScope = tgt.filter(col("c_mktsegment") === "BUILDING")
    val src = inScope.filter(col("c_custkey") % 3 =!= 0)
      .withColumn("bal",
        when(col("c_custkey") % 3 === 1, col("bal") + 10000).otherwise(col("bal")))
      .withColumn("first_seen", lit(999L))
      .unionByName(inScope.filter(col("c_custkey") % 3 === 2)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          concat(lit("NEW_"), col("c_custkey").cast("string")).as("c_name"),
          lit("BUILDING").as("c_mktsegment"),
          col("c_custkey").cast("long").as("bal"),
          lit(999L).as("first_seen")))
    graft.operators.Upsert.fullMerge(tgt, src, Seq("c_custkey"),
      col("c_mktsegment") === "BUILDING", preserve = Seq("first_seen"))
  }

  // --- er3_linkage_score: weighted multi-field record linkage
  // (Fellegi-Sunter shape) — er1 clusters within one table; this LINKS
  // a probe set to a master set and scores each candidate pair on
  // several fields with integer weights: name 3-gram Jaccard band
  // (≥0.8 → 40, ≥0.5 → 25), brand equality +20, size within ±5 +15;
  // pairs scoring ≥45 are matches and each probe keeps its best master
  // (score desc, master key asc). Blocking is COMPLETE by arithmetic:
  // 45 points require the ≥25 name band, i.e. Jaccard ≥ 0.5 — exactly
  // the candidate-generation threshold — so no true match can be lost
  // to blocking (er2 measures that property; here it's proved by
  // construction). Jaccard doubles share one expression shape with the
  // oracle; every weight is an exact integer. Scale: the inverted-index
  // candidate join IS the blocker (never a cross product), attrs join
  // back by key only for candidates. ---
  val er3LinkageScore = QueryDef.sql(
    "er3_linkage_score",
    """WITH pa AS (SELECT p_partkey, p_name, p_brand, p_size FROM part WHERE p_partkey % 19 = 0),
      |pb AS (SELECT p_partkey, p_name, p_brand, p_size FROM part WHERE p_partkey % 17 = 0),
      |ga AS (SELECT DISTINCT p_partkey AS ka, q FROM (
      |    SELECT p_partkey, unnest([substr(p_name, i, 3) for i in range(1, len(p_name) - 1)]) AS q
      |    FROM pa WHERE len(p_name) >= 3) t),
      |gb AS (SELECT DISTINCT p_partkey AS kb, q FROM (
      |    SELECT p_partkey, unnest([substr(p_name, i, 3) for i in range(1, len(p_name) - 1)]) AS q
      |    FROM pb WHERE len(p_name) >= 3) t),
      |sa AS (SELECT ka, count(*) AS ca FROM ga GROUP BY ka),
      |sb AS (SELECT kb, count(*) AS cb FROM gb GROUP BY kb),
      |pr AS (SELECT ga.ka, gb.kb, count(*) AS i
      |  FROM gb JOIN ga ON ga.q = gb.q GROUP BY ga.ka, gb.kb),
      |cand AS (SELECT pr.ka, pr.kb,
      |    CAST(pr.i AS DOUBLE) / (sa.ca + sb.cb - pr.i) AS jac
      |  FROM pr JOIN sa ON sa.ka = pr.ka JOIN sb ON sb.kb = pr.kb
      |  WHERE CAST(pr.i AS DOUBLE) / (sa.ca + sb.cb - pr.i) >= 0.5),
      |scored AS (SELECT c.ka, c.kb,
      |    CAST(CASE WHEN c.jac >= 0.8 THEN 40 WHEN c.jac >= 0.5 THEN 25 ELSE 0 END
      |      + CASE WHEN a.p_brand = b.p_brand THEN 20 ELSE 0 END
      |      + CASE WHEN abs(a.p_size - b.p_size) <= 5 THEN 15 ELSE 0 END AS BIGINT) AS score
      |  FROM cand c JOIN pa a ON a.p_partkey = c.ka JOIN pb b ON b.p_partkey = c.kb)
      |SELECT ka AS probe_key, kb AS master_key, score FROM (
      |  SELECT ka, kb, score,
      |    row_number() OVER (PARTITION BY ka ORDER BY score DESC, kb) AS rn
      |  FROM scored WHERE score >= 45) t
      |WHERE rn = 1""".stripMargin) { (s, d) =>
    val pa = T.part(s, d).filter(col("p_partkey") % 19 === 0)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
    val pb = T.part(s, d).filter(col("p_partkey") % 17 === 0)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
    val cand = FuzzyJoin.qgramJoin(
      pa, "p_partkey", "p_name", pb, "p_partkey", "p_name", n = 3, threshold = 0.5)
    val scored = cand
      .join(pa.select(col("p_partkey").as("ka"), col("p_brand").as("brand_a"),
        col("p_size").as("size_a")), Seq("ka"))
      .join(pb.select(col("p_partkey").as("kb"), col("p_brand").as("brand_b"),
        col("p_size").as("size_b")), Seq("kb"))
      .withColumn("score",
        (when(col("jaccard") >= 0.8, 40).when(col("jaccard") >= 0.5, 25).otherwise(0) +
          when(col("brand_a") === col("brand_b"), 20).otherwise(0) +
          when(abs(col("size_a") - col("size_b")) <= 5, 15).otherwise(0)).cast("long"))
      .filter(col("score") >= 45)
    val w = Window.partitionBy(col("ka")).orderBy(col("score").desc, col("kb"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("ka").as("probe_key"), col("kb").as("master_key"), col("score"))
  }

  // --- k25_retractable_agg: aggregate IVM under UPDATES AND DELETES —
  // the path k17's insert-only delta join excludes. A materialized
  // per-customer (order count, spend) aggregate absorbs a CDC batch
  // (one seventh of orders deleted, one seventh repriced, one seventh
  // duplicated as new orders) via Ivm.retractableAgg: the batch partial-
  // aggregates to one (Δcnt, Δsum) row per touched customer, one key
  // join against the state applies it, fully-retracted customers leave
  // the state. The oracle recomputes the aggregate from the logical
  // post-CDC table — the hash match proves O(delta) maintenance ≡ full
  // recomputation, including count-to-zero key removal. Exact cents, so
  // retractions cancel bit-for-bit. ---
  val k25RetractableAgg = QueryDef.sql(
    "k25_retractable_agg",
    """WITH o AS (SELECT o_custkey AS k, o_orderkey AS okey,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |fin AS (
      |  SELECT k, CASE WHEN okey % 7 = 1 THEN cents + 5000 ELSE cents END AS cents
      |  FROM o WHERE okey % 7 <> 0
      |  UNION ALL
      |  SELECT k, cents + 123 FROM o WHERE okey % 7 = 2)
      |SELECT k AS o_custkey, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(cents) AS BIGINT) AS s
      |FROM fin GROUP BY k""".stripMargin) { (s, d) =>
    val o = T.orders(s, d).select(col("o_custkey").as("k"),
      col("o_orderkey").as("okey"),
      (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("cents"))
    val state0 = o.groupBy(col("k"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("s"))
    val cdc =
      o.filter(col("okey") % 7 === 0)
        .select(col("k"), lit("D").as("op"), lit(0L).as("new_v"), col("cents").as("old_v"))
      .unionByName(o.filter(col("okey") % 7 === 1)
        .select(col("k"), lit("U").as("op"), (col("cents") + 5000).as("new_v"),
          col("cents").as("old_v")))
      .unionByName(o.filter(col("okey") % 7 === 2)
        .select(col("k"), lit("I").as("op"), (col("cents") + 123).as("new_v"),
          lit(0L).as("old_v")))
    graft.operators.Ivm.retractableAgg(state0, cdc, Seq("k"),
      opCol = "op", newCol = "new_v", oldCol = "old_v")
      .select(col("k").as("o_custkey"), col("cnt"), col("s"))
  }

  // --- k26_scrub_history: scrub-through-history — right-to-be-forgotten
  // must reach RETAINED VERSIONS, not just the live table (k19). The
  // events table commits twice through Versioned (v1 = raw, v2 = keyed
  // value-doubling for user_id % 7 = 0), then Forget.scrubVersioned
  // removes the forget set (user_id % 101 = 0) from every retained
  // generation IN PLACE — one scan over the union of live generation
  // directories finds the affected ones, each rewritten via the
  // staged-swap crash protocol. The query then TIME-TRAVELS to every
  // retained version and reports per (version, event_type) the remaining
  // count, exact value total, and the count of rows still matching the
  // forget set. The oracle recomputes both versions' post-scrub states
  // from the fixture and pins `forgotten` to literal 0 — so the hash
  // gate proves the forgotten keys are gone from ALL of history and
  // nothing else was touched, through the real on-disk generation
  // rewrite, manifest reuse, and as-of reads. ---
  val k26ScrubHistory = QueryDef.sql(
    "k26_scrub_history",
    """WITH kept AS (SELECT event_id, user_id, event_type, value
      |  FROM events WHERE user_id % 101 <> 0),
      |v1 AS (SELECT 1 AS version, event_type, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total
      |  FROM kept GROUP BY event_type),
      |v2 AS (SELECT 2 AS version, event_type, count(*) AS n,
      |    CAST(sum(CAST(CASE WHEN user_id % 7 = 0 THEN value * 2 ELSE value END
      |      AS DECIMAL(14,2))) AS DOUBLE) AS total
      |  FROM kept GROUP BY event_type)
      |SELECT version, event_type, n, total, CAST(0 AS BIGINT) AS forgotten FROM v1
      |UNION ALL
      |SELECT version, event_type, n, total, CAST(0 AS BIGINT) AS forgotten FROM v2""".stripMargin) {
    (s, d) =>
      import graft.operators.{Forget, Versioned}
      val root = graft.Scratch.dir("k26-scrub")
      val tbl = s"$root/events_v"
      val ev = T.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      Versioned.commit(s, tbl, ev, "event_type", Seq("event_id"))
      val delta = ev.filter(col("user_id") % 7 === 0)
        .withColumn("value", col("value") * 2) // exponent-only: no rounding ambiguity
      Versioned.commit(s, tbl, delta, "event_type", Seq("event_id"))
      val forget = ev.filter(col("user_id") % 101 === 0)
        .select(col("user_id")).distinct()
      Forget.scrubVersioned(s, tbl, forget, Seq("user_id"))
      val fk = broadcast(forget.withColumn("__f", lit(1)))
      Versioned.retainedVersions(s, tbl).map { v =>
        Versioned.readAsOf(s, tbl, v)
          .join(fk, Seq("user_id"), "left")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(14,2)")).cast("double").as("total"),
            sum(coalesce(col("__f"), lit(0))).cast("long").as("forgotten"))
          .withColumn("version", lit(v.toInt))
      }.reduce(_ unionByName _)
        .select(col("version"), col("event_type"), col("n"), col("total"), col("forgotten"))
  }

  // --- k39_governance_gate: the COMPOSED lifecycle — scrub-through-
  // history, then retention (dry-run first, then the real expire), then
  // fsck — as ONE hash-gated pipeline. k26 proved scrub alone and k33
  // proved fsck alone; what governance actually runs is the sequence,
  // and the dangerous interactions live between the steps (does expire
  // reclaim a scrubbed generation a retained manifest still needs? does
  // the dry-run plan match what expire then does? does fsck come back
  // clean AFTER both mutations?). Three commits build real history
  // (raw → ×2 for user_id%7 → ×4 for user_id%5, value doublings are
  // exponent-only so no rounding ambiguity), the forget set
  // (user_id%101) is scrubbed from every retained generation, retention
  // drops to the last 2 versions, and the output pins — per surviving
  // (version, event_type) — the remaining count, exact value total, a
  // literal-0 forgotten count, plus the governance evidence as constant
  // columns: retained_versions=2, missing_refs=0, orphan_dirs=0, and
  // expire_plan_matched (dry-run's drop list and survivor count equal
  // what expire actually did, and fsck agrees). The oracle recomputes
  // both surviving versions' post-scrub states from the fixture and
  // pins every governance constant — so the hash gate proves the whole
  // composed lifecycle, not its parts. ---
  val k39GovernanceGate = QueryDef.sql(
    "k39_governance_gate",
    """WITH kept AS (SELECT event_id, user_id, event_type, value
      |  FROM events WHERE user_id % 101 <> 0),
      |v2 AS (SELECT 2 AS version, event_type, count(*) AS n,
      |    CAST(sum(CAST(CASE WHEN user_id % 7 = 0 THEN value * 2 ELSE value END
      |      AS DECIMAL(14,2))) AS DOUBLE) AS total
      |  FROM kept GROUP BY event_type),
      |v3 AS (SELECT 3 AS version, event_type, count(*) AS n,
      |    CAST(sum(CAST(CASE WHEN user_id % 5 = 0 THEN value * 4
      |                       WHEN user_id % 7 = 0 THEN value * 2
      |                       ELSE value END AS DECIMAL(14,2))) AS DOUBLE) AS total
      |  FROM kept GROUP BY event_type)
      |SELECT version, event_type, n, total, CAST(0 AS BIGINT) AS forgotten,
      |  CAST(2 AS BIGINT) AS retained_versions, CAST(0 AS BIGINT) AS missing_refs,
      |  CAST(0 AS BIGINT) AS orphan_dirs, CAST(1 AS BIGINT) AS expire_plan_matched
      |FROM v2
      |UNION ALL
      |SELECT version, event_type, n, total, CAST(0 AS BIGINT) AS forgotten,
      |  CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)
      |FROM v3""".stripMargin) { (s, d) =>
    import graft.operators.{Forget, Versioned}
    val root = graft.Scratch.dir("k39-gov")
    val tbl = s"$root/events_v"
    val ev = T.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Versioned.commit(s, tbl, ev, "event_type", Seq("event_id"))
    Versioned.commit(s, tbl,
      ev.filter(col("user_id") % 7 === 0).withColumn("value", col("value") * 2),
      "event_type", Seq("event_id"))
    Versioned.commit(s, tbl,
      ev.filter(col("user_id") % 5 === 0).withColumn("value", col("value") * 4),
      "event_type", Seq("event_id"))
    val forget = ev.filter(col("user_id") % 101 === 0)
      .select(col("user_id")).distinct()
    Forget.scrubVersioned(s, tbl, forget, Seq("user_id"))
    val (planDrop, _, planKeep) = Versioned.expireDryRun(s, tbl, keep = 2)
    Versioned.expire(s, tbl, keep = 2)
    val (retained, refs, missing, orphans) = Versioned.fsck(s, tbl)
    // the dry run was the PLAN iff expire dropped exactly the listed
    // versions and exactly the planned survivor dirs remain (fsck's
    // distinct-ref count = on-disk survivors when orphans = 0)
    val planMatched = planDrop == Seq(1L) && refs == planKeep && orphans == 0L
    val fk = broadcast(forget.withColumn("__f", lit(1)))
    Versioned.retainedVersions(s, tbl).map { v =>
      Versioned.readAsOf(s, tbl, v)
        .join(fk, Seq("user_id"), "left")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(14,2)")).cast("double").as("total"),
          sum(coalesce(col("__f"), lit(0))).cast("long").as("forgotten"))
        .withColumn("version", lit(v.toInt))
    }.reduce(_ unionByName _)
      .select(col("version"), col("event_type"), col("n"), col("total"),
        col("forgotten"),
        lit(retained).as("retained_versions"),
        lit(missing).as("missing_refs"),
        lit(orphans).as("orphan_dirs"),
        lit(if (planMatched) 1L else 0L).as("expire_plan_matched"))
  }

  // --- j12_time_weighted_avg: TIME-WEIGHTED averaging over validity
  // intervals — the time-series-correct mean (a plain AVG over-weights
  // bursts; TWA weights each reading by how long it was current, the
  // standard temporal-table / sensor-rollup operator). Per user: one
  // partitioned lead() window turns the event stream into
  // (value, held-for-µs) intervals, then one keyed aggregate forms
  // Σ v·w / Σ w — both sums EXACT (µs weights are BIGINTs, v·w rides
  // decimal), only the final division is double. The oracle routes its
  // wide-decimal → double cast through VARCHAR (DuckDB's direct cast
  // double-rounds past 2^53). Scale: window and agg share the
  // user_id partitioning — one shuffle total, no data-dependent state. ---
  val j12TimeWeightedAvg = QueryDef.sql(
    "j12_time_weighted_avg",
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu,
      |    CAST(value AS DECIMAL(10,2)) AS v
      |  FROM events WHERE value IS NOT NULL),
      |w AS (SELECT user_id, v,
      |    lead(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) - tu AS wu
      |  FROM e),
      |a AS (SELECT user_id, count(*) AS n_intervals,
      |    CAST(sum(wu) AS BIGINT) AS total_us,
      |    CAST(sum(CAST(v AS DECIMAL(19,2)) * wu) AS DECIMAL(38,2)) AS sw
      |  FROM w WHERE wu IS NOT NULL GROUP BY user_id)
      |SELECT user_id, n_intervals, total_us,
      |  CAST(CAST(sw AS VARCHAR) AS DOUBLE) / CAST(total_us AS DOUBLE) AS twa
      |FROM a""".stripMargin) { (s, d) =>
    val e = T.events(s, d).filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tu"),
        col("value").cast("decimal(10,2)").as("v"))
    val win = Window.partitionBy(col("user_id")).orderBy(col("tu"), col("event_id"))
    e.withColumn("wu", lead(col("tu"), 1).over(win) - col("tu"))
      .filter(col("wu").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("wu")).as("total_us"),
        sum(col("v") * col("wu")).cast("decimal(38,2)").as("sw"))
      .select(col("user_id"), col("n_intervals"), col("total_us"),
        (col("sw").cast("double") / col("total_us").cast("double")).as("twa"))
  }

  // --- k41_drop_partitions: ALTER TABLE … DROP PARTITION with time
  // travel (Versioned.dropPartitions) — the TTL-deletion shape: after
  // two keyed commits, the 'P' partition is dropped as a METADATA-ONLY
  // new version (the next manifest just omits it; a k-row write at any
  // table size). The gate reads the head (P gone, the k%9 repricing
  // intact) AND time-travels to the pre-drop version (P fully back —
  // the drop never touched data, so retention-window readers and
  // rollbacks still see it; expire later reclaims the generations).
  // The oracle replays both states from the fixture. ---
  val k41DropPartitions = QueryDef.sql(
    "k41_drop_partitions",
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
      |s2 AS (SELECT k, st,
      |    CASE WHEN k % 9 = 0 THEN CAST(p + 25 AS DECIMAL(12,2)) ELSE p END AS p
      |  FROM base),
      |u AS (SELECT 'head' AS tag, st, p FROM s2 WHERE st <> 'P'
      |  UNION ALL SELECT 'pre_drop' AS tag, st, p FROM s2)
      |SELECT tag, st AS o_orderstatus, count(*) AS n,
      |  CAST(sum(p) AS DOUBLE) AS total
      |FROM u GROUP BY tag, st""".stripMargin) { (s, d) =>
    import graft.operators.Versioned
    val root = graft.Scratch.dir("k41-drop")
    val tbl = s"$root/orders_v"
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("st"), col("o_totalprice").cast("decimal(12,2)").as("p"))
    Versioned.commit(s, tbl, base, "st", Seq("k"))
    val v2 = Versioned.commit(s, tbl,
      base.filter(col("k") % 9 === 0)
        .withColumn("p", (col("p") + lit(25)).cast("decimal(12,2)")),
      "st", Seq("k"))
    Versioned.dropPartitions(s, tbl, _ == "P")
    def summarize(df: DataFrame, tag: String): DataFrame =
      df.groupBy(col("st"))
        .agg(count(lit(1)).as("n"), sum(col("p")).cast("double").as("total"))
        .select(lit(tag).as("tag"), col("st").as("o_orderstatus"),
          col("n"), col("total"))
    summarize(Versioned.readAsOf(s, tbl), "head")
      .unionByName(summarize(Versioned.readAsOf(s, tbl, v2), "pre_drop"))
  }

  // --- k42_delete_keys: row-level DELETE as a new version
  // (Versioned.deleteKeys) — the merge-on-write `DELETE FROM … WHERE
  // key IN (…)` the branch-merge caveat pointed at: delete the k%4
  // keys (spread across every status partition), then RE-COMMIT one
  // deleted slice (k%8) with new prices — versions are full states, so
  // resurrection is a plain upsert with no tombstone-ordering
  // ambiguity. The gate reads THREE states — head (k%8 back at +999,
  // other k%4 gone), the post-delete version (all k%4 gone), and the
  // pre-delete version (everything — history untouched until expire) —
  // and the oracle replays all three. Scale: discovery is one
  // key-probe scan (bloom/zone-map prunable); the rewrite touches only
  // affected partitions. ---
  val k42DeleteKeys = QueryDef.sql(
    "k42_delete_keys",
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
      |post_del AS (SELECT k, st, p FROM base WHERE k % 4 <> 0),
      |head AS (SELECT k, st, p FROM post_del
      |  UNION ALL SELECT k, st, CAST(p + 999 AS DECIMAL(12,2)) AS p
      |    FROM base WHERE k % 8 = 0),
      |u AS (SELECT 'head' AS tag, st, p FROM head
      |  UNION ALL SELECT 'post_delete' AS tag, st, p FROM post_del
      |  UNION ALL SELECT 'pre_delete' AS tag, st, p FROM base)
      |SELECT tag, st AS o_orderstatus, count(*) AS n,
      |  CAST(sum(p) AS DOUBLE) AS total
      |FROM u GROUP BY tag, st""".stripMargin) { (s, d) =>
    import graft.operators.Versioned
    val root = graft.Scratch.dir("k42-del")
    val tbl = s"$root/orders_v"
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("st"), col("o_totalprice").cast("decimal(12,2)").as("p"))
    val v1 = Versioned.commit(s, tbl, base, "st", Seq("k"))
    val v2 = Versioned.deleteKeys(s, tbl,
      base.filter(col("k") % 4 === 0).select(col("k")), Seq("k"))
    Versioned.commit(s, tbl,
      base.filter(col("k") % 8 === 0)
        .withColumn("p", (col("p") + lit(999)).cast("decimal(12,2)")),
      "st", Seq("k"))
    def summarize(df: DataFrame, tag: String): DataFrame =
      df.groupBy(col("st"))
        .agg(count(lit(1)).as("n"), sum(col("p")).cast("double").as("total"))
        .select(lit(tag).as("tag"), col("st").as("o_orderstatus"),
          col("n"), col("total"))
    summarize(Versioned.readAsOf(s, tbl), "head")
      .unionByName(summarize(Versioned.readAsOf(s, tbl, v2), "post_delete"))
      .unionByName(summarize(Versioned.readAsOf(s, tbl, v1), "pre_delete"))
  }

  // --- er6_pprl_clk: PRIVACY-PRESERVING record linkage (operators.Pprl
  // — the CLK Bloom-encoding scheme of Schnell et al.): two parties'
  // name columns (here: the er1 part subset vs a perturbed copy with
  // its 4th character dropped — a deterministic "typo") are each
  // encoded into 64-bit Bloom bitsets (every character bigram sets two
  // md5-derived positions), and linkage happens ON THE BITSETS ONLY via
  // the Dice coefficient — plaintext never crosses the trust boundary,
  // and the typo degrades Dice instead of breaking equality (the
  // perturbed self-pairs still clear 0.7). Exactness: bitsets are
  // position sets, intersections are equi-join counts, Dice is one
  // double from exact integers — the oracle replays every bit. Scale:
  // candidates come from a 2-char blocking key, never all-pairs; the
  // intersect join fans candidates by ≤ 64 positions. ---
  val er6PprlClk = QueryDef.sql(
    "er6_pprl_clk",
    """WITH sub AS (SELECT p_partkey AS k, p_name AS nm FROM part WHERE p_partkey % 23 = 0),
      |bsub AS (SELECT k, concat(substr(nm, 1, 3), substr(nm, 5)) AS nm FROM sub),
      |ga AS (SELECT DISTINCT k, g FROM (
      |    SELECT k, unnest([substr(nm, i, 2) for i in range(1, len(nm))]) AS g
      |    FROM sub WHERE len(nm) >= 2) t),
      |gb AS (SELECT DISTINCT k, g FROM (
      |    SELECT k, unnest([substr(nm, i, 2) for i in range(1, len(nm))]) AS g
      |    FROM bsub WHERE len(nm) >= 2) t),
      |pa AS (SELECT DISTINCT k, pos FROM (
      |    SELECT k, CAST(concat('0x', substr(md5('1:' || g), 1, 2)) AS BIGINT) % 64 AS pos FROM ga
      |    UNION ALL
      |    SELECT k, CAST(concat('0x', substr(md5('2:' || g), 1, 2)) AS BIGINT) % 64 FROM ga) t),
      |pb AS (SELECT DISTINCT k, pos FROM (
      |    SELECT k, CAST(concat('0x', substr(md5('1:' || g), 1, 2)) AS BIGINT) % 64 AS pos FROM gb
      |    UNION ALL
      |    SELECT k, CAST(concat('0x', substr(md5('2:' || g), 1, 2)) AS BIGINT) % 64 FROM gb) t),
      |ca AS (SELECT k, count(*) AS na FROM pa GROUP BY k),
      |cb AS (SELECT k, count(*) AS nb FROM pb GROUP BY k),
      |cand AS (SELECT a.k AS ka, b.k AS kb FROM sub a JOIN bsub b
      |  ON substr(a.nm, 1, 2) = substr(b.nm, 1, 2)),
      |inter AS (SELECT c.ka, c.kb, count(*) AS n_common
      |  FROM cand c JOIN pa ON pa.k = c.ka JOIN pb ON pb.pos = pa.pos AND pb.k = c.kb
      |  GROUP BY c.ka, c.kb)
      |SELECT ka, kb, n_common, na, nb, 2.0 * n_common / (na + nb) AS dice
      |FROM inter JOIN ca ON ca.k = ka JOIN cb ON cb.k = kb
      |WHERE 2.0 * n_common / (na + nb) >= 0.7""".stripMargin) { (s, d) =>
    import graft.operators.Pprl
    val sub = T.part(s, d).filter(col("p_partkey") % 23 === 0)
      .select(col("p_partkey").as("k"), col("p_name").as("nm"))
    val bsub = sub.select(col("k"),
      concat(substring(col("nm"), 1, 3), expr("substring(nm, 5)")).as("nm"))
    Pprl.diceMatch(sub, bsub, "k", "nm", bits = 64, hashes = 2,
        blockLen = 2, threshold = 0.7)
      .select(col("ka"), col("kb"), col("n_common"), col("na"), col("nb"),
        col("dice"))
  }

  // --- j14_resample: GRID resampling with forward-fill — turn each
  // user's irregular purchase series into a regular 6-hour grid
  // carrying the last observation (the resample/ffill every time-series
  // store exposes; j12 integrates over intervals, j13 aligns onto query
  // points, j14 materializes the regular series downstream models
  // consume). Per user: one partial-agg for the [first, last] bounds,
  // sequence() explodes the grid (no cross join — each user generates
  // only ITS points), then grid ∪ observations under ONE user_id
  // window pass carries the last value and its age forward. Grid
  // points before the first observation drop; values are exact
  // decimals carried untouched (the double cast is representation,
  // not arithmetic), staleness is exact µs BIGINT. Ties at the same
  // µs break on (kind, event_id) in both engines. ---
  val j14Resample = QueryDef.sql(
    "j14_resample",
    """WITH obs AS (SELECT user_id, event_id, epoch_us(ts) AS tu,
      |    CAST(value AS DECIMAL(10,2)) AS v
      |  FROM events WHERE event_type = 'purchase'),
      |b AS (SELECT user_id, min(tu) AS t0, max(tu) AS t1 FROM obs GROUP BY user_id),
      |grid AS (SELECT user_id, gt FROM b, LATERAL
      |  (SELECT unnest(range(t0 - t0 % 21600000000, t1 + 1, 21600000000)) AS gt) r),
      |pts AS (SELECT user_id, gt AS tu, 1 AS kind,
      |    CAST(NULL AS DECIMAL(10,2)) AS v, CAST(NULL AS BIGINT) AS eid FROM grid
      |  UNION ALL SELECT user_id, tu, 0, v, event_id FROM obs),
      |w AS (SELECT user_id, tu, kind,
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY tu, kind, eid ROWS UNBOUNDED PRECEDING) AS fv,
      |    last_value(CASE WHEN kind = 0 THEN tu END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY tu, kind, eid
      |      ROWS UNBOUNDED PRECEDING) AS ot
      |  FROM pts)
      |SELECT user_id, tu AS grid_tu, CAST(fv AS DOUBLE) AS v_ffill,
      |  tu - ot AS stale_us
      |FROM w WHERE kind = 1 AND fv IS NOT NULL""".stripMargin) { (s, d) =>
    val step = 21600000000L // 6 h in µs
    val obs = T.events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").cast("long").as("eid"),
        unix_micros(col("ts")).as("tu"), col("value").cast("decimal(10,2)").as("v"))
    val grid = obs.groupBy(col("user_id"))
      .agg(min(col("tu")).as("t0"), max(col("tu")).as("t1"))
      .select(col("user_id"),
        explode(sequence(expr(s"t0 - t0 % ${step}L"), col("t1"), lit(step))).as("tu"))
    val pts = grid
      .select(col("user_id"), col("tu"), lit(1).as("kind"),
        lit(null).cast("decimal(10,2)").as("v"), lit(null).cast("long").as("eid"))
      .unionByName(obs.select(col("user_id"), col("tu"), lit(0).as("kind"),
        col("v"), col("eid")))
    val back = Window.partitionBy(col("user_id"))
      .orderBy(col("tu"), col("kind"), col("eid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts
      .withColumn("fv", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("ot", last(when(col("kind") === 0, col("tu")),
        ignoreNulls = true).over(back))
      .filter(col("kind") === 1 && col("fv").isNotNull)
      .select(col("user_id"), col("tu").as("grid_tu"),
        col("fv").cast("double").as("v_ffill"),
        (col("tu") - col("ot")).as("stale_us"))
  }

  // --- j13_interp_join: INTERPOLATION join — align query timestamps
  // onto an irregular reference series by LINEAR interpolation between
  // the bracketing observations (the sensor-fusion/mark-to-market
  // alignment; e4's as-of join carries the nearest value, j13 carries
  // the value the series was passing THROUGH). Per user: views are
  // query points, purchases the reference series; one union + two
  // same-partitioning window passes (last-non-null backward for the
  // previous observation, first-non-null forward for the next) — a
  // single user_id shuffle total, no self-join, no per-point probe.
  // Edges hold flat (only-prev / only-next); users with no reference
  // series drop. Exactness: timestamps are µs BIGINTs, values exact
  // decimals; only the final lerp runs in double with identical
  // expression text (same-µs brackets guarded to avoid 0/0). ---
  val j13InterpJoin = QueryDef.sql(
    "j13_interp_join",
    """WITH src AS (SELECT user_id, event_id, epoch_us(ts) AS tu,
      |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kind,
      |    CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(10,2)) END AS pv,
      |    CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS ptu
      |  FROM events WHERE event_type IN ('purchase', 'view')),
      |w AS (SELECT user_id, event_id, tu, kind,
      |    last_value(pv IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY tu, kind, event_id ROWS UNBOUNDED PRECEDING) AS prev_v,
      |    last_value(ptu IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY tu, kind, event_id ROWS UNBOUNDED PRECEDING) AS prev_t,
      |    first_value(pv IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY tu, kind, event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
      |    first_value(ptu IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY tu, kind, event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
      |  FROM src)
      |SELECT user_id, event_id, tu,
      |  CASE WHEN prev_t IS NOT NULL AND next_t IS NOT NULL AND next_t <> prev_t
      |       THEN CAST(prev_v AS DOUBLE) + (CAST(next_v AS DOUBLE) - CAST(prev_v AS DOUBLE))
      |            * CAST(tu - prev_t AS DOUBLE) / (next_t - prev_t)
      |       WHEN prev_t IS NOT NULL THEN CAST(prev_v AS DOUBLE)
      |       ELSE CAST(next_v AS DOUBLE) END AS v_interp,
      |  CASE WHEN prev_t IS NOT NULL AND next_t IS NOT NULL AND next_t <> prev_t
      |       THEN 'interp'
      |       WHEN prev_t IS NOT NULL THEN 'hold_prev'
      |       ELSE 'hold_next' END AS mode
      |FROM w
      |WHERE kind = 1 AND (prev_t IS NOT NULL OR next_t IS NOT NULL)""".stripMargin) { (s, d) =>
    val src = T.events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tu"),
        when(col("event_type") === "purchase", 0).otherwise(1).as("kind"),
        when(col("event_type") === "purchase",
          col("value").cast("decimal(10,2)")).as("pv"),
        when(col("event_type") === "purchase", unix_micros(col("ts"))).as("ptu"))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("tu"), col("kind"), col("event_id"))
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val w = src
      .withColumn("prev_v", last(col("pv"), ignoreNulls = true).over(back))
      .withColumn("prev_t", last(col("ptu"), ignoreNulls = true).over(back))
      .withColumn("next_v", first(col("pv"), ignoreNulls = true).over(fwd))
      .withColumn("next_t", first(col("ptu"), ignoreNulls = true).over(fwd))
    val bracket = col("prev_t").isNotNull && col("next_t").isNotNull &&
      col("next_t") =!= col("prev_t")
    w.filter(col("kind") === 1 &&
        (col("prev_t").isNotNull || col("next_t").isNotNull))
      .select(col("user_id"), col("event_id"), col("tu"),
        when(bracket,
          col("prev_v").cast("double") +
            (col("next_v").cast("double") - col("prev_v").cast("double")) *
            (col("tu") - col("prev_t")).cast("double") / (col("next_t") - col("prev_t")))
          .when(col("prev_t").isNotNull, col("prev_v").cast("double"))
          .otherwise(col("next_v").cast("double")).as("v_interp"),
        when(bracket, lit("interp"))
          .when(col("prev_t").isNotNull, lit("hold_prev"))
          .otherwise(lit("hold_next")).as("mode"))
  }

  // --- k40_branch_merge: git-like BRANCH + THREE-WAY MERGE on the
  // versioned store (operators.Branch — Iceberg-refs/Nessie semantics
  // on k34's zero-copy clone): main commits a base, a branch forks it,
  // BOTH sides take divergent keyed commits (branch: +10 repricing on
  // k%7 and new 'B' rows; main: ×2 repricing on k%5 and new 'M' rows),
  // and the merge classifies every key by null-safe struct comparison
  // against the recovered base — main-only change, branch-only change,
  // convergent edit, or CONFLICT (k%35: both repriced differently),
  // resolved branch-wins here. The gate hashes the full merged state
  // WITH per-row origin provenance, and the oracle replays the exact
  // classification with IS NOT DISTINCT FROM logic — a wrong base
  // recovery, a mis-classified insert, or a conflict resolved the
  // wrong way all hash-mismatch. Scale: the merge is three keyed
  // full-outer joins (one pass, no driver logic); the branch itself is
  // a k-row metadata write. BranchSpec pins fail/ours policies and the
  // mergeCommit round trip. ---
  val k40BranchMerge = QueryDef.sql(
    "k40_branch_merge",
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS p
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |br AS (SELECT k, st,
      |    CASE WHEN k % 7 = 0 THEN CAST(p + 10 AS DECIMAL(12,2)) ELSE p END AS p
      |  FROM base
      |  UNION ALL SELECT k + 1000000 AS k, 'B' AS st, p FROM base WHERE k % 13 = 0),
      |mn AS (SELECT k, st,
      |    CASE WHEN k % 5 = 0 THEN CAST(p * 2 AS DECIMAL(12,2)) ELSE p END AS p
      |  FROM base
      |  UNION ALL SELECT k + 2000000 AS k, 'M' AS st, p FROM base WHERE k % 19 = 0),
      |b0 AS (SELECT k, st AS bst, p AS bp, TRUE AS bh FROM base),
      |m0 AS (SELECT k, st AS mst, p AS mp, TRUE AS mh FROM mn),
      |r0 AS (SELECT k, st AS rst, p AS rp, TRUE AS rh FROM br),
      |j AS (SELECT * FROM b0 FULL JOIN m0 USING (k) FULL JOIN r0 USING (k)),
      |c AS (SELECT k, mst, mp, mh, rst, rp, rh,
      |    CASE WHEN (rst IS NOT DISTINCT FROM bst) AND (rp IS NOT DISTINCT FROM bp)
      |              AND (rh IS NOT DISTINCT FROM bh) THEN 'main'
      |         WHEN (mst IS NOT DISTINCT FROM bst) AND (mp IS NOT DISTINCT FROM bp)
      |              AND (mh IS NOT DISTINCT FROM bh) THEN 'branch'
      |         WHEN (mst IS NOT DISTINCT FROM rst) AND (mp IS NOT DISTINCT FROM rp)
      |              AND (mh IS NOT DISTINCT FROM rh) THEN 'both'
      |         ELSE 'conflict' END AS origin
      |  FROM j)
      |SELECT k,
      |  CASE WHEN origin IN ('main', 'both') THEN mst ELSE rst END AS st,
      |  CAST(CASE WHEN origin IN ('main', 'both') THEN mp ELSE rp END AS DOUBLE) AS p,
      |  origin
      |FROM c
      |WHERE CASE WHEN origin IN ('main', 'both') THEN mh ELSE rh END""".stripMargin) { (s, d) =>
    import graft.operators.{Branch, Versioned}
    val root = graft.Scratch.dir("k40-branch")
    val mainT = s"$root/main"; val brT = s"$root/branch"
    val base = T.orders(s, d).filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        col("o_totalprice").cast("decimal(12,2)").as("p"))
    Versioned.commit(s, mainT, base, "st", Seq("k"))
    Branch.create(s, mainT, brT)
    // branch diverges: repricing + inserts
    Versioned.commit(s, brT,
      base.filter(col("k") % 7 === 0)
        .withColumn("p", (col("p") + lit(10)).cast("decimal(12,2)")),
      "st", Seq("k"))
    Versioned.commit(s, brT,
      base.filter(col("k") % 13 === 0)
        .select((col("k") + 1000000L).as("k"), lit("B").as("st"), col("p")),
      "st", Seq("k"))
    // main diverges too: different repricing + its own inserts
    Versioned.commit(s, mainT,
      base.filter(col("k") % 5 === 0)
        .withColumn("p", (col("p") * 2).cast("decimal(12,2)")),
      "st", Seq("k"))
    Versioned.commit(s, mainT,
      base.filter(col("k") % 19 === 0)
        .select((col("k") + 2000000L).as("k"), lit("M").as("st"), col("p")),
      "st", Seq("k"))
    Branch.merge3(s, mainT, brT, Seq("k"), policy = "theirs")
      .select(col("k"), col("st"), col("p").cast("double").as("p"), col("origin"))
  }

  // --- k45_key_history: PER-KEY CHANGE HISTORY from the CHANGE FEED —
  // the row-level audit trail beside k32's version-level diff ("what
  // happened to THIS key?"): three commits land (base, status flip for
  // %7 keys, price bump for %5 keys), then Versioned.keyHistory derives
  // the history from the generation files the commits ALREADY wrote —
  // each version's post-image rows sit under __gen=<v>, so the feed is
  // read once, O(Σ deltas), never O(versions × table) (the AS-OF-union
  // alternative re-reads every partition once per version it is merely
  // carried through — 1000 versions = a 1000× table scan). Change rows
  // are where the key's payload differs from its previous committed
  // state (first appearance counts); keys riding along in partition
  // rewrites that didn't touch them are dropped by the change filter.
  // Output restricted to the %10 key sample to keep the audit
  // delta-sized. VersionedSpec pins the plan evidence: scan rows equal
  // Σ generation-delta rows. Oracle derives all three versions'
  // payloads analytically from the fixture arithmetic. ---
  val k45KeyHistory = QueryDef.sql(
    "k45_key_history",
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |    CAST(o_totalprice AS DOUBLE) AS pr
      |  FROM orders WHERE o_orderkey % 10 = 0),
      |v1 AS (SELECT k, 1 AS version, st, pr FROM base),
      |v2 AS (SELECT k, 2, 'X', pr FROM base WHERE k % 7 = 0),
      |v3 AS (SELECT k, 3, CASE WHEN k % 7 = 0 THEN 'X' ELSE st END,
      |    pr + 10.0 FROM base WHERE k % 5 = 0)
      |SELECT k AS o_orderkey, version, st AS o_orderstatus, pr AS price
      |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3)""".stripMargin) {
    (s, d) =>
    import graft.operators.Versioned
    // round-13 wave 2: the 3-commit history is a pure function of the
    // dataset and keyHistory only READS the generation files — land it
    // once per dataset content instead of 3 partitioned commits per run
    val tbl = graft.Scratch.cachedArtifact(s, "k45-khist-v1",
      Seq(s"$d/orders.parquet")) { r =>
      val t = s"$r/orders_v"
      val base = T.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderstatus"), col("o_totalprice"))
      Versioned.commit(s, t, base, "o_orderpriority", Seq("o_orderkey"))
      Versioned.commit(s, t,
        base.filter(col("o_orderkey") % 7 === 0).withColumn("o_orderstatus", lit("X")),
        "o_orderpriority", Seq("o_orderkey"))
      Versioned.commit(s, t,
        base.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderstatus",
            when(col("o_orderkey") % 7 === 0, lit("X")).otherwise(col("o_orderstatus")))
          .withColumn("o_totalprice", col("o_totalprice") + 10.0),
        "o_orderpriority", Seq("o_orderkey"))
      ()
    } + "/orders_v"
    Versioned.keyHistory(s, tbl,
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("version").cast("int").as("version"),
        col("o_orderstatus"), col("o_totalprice").cast("double").as("price"))
  }

  // --- k61_txn_mv: TRANSACTIONALLY-MAINTAINED MATERIALIZED VIEW — the
  // index family's "can never go stale" discipline applied to an
  // AGGREGATE: a (status → count, sum) view over quarter-partitioned
  // orders, maintained RETRACTION-style (new MV row = old + partial(new
  // images) − partial(replaced old images)) in the SAME Txn as every
  // base commit, stale-base refused via expectedVersion (retracting
  // against a moved snapshot double-counts — the MV analogue of the
  // bloom false negative). k22 proves query REWRITE onto a view; k17/
  // e18 prove IVM as dataflow; k61 closes the remaining gap — the view
  // as a TABLE with transactional freshness, readable at k rows with
  // zero base I/O. The gate commits the full ledger, then a churn delta
  // (%13 orders reprice +100, a pure UPDATE — the case where naive
  // add-only IVM double-counts and retraction is forced), require()s
  // the executed read plan scanned exactly |groups| rows, and emits the
  // view; the oracle recomputes count/sum/avg from post-state
  // arithmetic — a double-count, a missed retraction, or a stale row
  // all hash-mismatch. Scale: maintenance reads the delta and its
  // replaced keys' old images (a key-pruned probe that composes with
  // the k48 bloom), never the base table; the read is k rows. ---
  val k61TxnMv = QueryDef.sql(
    "k61_txn_mv",
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS g,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS v FROM orders),
      |post AS (SELECT k, g,
      |    CASE WHEN k % 13 = 0 THEN CAST(v + 100 AS DECIMAL(12,2))
      |      ELSE v END AS v FROM base)
      |SELECT g AS status, CAST(count(*) AS BIGINT) AS n,
      |  CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) AS total,
      |  CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price,
      |  TRUE AS from_view
      |FROM post GROUP BY g""".stripMargin) { (s, d) =>
    import graft.operators.{Versioned, VersionedMv}
    val root = graft.Scratch.dir("k61-txnmv")
    val tbl = s"$root/orders"; val mv = s"$root/mv"
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      expr("concat(year(CAST(o_orderdate AS DATE)), '-Q', " +
        "quarter(CAST(o_orderdate AS DATE)))").as("qtr"),
      col("o_orderstatus").as("g"),
      col("o_totalprice").cast("decimal(12,2)").as("v"))
    // k53's shared-fixture discipline: the pre-churn ledger+view commit
    // lands once per dataset content; the retraction-forcing churn (the
    // operator under test) runs on per-run clones
    val fixRoot = graft.Scratch.cachedArtifact(s, "k61-mv-base-v1",
      Seq(s"$d/orders.parquet")) { r =>
      VersionedMv.commitWithMv(s, s"$r/txn1", s"$r/orders", s"$r/mv", base,
        "qtr", Seq("k"), Seq("g"), "v")
      ()
    }
    Versioned.shallowClone(s, s"$fixRoot/orders", tbl)
    Versioned.shallowClone(s, s"$fixRoot/mv", mv)
    // churn: a pure UPDATE (same keys, same groups, new values) — the
    // shape where add-only IVM double-counts and retraction is forced
    val delta = base.filter(col("k") % 13 === 0)
      .withColumn("v", (col("v") + lit(100)).cast("decimal(12,2)"))
    VersionedMv.commitWithMv(s, s"$root/txn2", tbl, mv, delta,
      "qtr", Seq("k"), Seq("g"), "v")
    require(Versioned.latestVersion(s, tbl) == 2L
        && Versioned.latestVersion(s, mv) == 2L,
      "base and view versions must move in lockstep")
    val view = VersionedMv.read(s, mv, Seq("g"))
    // the read IS k rows: executed-plan evidence, not a promise
    val nGroups = view.count()
    val scanRows = graft.plans.PlanMetrics.actualRows(view)
      .filter(_.node.toLowerCase.contains("scan parquet"))
      .flatMap(_.outputRows).sum
    require(scanRows == nGroups && nGroups > 0,
      s"view read must scan exactly the $nGroups group rows, got $scanRows")
    view.select(col("g").as("status"), col("n"),
      col("s").cast("double").as("total"),
      (col("s").cast("double") / col("n")).as("avg_price"),
      lit(true).as("from_view"))
  }

  // --- k62_quantile_index: TRANSACTIONAL PER-PARTITION QUANTILE-SKETCH
  // INDEX — the stats-rollup member of the index family (k48 point,
  // k53/k57 range, k60 tokens, k61 grouped count/sum): each quarter
  // partition carries a bounded deterministic weighted-sample summary
  // (operators.QuantileSketch — md5 cell scatter + stride samples, no
  // RNG), REPLACED in the same Txn as every commit to that partition
  // (op="replace": stale sample rows can never linger under an upsert
  // key), so "what's the global p99" answers from index rows with ZERO
  // fact-table I/O at any moment — the percentile dashboard and the
  // range-partition splitter feed that never re-sorts 100 TB of
  // history. Maintenance is per-affected-partition: the churn commit
  // (1996's %13 orders reprice +100) recomputes only 1996's four
  // quarters' summaries; untouched quarters keep their rows. The gate
  // require()s the estimate plan never touches the ledger path
  // (k22's plan-string technique) and that every estimate's exact rank
  // sits within the sketch's additive bound (2n/K + m·(B+2) over an
  // m-way merge); the oracle replays the scatter, strides, weights,
  // merge, and rank targets bit-for-bit on the post-churn state — a
  // stale summary row or a missed retraction hash-mismatches the
  // estimate itself. ---
  val k62QuantileIndex = {
    val B = 8; val K = 8
    QueryDef.sql(
      "k62_quantile_index",
      s"""WITH base AS (SELECT o_orderkey AS k,
         |    CAST(year(CAST(o_orderdate AS DATE)) AS VARCHAR) || '-Q' ||
         |      CAST(quarter(CAST(o_orderdate AS DATE)) AS VARCHAR) AS qtr,
         |    CAST(o_orderdate AS DATE) AS d,
         |    CAST(o_totalprice AS DOUBLE) AS v0 FROM orders),
         |post AS (SELECT k, qtr,
         |    CASE WHEN k % 13 = 0 AND year(d) = 1996 THEN v0 + 100
         |      ELSE v0 END AS v FROM base),
         |sc AS (SELECT k, qtr, v, md5(CAST(k AS VARCHAR)) AS hx FROM post),
         |cells AS (SELECT qtr, v,
         |    ((instr('0123456789abcdef', substr(hx,1,1)) - 1) * 16 +
         |      instr('0123456789abcdef', substr(hx,2,1)) - 1) % $B AS b
         |  FROM sc),
         |rnk AS (SELECT qtr, v,
         |    row_number() OVER (PARTITION BY qtr, b ORDER BY v) AS rn,
         |    count(*) OVER (PARTITION BY qtr, b) AS cnt
         |  FROM cells),
         |u AS (SELECT *, (cnt + ${K - 1}) // $K AS stride FROM rnk),
         |samp AS (SELECT qtr, v,
         |    CASE WHEN rn % stride = 0 THEN stride ELSE cnt % stride END AS wt
         |  FROM u WHERE rn % stride = 0 OR (rn = cnt AND cnt % stride <> 0)),
         |g AS (SELECT v, CAST(sum(wt) AS BIGINT) AS wt FROM samp GROUP BY v),
         |cum AS (SELECT v, sum(wt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw
         |  FROM g),
         |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS tot FROM g),
         |mm AS (SELECT CAST(count(DISTINCT qtr) AS BIGINT) AS m FROM post),
         |qs AS (SELECT unnest([CAST(0.01 AS DOUBLE), CAST(0.5 AS DOUBLE),
         |    CAST(0.99 AS DOUBLE)]) AS q),
         |tg AS (SELECT q, tot, CAST(ceil(q * CAST(tot AS DOUBLE)) AS BIGINT) AS t
         |  FROM tot, qs),
         |est AS (SELECT tg.q, tg.tot AS n, tg.t, min(cum.v) AS est
         |  FROM tg JOIN cum ON cum.cw >= tg.t GROUP BY ALL),
         |rk AS (SELECT q, est, n, t,
         |    (SELECT CAST(count(*) AS BIGINT) FROM post WHERE post.v <= est.est)
         |      AS exact_rank
         |  FROM est)
         |SELECT q, est, exact_rank, n,
         |  abs(exact_rank - t) <= (2 * n) // $K + (SELECT m FROM mm) * ${B + 2}
         |    AS within_bound
         |FROM rk""".stripMargin) { (s, d) =>
      import graft.operators.{QuantileSketch, Txn, Upsert, Versioned}
      val root = graft.Scratch.dir("k62-qidx")
      val tbl = s"$root/orders"; val idx = s"$root/qsk"
      val base = T.orders(s, d).select(col("o_orderkey").as("k"),
        expr("concat(year(CAST(o_orderdate AS DATE)), '-Q', " +
          "quarter(CAST(o_orderdate AS DATE)))").as("qtr"),
        col("o_orderdate").cast("date").as("d"),
        col("o_totalprice").cast("double").as("v"))
      def commitQ(txn: String, delta: DataFrame, expect: Long): Unit = {
        val affected = delta.select(col("qtr")).distinct()
          .collect().map(_.getString(0)).toSeq // partition domain
        val merged =
          if (expect == 0) delta
          else Upsert.merge(
            Versioned.readAsOf(s, tbl, expect)
              .filter(col("qtr").isin(affected: _*)),
            delta, Seq("k"))
        Txn.run(s, txn, Seq(
          Txn.Write(tbl, delta, "qtr", Seq("k"),
            expectedVersion = Some(expect)),
          Txn.Write(idx,
            QuantileSketch.summarize(merged, Seq("qtr"), col("v"), col("k"),
              B, K),
            "qtr", keys = Nil, op = "replace")))
        ()
      }
      // k53's shared-fixture discipline: the pre-churn ledger+sketch
      // commit lands once per dataset content; churn + probes on clones
      val fixRoot = graft.Scratch.cachedArtifact(s, "k62-qidx-base-v1",
        Seq(s"$d/orders.parquet")) { r =>
        Txn.run(s, s"$r/txn1", Seq(
          Txn.Write(s"$r/orders", base, "qtr", Seq("k"),
            expectedVersion = Some(0L)),
          Txn.Write(s"$r/qsk",
            QuantileSketch.summarize(base, Seq("qtr"), col("v"), col("k"),
              B, K),
            "qtr", keys = Nil, op = "replace")))
        ()
      }
      Versioned.shallowClone(s, s"$fixRoot/orders", tbl)
      Versioned.shallowClone(s, s"$fixRoot/qsk", idx)
      // churn: 1996's %13 orders reprice — only 4 quarters' summaries
      // recompute; a stale one would misplace the churned mass
      commitQ(s"$root/txn2",
        base.filter(col("k") % 13 === 0 && expr("year(d) = 1996"))
          .withColumn("v", col("v") + lit(100.0)), 1L)
      require(Versioned.latestVersion(s, tbl) == 2L
          && Versioned.latestVersion(s, idx) == 2L,
        "ledger and sketch index must move in lockstep")
      // the estimate answers from index rows ONLY — scanned-path proof
      // on the index read, then a DRIVER-SIDE cumulative fold
      // (QuantileSketch.quantilesGlobal): the summary is ≤ m·(B+2)
      // rows by construction, so the group-less fold is metadata-scale
      // math — folding it through a cluster window planned a
      // partition-less WindowExec (one task anyway, plus the lint's
      // fatal pattern); the fold result is a 3-row local relation
      val sk = Versioned.readAsOf(s, idx).select(col("v"), col("wt"))
      val scanned = scannedRoots(sk)
      val ledger = Seq(tbl, s"$fixRoot/orders") // the clone and its source
      require(scanned.exists(_.startsWith(s"$idx/")) &&
          !scanned.exists(p => ledger.exists(l => p.startsWith(s"$l/"))),
        s"quantile estimate must read the index and never the ledger, " +
          s"scanned: ${scanned.mkString(", ")}")
      import s.implicits._
      val estsStaged = broadcast(
        QuantileSketch.quantilesGlobal(sk, Seq(0.01, 0.5, 0.99))
          .toDF("q", "est"))
      // measurement (not the search path): exact ranks + sketch bound
      val post = Versioned.readAsOf(s, tbl)
      val n = post.count()
      val m = post.select(col("qtr")).distinct().count()
      val out = post.join(broadcast(estsStaged), post("v") <= estsStaged("est"))
        .groupBy(col("q"), col("est"))
        .agg(count(lit(1)).as("exact_rank"))
        .withColumn("n", lit(n))
        .withColumn("t", ceil(col("q") * lit(n.toDouble)).cast("long"))
        .withColumn("within_bound",
          abs(col("exact_rank") - col("t")) <=
            lit((2 * n) / K + m * (B + 2)))
        .select(col("q"), col("est"), col("exact_rank"), col("n"),
          col("within_bound"))
      require(out.filter(!col("within_bound")).isEmpty,
        "every estimate must sit within the sketch's additive rank bound")
      out
    }
  }

  // --- k63_bitmap_index: TRANSACTIONAL BITMAP INDEX for
  // low-cardinality predicates — the last member of the secondary-index
  // family (bloom=WHO/point, zone=WHEN/range, text=WHAT/tokens,
  // quantile=HOW-MUCH/rank; bitmap=WHICH-KIND/category), composing with
  // k54's intersection. Ledger: quarter-partitioned orders (~27
  // partitions) carrying a CATEGORY column: month tags, with December
  // as 'holiday' — a category physically localized in the Q4 quarters,
  // the correlation a bitmap index discovers through DATA, not the
  // partition key. Per partition the index holds ONE long: two hashed
  // bit positions per distinct category (VersionedBitmap.BitExpr). A
  // second commit flags the %7 orders of Q1-1997 as 'flagged' —
  // category churn whose index delta rewrites only that quarter's row.
  // The gate require()s: 'holiday' candidates = exactly the Q4
  // partitions (< nParts/2), 'flagged' candidates = exactly ONE
  // partition, and the final aggregates answer through the
  // bitmap-pruned path; the oracle recomputes both categories from raw
  // orders — a bitmap missing a commit's categories (false negative)
  // or a pruned read dropping rows hash-mismatches. Scale: the probe
  // folds k longs; the read opens only admitted quarters. ---
  val k63BitmapIndex = QueryDef.sql(
    "k63_bitmap_index",
    """WITH base AS (SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS amt,
      |    CASE WHEN month(CAST(o_orderdate AS DATE)) = 12 THEN 'holiday'
      |         ELSE 'm' || CAST(month(CAST(o_orderdate AS DATE)) AS VARCHAR)
      |    END AS cat
      |  FROM orders),
      |post AS (SELECT k, d, amt,
      |    CASE WHEN k % 7 = 0 AND d >= DATE '1997-01-01'
      |           AND d <= DATE '1997-03-31' THEN 'flagged' ELSE cat END AS cat
      |  FROM base),
      |probes AS (SELECT 'holiday' AS cat UNION ALL SELECT 'flagged'),
      |agg AS (SELECT cat, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(amt) AS DOUBLE) AS total
      |  FROM post WHERE cat IN ('holiday', 'flagged') GROUP BY cat)
      |SELECT p.cat, coalesce(agg.n, 0) AS n, agg.total, TRUE AS pruned
      |FROM probes p LEFT JOIN agg ON agg.cat = p.cat""".stripMargin) { (s, d) =>
    import graft.operators.{Versioned, VersionedBitmap}
    val root = graft.Scratch.dir("k63-bitmap")
    val tbl = s"$root/orders"; val idx = s"$root/bm"
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      expr("concat(year(CAST(o_orderdate AS DATE)), '-Q', " +
        "quarter(CAST(o_orderdate AS DATE)))").as("qtr"),
      col("o_orderdate").cast("date").as("d"),
      col("o_totalprice").cast("decimal(12,2)").as("amt"))
      .withColumn("cat", when(month(col("d")) === 12, lit("holiday"))
        .otherwise(concat(lit("m"), month(col("d")).cast("string"))))
    // k53's shared-fixture discipline: pre-churn ledger+bitmap landed
    // once per dataset content, cloned, churned + probed per run
    val fixRoot = graft.Scratch.cachedArtifact(s, "k63-bm-base-v1",
      Seq(s"$d/orders.parquet")) { r =>
      VersionedBitmap.commitIndexed(s, s"$r/txn1", s"$r/orders", s"$r/bm",
        base, "qtr", Seq("k"), "cat")
      ()
    }
    Versioned.shallowClone(s, s"$fixRoot/orders", tbl)
    Versioned.shallowClone(s, s"$fixRoot/bm", idx)
    // category churn: a small delta re-tags one quarter's %7 orders —
    // the index rewrite is localized to that quarter's row
    val delta = base.filter(col("k") % 7 === 0 &&
        col("d") >= lit("1997-01-01").cast("date") &&
        col("d") <= lit("1997-03-31").cast("date"))
      .withColumn("cat", lit("flagged"))
    VersionedBitmap.commitIndexed(s, s"$root/txn2", tbl, idx, delta,
      "qtr", Seq("k"), "cat")
    val nParts = Versioned.readAsOf(s, idx).count()
    val candsH = VersionedBitmap.candidatePartitions(s, idx, lit("holiday"))
    val candsF = VersionedBitmap.candidatePartitions(s, idx, lit("flagged"))
    require(candsH.nonEmpty && candsH.size * 2 < nParts,
      s"'holiday' must localize to the Q4 quarters: ${candsH.size} of $nParts")
    require(candsF.size == 1,
      s"'flagged' lives in exactly one quarter, got ${candsF.mkString(",")}")
    import s.implicits._
    Seq("holiday", "flagged").map { c =>
      VersionedBitmap.lookupEq(s, tbl, idx, "cat", lit(c))
        .agg(count(lit(1)).as("n"), sum(col("amt")).cast("double").as("total"))
        .select(lit(c).as("cat"), col("n"), col("total"), lit(true).as("pruned"))
    }.reduce(_ unionByName _)
  }

  // --- k64_triple_index: the FULL index-family composition — point
  // (bloom: WHO) ∧ range (zone: WHEN) ∧ bitmap (category: WHICH-KIND)
  // candidate sets intersecting before any data file opens, over k54's
  // SHARED committed fixture (no new fixture commit — round-11 review:
  // compose onto existing state, don't re-stand a 3-commit table per
  // gate). The probe is data-engineered so every index genuinely rules
  // out partitions the other two admit: the customer is the lowest ck
  // with a Dec-1995 order, NO 1996-Q4 order, a December order in some
  // other year, and ≥2 distinct order-quarters inside the range
  // [1995-07-01, 1996-12-31] — so zone keeps 6 quarters, zone∧bitmap
  // keeps the two Decembers, zone∧bloom keeps ≥2 of the customer's
  // quarters, bitmap∧bloom keeps ≥2 of the customer's Decembers, and
  // the triple keeps exactly 1995-Q4. The gate require()s the triple
  // STRICTLY below each two-index intersection and the answer rides
  // the composed pruned read; the oracle recomputes the probe choice
  // and the aggregate from raw orders. Scale: three k-row index folds,
  // then exactly the files every index admits. ---
  val k64TripleIndex = QueryDef.sql(
    "k64_triple_index",
    """WITH base AS (SELECT o_orderkey AS k, o_custkey AS ck,
      |    CAST(o_orderdate AS DATE) AS d,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS amt FROM orders),
      |cand AS (
      |  SELECT ck FROM base GROUP BY ck
      |  HAVING sum(CASE WHEN d >= DATE '1995-12-01' AND d <= DATE '1995-12-31'
      |               THEN 1 ELSE 0 END) > 0
      |     AND sum(CASE WHEN d >= DATE '1996-10-01' AND d <= DATE '1996-12-31'
      |               THEN 1 ELSE 0 END) = 0
      |     AND sum(CASE WHEN month(d) = 12 AND year(d) <> 1995
      |               THEN 1 ELSE 0 END) > 0
      |     AND count(DISTINCT CASE WHEN d >= DATE '1995-07-01'
      |               AND d <= DATE '1996-12-31'
      |               THEN year(d) * 10 + quarter(d) END) >= 2),
      |probe AS (SELECT min(ck) AS ck FROM cand),
      |r AS (SELECT b.* FROM base b JOIN probe p ON b.ck = p.ck
      |  WHERE b.d >= DATE '1995-07-01' AND b.d <= DATE '1996-12-31'
      |    AND month(b.d) = 12)
      |SELECT p.ck AS o_custkey, CAST(count(r.k) AS BIGINT) AS n_orders,
      |  CAST(coalesce(sum(r.amt), 0) AS DOUBLE) AS total, TRUE AS triple_pruned
      |FROM probe p LEFT JOIN r ON r.ck = p.ck
      |GROUP BY p.ck""".stripMargin) { (s, d) =>
    import graft.operators.{Versioned, VersionedBitmap, VersionedBloom, VersionedZone}
    val (tbl, bIdx, zIdx, mIdx) = composedIndexFixture(s, d)
    val lo = expr("DATE'1995-07-01'"); val hi = expr("DATE'1996-12-31'")
    // probe choice replayed from the committed table (one aggregate
    // job) — the same arithmetic the oracle runs on raw orders
    val probe: Long = Versioned.readAsOf(s, tbl)
      .groupBy(col("ck"))
      .agg(
        sum(when(col("d").between(lit("1995-12-01").cast("date"),
          lit("1995-12-31").cast("date")), 1).otherwise(0)).as("dec95"),
        sum(when(col("d").between(lit("1996-10-01").cast("date"),
          lit("1996-12-31").cast("date")), 1).otherwise(0)).as("q496"),
        sum(when(month(col("d")) === 12 && year(col("d")) =!= 1995, 1)
          .otherwise(0)).as("decOther"),
        countDistinct(when(col("d").between(lit("1995-07-01").cast("date"),
          lit("1996-12-31").cast("date")),
          year(col("d")) * 10 + quarter(col("d")))).as("qtrsInRange"))
      .filter(col("dec95") > 0 && col("q496") === 0 &&
        col("decOther") > 0 && col("qtrsInRange") >= 2)
      .agg(min(col("ck"))).collect()(0).getLong(0)
    // pruning evidence: the TRIPLE intersection must be strictly below
    // EVERY two-index intersection (each index rules out partitions
    // the other two admit — the composition's whole point)
    val nParts = Versioned.readAsOf(s, zIdx).count()
    val zC = VersionedZone.candidatePartitions(s, zIdx, lo, hi).toSet
    val bC = VersionedBloom.candidatePartitions(s, bIdx, Seq(probe)).toSet
    val mC = VersionedBitmap.candidatePartitions(s, mIdx, lit("holiday")).toSet
    val i3 = zC & bC & mC
    require(i3.nonEmpty && i3.size < (zC & bC).size &&
      i3.size < (zC & mC).size && i3.size < (bC & mC).size &&
      i3.size < nParts,
      s"triple intersection must prune strictly below every pair: " +
        s"|z∧b|=${(zC & bC).size} |z∧m|=${(zC & mC).size} " +
        s"|b∧m|=${(bC & mC).size} |z∧b∧m|=${i3.size} of $nParts")
    import s.implicits._
    VersionedBitmap.lookupEqKeysInRange(s, tbl, bIdx, zIdx, mIdx,
        "ck", Seq(probe), "d", lo, hi, "cat", lit("holiday"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("amt")).cast("double").as("total"))
      .select(lit(probe).as("o_custkey"), col("n_orders"),
        coalesce(col("total"), lit(0.0)).as("total"),
        lit(true).as("triple_pruned"))
  }

  val all: Seq[QueryDef] = Seq(
    k45KeyHistory,
    k40BranchMerge, k41DropPartitions, k42DeleteKeys, j12TimeWeightedAvg, j13InterpJoin, j14Resample, er6PprlClk,
    j1FirstWins, j2Flatten, j3Lookup, p2TimeWindow, p4CastValidate,
    p10DefaultsConcat, k1UpsertMerge, k7Scd2, k8IncrAgg, k9SnapshotDiff,
    j4RangeJoin, j5IntervalOverlap, j6FuzzyMatch, j7EditDistance, j8AutoRangeJoin,
    j9SaltedJoin, j10GeoJoin, j11PitFeatures,
    er1EntityClusters, er2BlockingAudit, er3LinkageScore, er4GoldenRecord,
    er5IncrementalLink,
    k11PartitionedPrune, k12TimeTravel, k13SchemaEvolution,
    k14BucketedJoin, k15CdcApply, k16CompactionGate, k17IvmJoin,
    k18FormatRoundtrip, k19ForgetKeys, k20AtomicPublish, k21DynamicOverwrite,
    k22MvRewrite, k23ZorderGate, k24FullMerge, k25RetractableAgg, k26ScrubHistory,
    k28PartitionEvolution, k29ZonemapGate, k31WarehouseCompose, k32VersionDiff, k33ManifestFsck,
    k34ShallowClone, k35AsofStamp, k36BloomIndex, k37IncrementalStats,
    k38CheckedCommit, k39GovernanceGate, k43NdvStats, k44SnapshotExport,
    k46JoinAdvisor, k47TxnCommit, k48IndexedCommit, k49LeftdeepAdvisor,
    k50BroadcastAdvisor, k51SnapshotRead, k52TxnForget, k53RangeIndex,
    k54ComposedIndex, k55JoinReorderRule, k56Compaction, k57MultizoneIndex,
    k58ReorderBroadcast, k59LiveReorderFlip, k61TxnMv, k62QuantileIndex,
    k63BitmapIndex, k64TripleIndex, k27WapGate)

}
