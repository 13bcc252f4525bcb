package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables => T}
import graft.plans.AsOfJoinNative

/** Event-stream analytics in their batch form — the same logical
  * transforms graft.streaming.EventStreams runs incrementally with
  * watermarks. Timestamps are second-truncated up front on both engines
  * so µs(Spark)/ns(DuckDB) precision differences cannot shift a window or
  * session boundary.
  */
object Events {

  /** Run a streaming drain with state-volume-sized shuffle parallelism.
    *
    * Every stateful streaming operator allocates one state store PER
    * shuffle partition PER operator PER micro-batch, and each store
    * commits delta files to the checkpoint — so a stream-stream join at
    * 32 partitions pays ~128 file-commit round-trips per batch even when
    * the state is kilobytes. State partitioning is a deployment config
    * (fixed for a checkpoint's lifetime), not a topology property: at
    * 100 TB you size it to state volume before first start, exactly as
    * done here for the fixture's volume. The operator graph — watermarks,
    * join conditions, sink semantics — is unchanged by this setting.
    */
  /** Shared 3-slice event feed for the transactional-sink gates
    * (e42/e43/e45/e46/e47): each used to land its own projection of
    * the same filtered events as a private 3-file feed — one full
    * events scan + round-robin shuffle + write PER GATE, identical
    * cohort structure every time. One SUPERSET feed (all six columns)
    * lands once per (application × sf dir) under Scratch.cache and
    * every gate streams its own column subset off it (a file-source
    * user schema projects from a wider parquet schema). Slice
    * semantics are unchanged: same filtered row set, same 3
    * round-robin files, every batch still touches every day/type.
    * Gates' ledgers commit only their declared columns, so committed
    * state and the oracles are untouched. */
  private def sharedEventFeed(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val (path, landed) = graft.Scratch.cache(s,
      "events-feed3-" + d.replaceAll("[^A-Za-z0-9._-]", "-"))
    if (!landed)
      T.events(s, d).filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"), col("ts"),
          col("value").cast("decimal(10,2)").as("amt"))
        .repartition(3) // 3 feed files → 3 micro-batches → 3 transactions
        .write.mode("overwrite").parquet(path)
    path
  }

  /** Private click/purchase feed for the stream-stream join gates
    * (e21 left outer, e29 full outer): the filtered projection lands
    * once under the gate's own root (sentinel files are APPENDED per
    * drain, so the feed must be gate-private — a shared cached feed
    * would accumulate every gate's and every pass's sentinels), and
    * the max event time the sentinel arithmetic needs rides the feed
    * write itself as an Observation — no separate aggregate job. */
  private def clickPurchaseFeed(
      s: org.apache.spark.sql.SparkSession, d: String, root: String):
      (String, java.sql.Timestamp) = {
    val feed = s"$root/feed"
    val obs = org.apache.spark.sql.Observation()
    T.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .observe(obs, max(col("ts")).as("mx"))
      .coalesce(4).write.parquet(feed)
    (feed, obs.get("mx").asInstanceOf[java.sql.Timestamp])
  }

  private def withStatePartitions[A](s: org.apache.spark.sql.SparkSession, n: Int)(
      body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    // deployment dial (state partitioning is per-checkpoint config, not
    // topology): GRAFT_STATE_PARTITIONS overrides every drain's default
    // for A/B-ing state-store commit overhead on a given box
    s.conf.set(key, sys.env.getOrElse("GRAFT_STATE_PARTITIONS", n.toString))
    try body finally s.conf.set(key, prev)
  }

  /** Run a transactional-sink drain with AQE off. The txn-sink gates'
    * micro-batches are dozens of TINY jobs (staging writes, k-row index
    * folds, manifest probes); AQE contributes nothing to such plans —
    * every shuffle is already one wave — but it MATERIALIZES each
    * shuffle stage as its own job, and on these gates the wall is
    * job-count x scheduler gap, not data. Deployment-shaped dial, like
    * state partitioning: a real pipeline sets it per-stream, the
    * operator graph and committed state are unchanged. */
  private def withoutAqe[A](s: org.apache.spark.sql.SparkSession)(body: => A): A =
    graft.plans.Tuning.withoutAqe(s)(body)

  // --- e1_windowed_agg: tumbling-window (hourly) aggregation — the batch
  // equivalent of the streaming windowed count (SURVEY §2.7) ---
  val e1WindowedAgg = QueryDef.sql(
    "e1_windowed_agg",
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY date_trunc('hour', ts), event_type""".stripMargin) { (s, d) =>
    T.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total_value"))
  }

  // --- e2_sessionization: 30-minute-gap sessions per user via the
  // built-in session_window (batch mode); the oracle re-states the same
  // semantics with lag + cumulative sum. Session boundary rule: Spark's
  // session_window MERGES an event arriving exactly at last_ts + gap
  // (session end is inclusive), so a new session starts iff gap > 30min
  // strictly — verified at sf0.1 where an exact 30:00 gap exists. ---
  val e2Sessionization = QueryDef.sql(
    "e2_sessionization",
    """WITH x AS (
      |  SELECT user_id, event_id, date_trunc('second', ts) AS tss, value FROM events),
      |f AS (
      |  SELECT user_id, event_id, tss, value,
      |    CASE WHEN lag(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) IS NULL
      |           OR tss - lag(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM x),
      |s AS (
      |  SELECT user_id, tss, value,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tss, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS sess_no
      |  FROM f)
      |SELECT user_id, min(tss) AS sess_start, max(tss) AS sess_end,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, sess_no""".stripMargin) { (s, d) =>
    T.events(s, d)
      .select(col("user_id"), date_trunc("second", col("ts")).as("tss"), col("value"))
      .groupBy(session_window(col("tss"), "30 minutes"), col("user_id"))
      .agg(
        min(col("tss")).as("sess_start"),
        max(col("tss")).as("sess_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total_value"))
      .select(col("user_id"), col("sess_start"), col("sess_end"),
        col("n_events"), col("total_value"))
  }

  // --- e3_event_funnel: per-user signup→purchase conversion lag — joins a
  // stream to itself on user with an ordering predicate ---
  val e3EventFunnel = QueryDef.sql(
    "e3_event_funnel",
    """WITH s AS (SELECT user_id, min(date_trunc('second', ts)) AS first_signup
      |           FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |p AS (SELECT user_id, date_trunc('second', ts) AS pts FROM events WHERE event_type = 'purchase')
      |SELECT s.user_id, s.first_signup, min(p.pts) AS first_purchase_after
      |FROM s JOIN p ON p.user_id = s.user_id AND p.pts >= s.first_signup
      |GROUP BY s.user_id, s.first_signup""".stripMargin) { (s, d) =>
    val ev = T.events(s, d)
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(date_trunc("second", col("ts"))).as("first_signup"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), date_trunc("second", col("ts")).as("pts"))
    signups.join(purchases,
        col("p_user") === col("user_id") && col("pts") >= col("first_signup"))
      .groupBy(col("user_id"), col("first_signup"))
      .agg(min(col("pts")).as("first_purchase_after"))
  }

  // --- e4_asof_join: point-in-time join — each purchase matched to the
  // most recent signup (same user, signup_ts <= purchase_ts) by the
  // AsOfJoinExec merge pass over co-partitioned sorted children; DuckDB
  // states it natively with ASOF LEFT JOIN. Timestamps compared at µs
  // (Spark's native precision; the oracle casts ns→µs, which floors
  // identically). ---
  val e4AsofJoin = QueryDef.sql(
    "e4_asof_join",
    """WITH p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
      |           FROM events WHERE event_type = 'purchase'),
      |s AS (SELECT event_id AS signup_id, user_id, CAST(ts AS TIMESTAMP) AS sts
      |      FROM events WHERE event_type = 'signup')
      |SELECT p.purchase_id, p.user_id, s.signup_id
      |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.pts >= s.sts""".stripMargin) { (sp, d) =>
    val ev = T.events(sp, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("sts"), col("event_id").as("signup_id"))
    AsOfJoinNative.asofJoin(purchases, signups, "user_id", "s_user", "pts", "sts")
      .select(col("purchase_id"), col("user_id"), col("signup_id"))
  }

  // --- e4e_asof_tolerance: the as-of join under a FRESHNESS bound —
  // attribute each purchase to the user's latest signup ONLY if it is
  // at most 72 h old (staler matches are no-matches: the market-data /
  // feature-staleness rule e4's unbounded lookback can't express).
  // Same merge pass as e4; the tolerance is one projection over the
  // matched timestamp. Oracle: DuckDB's native ASOF finds the greatest
  // match, then the identical staleness CASE nulls it — so the gate pins
  // both the match choice AND the freshness cut. ---
  val e4eAsofTolerance = QueryDef.sql(
    "e4e_asof_tolerance",
    """WITH p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
      |           FROM events WHERE event_type = 'purchase'),
      |s AS (SELECT event_id AS signup_id, user_id, CAST(ts AS TIMESTAMP) AS sts
      |      FROM events WHERE event_type = 'signup')
      |SELECT p.purchase_id, p.user_id,
      |  CASE WHEN s.sts IS NOT NULL
      |         AND epoch_us(p.pts) - epoch_us(s.sts) <= 259200000000
      |       THEN s.signup_id END AS signup_id,
      |  CASE WHEN s.sts IS NOT NULL
      |         AND epoch_us(p.pts) - epoch_us(s.sts) <= 259200000000
      |       THEN TRUE ELSE FALSE END AS fresh
      |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.pts >= s.sts""".stripMargin) {
    (sp, d) =>
    val ev = T.events(sp, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("sts"), col("event_id").as("signup_id"))
    AsOfJoinNative.asofJoinTolerance(purchases, signups, "user_id", "s_user", "pts", "sts",
        toleranceSeconds = 72 * 3600)
      .select(col("purchase_id"), col("user_id"), col("signup_id"),
        col("signup_id").isNotNull.as("fresh"))
  }

  // --- e4b_asof_native: e4 under its own registry name (same operator,
  // same oracle). ---
  val e4bAsofNative = e4AsofJoin.copy(name = "e4b_asof_native")

  // --- e4c_asof_forward: the FORWARD as-of direction through the same
  // native operator — for each error event, the user's NEXT purchase
  // (error→recovery lookup; DuckDB's `l.ts <= r.ts` ASOF shape). Same
  // single merge pass over co-partitioned sorted children as e4, but
  // the surviving right head is shared, not consumed, on match — one
  // future row answers every left row in its gap. Gap arithmetic is the
  // µs-exact recipe: epoch_us (DuckDB) vs unix_micros (Spark) on the
  // µs-truncated timestamps, BIGINT subtraction, NULL when no purchase
  // follows. ---
  val e4cAsofForward = QueryDef.sql(
    "e4c_asof_forward",
    """WITH e AS (SELECT event_id AS error_id, user_id, CAST(ts AS TIMESTAMP) AS ets
      |           FROM events WHERE event_type = 'error'),
      |p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
      |      FROM events WHERE event_type = 'purchase')
      |SELECT e.error_id, e.user_id, p.purchase_id,
      |  epoch_us(p.pts) - epoch_us(e.ets) AS gap_us
      |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ets <= p.pts""".stripMargin) { (sp, d) =>
    val ev = T.events(sp, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("ets"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("pts"), col("event_id").as("purchase_id"))
    AsOfJoinNative
      .asofJoin(errors, purchases, "user_id", "p_user", "ets", "pts", forward = true)
      .select(col("error_id"), col("user_id"), col("purchase_id"),
        (unix_micros(col("pts")) - unix_micros(col("ets"))).as("gap_us"))
  }

  // --- e4d_asof_sql: the native as-of operator driven from SQL TEXT —
  // the `asof_match` marker predicate + lowering rule
  // (graft.plans.AsOfSqlSurface) turn a plain Spark-SQL LEFT JOIN into
  // AsOfJoinPlan, so SQL-first users reach the single-merge-pass
  // physical operator without touching the DataFrame API. Same data and
  // oracle as e4/e4b (DuckDB's native ASOF LEFT JOIN): the lowered
  // SQL-text path must match the DataFrame path bit-for-bit. The marker
  // is Unevaluable, so if the lowering ever failed to fire this query
  // would throw, not drift. ---
  private val e4dSparkSql =
    """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS pts
      |           FROM events WHERE event_type = 'purchase'),
      |s AS (SELECT event_id AS signup_id, user_id AS s_user, ts AS sts
      |      FROM events WHERE event_type = 'signup')
      |SELECT p.purchase_id, p.user_id, s.signup_id
      |FROM p LEFT JOIN s ON p.user_id = s.s_user AND asof_match(p.pts, s.sts)""".stripMargin
  val e4dAsofSql = QueryDef.sql(
    "e4d_asof_sql",
    """WITH p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
      |           FROM events WHERE event_type = 'purchase'),
      |s AS (SELECT event_id AS signup_id, user_id, CAST(ts AS TIMESTAMP) AS sts
      |      FROM events WHERE event_type = 'signup')
      |SELECT p.purchase_id, p.user_id, s.signup_id
      |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.pts >= s.sts""".stripMargin) {
    (sp, d) =>
      graft.plans.AsOfSqlSurface.enable(sp)
      T.events(sp, d).createOrReplaceTempView("events")
      sp.sql(e4dSparkSql)
  }

  // --- e28_variant_extract: the same payload through Spark 4's VARIANT
  // type — `parse_json` shreds the string ONCE into the binary variant
  // encoding and every downstream `variant_get` is a cheap typed path
  // read (the open-format answer to repeated get_json_object string
  // re-parsing; at 100 TB the parse happens once per row, not once per
  // extracted field). The variant value participates in filters,
  // grouping arithmetic, and exact aggregation; the oracle states the
  // same semantics over DuckDB's JSON reads. ---
  val e28VariantExtract = QueryDef.sql(
    "e28_variant_extract",
    """SELECT CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS BIGINT) AS k_bucket,
      |  count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
      |GROUP BY 1""".stripMargin) { (s, d) =>
    T.events(s, d)
      .withColumn("v", expr("parse_json(props)"))
      .withColumn("k", expr("variant_get(v, '$.k', 'bigint')"))
      .filter(col("k").isNotNull)
      .groupBy((col("k") % 10).cast("bigint").as("k_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).cast("bigint").as("sum_k"),
        max(col("k")).cast("bigint").as("max_k"))
  }

  // --- e5_props_extract: semi-structured JSON payload extraction — the
  // schema-on-read path every event feed needs (props arrives as a JSON
  // string; no schema migration when producers add keys). Spark's
  // get_json_object is a codegen'd path expression — the extraction
  // rides inside the scan's project, no UDF, and column pruning still
  // reaches the parquet scan for the other columns. Aggregates run
  // exact (BIGINT sum, DECIMAL value sum). ---
  val e5PropsExtract = QueryDef.sql(
    "e5_props_extract",
    """SELECT event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
      |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type""".stripMargin) { (s, d) =>
    T.events(s, d)
      .select(col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total_value"))
  }

  // --- e6_anomaly_flags: per-type z-score anomaly counting. Variance is
  // derived from EXACT decimal sums (Σv, Σv² — order-independent,
  // shuffle-safe) and only then computed in double with the identical
  // expression shape on both engines, so the |v-mean| > 3σ boundary
  // decides the same way bit-for-bit. A naive stddev_samp would
  // accumulate doubles in partition order and diverge between engines.
  // Two passes: tiny per-type stats broadcast back onto the events. ---
  val e6AnomalyFlags = QueryDef.sql(
    "e6_anomaly_flags",
    """WITH st AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sv,
      |    CAST(sum(CAST(value AS DECIMAL(14,2)) * CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS svv
      |  FROM events GROUP BY event_type),
      |stats AS (
      |  SELECT event_type, n, sv / n AS mean_value,
      |    sqrt((svv - sv * sv / n) / (n - 1)) AS sd_value
      |  FROM st)
      |SELECT s.event_type, s.n, s.mean_value, s.sd_value,
      |  CAST(sum(CASE WHEN abs(CAST(e.value AS DOUBLE) - s.mean_value) > 3 * s.sd_value
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
      |FROM events e JOIN stats s ON e.event_type = s.event_type
      |GROUP BY s.event_type, s.n, s.mean_value, s.sd_value""".stripMargin) { (s, d) =>
    val ev = T.events(s, d)
    val dec = col("value").cast("decimal(14,2)")
    val st = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec).cast("double").as("sv"),
        sum(dec * dec).cast("double").as("svv"))
      .select(col("event_type"), col("n"),
        (col("sv") / col("n")).as("mean_value"),
        sqrt((col("svv") - col("sv") * col("sv") / col("n")) / (col("n") - 1)).as("sd_value"))
    ev.join(broadcast(st), Seq("event_type"))
      .groupBy(col("event_type"), col("n"), col("mean_value"), col("sd_value"))
      .agg(sum(when(abs(col("value").cast("double") - col("mean_value")) >
        lit(3) * col("sd_value"), 1).otherwise(0)).as("n_anomalies"))
      .select(col("event_type"), col("n"), col("mean_value"), col("sd_value"),
        col("n_anomalies"))
  }

  // --- e7_cohort_retention: weekly cohort retention matrix — each user
  // joins the cohort of their first-seen week; each (cohort, week) cell
  // counts distinct active users, with the share of the cohort still
  // active as a ratio. Two aggregates + one key-aligned join; week
  // truncation is ISO-Monday in both engines, and flooring nanos→µs
  // cannot move a week boundary. ---
  val e7CohortRetention = QueryDef.sql(
    "e7_cohort_retention",
    """WITH firstw AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
      |  FROM events GROUP BY user_id),
      |cs AS (SELECT cohort, count(*) AS cohort_n FROM firstw GROUP BY cohort),
      |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
      |SELECT f.cohort, a.wk, count(*) AS n_active,
      |  CAST(count(*) AS DOUBLE) / any_value(cs.cohort_n) AS retention
      |FROM act a JOIN firstw f ON a.user_id = f.user_id
      |JOIN cs ON cs.cohort = f.cohort
      |GROUP BY f.cohort, a.wk""".stripMargin) { (s, d) =>
    val ev = T.events(s, d)
    val firstw = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort"))
    val cs = firstw.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_n"))
    val act = ev.select(col("user_id"), date_trunc("week", col("ts")).as("wk")).distinct()
    act.join(firstw, Seq("user_id"))
      .join(broadcast(cs), Seq("cohort"))
      .groupBy(col("cohort"), col("wk"))
      .agg(count(lit(1)).as("n_active"),
        (count(lit(1)).cast("double") / first(col("cohort_n"))).as("retention"))
  }

  // --- e8_rfm_segments: RFM (recency / frequency / monetary) user
  // segmentation into quartile BANDS — the classic lifecycle-marketing
  // aggregate. Both the anchor date and the per-metric band bounds are
  // 1-row scalar broadcasts (q22/a20 pattern): a rank-based ntile would
  // be a partition-less window — the single-task funnel the registry
  // guard bans — so segments are equi-width bands over the metric's
  // observed range, identical double expression shape on both engines. ---
  val e8RfmSegments = QueryDef.sql(
    "e8_rfm_segments",
    """WITH anchor AS (SELECT CAST(max(ts) AS DATE) AS a FROM events),
      |rfm AS (SELECT user_id,
      |    date_diff('day', CAST(max(ts) AS DATE), any_value(a.a)) AS r_days,
      |    count(*) AS f,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS m
      |  FROM events, anchor a GROUP BY user_id),
      |mm AS (SELECT min(r_days) AS rlo, max(r_days) AS rhi, min(f) AS flo, max(f) AS fhi,
      |              min(m) AS mlo, max(m) AS mhi FROM rfm)
      |SELECT user_id, r_days, f, m,
      |  CASE WHEN rhi = rlo THEN 1 ELSE least(CAST(floor((r_days - rlo) / ((rhi - rlo) / 4.0)) AS BIGINT), 3) + 1 END AS r_seg,
      |  CASE WHEN fhi = flo THEN 1 ELSE least(CAST(floor((f - flo) / ((fhi - flo) / 4.0)) AS BIGINT), 3) + 1 END AS f_seg,
      |  CASE WHEN mhi = mlo THEN 1 ELSE least(CAST(floor((m - mlo) / ((mhi - mlo) / 4.0)) AS BIGINT), 3) + 1 END AS m_seg
      |FROM rfm, mm""".stripMargin) { (s, d) =>
    val ev = T.events(s, d)
    val anchor = ev.agg(max(col("ts")).cast("date").as("a"))
    val rfm = ev.crossJoin(broadcast(anchor))
      .groupBy(col("user_id"))
      .agg(
        datediff(first(col("a")), max(col("ts")).cast("date")).as("r_days"),
        count(lit(1)).as("f"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("m"))
    val mm = rfm.agg(
      min(col("r_days")).as("rlo"), max(col("r_days")).as("rhi"),
      min(col("f")).as("flo"), max(col("f")).as("fhi"),
      min(col("m")).as("mlo"), max(col("m")).as("mhi"))
    def seg(x: Column, lo: Column, hi: Column): Column =
      when(hi === lo, lit(1L)).otherwise(
        least(floor((x - lo) / ((hi - lo) / lit(4.0))).cast("long"), lit(3L)) + 1)
    rfm.crossJoin(broadcast(mm))
      .select(col("user_id"), col("r_days"), col("f"), col("m"),
        seg(col("r_days"), col("rlo"), col("rhi")).as("r_seg"),
        seg(col("f"), col("flo"), col("fhi")).as("f_seg"),
        seg(col("m"), col("mlo"), col("mhi")).as("m_seg"))
  }

  // --- e9_transition_matrix: first-order Markov transitions between
  // event types per user session stream — (src, dst, count, probability
  // conditioned on src). One window for the lead, one aggregate; the
  // conditional probability is a window over the (tiny) transition
  // matrix itself. ---
  val e9TransitionMatrix = QueryDef.sql(
    "e9_transition_matrix",
    """WITH seq AS (SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |  FROM events)
      |SELECT src, dst, count(*) AS n,
      |  CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY src) AS p
      |FROM seq WHERE dst IS NOT NULL
      |GROUP BY src, dst""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    T.events(s, d)
      .select(col("event_type").as("src"), lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("src"))))
  }

  // --- e10_rolling_dau: trailing-7-day distinct active users per day —
  // the rolling-distinct metric every activity dashboard needs and the
  // one a windowed count CANNOT express (distinct doesn't decompose
  // over sliding frames). Scale rewrite: each (day, user) contributes
  // itself to the 7 target days it covers via a 7-row explode — all
  // joins equi, distinct handled by one (day, user) aggregate, never a
  // non-equi BETWEEN join (which Spark would nested-loop). The oracle
  // runs the naive BETWEEN join. ---
  val e10RollingDau = QueryDef.sql(
    "e10_rolling_dau",
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |days AS (SELECT DISTINCT day FROM du)
      |SELECT CAST(d.day AS TIMESTAMP) AS day, count(DISTINCT u.user_id) AS dau7
      |FROM days d JOIN du u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      |GROUP BY d.day""".stripMargin) { (s, d) =>
    val du = T.events(s, d)
      .select(col("ts").cast("date").as("day"), col("user_id")).distinct()
    val days = du.select(col("day")).distinct()
    du.select(col("day"), col("user_id"), explode(sequence(lit(0), lit(6))).as("off"))
      .select(date_add(col("day"), col("off")).as("day"), col("user_id"))
      .join(days, Seq("day"), "left_semi")   // trim the +6 tail to real days
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("dau7"))
      // date → timestamp for render parity with the oracle's DATE column
      .select(col("day").cast("timestamp").as("day"), col("dau7"))
  }

  // --- e11_stream_windows: STRUCTURED STREAMING under the hash gate —
  // not a batch equivalent like e1-e10 but an actual streaming run: the
  // events land in a feed directory, a watermarked file-source stream
  // aggregates daily windows per event type under Trigger.AvailableNow,
  // and each micro-batch lands through the keyed-upsert sink
  // (EventStreams.upsertSink's foreachBatch shape — at-least-once
  // micro-batches ⇒ effectively-once table). The returned frame is the
  // upserted TABLE, so the oracle's batch GROUP BY gates the whole
  // streaming path end-to-end: source → watermark → stateful window agg
  // → sink. At scale this is the same pipeline pointed at an arriving
  // directory with a persistent checkpoint; AvailableNow drains and
  // stops, a cron re-invocation processes only new files. ---
  val e11StreamWindows = QueryDef.sql(
    "e11_stream_windows",
    """SELECT date_trunc('day', ts) AS window_start, event_type, count(*) AS n
      |FROM events
      |GROUP BY date_trunc('day', ts), event_type""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    val root = graft.Scratch.dir("e11-stream")
    val feed = s"$root/feed"; val state = s"$root/state"; val ckpt = s"$root/ckpt"
    T.events(s, d).select(col("ts"), col("event_type")).write.parquet(feed)
    val stream = s.readStream
      .schema("ts TIMESTAMP, event_type STRING")
      .parquet(feed)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
    val q = agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.Upsert.upsertParquet(batch.sparkSession, state, batch,
          Seq("window_start", "event_type"))
      }
      .start()
    q.awaitTermination()
    s.read.parquet(state).select(col("window_start"), col("event_type"), col("n"))
    }
  }

  // --- e12_stream_stream_join: STRUCTURED STREAMING stream-stream
  // interval join under the hash gate — click→purchase attribution:
  // every purchase matches every click by the same user in the
  // preceding 6 hours. Two watermarked file-source streams interval-
  // join in append mode and land through Spark's exactly-once file
  // sink (manifest-committed); the returned frame is the sink table
  // read back THROUGH that manifest, so the oracle's batch interval
  // join gates source → watermark → join state → sink end-to-end.
  // Scale design: this is the production attribution topology — both
  // sides hash-partition on user_id (equi part of the condition), join
  // state is watermark-bounded (clicks retained watermark + 6 h,
  // purchases watermark only), inner-join matches emit eagerly so
  // latency doesn't wait on state expiry, and each micro-batch's files
  // commit atomically via the sink manifest. The oracle compares on
  // microsecond-floored timestamps (epoch_ns // 1000) to mirror the
  // nanos→micros flooring Tables.events applies on read. ---
  val e12StreamStreamJoin = QueryDef.sql(
    "e12_stream_stream_join",
    """WITH v AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase')
      |SELECT v.event_id AS click_id, p.event_id AS purchase_id, v.user_id
      |FROM v JOIN p ON v.user_id = p.user_id
      |  AND epoch_ns(p.ts) // 1000 >= epoch_ns(v.ts) // 1000
      |  AND epoch_ns(p.ts) // 1000 < epoch_ns(v.ts) // 1000 + 21600000000""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    val root = graft.Scratch.dir("e12-stream")
    val feed = s"$root/feed"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    T.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .write.parquet(feed)
    def side(tpe: String) = s.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING")
      .parquet(feed)
      .filter(col("event_type") === tpe)
    val clicks = side("click")
      .select(col("event_id").as("click_id"), col("ts").as("cts"), col("user_id"))
      .withWatermark("cts", "1 hour")
    val purchases = side("purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("pts"), col("user_id").as("p_user"))
      .withWatermark("pts", "1 hour")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("pts") >= col("cts") &&
        col("pts") < col("cts") + expr("INTERVAL 6 HOURS"))
      .select(col("click_id"), col("purchase_id"), col("user_id"))
    val q = joined.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(out).select(col("click_id"), col("purchase_id"), col("user_id"))
    }
  }

  // --- e13_conversion_lag: per-user view→purchase conversion latency —
  // the funnel-TIMING complement to e3's funnel counts: first view per
  // user, first purchase AT OR AFTER that view, lag in whole minutes.
  // Shape at scale: two narrow filtered aggregates on user_id (partial
  // agg before each exchange) + one equi-join — no windows over the
  // event stream, no self-join of the raw table. Second-truncated
  // timestamps on both engines (e2's discipline) so ns/µs precision
  // can't shift a lag. ---
  val e13ConversionLag = QueryDef.sql(
    "e13_conversion_lag",
    """WITH x AS (SELECT user_id, event_type, date_trunc('second', ts) AS tss FROM events),
      |v AS (SELECT user_id, min(tss) AS first_view FROM x
      |      WHERE event_type = 'view' GROUP BY user_id),
      |p AS (SELECT x.user_id, v.first_view, min(x.tss) AS first_purchase
      |      FROM x JOIN v ON x.user_id = v.user_id
      |      WHERE x.event_type = 'purchase' AND x.tss >= v.first_view
      |      GROUP BY x.user_id, v.first_view)
      |SELECT user_id, first_view, first_purchase,
      |  date_diff('second', first_view, first_purchase) // 60 AS lag_minutes
      |FROM p""".stripMargin) { (s, d) =>
    val x = T.events(s, d)
      .select(col("user_id"), col("event_type"), date_trunc("second", col("ts")).as("tss"))
    val v = x.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tss")).as("first_view"))
    x.filter(col("event_type") === "purchase")
      .join(v, Seq("user_id"))
      .filter(col("tss") >= col("first_view"))
      .groupBy(col("user_id"), col("first_view"))
      .agg(min(col("tss")).as("first_purchase"))
      .select(col("user_id"), col("first_view"), col("first_purchase"),
        expr("(unix_timestamp(first_purchase) - unix_timestamp(first_view)) div 60")
          .as("lag_minutes"))
  }

  // --- e14_robust_zscore: median/MAD outlier detection per event type —
  // the ROBUST complement to e6's mean/stddev flags (one fat-tailed
  // burst drags a mean; the median doesn't move). Exactness: values are
  // DECIMAL(10,2), both medians are the a21 lower-median (value-domain
  // count cumulation — never a sort of raw rows; the window partitions
  // by event_type over the collapsed value table), deviations and the
  // 3×MAD threshold compare as exact decimals, and only the two
  // reported medians cast to double at the very end. ---
  val e14RobustZscore = QueryDef.sql(
    "e14_robust_zscore",
    """WITH x AS (SELECT event_type, CAST(value AS DECIMAL(10,2)) AS v FROM events),
      |vc AS (SELECT event_type, v, count(*) AS c FROM x GROUP BY event_type, v),
      |tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM vc GROUP BY event_type),
      |cum AS (SELECT event_type, v,
      |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cc FROM vc),
      |med AS (SELECT cum.event_type, min(v) AS med FROM cum JOIN tot USING (event_type)
      |        WHERE 2 * cc >= n GROUP BY cum.event_type),
      |dev AS (SELECT x.event_type, abs(x.v - m.med) AS av FROM x JOIN med m USING (event_type)),
      |dvc AS (SELECT event_type, av, count(*) AS c FROM dev GROUP BY event_type, av),
      |dcum AS (SELECT event_type, av,
      |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY av) AS BIGINT) AS cc FROM dvc),
      |mad AS (SELECT dcum.event_type, min(av) AS mad FROM dcum JOIN tot USING (event_type)
      |        WHERE 2 * cc >= n GROUP BY dcum.event_type)
      |SELECT x.event_type,
      |  CAST(m.med AS DOUBLE) AS median_value,
      |  CAST(d.mad AS DOUBLE) AS mad,
      |  CAST(sum(CASE WHEN abs(x.v - m.med) > 3 * d.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  count(*) AS n
      |FROM x JOIN med m USING (event_type) JOIN mad d USING (event_type)
      |GROUP BY x.event_type, m.med, d.mad""".stripMargin) { (s, d) =>
    val x = T.events(s, d)
      .select(col("event_type"), col("value").cast("decimal(10,2)").as("v"))
    def lowerMedian(vals: DataFrame, out: String): DataFrame = {
      val vc = vals.groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("c"))
      val tot = vc.groupBy(col("event_type")).agg(sum(col("c")).cast("long").as("n"))
      val cum = vc.withColumn("cc", sum(col("c")).over(
        Window.partitionBy(col("event_type")).orderBy(col("v"))).cast("long"))
      cum.join(broadcast(tot), Seq("event_type"))
        .filter(lit(2) * col("cc") >= col("n"))
        .groupBy(col("event_type")).agg(min(col("v")).as(out))
    }
    val med = lowerMedian(x, "med")
    val dev = x.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), abs(col("v") - col("med")).as("v"))
    val mad = lowerMedian(dev, "mad")
    x.join(broadcast(med), Seq("event_type"))
      .join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"), col("med"), col("mad"))
      .agg(sum(when(abs(col("v") - col("med")) > lit(3) * col("mad"), 1).otherwise(0))
          .cast("long").as("n_outliers"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("med").cast("double").as("median_value"),
        col("mad").cast("double").as("mad"), col("n_outliers"), col("n"))
  }

  // --- e15_stream_dedup: STRUCTURED STREAMING deduplication under the
  // hash gate — the streaming face of d1: the feed carries every event
  // TWICE (the at-least-once delivery reality), the stream drops
  // duplicates by key within the watermark
  // (dropDuplicatesWithinWatermark: state is bounded by the lateness
  // horizon, not the stream's history — the property that makes
  // streaming dedup viable at all), lands append-only through the
  // exactly-once file sink, and the read-back table must hash-match the
  // batch distinct of the original fixture. Duplicate copies carry
  // identical payloads, so which copy survives is unobservable —
  // deterministic under any micro-batch split. ---
  val e15StreamDedup = QueryDef.sql(
    "e15_stream_dedup",
    """SELECT event_id, user_id, event_type, date_trunc('second', ts) AS tss
      |FROM events""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    val root = graft.Scratch.dir("e15-stream")
    val feed = s"$root/feed"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val ev = T.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), date_trunc("second", col("ts")).as("tss"))
    ev.unionAll(ev).write.parquet(feed) // every event delivered twice
    val deduped = s.readStream
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP, tss TIMESTAMP")
      .parquet(feed)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped
      .select(col("event_id"), col("user_id"), col("event_type"), col("tss"))
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(out)
      .select(col("event_id"), col("user_id"), col("event_type"), col("tss"))
    }
  }

  // --- e16_activity_islands: gaps-and-islands — per-user consecutive-day
  // activity streaks (the classic sequence-analytics shape: engagement
  // streaks, uptime runs, SLA windows). day − row_number(day) is constant
  // within a run of consecutive days, so streaks fall out of one
  // per-user window + two partial-aggregated groupBys; no self-join, no
  // BETWEEN join. The window partitions by user_id (bounded by one
  // user's active days — never a global sort), and the distinct up front
  // means the window input is (user, day) pairs, not raw events. ---
  val e16ActivityIslands = QueryDef.sql(
    "e16_activity_islands",
    """WITH act AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      |  FROM events),
      |r AS (SELECT user_id, day,
      |        CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS rn
      |      FROM act),
      |isl AS (SELECT user_id, day - rn AS anchor, count(*) AS len
      |        FROM r GROUP BY user_id, day - rn)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_streaks,
      |       max(len) AS longest, CAST(sum(len) AS BIGINT) AS active_days
      |FROM isl GROUP BY user_id""".stripMargin) { (s, d) =>
    val act = T.events(s, d)
      .select(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .distinct()
    val r = act.withColumn("rn",
      row_number().over(Window.partitionBy(col("user_id")).orderBy(col("day")))
        .cast("int"))
    val islands = r
      .groupBy(col("user_id"), date_sub(col("day"), col("rn")).as("anchor"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_streaks"),
      max(col("len")).as("longest"),
      sum(col("len")).as("active_days"))
  }

  // --- e17_session_paths: top-20 most common session journeys — e2's
  // 30-minute sessions reduced to their ordered event-type path string
  // (the product-analytics "what do users actually do" query). The path
  // is built per session with collect_list(struct(tss, event_id, type))
  // → array_sort → join: the sort happens INSIDE each session's
  // collected array (bounded by session length), never as a global
  // order-by; the final count is one partial-aggregated groupBy on the
  // path string and the LIMIT carries a total tie-break (n DESC, path)
  // so top-20 is deterministic on both engines. ---
  val e17SessionPaths = QueryDef.sql(
    "e17_session_paths",
    """WITH x AS (
      |  SELECT user_id, event_id, event_type, date_trunc('second', ts) AS tss FROM events),
      |f AS (
      |  SELECT user_id, event_id, event_type, tss,
      |    CASE WHEN lag(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) IS NULL
      |           OR tss - lag(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM x),
      |s AS (
      |  SELECT user_id, event_id, event_type, tss,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tss, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS sess_no
      |  FROM f),
      |paths AS (
      |  SELECT user_id, sess_no,
      |    string_agg(event_type, '>' ORDER BY tss, event_id) AS path
      |  FROM s GROUP BY user_id, sess_no)
      |SELECT path, count(*) AS n
      |FROM paths GROUP BY path
      |ORDER BY n DESC, path LIMIT 20""".stripMargin) { (s, d) =>
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("tss"), col("event_id"))
    val x = T.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        date_trunc("second", col("ts")).as("tss"))
    val sess = x
      .withColumn("new_sess",
        when(lag(col("tss"), 1).over(byUser).isNull
          || col("tss").cast("long") - lag(col("tss"), 1).over(byUser).cast("long") > 1800L, 1L)
          .otherwise(0L))
      .withColumn("sess_no", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val paths = sess
      .groupBy(col("user_id"), col("sess_no"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(tss, event_id, event_type))), r -> r.event_type)"),
        ">").as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  // --- e18_stream_ivm: STREAMING incremental view maintenance — k17's
  // delta-join discipline run by Structured Streaming itself: the join
  // view's base segment lands once (orders < cut ⋈ lineitem), then the
  // orders delta arrives as a file-source STREAM and each micro-batch
  // stream-static joins against the static lineitem side, appending
  // increment segments through Spark's exactly-once file sink
  // (manifest-committed). The view read = base segment ∪ sink segments,
  // aggregated. The oracle is the plain full join — the hash match
  // proves the streamed refresh is equivalent to recomputation. Scale:
  // per refresh the work is |delta| ⋈ lineitem (stream side broadcasts
  // per batch), the view is append-only segments, and the sink manifest
  // makes replays invisible. ---
  val e18StreamIvm = QueryDef.sql(
    "e18_stream_ivm",
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    val root = graft.Scratch.dir("e18-ivm")
    val feed = s"$root/feed"; val baseSeg = s"$root/view_base"
    val incSeg = s"$root/view_inc"; val ckpt = s"$root/ckpt"
    val cut = to_timestamp(lit("1998-01-01"))
    val o = T.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
    val li = T.lineitem(s, d)
      .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"))
    o.filter(col("o_orderdate") < cut).join(li, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("l_extendedprice"))
      .write.parquet(baseSeg)
    o.filter(col("o_orderdate") >= cut).drop("o_orderdate").write.parquet(feed)
    val stream = s.readStream
      .schema("o_orderkey BIGINT, o_orderpriority STRING")
      .parquet(feed)
    val q = stream.join(li, Seq("o_orderkey")) // stream-static inner join
      .writeStream
      .format("parquet")
      .option("path", incSeg)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(baseSeg).unionByName(s.read.parquet(incSeg))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("total"))
    }
  }

  // --- e19_stream_sessions: CUSTOM-STATE streaming sessionization under
  // the hash gate — e2's semantics computed not by session_window but by
  // EventStreams.sessionize's flatMapGroupsWithState (explicit per-user
  // GroupState, event-time timeout). Determinism: a far-future sentinel
  // event per user rides in the feed, so every REAL session closes via
  // the in-batch gap break (never the watermark-timing-dependent timeout
  // path); sentinel sessions stay in state and are never emitted. The
  // feed's timestamps are second-truncated first (state arithmetic is on
  // epoch millis; the oracle replays the same strictly-greater-than-gap
  // rule on the truncated times). total_value is excluded: the state
  // fold adds doubles in per-batch arrival order, which no SQL oracle
  // can replicate associatively. Scale: state is one small record per
  // ACTIVE user (bounded by watermark + timeout, not history), the only
  // shuffle is the groupByKey hash partition on user_id, and the same
  // job pointed at an arriving directory with a persistent checkpoint is
  // the production topology. ---
  val e19StreamSessions = QueryDef.sql(
    "e19_stream_sessions",
    """WITH x AS (
      |  SELECT user_id, event_id, date_trunc('second', ts) AS tss FROM events),
      |f AS (
      |  SELECT user_id, event_id, tss,
      |    CASE WHEN lag(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) IS NULL
      |           OR tss - lag(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM x),
      |s AS (
      |  SELECT user_id, tss,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tss, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS sess_no
      |  FROM f)
      |SELECT user_id, min(tss) AS sess_start, max(tss) AS sess_end,
      |  count(*) AS n_events
      |FROM s GROUP BY user_id, sess_no""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.streaming.EventStreams
    withStatePartitions(s, 4) {
    val root = graft.Scratch.dir("e19-sess")
    val feed = s"$root/feed"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val ev = T.events(s, d).select(col("event_id"),
      date_trunc("second", col("ts")).as("ts"), col("user_id"),
      col("event_type"), col("value"))
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 3L * 24 * 3600 * 1000)
    val sentinels = ev.select(col("user_id")).distinct()
      .select(lit(-1L).as("event_id"), lit(sentinelTs).as("ts"), col("user_id"),
        lit("sentinel").as("event_type"), lit(0.0).as("value"))
    ev.unionByName(sentinels).coalesce(8).write.parquet(feed)
    val stream = s.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")
      .parquet(feed)
      .as[EventStreams.Event]
    val q = EventStreams.sessionize(stream, gapMinutes = 30)
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(out)
      .filter(col("sess_start") < lit(sentinelTs))
      .select(col("user_id"), col("sess_start"), col("sess_end"), col("n_events"))
    }
  }

  // --- e20_late_data: CHECKPOINT-RESUME watermark semantics under the
  // hash gate — the part of streaming correctness e11-e19 don't touch:
  // what happens to LATE data across restarts. Phase 1 drains the
  // on-time feed (event_id % 7 != 0) with a 1-hour watermark and day
  // windows through the keyed-upsert sink; the watermark
  // (ms-floored max event time - 1h) persists in the checkpoint. Phase 2
  // appends the remaining events and re-runs the SAME query on the SAME
  // checkpoint: the file source picks only the new files, and rows whose
  // day-window already closed (window_end <= restored watermark) are
  // dropped by Spark's late-data filter while rows into still-open
  // windows merge with the restored state. The oracle replays the rule
  // arithmetically (every fixture ts carries nonzero microseconds, so
  // watermark-equals-boundary ties cannot occur). Scale: this is the
  // production incremental topology — bounded state via the watermark,
  // per-run cost proportional to new files, late arrivals beyond the
  // lateness SLA dropped deterministically instead of corrupting closed
  // aggregates. ---
  val e20LateData = QueryDef.sql(
    "e20_late_data",
    """WITH a AS (SELECT ts FROM events WHERE event_id % 7 != 0),
      |wm AS (SELECT (epoch_ns(max(ts)) // 1000000 - 3600000) * 1000 AS w FROM a),
      |keep AS (
      |  SELECT ts, event_type FROM events WHERE event_id % 7 != 0
      |  UNION ALL
      |  SELECT e.ts, e.event_type FROM events e, wm
      |  WHERE e.event_id % 7 = 0
      |    AND epoch_ns(date_trunc('day', e.ts) + INTERVAL 1 DAY) // 1000 > wm.w)
      |SELECT date_trunc('day', ts) AS window_start, event_type, count(*) AS n
      |FROM keep GROUP BY window_start, event_type""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    val root = graft.Scratch.dir("e20-late")
    val feed = s"$root/feed"; val state = s"$root/state"; val ckpt = s"$root/ckpt"
    val ev = T.events(s, d).select(col("event_id"), col("ts"), col("event_type"))
    ev.filter(col("event_id") % 7 =!= 0).coalesce(4).write.parquet(feed)
    def drain(): Unit = {
      val stream = s.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, event_type STRING")
        .parquet(feed)
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      val q = agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.operators.Upsert.upsertParquet(batch.sparkSession, state, batch,
            Seq("window_start", "event_type"))
        }
        .start()
      q.awaitTermination()
    }
    drain()
    ev.filter(col("event_id") % 7 === 0).coalesce(4).write.mode("append").parquet(feed)
    drain()
    s.read.parquet(state).select(col("window_start"), col("event_type"), col("n"))
    }
  }

  // --- e21_stream_outer_join: LEFT OUTER stream-stream join under the
  // hash gate — e12's attribution topology plus the hard part: clicks
  // with NO purchase in the 6-hour horizon must still emit (null-
  // extended), which in Structured Streaming happens only when the
  // watermark retires their join state. Determinism: two sentinel
  // drains (far-future rows on both sides, user_id -1) advance the
  // watermark in two steps — the first makes it pass every real click's
  // horizon, the second runs a batch under that watermark so ALL real
  // unmatched state flushes; matched pairs emitted eagerly in phase 1.
  // The returned frame filters the sentinels and reads back through the
  // exactly-once file-sink manifest. The oracle is the plain batch LEFT
  // JOIN on µs-floored times — matched rows AND null-extended rows must
  // both agree. Scale: state is watermark-bounded on both sides
  // (clicks wm+6h, purchases wm), the join hash-partitions on user_id,
  // and late-arriving sentinels are exactly how production pipelines
  // force end-of-day flushes. ---
  val e21StreamOuterJoin = QueryDef.sql(
    "e21_stream_outer_join",
    """WITH v AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase')
      |SELECT v.event_id AS click_id, p.event_id AS purchase_id, v.user_id
      |FROM v LEFT JOIN p ON v.user_id = p.user_id
      |  AND epoch_ns(p.ts) // 1000 >= epoch_ns(v.ts) // 1000
      |  AND epoch_ns(p.ts) // 1000 < epoch_ns(v.ts) // 1000 + 21600000000""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    val root = graft.Scratch.dir("e21-outer")
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val (feed, maxTs) = clickPurchaseFeed(s, d, root)
    def sentinel(daysAhead: Int): org.apache.spark.sql.DataFrame = {
      val ts = new java.sql.Timestamp(maxTs.getTime + daysAhead.toLong * 24 * 3600 * 1000)
      Seq(("click", -1L), ("purchase", -2L)).map { sp =>
        s.range(1).select(lit(sp._2).as("event_id"),
          lit(ts).as("ts"), lit(-1L).as("user_id"), lit(sp._1).as("event_type"))
      }.reduce(_ unionByName _)
    }
    def drain(): Unit = {
      def side(tpe: String) = s.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING")
        .parquet(feed)
        .filter(col("event_type") === tpe)
      val clicks = side("click")
        .select(col("event_id").as("click_id"), col("ts").as("cts"), col("user_id"))
        .withWatermark("cts", "1 hour")
      val purchases = side("purchase")
        .select(col("event_id").as("purchase_id"), col("ts").as("pts"),
          col("user_id").as("p_user"))
        .withWatermark("pts", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("pts") >= col("cts") &&
          col("pts") < col("cts") + expr("INTERVAL 6 HOURS"),
        "left_outer")
        .select(col("click_id"), col("purchase_id"), col("user_id"))
      val q = joined.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // TWO drains, not three (round-12 reclaim — each drain is a full
    // stream spin-up): drain 1 processes feed + sentinel-10 as one
    // batch, so its END-of-batch watermark already clears every real
    // row's 6h horizon (eviction uses the PREVIOUS batch's watermark,
    // so nothing can retire mid-batch-1); drain 2's batch then runs
    // under that watermark and null-extends all retired state. The
    // emitted row set is identical to the former feed/s10/s20 3-drain
    // cohorts: inner matches emit in batch 1 either way, and every
    // real unmatched row retires in the second batch under the same
    // watermark value. Only the sentinels' OWN null-extensions differ
    // (they'd need a third batch) — and those leave via the user_id
    // filter in both shapes.
    sentinel(10).coalesce(1).write.mode("append").parquet(feed)
    drain()
    sentinel(20).coalesce(1).write.mode("append").parquet(feed)
    drain()
    s.read.parquet(out)
      .filter(col("user_id") >= 0)
      .select(col("click_id"), col("purchase_id"), col("user_id"))
    }
  }

  // --- e29_stream_full_outer: FULL OUTER stream-stream join — the last
  // cell of the join-type matrix (e12 inner, e21 left outer). Both
  // sides' unmatched state must null-extend on watermark retirement:
  // clicks with no purchase in their 6-hour horizon AND purchases no
  // click preceded. Same two-sentinel drain as e21 (the first advance
  // pushes the watermark past every real row's horizon, the second runs
  // a batch under it so both state stores flush); the sentinel pair
  // matches only itself and leaves through the user_id filter. Scale:
  // state on the click side is bounded by wm+6h, on the purchase side
  // by the condition's implied wm−6h lower bound — Spark derives both
  // from the range predicate; nothing is unbounded. Oracle: the batch
  // FULL JOIN on µs-floored times. ---
  val e29StreamFullOuter = QueryDef.sql(
    "e29_stream_full_outer",
    """WITH v AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase')
      |SELECT v.event_id AS click_id, p.event_id AS purchase_id,
      |  coalesce(v.user_id, p.user_id) AS user_id
      |FROM v FULL JOIN p ON v.user_id = p.user_id
      |  AND epoch_ns(p.ts) // 1000 >= epoch_ns(v.ts) // 1000
      |  AND epoch_ns(p.ts) // 1000 < epoch_ns(v.ts) // 1000 + 21600000000""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    val root = graft.Scratch.dir("e29-full")
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val (feed, maxTs) = clickPurchaseFeed(s, d, root)
    def sentinel(daysAhead: Int): org.apache.spark.sql.DataFrame = {
      val ts = new java.sql.Timestamp(maxTs.getTime + daysAhead.toLong * 24 * 3600 * 1000)
      Seq(("click", -1L), ("purchase", -2L)).map { sp =>
        s.range(1).select(lit(sp._2).as("event_id"),
          lit(ts).as("ts"), lit(-1L).as("user_id"), lit(sp._1).as("event_type"))
      }.reduce(_ unionByName _)
    }
    def drain(): Unit = {
      def side(tpe: String) = s.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING")
        .parquet(feed)
        .filter(col("event_type") === tpe)
      val clicks = side("click")
        .select(col("event_id").as("click_id"), col("ts").as("cts"), col("user_id"))
        .withWatermark("cts", "1 hour")
      val purchases = side("purchase")
        .select(col("event_id").as("purchase_id"), col("ts").as("pts"),
          col("user_id").as("p_user"))
        .withWatermark("pts", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("pts") >= col("cts") &&
          col("pts") < col("cts") + expr("INTERVAL 6 HOURS"),
        "full_outer")
        .select(col("click_id"), col("purchase_id"),
          coalesce(col("user_id"), col("p_user")).as("user_id"))
      val q = joined.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // TWO drains, not three (round-12 reclaim — each drain is a full
    // stream spin-up): drain 1 processes feed + sentinel-10 as one
    // batch, so its END-of-batch watermark already clears every real
    // row's 6h horizon (eviction uses the PREVIOUS batch's watermark,
    // so nothing can retire mid-batch-1); drain 2's batch then runs
    // under that watermark and null-extends all retired state. The
    // emitted row set is identical to the former feed/s10/s20 3-drain
    // cohorts: inner matches emit in batch 1 either way, and every
    // real unmatched row retires in the second batch under the same
    // watermark value. Only the sentinels' OWN null-extensions differ
    // (they'd need a third batch) — and those leave via the user_id
    // filter in both shapes.
    sentinel(10).coalesce(1).write.mode("append").parquet(feed)
    drain()
    sentinel(20).coalesce(1).write.mode("append").parquet(feed)
    drain()
    s.read.parquet(out)
      .filter(col("user_id") >= 0)
      .select(col("click_id"), col("purchase_id"), col("user_id"))
    }
  }

  // --- e22_transform_with_state: customer-lifetime-value milestones on
  // Spark 4's transformWithState API under the hash gate — the
  // arbitrary-state v2 successor of mapGroupsWithState (e19's API),
  // running on the RocksDB state store. Per user the processor holds ONE
  // long (cumulative spend in cents, quantized through DECIMAL so the
  // fold is exact integer addition) and emits a row whenever the total
  // crosses another 100-unit boundary. The oracle replays the fold as a
  // running-sum window with a boundary-crossing filter. Determinism:
  // in-batch (ts, event_id) sort before folding; integer state, no
  // doubles. Scale: 8 bytes of state per user FOREVER — the topology
  // for unbounded lifetime aggregates where watermark-windowed operators
  // would drop history; the only shuffle is the groupByKey hash on
  // user_id. ---
  val e22TransformWithState = QueryDef.sql(
    "e22_transform_with_state",
    """WITH p AS (SELECT user_id, event_id, ts,
      |    CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, event_id, cents,
      |    sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM p)
      |SELECT user_id, event_id, CAST(cum AS BIGINT) AS cum_cents,
      |  CAST(cum // 10000 AS BIGINT) AS milestone
      |FROM c WHERE cum // 10000 > (cum - cents) // 10000""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.streaming.Milestones
    withStatePartitions(s, 4) {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.get(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = graft.Scratch.dir("e22-twstate")
      val feed = s"$root/feed"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
      T.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          (col("value").cast("decimal(14,2)") * 100).cast("long").as("cents"))
        .coalesce(4).write.parquet(feed)
      val stream = s.readStream
        .schema("user_id BIGINT, event_id BIGINT, ts_us BIGINT, cents BIGINT")
        .parquet(feed)
        .as[Milestones.Purchase]
      val q = stream.groupByKey(_.user_id)
        .transformWithState(
          new Milestones.SpendMilestones(stepCents = 10000L),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out)
        .select(col("user_id"), col("event_id"), col("cum_cents"), col("milestone"))
    } finally s.conf.set(providerKey, prevProvider)
    }
  }

  // --- e23_state_map: MapState on the arbitrary-state v2 API — per
  // user a MapState[String, Long] running counter PER EVENT TYPE, a row
  // emitted when a (user, type) count reaches a power of two (the
  // log-throttled alert cadence). The sub-keyed shape ValueState can't
  // express without packing; state is one long per DISTINCT (user,
  // type) — bounded by the type vocabulary, not the feed length. Oracle
  // replays it as a per-(user, type) row_number with a power-of-two
  // filter. Determinism: integer counters over the in-batch (ts,
  // event_id) sort; emission per input row, batching-independent. ---
  val e23StateMap = QueryDef.sql(
    "e23_state_map",
    """WITH n AS (SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts, event_id) AS n
      |  FROM events)
      |SELECT user_id, event_id, event_type, CAST(n AS BIGINT) AS n
      |FROM n WHERE (n & (n - 1)) = 0""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.streaming.Milestones
    withStatePartitions(s, 4) {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.get(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = graft.Scratch.dir("e23-twstate")
      val feed = s"$root/feed"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
      T.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .coalesce(4).write.parquet(feed)
      val stream = s.readStream
        .schema("user_id BIGINT, event_id BIGINT, ts_us BIGINT, event_type STRING")
        .parquet(feed)
        .as[Milestones.TypedEvent]
      val q = stream.groupByKey(_.user_id)
        .transformWithState(
          new Milestones.TypeCounters,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out)
        .select(col("user_id"), col("event_id"), col("event_type"), col("n"))
    } finally s.conf.set(providerKey, prevProvider)
    }
  }

  // --- e24_state_list: ListState on the same API — per user the last
  // ≤3 purchase amounts (exact cents) ride in a ListState[Long]; every
  // purchase emits the trailing-window sum/count including itself, then
  // the list is re-put trimmed to 3. Bounded 24-byte state per user for
  // a ROWS-frame rolling statistic over an unbounded feed — the shape a
  // watermark-windowed aggregate can't produce (it closes windows; this
  // emits per event forever). Oracle: sum/count OVER (ROWS 2
  // PRECEDING). ---
  val e24StateList = QueryDef.sql(
    "e24_state_list",
    """WITH p AS (SELECT user_id, event_id, ts,
      |    CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase')
      |SELECT user_id, event_id, cents,
      |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS 2 PRECEDING) AS BIGINT) AS sum3,
      |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS 2 PRECEDING) AS BIGINT) AS n3
      |FROM p""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.streaming.Milestones
    withStatePartitions(s, 4) {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.get(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = graft.Scratch.dir("e24-twstate")
      val feed = s"$root/feed"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
      T.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          (col("value").cast("decimal(14,2)") * 100).cast("long").as("cents"))
        .coalesce(4).write.parquet(feed)
      val stream = s.readStream
        .schema("user_id BIGINT, event_id BIGINT, ts_us BIGINT, cents BIGINT")
        .parquet(feed)
        .as[Milestones.Purchase]
      val q = stream.groupByKey(_.user_id)
        .transformWithState(
          new Milestones.TrailingSpend,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out)
        .select(col("user_id"), col("event_id"), col("cents"),
          col("sum3"), col("n3"))
    } finally s.conf.set(providerKey, prevProvider)
    }
  }

  // --- e25_chained_agg: MULTIPLE STATEFUL OPERATORS in one streaming
  // query (Spark 4's chained-aggregation support) under the hash gate —
  // purchases roll into 1-day windows, and the day aggregates re-
  // aggregate into epoch-aligned 7-day windows INSIDE THE SAME QUERY
  // (window-over-window via `window(col("window"), "7 days")`), both
  // levels in append mode on one checkpoint. Day windows emit when the
  // watermark passes their end and flow straight into the week-level
  // state; week windows emit when it passes theirs. Two sentinel drains
  // advance the watermark then run batches under it so both levels
  // flush (the e21 recipe). The sentinels MUST be real purchases:
  // Catalyst pushes the event-type filter below EventTimeWatermark into
  // the scan, so a '__sentinel'-typed row would be filtered AT THE
  // SOURCE and never advance the clock (measured: the watermark pins
  // and the last week never emits). They carry cents=0 and land ≥2
  // week-buckets in the future, and the output keeps only weeks up to
  // the last REAL week bucket. Window starts compare as BIGINT epoch-µs
  // on both engines (no date/tz surface).
  // Scale: this replaces the two-job day→week cascade (with its
  // intermediate table and second scheduler) with one incremental
  // query; state is watermark-bounded at both levels and the only
  // shuffles are the two window-key hashes. ---
  val e25ChainedAgg = QueryDef.sql(
    "e25_chained_agg",
    """WITH p AS (SELECT epoch_ns(ts) // 1000 AS us,
      |    CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |d AS (SELECT (us // 86400000000) * 86400000000 AS day_us,
      |    count(*) AS n, sum(cents) AS cents
      |  FROM p GROUP BY 1)
      |SELECT (day_us // 604800000000) * 604800000000 AS week_us,
      |  CAST(sum(n) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS cents
      |FROM d GROUP BY 1""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    val root = graft.Scratch.dir("e25-chained")
    val feed = s"$root/feed"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val ev = T.events(s, d)
      .select(col("ts"), col("event_type"),
        (col("value").cast("decimal(14,2)") * 100).cast("long").as("cents"))
    // the purchase max-ts the sentinel arithmetic needs rides the feed
    // write itself (Observation) — no separate aggregate job
    val obsMax = org.apache.spark.sql.Observation()
    ev.observe(obsMax,
        max(when(col("event_type") === "purchase", col("ts"))).as("mx"))
      .coalesce(4).write.parquet(feed)
    val maxTs = obsMax.get("mx").asInstanceOf[java.sql.Timestamp]
    // Last REAL week bucket (epoch-aligned 7-day, µs): output cutoff.
    val weekUs = 604800000000L
    val maxWeekUs = (maxTs.getTime * 1000L / weekUs) * weekUs
    def sentinel(daysAhead: Int): org.apache.spark.sql.DataFrame = {
      val ts = new java.sql.Timestamp(maxTs.getTime + daysAhead.toLong * 24 * 3600 * 1000)
      s.range(1).select(lit(ts).as("ts"), lit("purchase").as("event_type"),
        lit(0L).as("cents"))
    }
    def drain(): Unit = {
      val stream = s.readStream
        .schema("ts TIMESTAMP, event_type STRING, cents BIGINT")
        .parquet(feed)
      val days = stream
        .withWatermark("ts", "1 hour")
        .filter(col("event_type") === "purchase")
        .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      val weeks = days
        .groupBy(org.apache.spark.sql.functions.window(col("window"), "7 days"))
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
        .select(unix_micros(col("window.start")).as("week_us"),
          col("n"), col("cents"))
      val q = weeks.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // TWO drains (e21's round-12 fold): drain 1 batches feed +
    // sentinel-9 together — nothing emits (eviction uses the previous
    // batch's watermark), but its end-of-batch watermark clears every
    // real day AND week end (+9 d > +7 d + 1 h). Drain 2's batch then
    // runs under it: day windows retire INTO the week level and the
    // week windows emit, both in that one batch (chained stateful aggs
    // propagate retirements downstream within a micro-batch). The
    // sentinels' own future buckets leave via the week_us cutoff, so
    // the emitted-and-filtered set is identical to the former 3-drain
    // cohorts.
    sentinel(9).coalesce(1).write.mode("append").parquet(feed)
    drain()
    sentinel(18).coalesce(1).write.mode("append").parquet(feed)
    drain()
    s.read.parquet(out)
      .filter(col("week_us") <= lit(maxWeekUs))
      .select(col("week_us"), col("n"), col("cents"))
    }
  }

  // --- e26_session_window: Spark's NATIVE session-window streaming
  // aggregation under the hash gate — the third sessionization shape in
  // the registry, and the one production picks first: e2 is the batch
  // gaps-and-islands SQL, e19 hand-rolls sessions in
  // flatMapGroupsWithState, this is `session_window(ts, gap)` — dynamic
  // merging windows maintained by the engine, closing [first_event,
  // last_event + gap) when the watermark passes the end. Purchases
  // sessionize per user with a 30-minute gap; purchase-typed sentinels
  // (user −1, the e25 pushdown lesson) advance the watermark so every
  // real session closes; the oracle replays the semantics as
  // gaps-and-islands over µs-floored times (merge iff diff < gap —
  // strict, matching the engine). Scale: state is one (user, open
  // session) aggregate per key bounded by the watermark — the engine
  // merges windows in the state store; no per-event list state, no
  // custom code. ---
  val e26SessionWindow = QueryDef.sql(
    "e26_session_window",
    """WITH p AS (SELECT user_id, epoch_ns(ts) // 1000 AS us,
      |    CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |s AS (SELECT user_id, us, cents,
      |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
      |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM p),
      |i AS (SELECT user_id, us, cents,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
      |                   ROWS UNBOUNDED PRECEDING) AS island
      |  FROM s)
      |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
      |  CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS cents
      |FROM i GROUP BY user_id, island""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    val root = graft.Scratch.dir("e26-session")
    val feed = s"$root/feed"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val ev = T.events(s, d).filter(col("event_type") === "purchase")
      .select(col("ts"), col("user_id"),
        (col("value").cast("decimal(14,2)") * 100).cast("long").as("cents"))
    // max-ts rides the feed write (e25's discipline) — no separate job
    val obsMax = org.apache.spark.sql.Observation()
    ev.observe(obsMax, max(col("ts")).as("mx"))
      .coalesce(4).write.parquet(feed)
    val maxTs = obsMax.get("mx").asInstanceOf[java.sql.Timestamp]
    def sentinel(daysAhead: Int): org.apache.spark.sql.DataFrame = {
      val ts = new java.sql.Timestamp(maxTs.getTime + daysAhead.toLong * 24 * 3600 * 1000)
      s.range(1).select(lit(ts).as("ts"), lit(-1L).as("user_id"), lit(0L).as("cents"))
    }
    def drain(): Unit = {
      val stream = s.readStream
        .schema("ts TIMESTAMP, user_id BIGINT, cents BIGINT")
        .parquet(feed)
      val sessions = stream
        .withWatermark("ts", "1 hour")
        .groupBy(org.apache.spark.sql.functions.session_window(col("ts"), "30 minutes"),
          col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n"), col("cents"))
      val q = sessions.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // TWO drains (e25's fold): feed + sentinel-9 batch together in
    // drain 1 (no emission — prior watermark is 0 — but the end-of-
    // batch watermark clears every real session's end), drain 2 runs
    // under it and closes them all; the sentinel's own session leaves
    // via the user_id filter. Emitted-and-filtered set identical to
    // the former 3-drain cohorts.
    sentinel(9).coalesce(1).write.mode("append").parquet(feed)
    drain()
    sentinel(18).coalesce(1).write.mode("append").parquet(feed)
    drain()
    s.read.parquet(out)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n"), col("cents"))
    }
  }

  // --- e27_sequence_match: MATCH_RECOGNIZE-style row-pattern matching,
  // compiled the distributed way: each 30-minute session (e2/e17's gap
  // logic) is reduced to a per-session SYMBOL STRING (one char per
  // event — the five event types have distinct initials), and the row
  // pattern `view click* purchase` becomes the regex `vc*p` evaluated
  // on that string. Pattern state never crosses rows at the engine
  // level — the regex engine runs over a session-local string of a few
  // bytes, so matching cost is O(session length) per session with no
  // cross-row state machine, no window reshuffle beyond the one
  // sessionization pass. Leftmost-greedy semantics for `vc*p` and `ee`
  // are identical in Java regex (Spark) and RE2 (DuckDB oracle) —
  // character classes and literal quantifiers only, no backtracking
  // divergence. Emits matching sessions with the first matched funnel
  // substring and a consecutive-error "frustration" flag. ---
  val e27SequenceMatch = QueryDef.sql(
    "e27_sequence_match",
    """WITH x AS (
      |  SELECT user_id, event_id, event_type, date_trunc('second', ts) AS tss FROM events),
      |f AS (
      |  SELECT user_id, event_id, event_type, tss,
      |    CASE WHEN lag(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) IS NULL
      |           OR tss - lag(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM x),
      |s AS (
      |  SELECT user_id, event_id, event_type, tss,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tss, event_id
      |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_no
      |  FROM f),
      |syms AS (
      |  SELECT user_id, sess_no,
      |    string_agg(substr(event_type, 1, 1), '' ORDER BY tss, event_id) AS sym
      |  FROM s GROUP BY user_id, sess_no)
      |SELECT user_id, sess_no, sym,
      |  regexp_extract(sym, 'vc*p') AS first_funnel,
      |  CASE WHEN regexp_matches(sym, 'ee') THEN 1 ELSE 0 END AS frustrated
      |FROM syms
      |WHERE regexp_matches(sym, 'vc*p')""".stripMargin) { (s, d) =>
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("tss"), col("event_id"))
    val x = T.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        date_trunc("second", col("ts")).as("tss"))
    val sess = x
      .withColumn("new_sess",
        when(lag(col("tss"), 1).over(byUser).isNull
          || col("tss").cast("long") - lag(col("tss"), 1).over(byUser).cast("long") > 1800L, 1L)
          .otherwise(0L))
      .withColumn("sess_no", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val syms = sess
      .groupBy(col("user_id"), col("sess_no"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(tss, event_id, event_type))), r -> substring(r.event_type, 1, 1))"),
        "").as("sym"))
    syms
      .filter(col("sym").rlike("vc*p"))
      .select(col("user_id"), col("sess_no"), col("sym"),
        regexp_extract(col("sym"), "vc*p", 0).as("first_funnel"),
        when(col("sym").rlike("ee"), 1L).otherwise(0L).as("frustrated"))
  }

  // --- e30_attribution: multi-touch conversion attribution — the
  // marketing-analytics staple: every purchase credits the view/click
  // touches of the SAME user in the 7 days up to it, under three models
  // at once (first-touch, last-touch, linear). Shape at scale: one
  // equi-join on user_id with a time-range predicate (the touch window
  // bounds the fan-out per conversion), then windows partitioned BY
  // CONVERSION — thousands of tiny partitions, never a global sort.
  // Linear credit is exact integer micro-units (1000000 div n_touches),
  // so the oracle reproduces the report bit-for-bit; first/last ties
  // break deterministically by (ts, event_id). ---
  val e30Attribution = QueryDef.sql(
    "e30_attribution",
    """WITH x AS (SELECT user_id, event_id, event_type, date_trunc('second', ts) AS tss FROM events),
      |conv AS (SELECT user_id, event_id AS conv_id, tss AS conv_ts FROM x
      |         WHERE event_type = 'purchase'),
      |tch AS (SELECT c.conv_id, t.event_type AS channel, t.tss, t.event_id
      |        FROM conv c JOIN x t ON t.user_id = c.user_id
      |        WHERE t.event_type IN ('view', 'click')
      |          AND t.tss <= c.conv_ts AND t.tss > c.conv_ts - INTERVAL 7 DAY),
      |rk AS (SELECT conv_id, channel,
      |         row_number() OVER (PARTITION BY conv_id ORDER BY tss, event_id) AS rn_f,
      |         row_number() OVER (PARTITION BY conv_id ORDER BY tss DESC, event_id DESC) AS rn_l,
      |         count(*) OVER (PARTITION BY conv_id) AS n
      |       FROM tch)
      |SELECT channel,
      |  CAST(sum(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
      |  CAST(sum(CASE WHEN rn_l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch,
      |  CAST(sum(1000000 // n) AS BIGINT) AS linear_scaled
      |FROM rk GROUP BY channel""".stripMargin) { (s, d) =>
    val x = T.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        date_trunc("second", col("ts")).as("tss"))
    val conv = x.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"), col("tss").as("conv_ts"))
    val tch = conv.join(
        x.filter(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("event_type").as("channel"),
            col("tss"), col("event_id")),
        Seq("user_id"))
      .filter(col("tss") <= col("conv_ts")
        && col("tss") > col("conv_ts") - expr("INTERVAL 7 DAY"))
    val byConv = Window.partitionBy(col("conv_id"))
    val rk = tch.select(col("conv_id"), col("channel"),
      row_number().over(byConv.orderBy(col("tss"), col("event_id"))).as("rn_f"),
      row_number().over(byConv.orderBy(col("tss").desc, col("event_id").desc)).as("rn_l"),
      count(lit(1)).over(byConv).as("n"))
    rk.groupBy(col("channel")).agg(
      sum(when(col("rn_f") === 1, 1L).otherwise(0L)).as("first_touch"),
      sum(when(col("rn_l") === 1, 1L).otherwise(0L)).as("last_touch"),
      sum(expr("1000000 div n")).as("linear_scaled"))
  }

  // --- e31_stream_static_join: STREAM-STATIC join under the hash gate —
  // the dimension-enrichment topology (the join-type matrix's remaining
  // cell: e12 inner/e21 left/e29 full are stream-STREAM; this is the
  // stateless stream⋈table case every enrichment pipeline runs).
  // Streaming purchases join the STATIC customer dimension read as a
  // plain batch table: no watermark, no join state — Spark re-plans the
  // static side per micro-batch (a restarted/refreshed dimension is
  // picked up at the next batch) and broadcasts it under AQE when it
  // fits, so the stream side never shuffles. Matches land through the
  // exactly-once file-sink manifest and the returned frame reads back
  // THROUGH that manifest; the oracle's batch equi-join gates source →
  // per-batch join → sink end-to-end. Left join keeps users outside the
  // dimension (none in the fixture, but the null path is exercised by
  // the join type, not vacuously green — every user_id < 150 resolves). ---
  val e31StreamStaticJoin = QueryDef.sql(
    "e31_stream_static_join",
    """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
      |  CAST(CAST(e.value AS DECIMAL(10,2)) AS DOUBLE) AS amount
      |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
      |WHERE e.event_type = 'purchase'""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    val root = graft.Scratch.dir("e31-static")
    val feed = s"$root/feed"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    T.events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
      .write.parquet(feed)
    val dim = T.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val stream = s.readStream
      .schema("event_id BIGINT, user_id BIGINT, value DOUBLE")
      .parquet(feed)
    val joined = stream.join(dim, col("c_custkey") === col("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("segment"),
        col("value").cast("decimal(10,2)").cast("double").as("amount"))
    val q = joined.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(out)
      .select(col("event_id"), col("user_id"), col("segment"), col("amount"))
    }
  }

  // --- e32_stream_semi_join: stream-stream LEFT SEMI join under the
  // hash gate — "which clicks converted?" without duplicating a click
  // per purchase (the inner join e12 emits one row per matching
  // purchase; the semi join emits each qualifying click ONCE — the
  // existence-test topology for funnel triggers and retargeting
  // suppression). This completes the stream-stream join-type matrix:
  // e12 inner, e21 left outer, e29 full outer, e32 left semi. State
  // bounds are the same production discipline: both sides hash-
  // partition on user_id, the time-interval condition lets Spark bound
  // click state to watermark + 6 h and drop purchase state at the
  // watermark; a click emits at its FIRST match (semi short-circuit),
  // so latency never waits on state expiry. Exactly-once via the file
  // sink manifest, read back through it; the oracle is the batch
  // EXISTS on microsecond-floored timestamps (e12's discipline). ---
  val e32StreamSemiJoin = QueryDef.sql(
    "e32_stream_semi_join",
    """WITH v AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'),
      |p AS (SELECT ts, user_id FROM events WHERE event_type = 'purchase')
      |SELECT v.event_id AS click_id, v.user_id FROM v
      |WHERE EXISTS (SELECT 1 FROM p
      |  WHERE p.user_id = v.user_id
      |    AND epoch_ns(p.ts) // 1000 >= epoch_ns(v.ts) // 1000
      |    AND epoch_ns(p.ts) // 1000 < epoch_ns(v.ts) // 1000 + 21600000000)""".stripMargin) {
    (s, d) =>
    withStatePartitions(s, 4) {
    val root = graft.Scratch.dir("e32-semi")
    val feed = s"$root/feed"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    T.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .write.parquet(feed)
    def side(tpe: String) = s.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING")
      .parquet(feed)
      .filter(col("event_type") === tpe)
    val clicks = side("click")
      .select(col("event_id").as("click_id"), col("ts").as("cts"), col("user_id"))
      .withWatermark("cts", "1 hour")
    val purchases = side("purchase")
      .select(col("ts").as("pts"), col("user_id").as("p_user"))
      .withWatermark("pts", "1 hour")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("pts") >= col("cts") &&
        col("pts") < col("cts") + expr("INTERVAL 6 HOURS"),
      "left_semi")
      .select(col("click_id"), col("user_id"))
    val q = joined.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(out).select(col("click_id"), col("user_id"))
    }
  }

  // --- e33_stream_versioned_sink: streaming ingest into the VERSIONED
  // lakehouse store — `readStream → foreachBatch → Versioned.commit`,
  // the topology that turns a CDC/event stream into a time-travelable
  // table (Delta streaming sink's shape): every micro-batch lands as a
  // queryable VERSION, history stays readable for audits/reproducible
  // training snapshots, and `expire` owns retention. The feed is staged
  // as multiple files with maxFilesPerTrigger=1 forcing a MULTI-batch
  // run, so version count > 1 and carry-forward manifests (only the
  // batch's partitions rewrite) are genuinely exercised; the returned
  // frame reads back THROUGH readAsOf(latest). Replay safety is
  // CONVERGENCE, not a guard: a re-delivered batch upserts the same
  // keyed rows into the same partitions (same content, one more
  // version) — the documented contrast with IncrementalAgg's
  // non-idempotent fold, which is why THAT sink needs ReplayGuard and
  // this one doesn't. The oracle is the batch projection of the same
  // purchases; dropped rows, a clobbered carry-forward partition, or a
  // half-visible version all hash-mismatch. ---
  val e33StreamVersionedSink = QueryDef.sql(
    "e33_stream_versioned_sink",
    """SELECT event_id, user_id,
      |  CAST(CAST(value AS DECIMAL(10,2)) AS DOUBLE) AS amount
      |FROM events WHERE event_type = 'purchase'""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    import graft.operators.Versioned
    val root = graft.Scratch.dir("e33-vsink")
    val feed = s"$root/feed"; val tbl = s"$root/table"; val ckpt = s"$root/ckpt"
    T.events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
      .repartition(3) // 3 feed files → 3 micro-batches → 3 committed versions
      .write.parquet(feed)
    val stream = s.readStream
      .schema("event_id BIGINT, user_id BIGINT, value DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          Versioned.commit(s, tbl,
            batch.withColumn("part", col("user_id") % 4), "part", Seq("event_id"))
          ()
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(Versioned.latestVersion(s, tbl) >= 2,
      "multi-batch run must commit multiple versions")
    Versioned.readAsOf(s, tbl)
      .select(col("event_id"), col("user_id"),
        col("value").cast("decimal(10,2)").cast("double").as("amount"))
    }
  }

  // --- e34_table_follow: STREAMING SUBSCRIPTION to a versioned table —
  // the read half of e33's sink (together: lakehouse in, lakehouse
  // out): every Versioned.commit lands its affected partitions as new
  // files under a fresh generation, and the file-stream source
  // discovers exactly those, so a downstream job FOLLOWS the table
  // (Delta change-feed's upsert-only shape — post-images keyed
  // last-wins by `__gen`, compacted-topic semantics). The gate commits
  // three keyed versions, streams the generation files through the
  // exactly-once file sink, then reconstructs the CURRENT state by
  // joining the streamed rows against the LATEST manifest's
  // (partition, generation) references — the manifest filter is the
  // point: superseded generations and crash debris die there, so the
  // fold equals readAsOf(latest) and the oracle's replay of the three
  // deltas. At 100 TB the feed is file-discovery incremental (each
  // micro-batch carries one commit's rewritten partitions, never the
  // table). ---
  val e34TableFollow = QueryDef.sql(
    "e34_table_follow",
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
      |s3 AS (SELECT k, st,
      |    CASE WHEN k % 4 = 2 THEN p + 75
      |         WHEN k % 6 = 0 THEN p + 50 ELSE p END AS p
      |  FROM base WHERE k % 2 = 0)
      |SELECT st AS o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(p) AS DOUBLE) AS total
      |FROM s3 GROUP BY st""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    import graft.operators.Versioned
    val root = graft.Scratch.dir("e34-follow")
    val tbl = s"$root/orders_v"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val base = T.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("st"), col("o_totalprice").cast("decimal(12,2)").as("p"))
    Versioned.commit(s, tbl, base.filter(col("k") % 2 === 0), "st", Seq("k"))
    Versioned.commit(s, tbl,
      base.filter(col("k") % 6 === 0)
        .withColumn("p", (col("p") + lit(50)).cast("decimal(12,2)")),
      "st", Seq("k"))
    Versioned.commit(s, tbl,
      base.filter(col("k") % 4 === 2)
        .withColumn("p", (col("p") + lit(75)).cast("decimal(12,2)")),
      "st", Seq("k"))
    val stream = Versioned.followChanges(s, tbl,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("st",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.DecimalType(12, 2)))))
    val q = stream.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // reconstruct the CURRENT state: manifest-filter the streamed rows
    // to the latest version's (partition, generation) refs
    import s.implicits._
    val live = Versioned
      .manifestRefs(s, tbl, Versioned.latestVersion(s, tbl))
      .toDF("__p", "__gen")
    s.read.parquet(out)
      .join(broadcast(live), Seq("__p", "__gen"))
      .groupBy(col("st"))
      .agg(count(lit(1)).as("n"), sum(col("p")).cast("double").as("total"))
      .select(col("st").as("o_orderstatus"), col("n"), col("total"))
    }
  }

  /** Registered queries that drive a REAL Structured Streaming run
    * (readStream → writeStream with checkpoint/state-store commits).
    * Bench reports these under a separate `stream_total`: their cost is
    * dominated by fixed per-microbatch state-store/checkpoint overhead
    * (see the drain notes at the top of this file), which would
    * otherwise pollute round-over-round comparison of batch plan
    * quality. */
  val streamingNames: Set[String] = Set(
    "e11_stream_windows", "e12_stream_stream_join", "e15_stream_dedup",
    "e18_stream_ivm", "e19_stream_sessions", "e20_late_data",
    "e21_stream_outer_join", "e29_stream_full_outer",
    "e22_transform_with_state", "e23_state_map", "e24_state_list",
    "e25_chained_agg", "e26_session_window", "e31_stream_static_join",
    "e32_stream_semi_join", "e33_stream_versioned_sink",
    "e34_table_follow", "e36_stream_media_fingerprint", "e37_stream_hll",
    "e38_stream_knn", "e39_stream_cms", "e40_stream_stats_follow",
    "e41_stream_quantile", "e42_stream_txn_sink", "e43_stream_indexed_sink",
    "e44_stream_forget", "e45_stream_range_index", "e46_stream_live_stats",
    "e47_stream_compact", "e48_stream_text_index", "e49_stream_triple_index")

  // --- e40_stream_stats_follow: STATS THAT FOLLOW THE TABLE — e33
  // lands a stream into the store; e40 keeps the OPTIMIZER FEED current
  // while it lands: every micro-batch upserts its rows, then refreshes
  // StatsStore for exactly the partitions that batch touched
  // (partition-pruned scan + dynamic overwrite of those stats rows —
  // never a full ANALYZE), NDV registers included. The gate reads the
  // FINAL stats table and checks it equals the full-table truth the
  // oracle recomputes from the fixture: a refresh that missed a batch's
  // partition, double-applied one, or carried stale registers all
  // hash-mismatch. Replay safety is convergence (e33's argument): the
  // upsert re-lands identical keyed rows and the refresh RECOMPUTES
  // from the table, so a re-delivered batch changes nothing — the
  // recompute-from-current-state shape is idempotent by construction,
  // which is why this fold needs no ReplayGuard while IncrementalAgg's
  // additive one does. ---
  val e40StreamStatsFollow = QueryDef.sql(
    "e40_stream_stats_follow",
    s"""WITH t AS (SELECT 'p' || CAST(user_id % 4 AS VARCHAR) AS part, event_id, user_id,
       |    CAST(value AS DECIMAL(10,2)) AS v
       |  FROM events WHERE event_type = 'purchase'),
       |base AS (SELECT part, CAST(count(*) AS BIGINT) AS "rows",
       |    CAST(min(v) AS DOUBLE) AS min_v, CAST(max(v) AS DOUBLE) AS max_v,
       |    CAST(0 AS BIGINT) AS nulls_v FROM t GROUP BY part),
       |${graft.operators.HllSketch.sqlRegisters("t", "part", "user_id", "ureg")},
       |per AS (${graft.operators.HllSketch.sqlEstimate("ureg", "part")})
       |SELECT base.part, base."rows", base.min_v, base.max_v, base.nulls_v,
       |  CAST(per.nz AS BIGINT) AS nz, per.est AS ndv_est
       |FROM base JOIN per ON per.part = base.part""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) { withoutAqe(s) {
    import graft.operators.{StatsStore, Upsert}
    val root = graft.Scratch.dir("e40-stats")
    val feed = s"$root/feed"; val tbl = s"$root/table"
    val st = s"$root/stats"; val ckpt = s"$root/ckpt"
    T.events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
      .repartition(3) // 3 feed files → 3 micro-batches → 3 refreshes
      .write.parquet(feed)
    val stream = s.readStream
      .schema("event_id BIGINT, user_id BIGINT, value DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val delta = batch.select(col("event_id"), col("user_id"),
            concat(lit("p"), (col("user_id") % 4).cast("string")).as("part"),
            col("value").cast("decimal(10,2)").as("v"))
          Upsert.upsertParquet(s, tbl, delta, Seq("event_id"),
            partitionBy = Seq("part"))
          val touched = delta.select(col("part")).distinct()
            .collect().map(_.getString(0)).toSeq // ≤ 4 values — driver-sized
          StatsStore.refreshPartitions(s, tbl, st, "part",
            Seq("v", "user_id"), changed = touched)
          ()
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val stats = StatsStore.read(s, st)
    stats
      .join(StatsStore.ndvPerPartition(stats, "part", "user_id"), Seq("part"))
      .select(col("part"), col("rows"),
        col("min_v").cast("double").as("min_v"),
        col("max_v").cast("double").as("max_v"), col("nulls_v"),
        col("nz").cast("long").as("nz"), col("ndv_est"))
    } }
  }

  // --- e36_stream_media_fingerprint: STREAMING MULTIMODAL ingest — the
  // missing cross-family cell: BINARY media payloads ride micro-batches
  // (readStream over a parquet feed of real AVI/PNG/WAV bytes), each
  // batch decodes its videos and lands per-frame aHash fingerprints
  // (m11's representation) under `out/batch=N` with per-batch overwrite
  // — the at-least-once → idempotent sink recipe, since a replayed
  // batch rewrites the same fingerprints under the same batch id. This
  // is the ingest half of streaming video dedup: fingerprint on
  // arrival, block on the hashes downstream. maxFilesPerTrigger=1
  // forces a genuinely multi-batch run. The gate reconstructs per-asset
  // facts (frame count, distinct frame hashes, the frame-0 blocking
  // key) from the landed fingerprints; the oracle recomputes every hash
  // bit analytically from the synthesis formula, so a decode, batching,
  // or replay fault hash-mismatches. Scale: 8 bytes leave per decoded
  // frame; the corpus's pixels never shuffle, never sit in state. ---
  val e36StreamMediaFingerprint = QueryDef.sql(
    "e36_stream_media_fingerprint",
    """WITH ids AS (SELECT id FROM generate_series(0,59) t(id)),
      |vid AS (SELECT id, 2 + ((id//3) % 3) AS nf FROM ids WHERE id%3=2),
      |cells AS (SELECT v.id, fs.f, gy.y AS gy, gx.x AS gx,
      |    (v.id*31 + 19*fs.f + 7*(2*gx.x) + 13*((3*gy.y)//2)) % 256 AS r,
      |    (v.id*17 + 23*fs.f + 3*(2*gx.x) + 5*((3*gy.y)//2)) % 256 AS g,
      |    (v.id*7 + 29*fs.f + 11*(2*gx.x) + 2*((3*gy.y)//2)) % 256 AS b
      |  FROM vid v, generate_series(0,3) fs(f),
      |       generate_series(0,7) gx(x), generate_series(0,7) gy(y)
      |  WHERE fs.f < v.nf),
      |lum AS (SELECT id, f, gy, gx, (299*r + 587*g + 114*b)//1000 AS l FROM cells),
      |m AS (SELECT id, f, sum(l)//64 AS mean FROM lum GROUP BY id, f),
      |h AS (SELECT l.id, l.f,
      |    string_agg(CASE WHEN l.l > m.mean THEN '1' ELSE '0' END, ''
      |      ORDER BY l.gy, l.gx) AS hash
      |  FROM lum l JOIN m ON m.id = l.id AND m.f = l.f GROUP BY l.id, l.f)
      |SELECT id AS asset_id, CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(count(DISTINCT hash) AS BIGINT) AS n_distinct,
      |  min(CASE WHEN f = 0 THEN hash END) AS hash0
      |FROM h GROUP BY id""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    import graft.multimodal.Multimodal
    val root = graft.Scratch.dir("e36-media")
    val feed = s"$root/feed"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    Multimodal.synthesize(s, 0L until 60L).toDF()
      .select(col("asset_id"), col("kind"), col("bytes"))
      .repartition(3) // 3 feed files → 3 micro-batches
      .write.parquet(feed)
    val stream = s.readStream
      .schema("asset_id BIGINT, kind STRING, bytes BINARY")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        import batch.sparkSession.implicits._
        val assets = batch.select(col("asset_id"), col("kind"), col("bytes"))
          .as[(Long, String, Array[Byte])]
          .map { case (id, k, b) =>
            Multimodal.MediaAsset(id, k, b, Multimodal.MediaMeta("", 0, 0, 0, 0L))
          }
        // per-batch overwrite = idempotent under at-least-once replay
        Multimodal.videoFrameHashes(assets).toDF()
          .write.mode("overwrite").parquet(s"$out/batch=$batchId")
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.option("basePath", out).parquet(s"$out/batch=*")
      .groupBy(col("asset_id"))
      .agg(count(lit(1)).as("n_frames"),
        count_distinct(col("ahash")).as("n_distinct"),
        min(when(col("frame_no") === 0, col("ahash"))).as("hash0"))
      .select(col("asset_id"), col("n_frames"), col("n_distinct"), col("hash0"))
    }
  }

  // --- e37_stream_hll: streaming DISTINCT-COUNT state — the mergeable
  // HLL register fold (operators.HllSketch.streamingHllFold) running as
  // a real micro-batched stream: the events feed lands in two appends,
  // each drained as its own micro-batch cohort (maxFilesPerTrigger=1
  // splits further), and every batch folds its per-(event_type, bucket)
  // max-rho registers into the durable register table under the
  // staged-swap + ReplayGuard protocol. The gate then estimates from
  // the LANDED state and hash-compares against the oracle's one-shot
  // register build over the whole table — an exact-arithmetic proof
  // that the streaming fold ≡ batch recompute (max-merge idempotence is
  // what makes at-least-once delivery safe). Scale: state is 256
  // registers per event type FOREVER — distinct users at 100 TB costs
  // a few KB of state, where streaming COUNT(DISTINCT) would hold every
  // user id; each micro-batch pays one partial-agg shuffle of ITS rows
  // only. exact_n rides along to expose the ~6.5% rse envelope. ---
  val e37StreamHll = QueryDef.sql(
    "e37_stream_hll",
    s"""WITH ${graft.operators.HllSketch.sqlRegisters("events", "event_type", "user_id", "regs")},
       |e AS (${graft.operators.HllSketch.sqlEstimate("regs", "event_type")}),
       |x AS (SELECT event_type, count(DISTINCT user_id) AS exact_n
       |      FROM events GROUP BY event_type)
       |SELECT e.event_type, e.nz, e.est, x.exact_n
       |FROM e JOIN x USING (event_type)""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    import graft.operators.{HllSketch, ReplayGuard}
    val root = graft.Scratch.dir("e37-hll")
    val feed = s"$root/feed"; val regs = s"$root/regs"; val ckpt = s"$root/ckpt"
    val ev = T.events(s, d)
      .select(col("event_id"), col("event_type"), col("user_id"))
    ev.filter(col("event_id") % 2 === 0).drop("event_id")
      .coalesce(2).write.parquet(feed)
    val stream = s.readStream
      .schema("event_type STRING, user_id BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    val q = HllSketch.streamingHllFold(
      stream, regs, Seq("event_type"), col("user_id"), ckpt)
    q.processAllAvailable()
    ev.filter(col("event_id") % 2 =!= 0).drop("event_id")
      .coalesce(2).write.mode("append").parquet(feed)
    q.processAllAvailable()
    q.stop()
    val est = HllSketch.estimate(
      ReplayGuard.strip(s.read.parquet(regs)), Seq("event_type"))
    val exact = T.events(s, d).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_n"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("nz"), col("est"), col("exact_n"))
    }
  }

  // --- e39_stream_cms: streaming FREQUENCY state — the Count-Min fold
  // (operators.CountMin.streamingCmsFold) as a real micro-batched
  // stream over a two-append events feed, gated against a one-shot
  // sketch build: per-user event counts estimated from 8 KB of counter
  // state. The instructive contrast with e37: HLL registers max-merge
  // (idempotent — replays are harmless), CMS counters ADD — a replayed
  // batch double-counts — so the ReplayGuard run/batch stamps are the
  // correctness of this fold, and the hash match proves committed
  // replays were skipped, not merely tolerated. Scale: counter state
  // is depth×256 rows regardless of user cardinality; each micro-batch
  // pays one partial-agg shuffle of its own rows. ---
  val e39StreamCms = QueryDef.sql(
    "e39_stream_cms",
    s"""WITH cnt AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
       |  FROM events GROUP BY user_id),
       |pos AS (SELECT user_id, exact_n, j,
       |    CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) AS p
       |  FROM cnt, LATERAL (SELECT unnest(range(0, ${graft.operators.CountMin.depth})) AS j) r),
       |counters AS (SELECT j, p, CAST(sum(exact_n) AS BIGINT) AS c FROM pos GROUP BY j, p),
       |est AS (SELECT user_id, min(coalesce(c.c, 0)) AS est_n
       |  FROM pos LEFT JOIN counters c ON c.j = pos.j AND c.p = pos.p GROUP BY user_id),
       |top AS (SELECT user_id, exact_n FROM cnt ORDER BY exact_n DESC, user_id LIMIT 20)
       |SELECT top.user_id, top.exact_n, est.est_n
       |FROM top JOIN est ON est.user_id = top.user_id""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) {
    import graft.operators.{CountMin, ReplayGuard}
    val root = graft.Scratch.dir("e39-cms")
    val feed = s"$root/feed"; val cms = s"$root/cms"; val ckpt = s"$root/ckpt"
    val ev = T.events(s, d).select(col("event_id"), col("user_id"))
    ev.filter(col("event_id") % 2 === 0).select(col("user_id"))
      .coalesce(2).write.parquet(feed)
    val stream = s.readStream
      .schema("user_id BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    val q = CountMin.streamingCmsFold(stream, cms, col("user_id"), ckpt)
    q.processAllAvailable()
    ev.filter(col("event_id") % 2 =!= 0).select(col("user_id"))
      .coalesce(2).write.mode("append").parquet(feed)
    q.processAllAvailable()
    q.stop()
    val sketch = ReplayGuard.strip(s.read.parquet(cms))
    val cnt = T.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("exact_n"))
    val top = cnt.orderBy(col("exact_n").desc, col("user_id")).limit(20)
    CountMin.lookup(sketch, top, "user_id")
      .join(top, Seq("user_id"))
      .select(col("user_id"), col("exact_n"), col("est_n"))
    }
  }

  // --- e41_stream_quantile: streaming RANK state — the mergeable
  // deterministic quantile summary (operators.QuantileSketch) folded
  // from a real micro-batched stream, completing the streaming-sketch
  // triad: e37 distincts (max-merge, idempotent), e39 frequencies
  // (additive counters), e41 ranks (additive SAMPLES — merge = union,
  // so a replayed batch would inflate every weight; ReplayGuard's
  // run/batch stamps are the fold's correctness, CMS's discipline).
  // The feed lands in two single-file appends (event_id parity) with
  // maxFilesPerTrigger=1, so the micro-batch cohorts are exactly the
  // parity classes and the oracle reproduces the LANDED state
  // bit-for-bit: the union of the two per-cohort summaries (a60's
  // "merged" algebra with half = event_id % 2). Estimates read off the
  // landed summary join their EXACT ranks back from the base table,
  // and within_bound re-derives the additive two-part rank guarantee.
  // Scale: state is ≤ buckets·k sample rows per (event_type, batch) —
  // value-cardinality-independent; each micro-batch pays one
  // (group × cell) shuffle of ITS rows only. ---
  private val e41B = 32
  private val e41K = 64

  val e41StreamQuantile = QueryDef.sql(
    "e41_stream_quantile", {
      val hx = "md5(CAST(event_id AS VARCHAR))"
      val hexOf = "instr('0123456789abcdef', %s) - 1"
      s"""WITH base AS (SELECT event_type, CAST(value AS DOUBLE) AS v,
         |    ((${hexOf.format(s"substr($hx,1,1)")}) * 16 + ${hexOf.format(s"substr($hx,2,1)")}) % $e41B AS b,
         |    event_id % 2 AS half
         |  FROM events WHERE value IS NOT NULL),
         |s AS (SELECT event_type, v,
         |    row_number() OVER (PARTITION BY event_type, b, half ORDER BY v) AS rn,
         |    count(*) OVER (PARTITION BY event_type, b, half) AS cnt FROM base),
         |u AS (SELECT *, (cnt + ${e41K - 1}) // $e41K AS stride FROM s),
         |samp AS (SELECT event_type, v,
         |    CASE WHEN rn % stride = 0 THEN stride ELSE cnt % stride END AS wt
         |  FROM u WHERE rn % stride = 0 OR (rn = cnt AND cnt % stride <> 0)),
         |g AS (SELECT event_type, v, CAST(sum(wt) AS BIGINT) AS wt FROM samp GROUP BY ALL),
         |cum AS (SELECT event_type, v,
         |    sum(wt) OVER (PARTITION BY event_type ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw
         |  FROM g),
         |tot AS (SELECT event_type, CAST(sum(wt) AS BIGINT) AS tot FROM g GROUP BY ALL),
         |qs AS (SELECT unnest([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
         |    CAST(0.75 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS q),
         |tg AS (SELECT event_type, q, tot,
         |    CAST(ceil(q * CAST(tot AS DOUBLE)) AS BIGINT) AS t FROM tot, qs),
         |est AS (SELECT tg.event_type, tg.q, tg.tot AS n, tg.t, min(cum.v) AS est
         |  FROM tg JOIN cum ON cum.event_type = tg.event_type
         |  WHERE cum.cw >= tg.t GROUP BY ALL),
         |rk AS (SELECT e.event_type, q, est, n, t,
         |    (SELECT CAST(count(*) AS BIGINT) FROM base WHERE base.event_type = e.event_type AND base.v <= e.est) AS exact_rank
         |  FROM est e)
         |SELECT event_type, q, est, exact_rank, n,
         |  abs(exact_rank - t) <= ((4 * n) // $e41K + ${2 * e41B + 2}) AS within_bound
         |FROM rk""".stripMargin
    }) { (s, d) =>
    withStatePartitions(s, 4) {
    import graft.operators.{QuantileSketch, ReplayGuard}
    val root = graft.Scratch.dir("e41-qsk")
    val feed = s"$root/feed"; val summ = s"$root/summ"; val ckpt = s"$root/ckpt"
    val ev = T.events(s, d).filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"))
    // two single-file appends → deterministic micro-batch cohorts
    ev.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.parquet(feed)
    val stream = s.readStream
      .schema("event_id BIGINT, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    val q = QuantileSketch.streamingQuantileFold(
      stream, summ, Seq("event_type"), col("value"), col("event_id"),
      e41B, e41K, ckpt)
    q.processAllAvailable()
    ev.filter(col("event_id") % 2 =!= 0)
      .coalesce(1).write.mode("append").parquet(feed)
    q.processAllAvailable()
    q.stop()
    val landed = ReplayGuard.strip(s.read.parquet(summ))
      .select(col("event_type"), col("v"), col("wt"))
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    val ests = QuantileSketch.quantiles(landed, Seq("event_type"), qs)
    val base = ev.select(col("event_type"), col("value").cast("double").as("v"))
    val n = base.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val ranks = base.join(broadcast(ests), Seq("event_type"))
      .filter(col("v") <= col("est"))
      .groupBy(col("event_type"), col("q"), col("est"))
      .agg(count(lit(1)).as("exact_rank"))
    ranks.join(n, Seq("event_type"))
      .withColumn("t", ceil(col("q") * col("n").cast("double")).cast("long"))
      .select(col("event_type"), col("q"), col("est"),
        col("exact_rank"), col("n"),
        (abs(col("exact_rank") - col("t")) <=
          expr(s"(4 * n) div $e41K + ${2 * e41B + 2}")).as("within_bound"))
    }
  }

  // --- e42_stream_txn_sink: EXACTLY-ONCE MULTI-TABLE streaming sink —
  // e33 lands a stream into ONE versioned table; e42 composes the
  // stream with operators.Txn so every micro-batch commits a ledger
  // (keyed rows) AND its running per-type summary (additive counts +
  // exact-decimal totals) in ONE cross-table transaction — no batch
  // boundary ever observes the ledger without its summary. Exactly-once
  // comes from the committed state itself: each transaction stamps
  // batchId+1 into both manifests, and a redelivered batch is detected
  // by stampOf(latest) ≥ batchId+1 and SKIPPED — the replay guard IS
  // the table metadata, transactional with the data it guards (no
  // side-channel state file to drift). The gate drains a 3-file feed
  // through AvailableNow, then hash-compares ledger-aggregate, summary
  // state, and a version-parity flag against the oracle's recompute —
  // drift in either table, a double-counted replay, or a half-applied
  // batch all mismatch. Scale: each batch pays O(batch) ledger upsert
  // + |types| summary rows; the summary update reads k summary rows,
  // never the ledger. ---
  val e42StreamTxnSink = QueryDef.sql(
    "e42_stream_txn_sink",
    """WITH base AS (SELECT event_type, CAST(value AS DECIMAL(10,2)) AS amt
      |  FROM events WHERE value IS NOT NULL),
      |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(amt) AS DOUBLE) AS total FROM base GROUP BY event_type)
      |SELECT 'ledger' AS src, event_type, n, total, TRUE AS versions_in_step FROM s
      |UNION ALL
      |SELECT 'summary', event_type, n, total, TRUE FROM s""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) { withoutAqe(s) {
    import graft.operators.{Txn, Versioned}
    val root = graft.Scratch.dir("e42-txnsink")
    val ckpt = s"$root/ckpt"
    val ledger = s"$root/ledger"; val summary = s"$root/summary"
    val feed = sharedEventFeed(s, d) // 3 slices → 3 micro-batch txns
    val stream = s.readStream
      .schema("event_id BIGINT, event_type STRING, amt DECIMAL(10,2)")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    // RESTART DISCIPLINE: every coordinator dir lives under ONE
    // well-known root, so a janitor finds crashed transactions with no
    // caller holding the dir handle. Plant a coordinator that died
    // right after PREPARE (ledger slot LOCKED, poison delta staged, no
    // _COMMIT) — without the sweep the first micro-batch's Txn would
    // stall on that locked slot until timeout; Txn.recoverAll rolls it
    // back (slot released, poison rows never land — the 'bogus' type
    // would hash-mismatch the oracle if they did) before the stream
    // takes any work.
    val txnRoot = s"$root/txns"
    Txn.crashAfterPrepare(s, s"$txnRoot/txn-crashed", Seq(
      Txn.Write(ledger,
        s.sql("SELECT CAST(-1 AS BIGINT) AS event_id, 'bogus' AS event_type, " +
          "CAST(9.99 AS DECIMAL(10,2)) AS amt"),
        "event_type", Seq("event_id"))))
    val swept = Txn.recoverAll(s, txnRoot)
    require(swept.valuesIterator.contains("rolledback"),
      s"janitor must roll back the planted crashed coordinator, got $swept")
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // per-batch sweep closes the mid-run half-apply window too
          // (the pre-stream sweep only covers the restart path); the
          // stamp check below reads the SUMMARY — the alphabetically
          // last table, applied last, so its stamp proves full apply
          Txn.recoverAll(s, txnRoot)
          val vS = Versioned.latestVersion(s, summary)
          val replayed = vS > 0 &&
            Versioned.stampOf(s, summary, vS).exists(_ >= batchId + 1)
          if (!replayed) {
            val bAgg = batch.groupBy(col("event_type"))
              .agg(count(lit(1)).as("bn"), sum(col("amt")).as("bt"))
            val cur =
              if (vS > 0) Versioned.readAsOf(s, summary)
                .select(col("event_type"), col("n"), col("total"))
              else bAgg.select(col("event_type"), lit(0L).as("n"),
                lit(BigDecimal(0)).cast("decimal(20,2)").as("total")).limit(0)
            val sDelta = bAgg.join(cur, Seq("event_type"), "left_outer")
              .select(col("event_type"),
                (coalesce(col("n"), lit(0L)) + col("bn")).as("n"),
                (coalesce(col("total"), lit(BigDecimal(0)).cast("decimal(20,2)"))
                  + col("bt")).cast("decimal(20,2)").as("total"))
            Txn.run(s, s"$txnRoot/txn-$batchId", Seq(
              Txn.Write(ledger, batch, "event_type", Seq("event_id"),
                stamp = Some(batchId + 1)),
              Txn.Write(summary, sDelta, "event_type", Seq("event_type"),
                stamp = Some(batchId + 1))))
          }
          ()
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // a SECOND sweep models the next restart: completed coordinators
    // are metadata-only noops, nothing is re-applied or re-rolled
    require(Txn.recoverAll(s, txnRoot).valuesIterator.forall(_ == "noop"),
      "post-run janitor sweep must find only completed coordinators")
    val vL = Versioned.latestVersion(s, ledger)
    val vS = Versioned.latestVersion(s, summary)
    require(vL >= 2, "multi-batch run must commit multiple transactions")
    val fromLedger = Versioned.readAsOf(s, ledger)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("amt")).cast("double").as("total"))
      .select(lit("ledger").as("src"), col("event_type"), col("n"),
        col("total"), lit(vL == vS).as("versions_in_step"))
    val fromSummary = Versioned.readAsOf(s, summary)
      .select(lit("summary").as("src"), col("event_type"), col("n"),
        col("total").cast("double").as("total"), lit(vL == vS).as("versions_in_step"))
    fromLedger.unionByName(fromSummary)
    } }
  }

  // --- e43_stream_indexed_sink: STREAMING INGEST WITH A LIVE SECONDARY
  // INDEX — k48's transactional index composed under e42's streaming
  // exactly-once discipline: every micro-batch lands ledger rows AND
  // the affected partitions' recomputed bloom rows in one Txn
  // (VersionedBloom.commitIndexed with batchId stamps), so the index
  // is queryable and CORRECT after every batch — there is no "index
  // refresh lag" state at any point of the ingest. The gate drains a
  // 3-file feed, then answers five point lookups on the SECONDARY key
  // (user_id) through the index-pruned path — candidate partitions
  // from the index, only their manifest refs opened — and the oracle
  // recomputes the answers from the raw events. A stale index row, a
  // missed batch, or a replayed batch all hash-mismatch. ---
  val e43StreamIndexedSink = QueryDef.sql(
    "e43_stream_indexed_sink",
    """WITH base AS (SELECT event_id, event_type, user_id,
      |    CAST(value AS DECIMAL(10,2)) AS amt
      |  FROM events WHERE value IS NOT NULL),
      |lo AS (SELECT DISTINCT user_id FROM base ORDER BY user_id LIMIT 5)
      |SELECT b.user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(amt) AS DOUBLE) AS total, TRUE AS versions_lockstep
      |FROM base b JOIN lo ON lo.user_id = b.user_id
      |GROUP BY b.user_id""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) { withoutAqe(s) {
    import graft.operators.{Versioned, VersionedBloom}
    val root = graft.Scratch.dir("e43-idxsink")
    val ckpt = s"$root/ckpt"
    val ledger = s"$root/ledger"; val idx = s"$root/idx"
    val ev = T.events(s, d).filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("user_id"),
        col("value").cast("decimal(10,2)").as("amt"))
    val feed = sharedEventFeed(s, d)
    val stream = s.readStream
      .schema("event_id BIGINT, event_type STRING, user_id BIGINT, amt DECIMAL(10,2)")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // restart discipline: sweep the coordinator root first — a
          // crash between a txn's _COMMIT and its full apply leaves the
          // LEDGER write pending while the index (the alphabetically
          // first table, applied first) already carries the batch
          // stamp; rolling forward here closes that window before the
          // replay check reads any stamp
          graft.operators.Txn.recoverAll(s, s"$root/txns")
          // replay check on the LAST-applied table (ledger sorts after
          // idx): its stamp present means the whole txn applied
          val vL = Versioned.latestVersion(s, ledger)
          val replayed = vL > 0 &&
            Versioned.stampOf(s, ledger, vL).exists(_ >= batchId + 1)
          if (!replayed)
            VersionedBloom.commitIndexed(s, s"$root/txns/txn-$batchId", ledger,
              idx, batch, "event_type", Seq("event_id"), "user_id",
              stamp = Some(batchId + 1))
          ()
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(Versioned.latestVersion(s, ledger) >= 2,
      "multi-batch run must commit multiple transactions")
    val lockstep =
      Versioned.latestVersion(s, ledger) == Versioned.latestVersion(s, idx)
    val probes: Seq[Long] = ev.select(col("user_id")).distinct()
      .orderBy(col("user_id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    VersionedBloom.lookup(s, ledger, idx, "user_id", probes)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("amt")).cast("double").as("total"))
      .withColumn("versions_lockstep", lit(lockstep))
    } }
  }

  // --- e45_stream_range_index: STREAMING INGEST WITH A LIVE RANGE
  // (zone) INDEX — k53 composed under e42's streaming exactly-once
  // discipline, the WHEN counterpart of e43's WHO: every micro-batch
  // lands day-partitioned ledger rows AND the affected days' recomputed
  // zone rows (min/max event ts) in one stamped Txn
  // (VersionedZone.commitIndexed), so a time-range query is answerable
  // THROUGH THE INDEX after every batch — no refresh-lag state exists
  // at any point of the ingest. MID-INGEST the gate probes a 3-day
  // window between transactions and require()s both the pruning bound
  // (candidates ≤ the 3 probe days — the zone rows can never implicate
  // a day outside the window) and exactness (the pruned read equals
  // the full-scan-and-filter row count on the partial table). After
  // the drain the final window aggregate answers through the pruned
  // path; the oracle recomputes it from the raw events — a missed
  // batch, a replayed batch, or a stale zone row that wrongly pruned
  // all hash-mismatch. Scale: each batch rewrites only its days'
  // partitions; the probe folds k index rows before touching data. ---
  val e45StreamRangeIndex = QueryDef.sql(
    "e45_stream_range_index",
    """WITH base AS (SELECT event_id, CAST(ts AS DATE) AS d, ts,
      |    CAST(value AS DECIMAL(10,2)) AS amt
      |  FROM events WHERE value IS NOT NULL),
      |r AS (SELECT * FROM base
      |  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |    AND ts <= TIMESTAMP '2024-01-12 23:59:59.999999')
      |SELECT strftime(d, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(amt) AS DOUBLE) AS total, TRUE AS pruned
      |FROM r GROUP BY day""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) { withoutAqe(s) {
    import graft.operators.{Txn, Versioned, VersionedZone}
    val root = graft.Scratch.dir("e45-zonesink")
    val ckpt = s"$root/ckpt"
    val ledger = s"$root/ledger"; val idx = s"$root/idx"
    val feed = sharedEventFeed(s, d)
    val stream = s.readStream
      .schema("event_id BIGINT, day STRING, ts TIMESTAMP, amt DECIMAL(10,2)")
      .option("maxFilesPerTrigger", 2) // 2 batches over the 3-file feed (round-13 fold)
      .parquet(feed)
    val lo = expr("TIMESTAMP'2024-01-10 00:00:00'")
    val hi = expr("TIMESTAMP'2024-01-12 23:59:59.999999'")
    // the mid-ingest probe hides behind batchId == 1 inside the
    // non-empty guard: if the middle slice ever lands empty (feed
    // regeneration, sf change) the liveness claim would pass VACUOUSLY
    // — so the probe records that it ran and the drain require()s it
    val probeFired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // e43's restart + replay discipline — one-job stamp fold
          // (Versioned.maxStamp) instead of a per-version manifest probe
          Txn.recoverAll(s, s"$root/txns")
          val replayed =
            Versioned.maxStamp(s, ledger).exists(_ >= batchId + 1)
          if (!replayed)
            VersionedZone.commitIndexed(s, s"$root/txns/txn-$batchId", ledger,
              idx, batch, "day", Seq("event_id"), "ts",
              stamp = Some(batchId + 1))
          // MID-INGEST probe between transactions: after batch 0's
          // commit — with a batch still to come — the window is live
          // and correctly bounded right now, not just after the drain.
          // One mid-stream probe point carries the full liveness claim
          // (and 2 batches carry multi-batch ingest: a third slice
          // re-proved the same claim at half again the drain cost —
          // the round-13 fold, same emitted/checked rows).
          if (batchId == 0L) {
            probeFired.set(true)
            val cands = VersionedZone.candidatePartitions(s, idx, lo, hi)
            require(cands.nonEmpty && cands.size <= 3,
              s"mid-ingest zone candidates must stay within the 3 probe " +
                s"days, got ${cands.size}")
            val prunedN = VersionedZone.lookupRange(s, ledger, idx, "ts", lo, hi)
              .count()
            val scanN = Versioned.readAsOf(s, ledger)
              .filter(col("ts") >= lo && col("ts") <= hi).count()
            require(prunedN == scanN,
              s"mid-ingest pruned read must equal full scan: $prunedN vs $scanN")
          }
          ()
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(probeFired.get,
      "mid-ingest probe never fired — the middle feed slice must be non-empty")
    require(Versioned.latestVersion(s, ledger) >= 2,
      "multi-batch run must commit multiple transactions")
    val lockstep =
      Versioned.latestVersion(s, ledger) == Versioned.latestVersion(s, idx)
    val nParts = Versioned.readAsOf(s, idx).count()
    val cands = VersionedZone.candidatePartitions(s, idx, lo, hi)
    require(lockstep && cands.nonEmpty && cands.size < nParts,
      s"final pruning must be real: ${cands.size} of $nParts day partitions")
    VersionedZone.lookupRange(s, ledger, idx, "ts", lo, hi)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("amt")).cast("double").as("total"))
      .withColumn("pruned", lit(true))
    } }
  }

  // --- e47_stream_compact: COMPACTION UNDER LIVE INGEST — the
  // maintenance/streaming composition a long-running pipeline actually
  // hits: every micro-batch rewrites its day partitions (merge lands
  // one file per shuffle task, so hot partitions fragment within
  // hours), and the fix — k56's transactional compaction — must run
  // WITHOUT stopping the stream or breaking a reader that pinned a
  // version. Mid-stream (after batch 2's commit) the gate pins the
  // pre-compaction snapshot (count + xxhash64 bit_xor fingerprint),
  // require()s real fragmentation (files > partitions), compacts with
  // the zone index co-maintained in the same Txn, then require()s:
  // file count drops to one per partition, the PINNED SNAPSHOT still
  // reads bit-identically (time travel across a replace — the live
  // reader's isolation), every index tv equals its manifest
  // generation, and the NEXT batch commits on the compacted table with
  // versions still in lockstep. After the drain the 3-day window
  // answers through zone pruning; the oracle recomputes it from the
  // raw events — a compaction that dropped/duplicated a row, or a
  // post-compaction batch that merged wrong, hash-mismatches. Scale:
  // compaction reads only fragmented partitions and never blocks the
  // writer beyond the optimistic expectedVersion window; the reader
  // needs no coordination at all (old generations serve pinned reads
  // until expire). ---
  val e47StreamCompact = QueryDef.sql(
    "e47_stream_compact",
    """WITH base AS (SELECT event_id, CAST(ts AS DATE) AS d, ts,
      |    CAST(value AS DECIMAL(10,2)) AS amt
      |  FROM events WHERE value IS NOT NULL),
      |r AS (SELECT * FROM base
      |  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |    AND ts <= TIMESTAMP '2024-01-12 23:59:59.999999')
      |SELECT strftime(d, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(amt) AS DOUBLE) AS total, TRUE AS compacted
      |FROM r GROUP BY day""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) { withoutAqe(s) {
    import graft.operators.{Txn, Versioned, VersionedZone}
    val root = graft.Scratch.dir("e47-streamcompact")
    val ckpt = s"$root/ckpt"
    val ledger = s"$root/ledger"; val idx = s"$root/idx"
    // round-robin slices: every batch touches every day, so day
    // partitions fragment batch over batch — the compaction fixture
    val feed = sharedEventFeed(s, d)
    def fingerprintAt(v: Long): (Long, Long) = {
      // count + xor-fold in ONE aggregate pass (one job, not two)
      val r = Versioned.readAsOf(s, ledger, v)
        .select(xxhash64(col("event_id"), col("day"), col("ts"),
          col("amt")).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val stream = s.readStream
      .schema("event_id BIGINT, day STRING, ts TIMESTAMP, amt DECIMAL(10,2)")
      .option("maxFilesPerTrigger", 2) // 2 batches over the 3-file feed (round-13 fold)
      .parquet(feed)
    // e45's discipline: the mid-stream compaction must PROVABLY run —
    // an empty middle slice would skip it and pass the gate vacuously
    val probeFired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          Txn.recoverAll(s, s"$root/txns")
          // replay check over ALL versions' stamps in one manifest
          // fold: a compaction version carries none, so "latest stamp"
          // would lie here — and a per-version probe pays O(versions)
          // jobs per batch
          val replayed =
            Versioned.maxStamp(s, ledger).exists(_ >= batchId + 1)
          if (!replayed)
            VersionedZone.commitIndexed(s, s"$root/txns/txn-$batchId", ledger,
              idx, batch, "day", Seq("event_id"), "ts",
              stamp = Some(batchId + 1))
          if (batchId == 0L) {
            probeFired.set(true)
            // MID-STREAM maintenance: compact under a pinned reader
            val vPin = Versioned.latestVersion(s, ledger)
            val pinned = fingerprintAt(vPin)
            val (nParts, filesBefore) = Versioned.dataFileCount(s, ledger)
            require(filesBefore > nParts,
              s"ingest must fragment before compaction: $filesBefore files" +
                s" / $nParts partitions")
            val vmap = Versioned.compactPartitions(s, s"$root/txns/txn-compact",
              ledger, "day", minFiles = 2, indexPaths = Seq(idx))
            require(vmap.nonEmpty, "compaction must find fragmented partitions")
            val (nParts2, filesAfter) = Versioned.dataFileCount(s, ledger)
            require(nParts2 == nParts && filesAfter == nParts,
              s"compaction must land one file per partition: " +
                s"$filesBefore -> $filesAfter / $nParts")
            // the live reader's isolation: the pinned version still
            // reads bit-identically THROUGH the replace
            require(fingerprintAt(vPin) == pinned,
              "pinned snapshot must survive compaction bit-for-bit")
            // co-maintenance: no index row may lag its partition
            val gens = Versioned
              .manifestRefs(s, ledger, Versioned.latestVersion(s, ledger)).toMap
            val tv = Versioned.readAsOf(s, idx).select(col("pval"), col("tv"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            require(gens.forall { case (p, g) => tv.get(p).contains(g) },
              "index tv must track every partition generation post-compaction")
          }
          ()
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(probeFired.get,
      "mid-stream compaction never fired — the middle feed slice must be non-empty")
    // 2 batch commits + 1 compaction, table and index in lockstep
    // throughout (round-13 fold: each merge commit already lands one
    // file per shuffle task, so batch 0 fragments every hot day on its
    // own — the fragmentation require() above holds without a second
    // pre-compaction batch, and the third feed slice only re-proved
    // the ingest claim at half again the drain cost)
    val vL = Versioned.latestVersion(s, ledger)
    require(vL == 3L && Versioned.latestVersion(s, idx) == 3L,
      s"expected 2 batch commits + 1 compaction in lockstep, got $vL")
    val lo = expr("TIMESTAMP'2024-01-10 00:00:00'")
    val hi = expr("TIMESTAMP'2024-01-12 23:59:59.999999'")
    val nParts = Versioned.readAsOf(s, idx).count()
    val cands = VersionedZone.candidatePartitions(s, idx, lo, hi)
    require(cands.nonEmpty && cands.size < nParts,
      s"zone pruning must survive streaming compaction: ${cands.size} of $nParts")
    VersionedZone.lookupRange(s, ledger, idx, "ts", lo, hi)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("amt")).cast("double").as("total"))
      .withColumn("compacted", lit(true))
    } }
  }

  // --- e48_stream_text_index: STREAMING INGEST WITH A LIVE TOKEN
  // INDEX — the WHAT counterpart of e43's WHO (bloom) and e45's WHEN
  // (zone): every micro-batch lands hash-partitioned documents AND the
  // affected partitions' recomputed token blooms in one stamped Txn
  // (VersionedText.commitIndexed), so term search is answerable THROUGH
  // THE INDEX after every batch — a corpus being ingested is searchable
  // with no refresh-lag state at any point. Docs carry a doc-unique
  // marker token (zq<doc_id>x, DF=1 — measurable pruning regardless of
  // which round-robin slice arrived first); MID-INGEST the gate picks
  // the smallest doc already landed, probes its marker, and require()s
  // both retrieval (exactly that doc, through the pruned path) and the
  // pruning bound (candidates ≤ half the partitions). After the drain,
  // three fixed markers probe through the index; the oracle recomputes
  // every probe by direct token scan over the same marked corpus — a
  // missed batch, a replayed batch, or a bloom missing its batch's
  // tokens all hash-mismatch. Scale: each batch rewrites only its
  // partitions' blooms; a probe folds k index rows before any data
  // file opens. ---
  val e48StreamTextIndex = QueryDef.sql(
    "e48_stream_text_index",
    s"""WITH marked AS (SELECT doc_id,
       |    text || ' zq' || CAST(doc_id AS VARCHAR) || 'x' AS text
       |  FROM documents),
       |probes AS (SELECT 'zq0x' AS probe UNION ALL SELECT 'zq1x'
       |  UNION ALL SELECT 'zq2x'),
       |toks AS (SELECT doc_id,
       |    string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
       |  FROM marked)
       |SELECT p.probe, CAST(count(tk.doc_id) AS BIGINT) AS n_docs,
       |  min(tk.doc_id) AS min_doc, TRUE AS indexed
       |FROM probes p LEFT JOIN toks tk ON list_contains(tk.t, p.probe)
       |GROUP BY p.probe""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) { withoutAqe(s) {
    import graft.operators.{Txn, Versioned, VersionedText}
    val root = graft.Scratch.dir("e48-textsink")
    val feed = s"$root/feed"; val ckpt = s"$root/ckpt"
    val ledger = s"$root/docs"; val idx = s"$root/tokidx"
    val docs = T.documents(s, d).select(col("doc_id"),
      pmod(col("doc_id"), lit(16)).cast("string").as("pb"),
      concat(col("text"), lit(" zq"), col("doc_id").cast("string"), lit("x"))
        .as("text"))
    docs.repartition(3).write.parquet(feed)
    val stream = s.readStream
      .schema("doc_id BIGINT, pb STRING, text STRING")
      .option("maxFilesPerTrigger", 2) // 2 batches over the 3-file feed (round-13 fold)
      .parquet(feed)
    // e45's discipline: prove the mid-ingest probe actually ran
    val probeFired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          Txn.recoverAll(s, s"$root/txns")
          val replayed =
            Versioned.maxStamp(s, ledger).exists(_ >= batchId + 1)
          if (!replayed)
            VersionedText.commitIndexed(s, s"$root/txns/txn-$batchId", ledger,
              idx, batch, "pb", Seq("doc_id"), "text",
              stamp = Some(batchId + 1))
          // MID-INGEST: the landed corpus is searchable through the
          // index right now — probe the smallest landed doc's marker
          // at the mid-stream point (batch 0 committed, one to come);
          // one probe point carries the liveness claim (2 batches over
          // the 3-file feed since the round-13 fold — multi-batch
          // ingest + the live probe are the claim; a third slice only
          // re-proved it)
          if (batchId == 0L) {
            probeFired.set(true)
            val low = Versioned.readAsOf(s, ledger)
              .agg(min(col("doc_id"))).collect()(0).getLong(0)
            val mk = s"zq${low}x"
            val nParts = Versioned.readAsOf(s, idx).count()
            val cands = VersionedText.candidatePartitions(s, idx, Seq(mk))
            require(cands.nonEmpty && cands.size <= math.max(1L, nParts / 2),
              s"mid-ingest token pruning must be real: |$mk| -> " +
                s"${cands.size} of $nParts")
            val hits = VersionedText.lookupAll(s, ledger, idx, "text", Seq(mk))
              .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
            require(hits == Seq(low),
              s"mid-ingest probe $mk must retrieve exactly doc $low, got $hits")
          }
          ()
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(probeFired.get,
      "mid-ingest probe never fired — the middle feed slice must be non-empty")
    require(Versioned.latestVersion(s, ledger) >= 2,
      "multi-batch run must commit multiple transactions")
    require(Versioned.latestVersion(s, ledger) ==
        Versioned.latestVersion(s, idx),
      "corpus and token index must move in lockstep")
    Seq("zq0x", "zq1x", "zq2x").map { mk =>
      VersionedText.lookupAll(s, ledger, idx, "text", Seq(mk))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
        .select(lit(mk).as("probe"), col("n_docs"), col("min_doc"),
          lit(true).as("indexed"))
    }.reduce(_ unionByName _)
    } }
  }

  // --- e49_stream_triple_index: THE FULL INDEX FAMILY UNDER STREAMING
  // INGEST — k64 proved the point∧range∧category composition batch-side
  // against a statically-landed quartet; e43/e45 each keep ONE index
  // live under ingest; e49 closes the remaining cell: every micro-batch
  // commits its day-partitioned rows PLUS the affected days' bloom
  // (WHO: user key), zone (WHEN: event ts) and bitmap (WHAT:
  // weekend/weekday category) rows in ONE stamped transaction
  // (VersionedBitmap.commitTripleIndexed — the merged post-commit view
  // is computed once and feeds all three derivations), so the composed
  // three-index read is answerable mid-ingest with no index lagging any
  // other or the data. Mid-stream (batch 0 committed, one to come) the
  // gate require()s zone and bitmap pruning are both live and real;
  // after the drain it require()s version lockstep across all four
  // tables and that the TRIPLE intersection prunes strictly below both
  // the zone-only and bitmap-only candidate sets before the composed
  // read answers the weekend-window query for the 2 lowest matching
  // users. The oracle recomputes from raw events — a stale index row, a
  // torn 4-write transaction, or a wrongly-pruned partition all
  // hash-mismatch. 2 micro-batches (maxFilesPerTrigger=2 over the
  // 3-file shared feed): multi-batch ingest + a live mid-stream probe
  // carry the claim; a third batch would re-prove it at half again the
  // cost (the k64 birth-budget discipline). Scale: each batch rewrites
  // only its days; every probe is a k-row index fold. ---
  val e49StreamTripleIndex = QueryDef.sql(
    "e49_stream_triple_index",
    """WITH base AS (SELECT event_id, user_id, CAST(ts AS DATE) AS d, ts,
      |    CAST(value AS DECIMAL(10,2)) AS amt
      |  FROM events WHERE value IS NOT NULL),
      |rall AS (SELECT * FROM base
      |  WHERE ts >= TIMESTAMP '2024-01-12 00:00:00'
      |    AND ts <= TIMESTAMP '2024-01-21 23:59:59.999999'),
      |r0 AS (SELECT * FROM rall WHERE isodow(d) >= 6),
      |pw AS (SELECT event_id FROM r0 ORDER BY event_id LIMIT 4),
      |pd AS (SELECT event_id FROM rall WHERE isodow(d) < 6
      |  ORDER BY event_id LIMIT 4),
      |probes AS (SELECT event_id FROM pw UNION ALL SELECT event_id FROM pd)
      |SELECT r.event_id, r.user_id, CAST(r.amt AS DOUBLE) AS amt,
      |  TRUE AS pruned
      |FROM r0 r JOIN probes p ON r.event_id = p.event_id""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) { withoutAqe(s) {
    import graft.operators.{Txn, Versioned, VersionedBitmap, VersionedBloom, VersionedZone}
    val root = graft.Scratch.dir("e49-tripleidx")
    val ckpt = s"$root/ckpt"
    val ledger = s"$root/ledger"
    val bIdx = s"$root/bloom"; val zIdx = s"$root/zone"; val mIdx = s"$root/bm"
    // TIME-ORDERED feed, 2 day-disjoint slices — the shape a real
    // ingest has (data arrives roughly in event order), and the shape
    // that keeps each batch's index maintenance proportional to ITS
    // days: the shared round-robin feed puts every day in every slice,
    // so batch 1 would re-merge the ENTIRE ledger and recompute all
    // three indexes' every row (measured 12.5 s vs the 5 s budget).
    // Cross-batch merge still runs through the same commitTripleIndexed
    // path; e45 covers the overlapping-days merge shape for an index.
    // a 14-day slice carries the whole claim (the probe window sits
    // inside it); the other 16 days only fattened every commit's
    // partition fan-out and every index row-set
    val feed = graft.Scratch.cachedArtifact(s, "e49-feed-v2",
      Seq(s"$d/events.parquet")) { r =>
      T.events(s, d).filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"), col("ts"),
          col("value").cast("decimal(10,2)").as("amt"))
        .filter(col("day").between("2024-01-08", "2024-01-21"))
        .repartitionByRange(2, col("day"))
        .write.parquet(s"$r/feed")
    } + "/feed"
    val lo = expr("TIMESTAMP'2024-01-12 00:00:00'")
    val hi = expr("TIMESTAMP'2024-01-21 23:59:59.999999'")
    val stream = s.readStream
      .schema("event_id BIGINT, user_id BIGINT, day STRING, ts TIMESTAMP, amt DECIMAL(10,2)")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    // e45's discipline: prove the mid-ingest probe actually ran
    val probeFired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          Txn.recoverAll(s, s"$root/txns")
          val replayed =
            Versioned.maxStamp(s, ledger).exists(_ >= batchId + 1)
          if (!replayed) {
            // Spark dayofweek: 1 = Sunday, 7 = Saturday
            val delta = batch.withColumn("cat",
              when(dayofweek(to_date(col("day"))).isin(1, 7), lit("weekend"))
                .otherwise(lit("weekday")))
            VersionedBitmap.commitTripleIndexed(s, s"$root/txns/txn-$batchId",
              ledger, bIdx, zIdx, mIdx, delta, "day", Seq("event_id"),
              keyCol = "event_id", valCol = "ts", catCol = "cat",
              stamp = Some(batchId + 1))
          }
          // MID-INGEST probe between transactions: with a batch still
          // to come, the range and category dimensions already prune —
          // no refresh-lag state exists at any point of the ingest
          if (batchId == 0L) {
            probeFired.set(true)
            // ONE k-row zone collect carries the probe anchor AND the
            // range verdicts; partition count rides the same rows (the
            // indexes share the partition domain). The probe window is
            // anchored at the landed slice's own earliest timestamp —
            // the stream may deliver either day-range file first, so a
            // fixed calendar window could miss the landed half.
            val zrows = Versioned.readAsOf(s, zIdx)
              .select(col("pval"), col("min_v"), col("max_v")).collect()
            val t0 = zrows.map(_.getTimestamp(1)).min
            val tHi = new java.sql.Timestamp(t0.getTime + 3L * 86400000)
            val nParts = zrows.length
            val zc = zrows.count(r =>
              !r.getTimestamp(2).before(t0) && !r.getTimestamp(1).after(tHi))
            val mc = VersionedBitmap.candidatePartitions(s, mIdx, lit("weekend"))
            require(zc > 0 && mc.nonEmpty && zc < nParts && mc.size < nParts,
              s"mid-ingest pruning must be live: zone $zc, " +
                s"bitmap ${mc.size} of $nParts day partitions")
          }
          ()
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(probeFired.get,
      "mid-ingest probe never fired — the first feed slice must be non-empty")
    require(Versioned.latestVersion(s, ledger) == 2L &&
        Seq(bIdx, zIdx, mIdx).forall(Versioned.latestVersion(s, _) == 2L),
      "ledger and all three indexes must move in lockstep across 2 txns")
    // deterministic POINT probes, mirroring the oracle: the 4 lowest
    // weekend event ids and the 4 lowest weekday event ids inside the
    // window. The weekend/weekday split is load-bearing twice over —
    // the weekday probes are the rows the composed read must NOT
    // return (the bitmap removes their partitions), and their
    // partitions make the bitmap's extra pruning STRUCTURAL: bloom and
    // zone both admit them, the category bit never does. (event_id,
    // not user_id, is the bloom key: the fixture's ~100 events per
    // user put every user in every day partition, so a user-key bloom
    // can never prune a day.) ONE window-slice scan carries both probe
    // sets.
    val inWin = Versioned.readAsOf(s, ledger)
      .filter(col("ts") >= lo && col("ts") <= hi)
      .groupBy(col("cat") === "weekend")
      .agg(sort_array(collect_list(col("event_id"))).as("ids"))
      .collect().map(r => r.getBoolean(0) -> r.getSeq[Long](1).take(4)).toMap
    val probes: Seq[Long] = inWin.getOrElse(true, Nil) ++ inWin.getOrElse(false, Nil)
    // k64's discipline, adapted to live data: every index must BITE.
    // zone, bitmap and bloom each prune below the partition count, and
    // the triple intersection prunes STRICTLY below the point∧range
    // pair — the weekday probes' partitions are admitted by bloom and
    // zone and removed only by the category bit, by construction.
    val nParts = Versioned.readAsOf(s, zIdx).count()
    val zc = VersionedZone.candidatePartitions(s, zIdx, lo, hi).toSet
    val mc = VersionedBitmap.candidatePartitions(s, mIdx, lit("weekend")).toSet
    val bc = VersionedBloom.candidatePartitions(s, bIdx, probes).toSet
    val triple = bc & zc & mc
    require(zc.size < nParts && mc.size < nParts && bc.size < nParts,
      s"every index must prune: zone ${zc.size}, bitmap ${mc.size}, " +
        s"bloom ${bc.size} of $nParts")
    require(triple.size < (zc & bc).size,
      s"the bitmap must bite beyond point∧range: ${triple.size} vs " +
        s"${(zc & bc).size}")
    VersionedBitmap.lookupEqKeysInRange(s, ledger, bIdx, zIdx, mIdx,
        "event_id", probes, "ts", lo, hi, "cat", lit("weekend"))
      .select(col("event_id"), col("user_id"),
        col("amt").cast("double").as("amt"), lit(true).as("pruned"))
    } }
  }

  // --- e46_stream_live_stats: TRANSACTIONAL CBO STATS UNDER INGEST —
  // e40 refreshes a plain stats store "after" each batch (a lag window
  // in which the planner reads stats for a table state that no longer
  // exists); e46 closes that window: every micro-batch commits its rows
  // AND the affected partitions' recomputed stats rows (exact counts +
  // NDV registers) in ONE stamped Txn (VersionedStats.commitWithStats),
  // so there is NO observable state — crash windows included — where
  // the table and the stats the CBO reads disagree. The gate makes the
  // stats LIVE consumers real: at the mid-stream point (batch 1
  // committed, a batch still to come) it require()s the stats-row
  // total equals the table's exact count and the merged-register NDV
  // tracks the exact distinct count within HLL tolerance, and it
  // records the k50 broadcast advice (fits-the-budget refusal)
  // after every batch — the advice FLIPS mid-ingest ('broadcast' while
  // the table is under half the feed, 'shuffle' once it grows past it),
  // which is deterministic for 3 round-robin slices regardless of file
  // order, so the flip itself rides the hash gate; the register replay
  // (HllSketch.sqlRegisters) pins the final NDV estimate bit-for-bit.
  // Scale: each batch recomputes stats for only ITS partitions'
  // post-image; the advice is a k-row fold — no data-table I/O. ---
  val e46StreamLiveStats = QueryDef.sql(
    "e46_stream_live_stats",
    s"""WITH base AS (SELECT event_id, user_id
       |  FROM events WHERE value IS NOT NULL),
       |${graft.operators.HllSketch.sqlRegisters("base", "1 AS g", "event_id", "ereg")},
       |ee AS (${graft.operators.HllSketch.sqlEstimate("ereg", "g")}),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
       |SELECT s.batch_seq,
       |  CASE WHEN s.batch_seq = 1 THEN 'broadcast' ELSE 'shuffle' END AS advised,
       |  t.n AS final_rows, ee.est AS ndv_events_est
       |FROM (SELECT 1 AS batch_seq UNION ALL SELECT 2 UNION ALL SELECT 3) s,
       |  t, ee""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) { withoutAqe(s) {
    import graft.operators.{Txn, Versioned, VersionedStats}
    val root = graft.Scratch.dir("e46-livestats")
    val feed = sharedEventFeed(s, d); val ckpt = s"$root/ckpt"
    // stats path sorts BEFORE the ledger: Txn applies in sorted-table
    // order, so the ledger carrying the batch stamp proves the whole
    // txn (stats included) applied — e43's replay discipline
    val ledger = s"$root/ledger"; val stats = s"$root/a_stats"
    val ev = T.events(s, d).filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("user_id"))
    val total = ev.count()
    val budget = total / 2 // the broadcast row budget the advisor enforces
    require(total > 12, s"flip arithmetic needs a real feed, got $total rows")
    val advices = scala.collection.mutable.SortedMap.empty[Long, String]
    val stream = s.readStream
      .schema("event_id BIGINT, event_type STRING, user_id BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    // e45's discipline: prove the mid-ingest invariants actually ran
    val probeFired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          Txn.recoverAll(s, s"$root/txns")
          val replayed =
            Versioned.maxStamp(s, ledger).exists(_ >= batchId + 1)
          if (!replayed)
            VersionedStats.commitWithStats(s, s"$root/txns/txn-$batchId",
              ledger, stats, batch, "event_type", Seq("event_id"),
              cols = Seq("event_id", "user_id"), stamp = Some(batchId + 1))
          val st = VersionedStats.read(s, stats)
          // LIVE invariants between transactions, proved at the
          // mid-stream point (batch 1 committed, a batch still to
          // come): the stats the planner would read RIGHT NOW describe
          // exactly the committed table. NDV via the small-range-
          // corrected consumer — user_id's cardinality (~150) sits
          // below the linear-counting switch, where the raw (oracle-
          // replayable) formula is biased high. The per-batch ADVICE
          // fold below stays on every batch — the flip is the result.
          if (batchId == 1L) {
            probeFired.set(true)
            val exactRows = Versioned.readAsOf(s, ledger).count()
            val statsRows = VersionedStats.totalRows(st)
            require(statsRows == exactRows,
              s"mid-ingest stats rows $statsRows != table rows $exactRows")
            val ndvEst = VersionedStats.ndvGlobalCorrected(st, "user_id")
            val ndvExact = Versioned.readAsOf(s, ledger)
              .select(col("user_id")).distinct().count()
            require(ndvExact > 0 &&
              math.abs(ndvEst - ndvExact) / ndvExact <= 0.15,
              s"mid-ingest NDV estimate $ndvEst drifted from exact $ndvExact")
          }
          advices(batchId) = VersionedStats.broadcastAdvice(st, budget)
          ()
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(probeFired.get,
      "mid-ingest probe never fired — the middle feed slice must be non-empty")
    require(Versioned.latestVersion(s, ledger) >= 2,
      "multi-batch run must commit multiple transactions")
    require(Versioned.latestVersion(s, ledger) ==
      Versioned.latestVersion(s, stats),
      "table and stats versions must move in lockstep")
    val hist = advices.values.toSeq
    require(hist.size == 3 && hist.head == "broadcast" &&
      hist.drop(1).forall(_ == "shuffle"),
      s"advice must flip broadcast→shuffle over the drain, got $hist")
    val st = VersionedStats.read(s, stats)
    val finalRows = VersionedStats.totalRows(st)
    // event_id NDV rides the hash gate RAW: its cardinality (= rows) is
    // far above the small-range switch, where raw HLL is accurate AND
    // bit-identical to the DuckDB register replay
    val ndvEst = VersionedStats.ndvGlobal(st, "event_id")
    import s.implicits._
    hist.zipWithIndex.map { case (adv, i) => (i + 1, adv, finalRows, ndvEst) }
      .toDF("batch_seq", "advised", "final_rows", "ndv_events_est")
    } }
  }

  // --- e44_stream_forget: STREAMING GDPR ERASURE — forget REQUESTS
  // arrive as a stream (the real shape of right-to-be-forgotten: a
  // queue of subject ids, not a batch job), and each micro-batch
  // erases its subjects from the ledger AND the secondary index in one
  // atomic transaction (k52's VersionedBloom.deleteIndexed, stamped
  // with batchId for e42's replay discipline). The erasure DOGFOODS
  // the index: the subjects' row keys are resolved through the
  // index-pruned lookup path, so only candidate partitions are read to
  // find what to delete. After the drain, five probes (3 lowest
  // surviving + 2 lowest forgotten subjects) answer through the index
  // with a left join — a forgotten subject positively reports 0 rows.
  // A missed batch, a replayed batch, a stale index row, or a
  // half-applied erasure all hash-mismatch. Scale: each batch rewrites
  // only partitions holding its subjects' rows; the per-batch subject
  // set rides the driver as a probe list (broadcast the subject frame
  // against the index for queue-sized batches). ---
  val e44StreamForget = QueryDef.sql(
    "e44_stream_forget",
    """WITH base AS (SELECT event_id, user_id, CAST(value AS DECIMAL(10,2)) AS amt
      |  FROM events WHERE value IS NOT NULL),
      |surv AS (SELECT * FROM base WHERE user_id % 7 <> 0),
      |plo AS (SELECT DISTINCT user_id FROM surv ORDER BY user_id LIMIT 3),
      |pfo AS (SELECT DISTINCT user_id FROM base WHERE user_id % 7 = 0
      |  ORDER BY user_id LIMIT 2),
      |probes AS (SELECT user_id FROM plo UNION ALL SELECT user_id FROM pfo),
      |agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(amt) AS DOUBLE) AS total FROM surv GROUP BY user_id)
      |SELECT p.user_id, coalesce(agg.n, 0) AS n_events,
      |  coalesce(agg.total, CAST(0 AS DOUBLE)) AS total,
      |  p.user_id % 7 = 0 AS forgotten, TRUE AS versions_lockstep
      |FROM probes p LEFT JOIN agg ON agg.user_id = p.user_id""".stripMargin) { (s, d) =>
    withStatePartitions(s, 4) { withoutAqe(s) {
    import graft.operators.{Versioned, VersionedBloom}
    val root = graft.Scratch.dir("e44-forget")
    val feed = s"$root/feed"; val ckpt = s"$root/ckpt"
    val ledger = s"$root/ledger"; val idx = s"$root/idx"
    val ev = T.events(s, d).filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("user_id"),
        col("value").cast("decimal(10,2)").as("amt"))
    // the PRE-ERASURE ledger+bloom base is a pure function of the
    // fixture: land it once per dataset content, then SHALLOW-CLONE
    // both tables into this run's scratch (k34's zero-copy operator —
    // a k-row manifest write each) and erase from the clones. Each run
    // still exercises the full streaming-erasure path; it just stops
    // re-writing the identical base ledger first.
    val baseRoot = graft.Scratch.cachedArtifact(s, "e44-base-v1",
      Seq(s"$d/events.parquet")) { r =>
      VersionedBloom.commitIndexed(s, s"$r/txn0", s"$r/ledger", s"$r/idx",
        ev, "event_type", Seq("event_id"), "user_id")
    }
    Versioned.shallowClone(s, s"$baseRoot/ledger", ledger)
    Versioned.shallowClone(s, s"$baseRoot/idx", idx)
    val v0 = Versioned.latestVersion(s, ledger)
    // the forget queue: every %7 subject, in two micro-batch files
    ev.filter(col("user_id") % 7 === 0).select(col("user_id")).distinct()
      .repartition(2).write.parquet(feed)
    val stream = s.readStream
      .schema("user_id BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // restart discipline: roll any _COMMIT-ed half-applied
          // erasure forward BEFORE reading stamps — the index (applied
          // first, alphabetical order) can carry a batch stamp whose
          // ledger delete is still pending after a crash; skipping on
          // that stamp alone would lose the erasure forever
          graft.operators.Txn.recoverAll(s, s"$root/txns")
          // replay check on the LAST-applied table (the ledger) —
          // versions count from the clone's base v0, not from 1
          val vL = Versioned.latestVersion(s, ledger)
          val replayed = vL > v0 &&
            Versioned.stampOf(s, ledger, vL).exists(_ >= batchId + 1)
          if (!replayed) {
            val subjects = batch.select(col("user_id")).distinct()
              .collect().map(_.getLong(0)).toSeq // queue-sized by design
            val rmKeys = VersionedBloom
              .lookup(s, ledger, idx, "user_id", subjects)
              .select(col("event_id"))
            VersionedBloom.deleteIndexed(s, s"$root/txns/txn-$batchId",
              ledger, idx, rmKeys, Seq("event_id"), "user_id",
              stamp = Some(batchId + 1))
          }
          ()
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(Versioned.latestVersion(s, ledger) >= v0 + 2,
      "multi-batch erasure must commit multiple transactions")
    val lockstep =
      Versioned.latestVersion(s, ledger) == Versioned.latestVersion(s, idx)
    val survUsers = ev.filter(col("user_id") % 7 =!= 0)
      .select(col("user_id")).distinct()
    val forgUsers = ev.filter(col("user_id") % 7 === 0)
      .select(col("user_id")).distinct()
    val probes: Seq[Long] =
      survUsers.orderBy(col("user_id")).limit(3).collect().map(_.getLong(0)).toSeq ++
      forgUsers.orderBy(col("user_id")).limit(2).collect().map(_.getLong(0)).toSeq
    val looked = VersionedBloom.lookup(s, ledger, idx, "user_id", probes)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("amt")).cast("double").as("t"))
    import s.implicits._
    probes.toDF("user_id").join(looked, Seq("user_id"), "left_outer")
      .select(col("user_id"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("t"), lit(0.0)).as("total"),
        (col("user_id") % 7 === 0).as("forgotten"),
        lit(lockstep).as("versions_lockstep"))
    } }
  }

  val all: Seq[QueryDef] = Seq(
    e1WindowedAgg, e2Sessionization, e3EventFunnel, e4AsofJoin, e4bAsofNative,
    e4cAsofForward, e4dAsofSql, e4eAsofTolerance,
    e5PropsExtract, e6AnomalyFlags, e7CohortRetention, e8RfmSegments,
    e9TransitionMatrix, e10RollingDau, e11StreamWindows, e12StreamStreamJoin,
    e13ConversionLag, e14RobustZscore, e15StreamDedup, e16ActivityIslands,
    e17SessionPaths, e18StreamIvm, e19StreamSessions, e20LateData,
    e21StreamOuterJoin, e22TransformWithState, e23StateMap, e24StateList,
    e25ChainedAgg, e26SessionWindow, e27SequenceMatch, e28VariantExtract,
    e29StreamFullOuter, e30Attribution, e31StreamStaticJoin, e32StreamSemiJoin,
    e33StreamVersionedSink, e34TableFollow, e36StreamMediaFingerprint,
    e37StreamHll, e39StreamCms, e40StreamStatsFollow, e41StreamQuantile,
    e42StreamTxnSink, e43StreamIndexedSink, e44StreamForget,
    e45StreamRangeIndex, e46StreamLiveStats, e47StreamCompact,
    e48StreamTextIndex, e49StreamTripleIndex)
}
