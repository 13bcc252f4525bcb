package graft

import org.apache.spark.sql.SparkSession

/** The engine's session entrypoint: one place that encodes every config
  * and extension the library depends on. Users, the dev mains and the
  * test suites build sessions here so behavior never depends on ambient
  * defaults.
  *
  * Sizing guidance (local[N] → cluster): `shufflePartitions` should be
  * cores×2-3 on a real cluster (AQE coalesces small post-shuffle
  * partitions back down); `spark.sql.files.maxPartitionBytes` default
  * 128m holds until individual row groups exceed executor memory.
  */
object GraftSession {

  def builder(
      master: String = "local[*]",
      shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events-style feeds carry TIMESTAMP(NANOS) parquet, which Spark 4
      // otherwise refuses; Tables.events floors the longs to micros
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // serialized persisted blocks (Scratch.stageFrame's staged rounds)
      // compress with the io codec, so their reported block size — which
      // stageFrame stamps into the staged leaf's stats — approximates
      // the encoded footprint a parquet round trip would have shown the
      // planner, keeping broadcast-vs-SMJ decisions scale-adaptive
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")
      // every SQL execution eagerly renders its physical-plan string
      // for the listener bus (even with the UI off); transactional
      // gates run thousands of tiny executions whose plan trees (as-of
      // unions, staged leaves) stringify large — cap the render. Purely
      // observational: no plan decision reads this.
      .config("spark.sql.maxPlanStringLength", "2048")
      // commit tiny parquet writes (manifests, stats rows, staged txn
      // deltas) with the v2 task-commit protocol: v1's job-commit pays
      // a second sequential rename pass per write, pure latency at
      // k-row sizes (correctness is the same staged-dir rename either
      // way; the engine's own crash protocol sits above _SUCCESS
      // markers, which v2 still writes)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // what graft adds to Spark: the as-of strategy, the optimizer
      // rules, the SQL functions; newSession() children inherit it
      .withExtensions(new graft.plans.GraftExtensions)
    // deployment dial: SPARK_GRAFT_SCRATCH points every staging site
    // (graft.Scratch) at a cluster-visible root without code changes;
    // unset = conf default (local tmp in local mode, loud fail on a
    // cluster master)
    val b2 = sys.env.get("SPARK_GRAFT_SCRATCH")
      .foldLeft(b)((acc, r) => acc.config(Scratch.RootKey, r))
    // staging-mode dial (see Scratch.stageFrame): local | parquet
    sys.env.get("SPARK_GRAFT_STAGE_MODE")
      .foldLeft(b2)((acc, m) => acc.config(Scratch.StageModeKey, m))
  }

  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", shufflePartitions = cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with each `key -> value` set on `spark`'s conf, then
    * restores each key's previous value, or unsets a key that had none.
    * The one way graft scopes a per-query switch (a rule's conf key, AQE
    * off, a shuffle width) to the code that needs it. */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.reverse.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
