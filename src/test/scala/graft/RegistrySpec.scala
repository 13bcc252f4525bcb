package graft

/** Every declared query must run end-to-end on sf0.001 and, where it has
  * an oracle, produce a stable column set (driver hashes by column name).
  */
class RegistrySpec extends SparkSpec {

  test("registry names are unique and oracle keys subset of queries") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.registry.foreach { q =>
    test(s"${q.name} runs on sf0.001") {
      // Built on its own child session, as the registry run loop builds
      // it: the switches, temp views and streams it leaves go with the
      // child, and the shared session's conf is left as it was.
      val confBefore = spark.conf.getAll
      val child = RegistryRun.querySession(spark, Nil)
      val df = org.apache.spark.sql.graftbridge.withActive(child)(q.run(child, sfDir))
      // Materialize fully (same action Verify performs, minus the write).
      val n = df.count()
      assert(n >= 0)
      // Column names must be lowercase + distinct for oracle hash parity.
      val cols = df.columns.toSeq
      assert(cols.distinct.size === cols.size, s"duplicate columns in ${q.name}: $cols")
      // Dogfoods the user-facing linter: the rules a library user runs
      // via PlanLint.assertScales check the optimized logical plan for
      // scale-killers (partition-less windows and friends).
      val fatals = graft.plans.PlanLint.lintLogical(df.queryExecution.optimizedPlan)
        .filter(_.severity == "fatal")
      assert(fatals.isEmpty, s"logical scale-killers in ${q.name}: ${fatals.mkString("; ")}")
      // Cache hygiene: no query may leak persisted frames into a
      // long-lived session (round 1 leaked d3/v2/v3's buckets; the bench
      // only survived by calling clearCache after every query). Staged
      // checkpoint leaves (Scratch.stageFrame local mode) ARE parked in
      // the block manager by design; the contract is that the harness's
      // between-queries sweep — Scratch.releaseRunState, which the
      // run loop of Bench and Verify calls — returns the session to empty.
      graft.Scratch.releaseRunState(spark)
      assert(spark.sharedState.cacheManager.isEmpty,
        s"${q.name} left frames in the session cache")
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"${q.name} left persistent RDDs behind after releaseRunState")
      assert(spark.conf.getAll === confBefore, s"${q.name} changed the shared session's conf")
    }
  }
}
