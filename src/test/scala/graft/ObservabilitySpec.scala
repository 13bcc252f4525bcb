package graft

import org.apache.spark.sql.functions._
import graft.operators.Observability
import graft.pipeline.{RunLedger, TimeWindow}

class ObservabilitySpec extends SparkSpec {
  import spark.implicits._

  test("observe counts rows and rejects inline with the action") {
    val collector = Observability.register(spark)
    // the session is shared: a collector left registered would capture
    // every later suite's observations, whatever their types
    try {
      val df = Seq(("1", 1), ("x", 2), (null, 3), ("4", 4)).toDF("q", "id")
      val observed = Observability.observed(df, "cast_stage", expr("try_cast(q AS INT)").isNotNull)
      observed.filter(expr("try_cast(q AS INT)").isNotNull).count() // the action
      // listener delivery is synchronous-ish but defensive-poll anyway
      val deadline = System.currentTimeMillis() + 10000
      while (!collector.metrics.contains("cast_stage") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val m = collector.metrics("cast_stage")
      assert(m("rows") === 4)
      assert(m("rejects") === 2)
    } finally spark.listenerManager.unregister(collector)
  }

  test("the collector captures an observation's Long counters and skips its other fields") {
    val collector = Observability.register(spark)
    try {
      val df = Seq(("2024-01-01 00:00:00", 1), ("2024-01-02 12:00:00", 2)).toDF("t", "id")
        .select(to_timestamp(col("t")).as("ts"), col("id"))
        .observe("with_ts", count(lit(1)).as("n"), max(col("ts")).as("last_ts"))
      df.collect() // the action
      // a listener that threw would never record the metric
      val deadline = System.currentTimeMillis() + 10000
      while (!collector.metrics.contains("with_ts") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(collector.metrics.get("with_ts") === Some(Map("n" -> 2L)))
      // and called directly on the same execution, it returns normally
      collector.onSuccess("collect", df.queryExecution, 0L)
      assert(collector.metrics("with_ts") === Map("n" -> 2L))
    } finally spark.listenerManager.unregister(collector)
  }

  test("run ledger: record, skip-if-completed, failure does not mark complete") {
    val path = java.nio.file.Files.createTempDirectory("ledger").toString + "/l"
    val ledger = new RunLedger(spark, path)
    val w1 = TimeWindow("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z")
    val w2 = TimeWindow("2024-01-02T00:00:00Z", "2024-01-03T00:00:00Z")
    assert(!ledger.alreadyCompleted("payments", w1))
    ledger.record("payments", w1, rows = 100)
    assert(ledger.alreadyCompleted("payments", w1))
    assert(!ledger.alreadyCompleted("payments", w2))
    assert(!ledger.alreadyCompleted("orders", w1))
    ledger.record("payments", w2, rows = 0, status = "failed")
    assert(!ledger.alreadyCompleted("payments", w2))
  }

  test("run ledger: concurrent records never collide on identity") {
    val path = java.nio.file.Files.createTempDirectory("ledger").toString + "/l"
    val ledger = new RunLedger(spark, path)
    val w = TimeWindow("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z")
    // the old run_seq = count() scheme handed concurrent writers the
    // same sequence number; run_id must stay unique under parallelism
    val threads = (1 to 6).map { i =>
      new Thread(() => ledger.record(s"p$i", w, rows = i.toLong))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(ledger.entries.count() === 6, "no record may be lost under concurrency")
    assert(ledger.entries.select("run_id").distinct().count() === 6)
    (1 to 6).foreach(i => assert(ledger.alreadyCompleted(s"p$i", w)))
  }
}
