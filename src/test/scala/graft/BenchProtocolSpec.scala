package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.RegistryRun.{Cancelled, Failed, Measured, Row, Run, SetConf, Site}

/** The registry run loop and Bench's record: the per-query watchdog
  * cancels a planted slow query (and reports it as Cancelled,
  * distinguishable from an ordinary failure), a row counts the jobs and
  * streams its query starts, a `set:` step applies only to the queries
  * after it, bad steps are refused before any query runs, and the
  * record line is valid JSON with its coverage keys and per-query rows. */
class BenchProtocolSpec extends SparkSpec {

  private def noop(steps: RegistryRun.Step*): Seq[Row] =
    RegistryRun.run(spark, sfDir, steps) { (_, df) =>
      df.write.format("noop").mode("overwrite").save()
    }

  private def query(name: String) = Run(SparkEntry.registry.find(_.name == name).get)

  test("watchdog cancels a planted slow query and reports Cancelled") {
    val out = RegistryRun.withWatchdog(spark, "bench-spec-slow", capSecs = 2.0) {
      // ~100s of driver-visible Spark work if never cancelled: many
      // sequential small jobs so cancellation lands between/inside jobs
      (1 to 200).foreach { _ =>
        spark.range(0L, 400000000L, 1L, 4)
          .selectExpr("sum(id * 7 + 3) as s").collect()
      }
    }
    out match {
      case Cancelled(after) =>
        assert(after >= 1.5 && after < 30.0,
          s"cancellation should land near the 2s cap, took $after s")
      case other => fail(s"expected Cancelled, got $other")
    }
  }

  test("watchdog passes a fast query through as Measured") {
    val out = RegistryRun.withWatchdog(spark, "bench-spec-fast", capSecs = 60.0) {
      spark.range(0L, 1000L).selectExpr("sum(id)").collect()
    }
    assert(out.isInstanceOf[Measured])
  }

  test("watchdog reports an ordinary failure as Failed, not Cancelled") {
    val out = RegistryRun.withWatchdog(spark, "bench-spec-fail", capSecs = 60.0) {
      sys.error("planted failure")
    }
    out match {
      case Failed(_, msg) => assert(msg.contains("planted failure"))
      case other => fail(s"expected Failed, got $other")
    }
  }

  test("a batch query's row shows its jobs and no stream") {
    val Seq(row) = noop(query("a3_nation_revenue"))
    assert(row.outcome.isInstanceOf[Measured], row.line)
    assert(row.jobs >= 1 && row.stages >= 1 && row.tasks >= 1, row.line)
    assert(row.streams == 0, row.line)
    assert(row.sites.nonEmpty && row.sites.map(_.stages).sum <= row.stages, row.sites)
  }

  test("a streaming query's row shows a started stream") {
    val Seq(row) = noop(query("e37_stream_hll"))
    assert(row.outcome.isInstanceOf[Measured], row.line)
    assert(row.streams >= 1, row.line)
  }

  test("a set: step applies only to the queries after it, and the run restores it") {
    val key = "spark.graft.spec.probe"
    val seen = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    RegistryRun.run(spark, sfDir,
      Seq(query("a3_nation_revenue"), SetConf(key, "on"), query("a1_pricing_summary"))) {
      (_, df) => seen += df.sparkSession.conf.getOption(key)
    }
    assert(seen == Seq(None, Some("on")))
    assert(spark.conf.getOption(key).isEmpty)
  }

  test("the loop refuses an unknown query name and a set: without '=', naming the token") {
    val unknown = intercept[IllegalArgumentException](
      RegistryRun.parse(Seq("a3_nation_revenue", "a3_nation_revenu")))
    assert(unknown.getMessage.contains("'a3_nation_revenu' (no such query)"))
    val noValue = intercept[IllegalArgumentException](
      RegistryRun.parse(Seq("set:spark.sql.shuffle.partitions", "a3_nation_revenue")))
    assert(noValue.getMessage.contains("'set:spark.sql.shuffle.partitions' (expected set:key=value)"))
    intercept[IllegalArgumentException](RegistryRun.parse(Seq("set:k=v")))
    assert(RegistryRun.parse(Seq("set:k=a=b", "a3_nation_revenue")).head == SetConf("k", "a=b"))
  }

  test("the bench record is valid JSON with its coverage keys and per-query rows") {
    def q(name: String) = QueryDef(name, (_, _) => sys.error("not run"), None)
    def row(name: String, o: RegistryRun.Outcome, streams: Int = 0) =
      Row(q(name), o, jobs = 3, stages = 4, tasks = 8, streams = streams,
        sites = Seq(Site("parquet at \"X.scala\":1", 2, 0.25)))
    val passes = Seq(
      Seq(row("a1_x", Measured(1.5)), row("a2_y", Measured(0.4)),
        row("k1_z", Cancelled(300.0)), row("e1_s", Measured(3.0), streams = 1)),
      Seq(row("a1_x", Measured(1.2)), row("a2_y", Measured(0.5)),
        row("k1_z", Failed(0.1, "boom")), row("e1_s", Failed(0.2, "boom"), streams = 1)))
    val line = Bench.record(passes, Seq(0.9, 0.8), Seq(1.4, 1.2), "/tmp/sf")
    implicit val fmt: Formats = DefaultFormats
    val m = JsonMethods.parse(line).asInstanceOf[JObject].values // throws on malformed JSON
    assert(m("metric") == "total")
    assert(m("covered") == 3 && m("registered") == 4 && m("passes") == 2)
    assert(m("uncovered") == Seq("k1_z"))
    assert(m("cancelled_queries") == Seq("k1_z"))
    assert(m("failed_queries") == Seq("k1_z", "e1_s"))
    val qs = m("queries").asInstanceOf[Map[String, Any]]
    assert(qs("a1_x").toString.toDouble == 1.2 && qs("a2_y").toString.toDouble == 0.4)
    val rows = m("rows").asInstanceOf[Map[String, Map[String, Any]]]
    assert(rows("a1_x")("pass") == 2 && rows("a2_y")("pass") == 1)
    assert(rows("a1_x")("jobs") == 3 && rows("a1_x")("tasks") == 8)
    val site = rows("a1_x")("sites").asInstanceOf[Seq[Map[String, Any]]].head
    assert(site("site") == "parquet at \"X.scala\":1" && site("stages") == 2)
    // stream/batch split: e1_s (3.0) is the only query whose row shows a stream
    assert(math.abs(m("stream_total").toString.toDouble - 3.0) < 1e-6)
    assert(math.abs(m("batch_total").toString.toDouble - 1.6) < 1e-6)
    val fams = m("families").asInstanceOf[Map[String, Any]]
    assert(fams.keySet == Set("a", "e"))
  }
}
