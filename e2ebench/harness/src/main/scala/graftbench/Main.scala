package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, Scratch, SparkEntry}
import graft.model.Tenant
import graft.operators.SquareOps
import graft.pipeline.{SquarePipelines, TimeWindow}
import graft.sources.JsonlSquareSource

/** One benchmark run inside one JVM: set-up (session, cold pass or
  * backfill), measured passes until `--seconds` have elapsed, and a JSON
  * record of raw measurements written to `--out`. The caller (run.py)
  * checks outputs and turns the record into metrics.
  *
  *   --workload olap|gates|square-etl  --seed N  --seconds S  --trace 0|1
  *   --data DIR (fixture tables)  --dump DIR (cold-pass outputs)
  *   --feed DIR (Square JSONL)  --warehouse DIR  --t0-ms MS
  *   --ops a,b,c (the operations of one pass)  --cores N  --out FILE
  *   --budget-s S (no new pass starts after S seconds of JVM life)
  *
  * The scratch root comes from the `spark.graft.scratch.root` system
  * property, which the caller points at an empty per-run directory.
  */
object Main {

  private val jvmStart = System.nanoTime()
  private def now(): Double = (System.nanoTime() - jvmStart) / 1e9

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(argv: Array[String]): Args =
    new Args(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = mutable.LinkedHashMap[String, Any]()
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    rec("workload") = a("workload")
    rec("seed") = a("seed").toLong
    rec("ops") = ops
    rec("passes") = passes
    var spark: SparkSession = null
    try {
      spark = GraftSession.local(a("cores").toInt)
      rec("session_ready_ms") = System.currentTimeMillis()
      new Run(spark, a, rec, ops, passes).run()
    } catch {
      case e: Throwable =>
        rec("error") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      rec("peak_rss_kb") = vmHwmKb()
      write(Paths.get(a("out")), Json.render(rec))
      if (spark != null) spark.stop()
    }
  }

  def write(p: Path, s: String): Unit = {
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  def vmHwmKb(): Long = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }

  /** Bytes under a local directory (0 when it does not exist). */
  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }

  sealed trait Outcome
  case object Ok extends Outcome
  final case class Failed(msg: String) extends Outcome
  final case class Cancelled(afterS: Double) extends Outcome

  /** Runs `body` in its own job group; at `capS` (and every second after)
    * the group is cancelled and active streams are stopped, since a
    * stream's micro-batches run outside the group. */
  def withWatchdog(spark: SparkSession, group: String, capS: Double)(body: => Unit): Outcome = {
    val sc = spark.sparkContext
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    sc.setJobGroup(group, s"e2ebench:$group", interruptOnCancel = true)
    val timer = new java.util.Timer(s"e2ebench-watchdog-$group", true)
    timer.scheduleAtFixedRate(new java.util.TimerTask {
      def run(): Unit = {
        fired.set(true)
        try sc.cancelJobGroup(group) catch { case _: Throwable => () }
        try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => () }
      }
    }, math.max(1L, (capS * 1000).toLong), 1000L)
    val t0 = now()
    try { body; Ok }
    catch {
      case e: Throwable =>
        if (fired.get) Cancelled(now() - t0) else Failed(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally { timer.cancel(); sc.clearJobGroup() }
  }

  private final class Run(
      spark: SparkSession,
      a: Args,
      rec: mutable.Map[String, Any],
      ops: mutable.ArrayBuffer[Map[String, Any]],
      passes: mutable.ArrayBuffer[Map[String, Any]]) {

    private val workload = a("workload")
    private val traceRun = a("trace") == "1"
    private val seconds = a("seconds").toDouble
    private val budgetS = a.get("budget-s").map(_.toDouble).getOrElse(140.0)
    private val capS = 60.0
    private val WarmupPasses = 1
    private val names = a("ops").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    private val rng = new scala.util.Random(a("seed").toLong)
    private val tracer = if (traceRun) Some(new Tracer(spark)) else None
    private val layers = mutable.LinkedHashMap.empty[String, Double]
    private val scratchRoot = sys.props.getOrElse(Scratch.RootKey, sys.error(s"-D${Scratch.RootKey} is not set"))
    private def add(k: String, v: Double): Unit = layers(k) = layers.getOrElse(k, 0.0) + v

    // ---- operations ---------------------------------------------------

    private lazy val queries = SparkEntry.registry.map(q => q.name -> q).toMap
    private lazy val tenant = Tenant()
    private lazy val source = new JsonlSquareSource(a("feed"))
    private lazy val pipelines = new SquarePipelines(source, a("warehouse"), tenant)
    private lazy val t0Ms = a("t0-ms").toLong

    private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    /** One registry operation: construction (`QueryDef.run`) then
      * execution of the final frame into `sink`. Returns the two times;
      * in traced passes each phase's Spark work is attributed to it. */
    private def query(name: String, sink: DataFrame => Unit, traced: Boolean): (Double, Double) = {
      val q = queries.getOrElse(name, sys.error(s"unknown query $name"))
      val t0 = now()
      val df = q.run(spark, a("data"))
      val construct = now() - t0
      if (traced) phase("construct", tracer.get.take())
      val t1 = now()
      sink(df)
      val exec = now() - t1
      if (traced) {
        val s = tracer.get.take()
        phase("exec", s)
        add("queries.construct_s", construct)
        val plan = s.executions.map(e => e.analysisS + e.optimizeS + e.physicalS).sum
        add("plans.analysis_s", s.executions.map(_.analysisS).sum)
        add("plans.optimize_s", s.executions.map(_.optimizeS).sum)
        add("plans.physical_s", s.executions.map(_.physicalS).sum)
        add("exec.run_s", math.max(0.0, exec - plan))
      }
      (construct, exec)
    }

    private def phase(p: String, s: Span): Unit = {
      val w = s.work
      val prefix = if (p == "construct") "queries.construct_" else "exec."
      add(prefix + "jobs", w.jobs.toDouble)
      add(prefix + "stages", w.stages.toDouble)
      add(prefix + "tasks", w.tasks.toDouble)
      add(s"shuffle.write_bytes.$p", w.shuffleWriteBytes.toDouble)
      add(s"shuffle.read_bytes.$p", w.shuffleReadBytes.toDouble)
      add(s"spill.bytes.$p", w.spillBytes.toDouble)
      add(s"scan.input_bytes.$p", w.inputBytes.toDouble)
      add(s"write.output_bytes.$p", w.outputBytes.toDouble)
      add(s"write.output_rows.$p", w.outputRows.toDouble)
    }

    private def window(hour: Int): TimeWindow =
      if (hour == 0) TimeWindow("1970-01-01T00:00:00Z",
        java.time.format.DateTimeFormatter.ISO_INSTANT.format(java.time.Instant.ofEpochMilli(t0Ms)))
      else TimeWindow.lookback(t0Ms + hour * 3600L * 1000L, 24)

    /** Rows the six transforms emit for one run's window, counted by
      * calling the public SquareOps functions (untimed). */
    private def transformRows(w: TimeWindow): Long = {
      val pay = SquareOps.payments(w.filter(source.payments(spark), "created_at"), tenant)
      Seq(pay,
        SquareOps.orderItems(source.orders(spark), pay, tenant),
        SquareOps.catalogRows(source.catalogObjects(spark), tenant),
        SquareOps.inventoryRows(source.inventoryCounts(spark), tenant),
        SquareOps.categoryRows(source.categories(spark), tenant),
        SquareOps.locationRows(source.locations(spark), tenant)).map(_.count()).sum
    }

    /** One `runAll`; in traced runs, attributes its time and I/O to the
      * six target tables and counts the transforms' output. */
    private def hourly(hour: Int, traced: Boolean, prefix: String): Double = {
      val t0 = now()
      pipelines.runAll(spark, Some(window(hour)))
      val secs = now() - t0
      if (traced) {
        val s = tracer.get.take()
        if (prefix.isEmpty) { phase("exec", s); add("exec.run_s", secs) }
        var attributed = 0.0
        s.executions.foreach { e =>
          e.target.map(t => new org.apache.hadoop.fs.Path(t).getName.replaceAll("__(new|old|stage)$", ""))
            .filter(_.startsWith("pos_")).foreach { t =>
              add(s"${prefix}pipeline.${t}_s", e.secs)
              attributed += e.secs
            }
          add(s"${prefix}sources.json_input_bytes", e.jsonBytes.toDouble)
          add(s"${prefix}sources.json_records", e.jsonRows.toDouble)
        }
        add(s"${prefix}pipeline.unattributed_s", math.max(0.0, secs - attributed))
        add(s"${prefix}pipeline.jobs", s.work.jobs.toDouble)
        add(s"${prefix}upsert.rows_written", s.work.outputRows.toDouble)
        add(s"${prefix}upsert.bytes_written", s.work.outputBytes.toDouble)
        if (prefix.isEmpty) tracedHours += hour else countTransformRows(hour, prefix)
      }
      secs
    }

    /** Hourly runs whose transform output is counted after the measured
      * passes, so the counting stays out of every timed pass. */
    private val tracedHours = mutable.ArrayBuffer.empty[Int]

    private def countTransformRows(hour: Int, prefix: String): Unit = {
      add(s"${prefix}upsert.transform_rows", transformRows(window(hour)).toDouble)
      tracer.get.take() // the counting jobs belong to no layer
    }

    // ---- the run ----------------------------------------------------------

    private def sentinels(): Unit = {
      def timed(f: => Unit): Double = { val t0 = now(); f; now() - t0 }
      val cores = a("cores").toInt
      def cpu(): Unit = noop(spark.range(0L, 100000000L, 1L, cores).selectExpr("sum(id * 3 + 1) as s"))
      cpu()
      layers("sentinel.cpu_s") = timed(cpu())
      val dir = s"$scratchRoot/io-sentinel"
      layers("sentinel.io_s") = timed {
        spark.range(0L, 100000L, 1L, cores).selectExpr("id", "md5(cast(id as string)) as pad")
          .write.mode("overwrite").parquet(dir)
        noop(spark.read.parquet(dir).selectExpr("sum(length(pad)) as s"))
      }
      Scratch.cleanup(spark, dir)
    }

    /** Set-up's cold pass: every query once, registry order, result
      * written to `--dump` for the oracle check. Returns the failures. */
    private def coldQueries(): mutable.Map[String, String] = {
      val dumped = mutable.ArrayBuffer.empty[String]
      val failed = mutable.LinkedHashMap.empty[String, String]
      val secs = mutable.LinkedHashMap.empty[String, Double]
      names.foreach { n =>
        val t0 = now()
        val dump = (df: DataFrame) => df.coalesce(1).write.mode("overwrite").parquet(s"${a("dump")}/$n")
        withWatchdog(spark, s"cold-$n", capS * 1.5)(query(n, dump, traced = false)) match {
          case Ok => dumped += n
          case Failed(m) => failed(n) = m
          case Cancelled(s) => failed(n) = f"cancelled after $s%.1f s"
        }
        Scratch.releaseRunState(spark)
        secs(n) = now() - t0
      }
      rec("cold_ops") = secs
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => dumped.contains(k) }
      write(Paths.get(a("dump"), "oracle_sql.json"), Json.render(oracle))
      rec("dumped") = dumped.toList
      failed
    }

    private var hour = 0

    private def passOrder(): Seq[String] =
      if (workload == "square-etl") Seq("hourly") else rng.shuffle(names)

    /** One operation under the watchdog, its run state released after. */
    private def runOp(n: String, group: String, traced: Boolean): (Outcome, Double, Double) = {
      var construct = 0.0
      var exec = 0.0
      val outcome = withWatchdog(spark, group, capS) {
        if (workload == "square-etl") { hour += 1; exec = hourly(hour, traced, "") }
        else { val (c, e) = query(n, noop, traced); construct = c; exec = e }
      }
      Scratch.releaseRunState(spark)
      (outcome, construct, exec)
    }

    def run(): Unit = {
      rec("cores") = a("cores").toInt
      rec("trace") = traceRun
      rec("pass_ops") = names
      tracer.foreach(_.attach())
      if (traceRun) sentinels()
      val c0 = now()
      val failed = mutable.LinkedHashMap.empty[String, String]
      if (workload == "square-etl") {
        rec("t0_ms") = t0Ms
        withWatchdog(spark, "backfill", capS * 1.5)(hourly(0, traceRun, "backfill.")) match {
          case Ok => ()
          case other => failed("backfill") = other.toString
        }
      } else failed ++= coldQueries()
      rec("cold_s") = now() - c0
      // an unmeasured warm-up pass: after the cold pass the JIT is still
      // warming and the first warm run of each operation is the slowest;
      // on square-etl it is also the first run to take the merge-and-swap
      // path, since the backfill creates the tables
      (1 to WarmupPasses).foreach { w =>
        passOrder().foreach { n =>
          runOp(n, s"warm-up$w-$n", traced = false)._1 match {
            case Ok => ()
            case other => failed(n) = other.toString
          }
        }
      }
      rec("cold_failed") = failed
      layers("scratch.cache_bytes") = du(s"$scratchRoot/graft-cache").toDouble
      tracer.foreach(_.take())

      val start = now()
      rec("measure_start_ms") = System.currentTimeMillis()
      var pass = 0
      var tracedPasses = 0
      val appRoot = s"$scratchRoot/graft-scratch/${spark.sparkContext.applicationId}"
      // a traced run alternates untraced and traced passes, so the trace's
      // own cost shows as trace.overhead_frac; the seed's parity picks which
      // comes first, so across seeds neither side always gets the colder JIT
      val tracedParity = if (a("seed").toLong % 2 == 0) 0 else 1
      while (pass == 0 || (now() - start < seconds && now() < budgetS) || (traceRun && pass < 2)) {
        pass += 1
        val traced = traceRun && pass % 2 == tracedParity
        if (traceRun) { if (traced) tracer.get.attach() else tracer.get.detach() }
        val p0 = now()
        passOrder().foreach { n =>
          val (outcome, construct, exec) = runOp(n, s"p$pass-$n", traced)
          val (status, msg) = outcome match {
            case Ok => ("ok", "")
            case Failed(m) => ("failed", m)
            case Cancelled(s) => ("cancelled", f"after $s%.1f s")
          }
          ops += Map("name" -> n, "pass" -> pass, "traced" -> traced, "status" -> status,
            "secs" -> (construct + exec), "construct_s" -> construct, "exec_s" -> exec, "msg" -> msg)
        }
        val secs = now() - p0
        passes += Map("pass" -> pass, "secs" -> secs, "traced" -> traced)
        if (traced) {
          tracedPasses += 1
          add("scratch.run_bytes", du(appRoot).toDouble)
          add("scratch.persisted_rdds", spark.sparkContext.getPersistentRDDs.size.toDouble)
        }
      }
      rec("measure_end_ms") = System.currentTimeMillis()
      rec("hourly_runs") = hour
      if (tracedHours.nonEmpty) { tracer.get.attach(); tracedHours.foreach(countTransformRows(_, "")) }
      tracer.foreach(_.detach())
      if (traceRun) {
        // per-pass layer values: sums over traced passes divided by their
        // count; set-up values (backfill, cache, sentinels) stay as measured
        val perPass = layers.keys.filterNot(k =>
          k.startsWith("backfill.") || k.startsWith("sentinel.") || k == "scratch.cache_bytes")
        perPass.foreach(k => layers(k) = layers(k) / math.max(1, tracedPasses))
        rec("traced_passes") = tracedPasses
        rec("layers") = layers
      }
    }
  }
}
