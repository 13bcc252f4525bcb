package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.{drainListenerBus, withActive}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one registry run loop of the dev mains: Bench, Verify, Explain
  * and LintAudit are each one action over it.
  *
  * A run is a list of steps: query names and `set:key=value` confs.
  * Each query is built on its own `newSession()` child of the run's
  * session ([[querySession]]), so the conf, temp views and streams it
  * leaves behind never reach the next query; a conf applies to the
  * children of the queries after it. Each query is built and handed to
  * the action inside [[withWatchdog]], then `Scratch.releaseRunState`
  * sweeps the shared cache and persisted RDDs. The run prints and
  * returns one [[Row]] per query: its outcome, the jobs, stages, tasks
  * and streaming queries it started, and its stage wall by call site.
  *
  * The mains read four environment variables: SPARK_GRAFT_SF_DIR (the
  * fixture directory), SPARK_GRAFT_CPUS (local cores, default all the
  * machine's), SPARK_GRAFT_ONLY (comma-separated steps when a main gets
  * none as arguments) and Bench's SPARK_GRAFT_PASSES.
  */
object RegistryRun {

  sealed trait Outcome
  final case class Measured(secs: Double) extends Outcome
  final case class Cancelled(afterSecs: Double) extends Outcome
  final case class Failed(afterSecs: Double, msg: String) extends Outcome

  sealed trait Step
  final case class SetConf(key: String, value: String) extends Step
  final case class Run(query: QueryDef) extends Step

  /** `stages` stages charged to one call site, and their summed wall. */
  final case class Site(site: String, stages: Int, secs: Double)

  final case class Row(
      query: QueryDef,
      outcome: Outcome,
      jobs: Int,
      stages: Int,
      tasks: Long,
      streams: Int,
      sites: Seq[Site]) {
    def name: String = query.name
    def line: String = outcome match {
      case Measured(s) => f"$name%-28s $s%8.2f $jobs%6d $stages%7d $tasks%7d $streams%7d"
      case Cancelled(s) => f"$name%-28s CANCELLED after $s%.1f s (cap $CapSecs%.0f s)"
      case Failed(s, m) => f"$name%-28s FAILED after $s%.1f s: $m"
    }
  }

  /** Watchdog cap for every query: far above the slowest recorded
    * query (10.6 s at sf0.1), so only a hung query reaches it and a cold
    * fixture landing is never cancelled. */
  val CapSecs = 300.0

  /** Sites a row keeps, by stage wall. */
  private val TopSites = 5

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    throw new IllegalArgumentException("SPARK_GRAFT_SF_DIR is not set: point it at a fixture directory"))

  def session(): SparkSession = GraftSession.local(
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))

  /** The run's steps: `args`, else SPARK_GRAFT_ONLY, else the registry. */
  def steps(args: Seq[String]): Seq[Step] =
    parse(
      if (args.nonEmpty) args
      else sys.env.get("SPARK_GRAFT_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(SparkEntry.registry.map(_.name)))

  /** Resolves tokens to steps, refusing an unknown query name, a `set:`
    * without `=`, or a run with no query, before any query runs. */
  private[graft] def parse(tokens: Seq[String]): Seq[Step] = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val (bad, steps) = tokens.partitionMap {
      case t if t.startsWith("set:") =>
        t.stripPrefix("set:").split("=", 2) match {
          case Array(k, v) if k.nonEmpty => Right(SetConf(k, v))
          case _ => Left(s"'$t' (expected set:key=value)")
        }
      case t => byName.get(t).map(Run).toRight(s"'$t' (no such query)")
    }
    require(bad.isEmpty, s"bad run step(s): ${bad.mkString(", ")}")
    require(steps.exists(_.isInstanceOf[Run]), "the run names no query")
    steps
  }

  /** Runs `body` inside a Spark job group with a watchdog timer: at
    * `capSecs` the group is cancelled (interruptOnCancel) and every
    * active streaming query of `spark` is stopped — a hung streaming
    * gate's micro-batch jobs run on the stream-execution thread outside
    * our group, so job-group cancellation alone can't reach them. The
    * cancel REPEATS at a 1 s cadence until `body` unwinds:
    * cancelJobGroup only reaches jobs active at that instant, so a
    * one-shot cancel can land in a between-jobs gap and the gate's
    * next job proceeds untouched (cancelJobGroupAndFutureJobs would
    * pin the group's cancelled state instead, but a repeating cancel
    * also sweeps streams started after the first firing). The outcome
    * distinguishes a watchdog cancellation from an ordinary failure
    * via the `fired` flag (both surface as exceptions from `body`). */
  private[graft] def withWatchdog(spark: SparkSession, group: String, capSecs: Double)(
      body: => Unit): Outcome = {
    val sc = spark.sparkContext
    val fired = new AtomicBoolean(false)
    // no group description: Spark would make it every SQL execution's
    // description, which the run's per-site view reads as the call site
    sc.setJobGroup(group, null, interruptOnCancel = true)
    val timer = new java.util.Timer(s"run-watchdog-$group", true)
    timer.scheduleAtFixedRate(new java.util.TimerTask {
      def run(): Unit = {
        fired.set(true)
        try sc.cancelJobGroup(group) catch { case _: Throwable => () }
        try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => () }
      }
    }, math.max(1L, (capSecs * 1000).toLong), 1000L)
    val t0 = System.nanoTime()
    def secs = (System.nanoTime() - t0) / 1e9
    try { body; Measured(secs) }
    catch {
      case e: Throwable =>
        if (fired.get) Cancelled(secs) else Failed(secs, String.valueOf(e.getMessage))
    } finally { timer.cancel(); sc.clearJobGroup() }
  }

  /** A fresh child of `spark` for one query, with `confs` set on it. It
    * shares the SparkContext, cache and catalog, and gets its own conf,
    * temp views, functions, streams and the graft extensions. */
  def querySession(spark: SparkSession, confs: Iterable[(String, String)]): SparkSession = {
    val child = spark.newSession()
    confs.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }

  /** Runs `steps` on children of `spark` over the fixtures at `sfDir`,
    * handing each query's frame to `action`. The query is built and
    * acted on with its child as the thread's active session. */
  def run(spark: SparkSession, sfDir: String, steps: Seq[Step])(
      action: (QueryDef, DataFrame) => Unit): Seq[Row] = {
    val sc = spark.sparkContext
    val counter = new Counter
    val confs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    drainListenerBus(spark)
    sc.addSparkListener(counter)
    println(f"${"query"}%-28s ${"secs"}%8s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"streams"}%7s")
    try steps.flatMap {
      case SetConf(k, v) =>
        confs(k) = v
        println(s"[run] set $k=$v")
        None
      case Run(q) =>
        counter.reset()
        val child = querySession(spark, confs)
        val outcome = withWatchdog(child, q.name, CapSecs)(
          withActive(child)(action(q, q.run(child, sfDir))))
        drainListenerBus(spark)
        val row = counter.row(q, outcome)
        Scratch.releaseRunState(spark)
        println(row.line)
        row.sites.foreach(s => println(f"  [site] ${s.stages}%4dx ${s.secs}%8.3f s  ${s.site}"))
        System.out.flush()
        Some(row)
    } finally sc.removeSparkListener(counter)
  }

  /** Counts what one query starts, from its reset to its row. A
    * streaming query's start reaches `onOtherEvent` as a
    * `QueryStartedEvent`. Each stage's wall is charged to the site of
    * the job that submitted it: the description of the job's SQL
    * execution (local-mode jobs carry no callSite.short, but every SQL
    * action registers an execution), else the job's callSite.short. A
    * stage's own name is only the fallback: under AQE it is a
    * Spark-internal frame (CompletableFuture.java) for most stages. */
  private final class Counter extends SparkListener {
    private val jobs = new AtomicInteger(0)
    private val stages = new AtomicInteger(0)
    private val tasks = new AtomicLong(0L)
    private val streams = new AtomicInteger(0)
    private val execSite = new ConcurrentHashMap[Long, String]()
    private val stageSite = new ConcurrentHashMap[Int, String]()
    private val siteWall = new ConcurrentHashMap[String, (Int, Double)]()

    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0L); streams.set(0)
      execSite.clear(); stageSite.clear(); siteWall.clear()
    }

    def row(q: QueryDef, outcome: Outcome): Row =
      Row(q, outcome, jobs.get, stages.get, tasks.get, streams.get,
        siteWall.asScala.toSeq.sortBy(-_._2._2).take(TopSites)
          .map { case (site, (n, secs)) => Site(site, n, secs) })

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        // a micro-batch's description is "<name>\nid = …\nrunId = …\nbatch = N":
        // its first non-empty line charges every batch of a stream to one site
        Option(s.description).flatMap(_.linesIterator.map(_.trim).find(_.nonEmpty))
          .foreach(execSite.put(s.executionId, _))
      case _: StreamingQueryListener.QueryStartedEvent => streams.incrementAndGet()
      case _ => ()
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      Option(j.properties).flatMap { p =>
        Option(p.getProperty("spark.sql.execution.id"))
          .flatMap(id => Option(execSite.get(id.toLong)))
          .orElse(Option(p.getProperty("callSite.short")))
      }.foreach(site => j.stageIds.foreach(stageSite.put(_, site)))
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks.toLong)
      val wall = (for {
        t0 <- s.stageInfo.submissionTime; t1 <- s.stageInfo.completionTime
      } yield (t1 - t0) / 1e3).getOrElse(0.0)
      val site = Option(stageSite.remove(s.stageInfo.stageId)).getOrElse(s.stageInfo.name)
      siteWall.merge(site, (1, wall), (a, b) => (a._1 + b._1, a._2 + b._2))
    }
  }
}
