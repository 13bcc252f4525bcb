package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge.drainListenerBus

/** Dev measurement main (guide §1: measure first): runs the named
  * queries through the same noop-sink materialization as Bench and
  * prints per-query wall seconds, Spark JOB count, stage count, and
  * task count. The txn/index gate families' wall is often job-count x
  * scheduler fee, not data — this makes that number visible per query
  * so an optimization round can attack the right term.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.Profile k61_txn_mv e49_stream_triple_index"
  *
  * Not part of the driver contract (Verify/Bench are); prints no
  * record line.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    // SPARK_GRAFT_PROFILE_JOBS=1: print every job's wall + call site —
    // the attribution view for gates whose wall is job-count x fee
    val perJob = sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    // stageId → the site of the job that submitted it
    val stageSite = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val siteAgg = new java.util.concurrent.ConcurrentHashMap[String, (Int, Double)]()
    // SQL-execution attribution: executionId → action call site (the
    // description of SparkListenerSQLExecutionStart), joined to jobs via
    // their spark.sql.execution.id property — local-mode jobs don't
    // carry callSite.short, but every SQL action registers an execution
    val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execSite.put(s.executionId, s.description)
          case _ => ()
        }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (perJob) {
          val site = Option(j.properties).flatMap { p =>
            Option(p.getProperty("spark.sql.execution.id"))
              .flatMap(id => Option(execSite.get(id.toLong)))
              .orElse(Option(p.getProperty("callSite.short")))
          }.getOrElse("?")
          jobStart.put(j.jobId, (System.nanoTime(), site))
          if (site != "?") j.stageIds.foreach(stageSite.put(_, site))
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (perJob) {
        Option(jobStart.remove(j.jobId)).foreach { case (t0, site) =>
          System.out.println(
            f"[job] ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f  $site")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
        if (perJob) {
          // each stage is charged to its job's site: a stage's own name
          // is its creation site, which under AQE is a Spark-internal
          // frame (CompletableFuture.java) for most stages — the name is
          // the fallback only when no job site is known
          val wall = (for {
            t0 <- s.stageInfo.submissionTime; t1 <- s.stageInfo.completionTime
          } yield (t1 - t0) / 1e3).getOrElse(0.0)
          val site = Option(stageSite.remove(s.stageInfo.stageId))
            .getOrElse(s.stageInfo.name)
          siteAgg.merge(site, (1, wall),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
      }
    })
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.registry.map(_.name)
    // one unmeasured warmup of the first query JITs the codegen paths so
    // the first profiled query isn't charged for them
    try SparkEntry.queries(names.head)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[profile] warmup: $e") }
    Scratch.releaseRunState(spark)
    // the per-site view reports measured queries only
    drainListenerBus(spark)
    siteAgg.clear()
    stageSite.clear()
    println(f"${"query"}%-28s ${"secs"}%8s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s")
    names.foreach { n =>
      // inline conf pokes for in-process A/B: "set:key=value" args apply
      // spark.conf.set at their position in the list
      if (n.startsWith("set:")) {
        val Array(k, v) = n.stripPrefix("set:").split("=", 2)
        spark.conf.set(k, v)
        println(s"[profile] set $k=$v")
      } else {
        // settle listener counters from the previous query's async events
        drainListenerBus(spark)
        val (j0, s0, t0) = (jobs.get, stages.get, tasks.get)
        val w0 = System.nanoTime()
        try {
          SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - w0) / 1e9
          drainListenerBus(spark)
          println(f"$n%-28s $secs%8.2f ${jobs.get - j0}%6d ${stages.get - s0}%7d ${tasks.get - t0}%7d")
          if (perJob) {
            import scala.jdk.CollectionConverters._
            siteAgg.asScala.toSeq.sortBy(-_._2._2).take(20).foreach {
              case (site, (c, w)) => println(f"[site] $c%4dx $w%8.3f s  $site")
            }
            siteAgg.clear()
            stageSite.clear()
          }
        } catch {
          case e: Throwable =>
            println(f"$n%-28s FAILED: ${e.getMessage}")
            e.printStackTrace(System.out)
        }
        Scratch.releaseRunState(spark)
      }
    }
    spark.stop()
  }
}
