package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-level work counted between two [[Tracer.take]] calls. */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, spillBytes: Long = 0,
    inputBytes: Long = 0, outputBytes: Long = 0, outputRows: Long = 0)

/** One finished SQL execution, as a QueryExecutionListener sees it. */
final case class Execution(
    target: Option[String], secs: Double,
    analysisS: Double, optimizeS: Double, physicalS: Double,
    jsonBytes: Long, jsonRows: Long)

/** What happened in one traced interval. */
final case class Span(work: Work, executions: Seq[Execution])

/** The traced run's instruments: a SparkListener counting jobs, stages,
  * tasks and task I/O, and a QueryExecutionListener recording each SQL
  * execution's planning phases, write target and JSON scan volume. Both
  * live here, outside the engine; [[take]] drains the listener bus so
  * the counts it returns are settled. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private var work = Work()
  private val executions = ArrayBuffer.empty[Execution]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      work = work.copy(jobs = work.jobs + 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      work = work.copy(stages = work.stages + 1, tasks = work.tasks + e.stageInfo.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      Tracer.this.synchronized {
        work = work.copy(
          shuffleWriteBytes = work.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          shuffleReadBytes = work.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          spillBytes = work.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
          inputBytes = work.inputBytes + m.inputMetrics.bytesRead,
          outputBytes = work.outputBytes + m.outputMetrics.bytesWritten,
          outputRows = work.outputRows + m.outputMetrics.recordsWritten)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val e = describe(qe, durationNs)
      Tracer.this.synchronized(executions += e)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def describe(qe: QueryExecution, durationNs: Long): Execution = {
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    val target = qe.logical.collectFirst {
      case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString
    }
    val scans = collect(qe.executedPlan) {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[JsonFileFormat] => s
    }
    def metric(s: FileSourceScanExec, n: String) = s.metrics.get(n).map(_.value).getOrElse(0L)
    Execution(target, durationNs / 1e9, phase("analysis"), phase("optimization"), phase("planning"),
      scans.map(metric(_, "filesSize")).sum, scans.map(metric(_, "numOutputRows")).sum)
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    attached = true
    take()
  }

  def detach(): Unit = if (attached) {
    Bus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    attached = false
  }

  /** Everything counted since the previous call. */
  def take(): Span = {
    Bus.drain(sc)
    synchronized {
      val s = Span(work, executions.toList)
      work = Work()
      executions.clear()
      s
    }
  }
}
