package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.drainListenerBus
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fresh warehouse per JVM: managed-table locations must not outlive
      // the in-memory catalog that knows about them
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
    // the staging-mode dial, read from the environment as
    // GraftSession.builder does: SPARK_GRAFT_STAGE_MODE=parquet runs the
    // suites against the durable staging mode meant for clusters
    val s = sys.env.get("SPARK_GRAFT_STAGE_MODE")
      .foldLeft(b)((acc, m) => acc.config(Scratch.StageModeKey, m))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** Run `body` with `spark.graft.stage.mode` set to `mode`, then restore
    * the session's previous setting. */
  protected def withStageMode[A](mode: String)(body: => A): A = {
    val prev = spark.conf.getOption(Scratch.StageModeKey)
    spark.conf.set(Scratch.StageModeKey, mode)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(Scratch.StageModeKey, v)
      case None => spark.conf.unset(Scratch.StageModeKey)
    }
  }

  /** The properties of every Spark job `body` starts, read after a
    * listener-bus drain on both sides, so no earlier job is counted and
    * no job of `body` is missed. */
  protected def jobsOf(body: => Any): Seq[Properties] = {
    val seen = new ConcurrentLinkedQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new Properties()))
    }
    drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  /** How many of `body`'s jobs run outside a SQL execution: jobs no
    * query plan accounts for, such as Spark's parquet schema inference. */
  protected def jobsOutsideSql(body: => Any): Int =
    jobsOf(body).count(_.getProperty("spark.sql.execution.id") == null)
}
