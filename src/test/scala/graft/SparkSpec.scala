package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.drainListenerBus
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt):
  * the production session from `GraftSession.builder`, with a fresh
  * warehouse per JVM so managed-table locations never outlive the
  * in-memory catalog that knows about them. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", shufflePartitions = 4, "graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
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
  protected def withStageMode[A](mode: String)(body: => A): A =
    GraftSession.withConf(spark, Scratch.StageModeKey -> mode)(body)

  /** A plan rendered in full. The session caps plan strings at
    * `spark.sql.maxPlanStringLength`, and a `!contains` check on a cut
    * string passes whatever the cut-off part holds. Renders with the
    * test thread's active session (the shared one) at Spark's own
    * default, the largest length the key accepts. */
  protected def uncut(render: => String): String =
    GraftSession.withConf(spark, "spark.sql.maxPlanStringLength" ->
      org.apache.spark.unsafe.array.ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH.toString)(render)

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
