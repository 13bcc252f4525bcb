package graft

import org.apache.spark.sql.SparkSession
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
}
