package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators._

/** [[ReplayGuard.foldSink]], the sink of the five streaming state
  * folds, under a first create cancelled mid-write. */
class FoldSinkSpec extends SparkSpec {

  /** One streaming state fold: its entry point on (stream, state path,
    * checkpoint) and the one-shot state the same rows build. */
  private case class Fold(
      name: String,
      start: (DataFrame, String, String) => StreamingQuery,
      oneShot: DataFrame => DataFrame)

  private val amount = col("v").cast("decimal(12,2)")

  private val folds = Seq(
    Fold("scd2",
      Scd2.streamingScd2(_, _, Seq("id"), Seq("ts", "seq"), Seq("st"), "ts", _),
      Scd2.fromChangeLog(_, Seq("id"), Seq("ts", "seq"), Seq("st"), "ts")),
    Fold("incremental aggregate",
      IncrementalAgg.streamingFold(_, _, Seq("id"), amount, _),
      IncrementalAgg.partials(_, Seq("id"), amount)),
    Fold("count-min",
      CountMin.streamingCmsFold(_, _, col("id"), _),
      CountMin.sketch(_, col("id"))),
    Fold("quantile",
      QuantileSketch.streamingQuantileFold(_, _, Seq("g"), col("v"), col("id"), 16, 32, _),
      QuantileSketch.summarize(_, Seq("g"), col("v"), col("id"), 16, 32)),
    Fold("hll",
      HllSketch.streamingHllFold(_, _, Seq("g"), col("id"), _),
      HllSketch.registers(_, Seq("g"), col("id"))))

  test("a first create cancelled mid-write converges on restart, for every streaming fold") {
    val sc = spark.sparkContext
    val root = Files.createTempDirectory("graft-foldsink").toString
    val fs = new Path(root).getFileSystem(sc.hadoopConfiguration)
    // one batch of 300k distinct keys: large enough that the create's
    // write jobs outlive a cancel sent from the listener bus
    val feed = s"$root/feed"
    spark.range(300000).selectExpr("id", "timestamp_seconds(1704067200 + id) AS ts",
        "id AS seq", "concat('s', id % 7) AS st", "concat('g', id % 3) AS g",
        "CAST(id % 1000 AS DOUBLE) / 4 AS v")
      .write.parquet(feed)
    def stream = spark.readStream
      .schema("id BIGINT, ts TIMESTAMP, seq BIGINT, st STRING, g STRING, v DOUBLE")
      .parquet(feed)

    def run(f: Fold): Unit = {
      val path = s"$root/${f.name.replace(' ', '_')}"
      val ckpt = s"${path}_ckpt"
      // cancel every job that starts while the create's output is open
      val cancelled = new AtomicInteger()
      val canceller = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Seq(path, s"${path}__new").exists(d => fs.exists(new Path(d, "_temporary")))) {
            cancelled.incrementAndGet()
            sc.cancelJob(e.jobId)
          }
      }
      sc.addSparkListener(canceller)
      val q = f.start(stream, path, ckpt)
      try {
        intercept[Exception](q.processAllAvailable())
        assert(cancelled.get > 0, "no job of the create was cancelled")
      } finally { q.stop(); sc.removeSparkListener(canceller) }
      // restart on the same checkpoint: batch 0 is redelivered
      val q2 = f.start(stream, path, ckpt)
      try q2.processAllAvailable() finally q2.stop()
      val got = ReplayGuard.strip(spark.read.parquet(path))
      val want = f.oneShot(spark.read.parquet(feed))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "the restarted stream must land the one-shot state")
      Seq("__new", "__old").foreach(s =>
        assert(!new File(path + s).exists, s"$s left behind"))
    }

    val failed = folds.flatMap(f => Try(run(f)).failed.toOption.map(e =>
      s"${f.name}: ${String.valueOf(e.getMessage).linesIterator.toSeq.headOption.getOrElse("")}"))
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
