package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.RegistryRun.{Cancelled, Failed, Measured, Row}

/** Benchmark main: runs the registry (or the steps given as arguments
  * or in SPARK_GRAFT_ONLY) through the `noop` write sink for
  * SPARK_GRAFT_PASSES passes (default 2) and keeps each query's minimum.
  * A bare count() would let Catalyst prune the projections being
  * measured, so every query is fully materialized.
  *
  *   SPARK_GRAFT_SF_DIR=<fixture dir> sbt "runMain graft.Bench k43_ndv_stats"
  *
  * The run loop prints each query's seconds, jobs, stages, tasks and
  * streams, with its stage wall by call site. After every pass the
  * record so far is printed as one JSON line and written to
  * target/bench_full.json.
  *
  * A CPU sentinel (spark.range sum, no disk) and an I/O sentinel
  * (parquet write+read of incompressible md5 strings) are timed at the
  * head of every pass, so a record from a degraded box shows which
  * resource degraded.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val steps = RegistryRun.steps(args.toSeq)
    val sfDir = RegistryRun.sfDir
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val spark = RegistryRun.session()
    val cpus = spark.sparkContext.defaultParallelism

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def sentinel(): Double = timed {
      spark.range(0L, 400000000L, 1L, cpus)
        .selectExpr("sum(id * 3 + 1) as s")
        .write.format("noop").mode("overwrite").save()
    }
    val ioSentDir = new java.io.File(
      sys.props("java.io.tmpdir"), "graft-bench-iosentinel").getAbsolutePath
    def ioSentinel(): Double = timed {
      spark.range(0L, 1000000L, 1L, 8)
        .selectExpr("id", "md5(cast(id as string)) as pad")
        .write.mode("overwrite").parquet(ioSentDir)
      Tables.parquet(spark, ioSentDir).selectExpr("sum(length(pad)) as s")
        .write.format("noop").mode("overwrite").save()
    }

    sentinel() // JIT the range/sum codegen
    val sentinels = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ioSentinels = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val fullPath = java.nio.file.Paths.get("target", "bench_full.json")
    java.nio.file.Files.createDirectories(fullPath.getParent)
    (1 to nPasses).foreach { _ =>
      sentinels += sentinel()
      ioSentinels += ioSentinel()
      passes += RegistryRun.run(spark, sfDir, steps) { (_, df) =>
        df.write.format("noop").mode("overwrite").save()
      }
      val line = record(passes.toSeq, sentinels.toSeq, ioSentinels.toSeq, sfDir)
      java.nio.file.Files.writeString(fullPath, line + "\n")
      println(line)
      System.out.flush()
    }
    spark.stop()
  }

  /** The record line: per query, the minimum over its measured passes
    * (`queries`) and that pass's row (`rows`), with totals by family and
    * by batch vs streaming. A query is streaming when its row shows a
    * started stream: those carry fixed per-micro-batch checkpoint and
    * state-store cost, so the batch plan-quality signal is
    * `batch_total`. A name run more than once in one pass (an in-run
    * `set:` A/B) keeps its overall minimum here; the printed rows show
    * each run. */
  private[graft] def record(
      passes: Seq[Seq[Row]],
      sentinels: Seq[Double],
      ioSentinels: Seq[Double],
      sfDir: String): String = {
    val all = passes.zipWithIndex.flatMap { case (rows, p) => rows.map(_ -> (p + 1)) }
    val names = all.map(_._1.name).distinct
    val measured = all.collect { case (r @ Row(_, Measured(s), _, _, _, _, _), p) => (r, s, p) }
    val best = names.flatMap(n => measured.filter(_._1.name == n).minByOption(_._2))
    def withOutcome(pred: RegistryRun.Outcome => Boolean) =
      names.filter(n => all.exists { case (r, _) => r.name == n && pred(r.outcome) })
    def secs(v: Double) = JDouble(math.rint(v * 1000) / 1000)
    def strs(xs: Seq[String]) = JArray(xs.map(JString(_)).toList)
    val total = best.map(_._2).sum
    val streamTotal = best.collect { case (r, s, _) if r.streams > 0 => s }.sum
    val families = best.groupBy(_._1.query.family).toSeq.sortBy(_._1)
      .map { case (f, xs) => f -> secs(xs.map(_._2).sum) }
    val rows = best.map { case (r, _, p) =>
      r.name -> JObject(
        "pass" -> JInt(p), "jobs" -> JInt(r.jobs), "stages" -> JInt(r.stages),
        "tasks" -> JInt(r.tasks), "streams" -> JInt(r.streams),
        "sites" -> JArray(r.sites.map(s => JObject(
          "site" -> JString(s.site), "stages" -> JInt(s.stages), "secs" -> secs(s.secs))).toList))
    }
    compact(render(JObject(
      "metric" -> JString("total"), "value" -> secs(total), "unit" -> JString("sec"),
      "batch_total" -> secs(total - streamTotal), "stream_total" -> secs(streamTotal),
      "passes" -> JInt(passes.size), "covered" -> JInt(best.size),
      "registered" -> JInt(names.size),
      "sentinel_secs" -> JArray(sentinels.map(secs).toList),
      "io_sentinel_secs" -> JArray(ioSentinels.map(secs).toList),
      "families" -> JObject(families: _*),
      "queries" -> JObject(best.map { case (r, s, _) => r.name -> secs(s) }: _*),
      "rows" -> JObject(rows: _*),
      "uncovered" -> strs(names.filterNot(best.map(_._1.name).toSet)),
      "cancelled_queries" -> strs(withOutcome(_.isInstanceOf[Cancelled])),
      "failed_queries" -> strs(withOutcome(_.isInstanceOf[Failed])),
      "sf" -> JString(sfDir))))
  }
}
