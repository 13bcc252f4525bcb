package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import graft.operators.{HllSketch, StatsStore, Versioned}

/** Incremental stats: refresh touches only the changed partitions'
  * stats rows; incremental ≡ rebuild; checked commits refuse loudly. */
class StatsStoreSpec extends SparkSpec {
  import spark.implicits._

  test("refreshPartitions rewrites only the changed partition's stats files") {
    val root = Files.createTempDirectory("graft-stats").toString
    val tbl = s"$root/t"; val st = s"$root/stats"
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "part", "v").write.partitionBy("part").parquet(tbl)
    StatsStore.rebuild(spark, tbl, st, "part", Seq("v"))
    val fs = new Path(st).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(p: String) = fs.listStatus(new Path(s"$st/part=$p"))
      .map(s => (s.getPath.getName, s.getModificationTime)).toSet
    val bBefore = files("b")

    // mutate partition a only, then refresh only a
    Seq((1L, "a", 99.0)).toDF("id", "part", "v")
      .write.mode("append").parquet(s"$tbl/part=a")
    StatsStore.refreshPartitions(spark, tbl, st, "part", Seq("v"), Seq("a"))

    assert(files("b") === bBefore, "untouched partition's stats files must not rewrite")
    val a = StatsStore.read(spark, st).filter(col("part") === "a")
      .select(col("rows"), col("max_v")).as[(Long, Double)].collect().head
    assert(a === ((3L, 99.0)))
    // incremental result equals a from-scratch rebuild
    val incr = StatsStore.read(spark, st).orderBy("part")
      .collect().map(_.toString).toSeq
    StatsStore.rebuild(spark, tbl, s"$root/stats2", "part", Seq("v"))
    val full = StatsStore.read(spark, s"$root/stats2").orderBy("part")
      .collect().map(_.toString).toSeq
    assert(incr === full)
  }

  test("a partitioned upsert and its stats refresh start no job outside a SQL execution") {
    val root = Files.createTempDirectory("graft-stats-jobs").toString
    val tbl = s"$root/t"; val st = s"$root/stats"
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "part", "v").write.partitionBy("part").parquet(tbl)
    StatsStore.rebuild(spark, tbl, st, "part", Seq("v"))
    val delta = Seq((1L, "a", 99.0)).toDF("id", "part", "v")
    assert(jobsOutsideSql {
      graft.operators.Upsert.upsertParquet(spark, tbl, delta, Seq("id"), partitionBy = Seq("part"))
      StatsStore.refreshPartitions(spark, tbl, st, "part", Seq("v"), Seq("a"))
    } === 0)
    assert(StatsStore.read(spark, st).filter(col("part") === "a")
      .select(col("rows"), col("max_v")).as[(Long, Double)].collect().head === ((2L, 99.0)))
  }

  test("a changed partition that becomes empty loses its stats row") {
    // dynamic overwrite cannot express "now empty": without the
    // explicit stale-dir drop, a deleted partition's old stats row
    // rides along and incremental != rebuild after deletes/scrubs
    val root = Files.createTempDirectory("graft-stats-empty").toString
    val tbl = s"$root/t"; val st = s"$root/stats"
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "part", "v").write.partitionBy("part").parquet(tbl)
    StatsStore.rebuild(spark, tbl, st, "part", Seq("v"))
    assert(StatsStore.read(spark, st).count() === 3L)

    // delete partition b's data entirely (a scrub/forget outcome)
    val fs = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$tbl/part=b"), true)
    StatsStore.refreshPartitions(spark, tbl, st, "part", Seq("v"), Seq("b"))

    val parts = StatsStore.read(spark, st).select("part").as[String].collect().toSet
    assert(parts === Set("a", "c"), s"stale stats row survived: $parts")
    // incremental equals a from-scratch rebuild again
    StatsStore.rebuild(spark, tbl, s"$root/stats2", "part", Seq("v"))
    assert(StatsStore.read(spark, st).orderBy("part").collect().map(_.toString).toSeq ===
      StatsStore.read(spark, s"$root/stats2").orderBy("part").collect().map(_.toString).toSeq)
  }

  test("changed partitions refreshed together: one goes empty, one changes, one stays") {
    val root = Files.createTempDirectory("graft-stats-mixed").toString
    val tbl = s"$root/t"; val st = s"$root/stats"
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("id", "part", "v").write.partitionBy("part").parquet(tbl)
    StatsStore.rebuild(spark, tbl, st, "part", Seq("v"))
    // b's data goes away, a gains a row, c is named but unchanged
    val fs = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$tbl/part=b"), true)
    Seq((5L, 50.0)).toDF("id", "v").write.mode("append").parquet(s"$tbl/part=a")
    StatsStore.refreshPartitions(spark, tbl, st, "part", Seq("v"), Seq("a", "b", "c"))

    val parts = StatsStore.read(spark, st).select("part").as[String].collect().toSet
    assert(parts === Set("a", "c", "d"), s"stale stats row survived: $parts")
    StatsStore.rebuild(spark, tbl, s"$root/stats2", "part", Seq("v"))
    assert(StatsStore.read(spark, st).orderBy("part").collect().map(_.toString).toSeq ===
      StatsStore.read(spark, s"$root/stats2").orderBy("part").collect().map(_.toString).toSeq)
  }

  test("NDV registers: incremental ≡ rebuild, merged estimate tracks truth, join sizes read off stats") {
    val root = Files.createTempDirectory("graft-stats-ndv").toString
    val tbl = s"$root/t"; val st = s"$root/stats"
    // 4 partitions × 250 rows; k spans 0..499 with heavy cross-partition
    // overlap so the merged NDV differs from the per-partition sum
    val df = spark.range(1000)
      .selectExpr("id", "concat('p', id % 4) AS part", "CAST(id % 500 AS LONG) AS k")
    df.write.partitionBy("part").parquet(tbl)
    StatsStore.rebuild(spark, tbl, st, "part", Seq("k"))

    // per-partition and merged estimates land within HLL's error band
    // (6.5% rse at m=256; assert 4 sigma)
    val global = StatsStore.summary(StatsStore.read(spark, st), Seq("k")).ndv("k").est
    assert(math.abs(global - 500.0) / 500.0 < 0.26, s"global NDV est $global vs 500")
    val per = StatsStore.ndvPerPartition(StatsStore.read(spark, st), "part", "k")
      .orderBy("part").collect()
    assert(per.length === 4)
    per.foreach(r => assert(math.abs(r.getDouble(2) - 250.0) / 250.0 < 0.26,
      s"partition ${r.getString(0)} NDV est ${r.getDouble(2)} vs 250"))

    // mutate one partition (new k values) and refresh ONLY it:
    // incremental stats — registers included — equal a full rebuild
    spark.range(1000, 1100)
      .selectExpr("id", "'p0' AS part", "CAST(id AS LONG) AS k")
      .drop("part").toDF("id", "k")
      .write.mode("append").parquet(s"$tbl/part=p0")
    StatsStore.refreshPartitions(spark, tbl, st, "part", Seq("k"), Seq("p0"))
    StatsStore.rebuild(spark, tbl, s"$root/stats2", "part", Seq("k"))
    assert(StatsStore.read(spark, st).orderBy("part").collect().map(_.toString).toSeq ===
      StatsStore.read(spark, s"$root/stats2").orderBy("part").collect().map(_.toString).toSeq,
      "incremental refresh must equal rebuild INCLUDING the NDV registers")
    // the merged estimate moved with the new distincts (500 → 600 true)
    val global2 = StatsStore.summary(StatsStore.read(spark, st), Seq("k")).ndv("k").est
    assert(global2 > global, "new distinct values must raise the merged NDV")

    // CBO consumer: |A ⋈ B| estimate off two stats stores, no table scan
    val tblB = s"$root/tb"; val stB = s"$root/statsB"
    spark.range(2000)
      .selectExpr("id", "concat('q', id % 2) AS part", "CAST(id % 100 AS LONG) AS k")
      .write.partitionBy("part").parquet(tblB)
    StatsStore.rebuild(spark, tblB, stB, "part", Seq("k"))
    val est = StatsStore.estimateJoinRows(
      st, StatsStore.summary(StatsStore.read(spark, st), Seq("k")), "k",
      stB, StatsStore.summary(StatsStore.read(spark, stB), Seq("k")), "k")
    val actual = spark.read.parquet(tbl).join(spark.read.parquet(tblB), "k").count()
    assert(est > 0 && math.abs(est - actual) / actual < 0.5,
      s"join-size estimate $est vs actual $actual")
  }

  /** The stats rows as a row/min/max groupBy joined to one register
    * groupBy per tracked column: the formulation `statsRows` computes in
    * one aggregate, kept here as the reference it must equal. */
  private def joinedStatsRows(df: DataFrame, partCol: String, cols: Seq[String]): DataFrame = {
    val a = count(lit(1)).as("rows") +: cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        count(when(col(c).isNull, 1)).as(s"nulls_$c"))
    }
    val regs = cols.map { c =>
      HllSketch.registers(df.select(col(partCol), col(c)).filter(col(c).isNotNull),
          Seq(partCol), col(c))
        .groupBy(col(partCol))
        .agg(map_from_entries(collect_list(struct(col("bkt"), col("mr")))).as("m"))
        .select(col(partCol), expr(
          "transform(sequence(0, 255), i -> coalesce(element_at(m, i), CAST(0 AS BIGINT)))")
          .as(s"ndv_regs_$c"))
    }.reduce(_.join(_, Seq(partCol), "full_outer"))
    df.groupBy(col(partCol)).agg(a.head, a.tail: _*).join(regs, Seq(partCol), "left_outer")
  }

  private def sortedRows(df: DataFrame) = df.orderBy("part").collect().map(_.toString).toSeq

  test("statsRows equals the joined per-column formulation: rows, schema, NULLs") {
    // two tracked columns; NULL values in both; partition c's s is all NULL
    val df = spark.range(600).selectExpr(
      "element_at(array('a', 'b', 'c'), CAST(id % 3 AS INT) + 1) AS part",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE id % 250 END AS k",
      "CASE WHEN id % 3 = 2 OR id % 5 = 0 THEN NULL ELSE concat('s', id % 90) END AS s")
    val fused = StatsStore.statsRows(df, "part", Seq("k", "s"))
    val ref = joinedStatsRows(df, "part", Seq("k", "s"))
    assert(fused.schema === ref.schema)
    assert(sortedRows(fused) === sortedRows(ref))
    val c = fused.filter(col("part") === "c").select("ndv_regs_s", "ndv_regs_k").collect().head
    assert(c.isNullAt(0), "an all-NULL column's registers are NULL, not 256 zeros")
    assert(c.getSeq[Long](1).count(_ > 0L) > 0)
  }

  test("statsRows keeps the registers of the NULL partition value") {
    // the joined formulation drops them: its join on a NULL key never
    // matches, so that partition's registers read NULL there
    val df = spark.range(300).selectExpr(
      "CASE WHEN id % 2 = 0 THEN NULL ELSE 'a' END AS part", "id % 120 AS k")
    val row = StatsStore.statsRows(df, "part", Seq("k")).filter(col("part").isNull)
      .select("rows", "ndv_regs_k").collect().head
    assert(row.getLong(0) === 150L)
    val expected = new Array[Long](256)
    HllSketch.registers(df.filter(col("part").isNull), Nil, col("k")).collect()
      .foreach(r => expected(r.getInt(0)) = r.getInt(1).toLong)
    assert(row.getSeq[Long](1) === expected.toSeq)
  }

  test("refreshPartitions refreshes the NULL partition: incremental ≡ rebuild") {
    val root = Files.createTempDirectory("graft-stats-null").toString
    val tbl = s"$root/t"; val st = s"$root/stats"
    Seq((1L, Some("a"), 10.0), (2L, None, 20.0), (3L, None, 30.0))
      .toDF("id", "part", "v").write.partitionBy("part").parquet(tbl)
    StatsStore.rebuild(spark, tbl, st, "part", Seq("v"))
    Seq((4L, 40.0)).toDF("id", "v").write.mode("append")
      .parquet(s"$tbl/part=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}")
    StatsStore.refreshPartitions(spark, tbl, st, "part", Seq("v"), Seq(null))
    val n = StatsStore.read(spark, st).filter(col("part").isNull)
      .select(col("rows"), col("max_v")).as[(Long, Double)].collect().head
    assert(n === ((3L, 40.0)))
    StatsStore.rebuild(spark, tbl, s"$root/stats2", "part", Seq("v"))
    assert(sortedRows(StatsStore.read(spark, st)) === sortedRows(StatsStore.read(spark, s"$root/stats2")))

    // the NULL partition's data goes away: its stats row goes with it
    val fs = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$tbl/part=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"), true)
    StatsStore.refreshPartitions(spark, tbl, st, "part", Seq("v"), Seq(null, "a"))
    assert(StatsStore.read(spark, st).select("part").as[String].collect().toSeq === Seq("a"))
  }

  test("one refreshPartitions runs 2 jobs: the aggregate's shuffle and the write") {
    val root = Files.createTempDirectory("graft-stats-refresh-jobs").toString
    val tbl = s"$root/t"; val st = s"$root/stats"
    Seq((1L, "a", 10L, "x"), (2L, "a", 20L, "y"), (3L, "b", 30L, "z"))
      .toDF("id", "part", "v", "w").write.partitionBy("part").parquet(tbl)
    StatsStore.rebuild(spark, tbl, st, "part", Seq("v", "w"))
    Seq((4L, 40L, "q")).toDF("id", "v", "w").write.mode("append").parquet(s"$tbl/part=a")
    val jobs = jobsOf(StatsStore.refreshPartitions(spark, tbl, st, "part", Seq("v", "w"), Seq("a")))
    assert(jobs.size === 2, "one aggregate per stats write, whatever the tracked columns")
    assert(StatsStore.read(spark, st).filter(col("part") === "a")
      .select(col("rows"), col("max_v")).as[(Long, Long)].collect().head === ((3L, 40L)))
  }

  test("commitChecked refuses violating deltas and leaves the table untouched") {
    val root = Files.createTempDirectory("graft-checked").toString
    val tbl = s"$root/t"
    val checks = Seq("v_not_null" -> col("v").isNotNull,
      "v_positive" -> (col("v") > 0.0))
    val ok = Versioned.commitChecked(spark, tbl,
      Seq((1L, "a", 1.0), (2L, "a", 2.0)).toDF("id", "part", "v"),
      "part", Seq("id"), checks)
    assert(ok === Right(1L))

    val bad = Seq((3L, "a", Some(-5.0)), (4L, "a", None), (4L, "a", Some(4.0)))
      .toDF("id", "part", "v")
    val refused = Versioned.commitChecked(spark, tbl, bad, "part", Seq("id"), checks)
    assert(refused === Left(Seq("v_not_null" -> 1L, "v_positive" -> 2L,
      "unique_key" -> 1L)),
      "NULL fails every predicate (loud-null CHECK) and key 4 is duplicated")
    assert(Versioned.latestVersion(spark, tbl) === 1L)
    assert(Versioned.readAsOf(spark, tbl).count() === 2L)

    // empty delta: vacuously clean
    val empty = Versioned.commitChecked(spark, tbl,
      Seq.empty[(Long, String, Double)].toDF("id", "part", "v"),
      "part", Seq("id"), checks)
    assert(empty.isRight)
  }
}
