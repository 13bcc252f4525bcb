package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.operators.{StatsStore, Versioned}

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
