package graft

import org.apache.spark.sql.functions._
import graft.operators.{StatsStore, Versioned, VersionedStats}

/** Transactional CBO stats: committed in the SAME Txn as the table,
  * per-partition post-image recompute only, and always equal to what a
  * full rebuild over the committed table would produce.
  */
class VersionedStatsSpec extends SparkSpec {
  import spark.implicits._

  private def root() =
    java.nio.file.Files.createTempDirectory("graft-vstats").toString

  private def df(rows: Seq[(Long, Long, String)]) =
    rows.toDF("id", "k", "p")

  /** Stats rows recomputed from scratch over the CURRENT table — the
    * truth the incrementally-committed stats must equal exactly
    * (registers are md5-deterministic, so array equality is exact). */
  private def expected(table: String) =
    StatsStore.statsRows(Versioned.readAsOf(spark, table), "p", Seq("k"))
      .select(col("p").cast("string").as("pval"), col("rows"),
        col("ndv_regs_k"))

  private def actual(stats: String) =
    VersionedStats.read(spark, stats)
      .select(col("pval"), col("rows"), col("ndv_regs_k"))

  private def assertStatsEqual(table: String, stats: String): Unit = {
    val exp = expected(table).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getSeq[Long](2))).toSet
    val act = actual(stats).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(act === exp, "incremental stats must equal a full rebuild")
  }

  test("stats land with the table in one txn and equal a full rebuild") {
    val r = root()
    val tbl = s"$r/tbl"; val st = s"$r/stats"
    val base = df((0 until 200).map(i =>
      (i.toLong, (i % 37).toLong, if (i % 2 == 0) "a" else "b")))
    VersionedStats.commitWithStats(spark, s"$r/t1", tbl, st, base,
      "p", Seq("id"), Seq("k"))
    assert(Versioned.latestVersion(spark, tbl) === 1L)
    assert(Versioned.latestVersion(spark, st) === 1L)
    assertStatsEqual(tbl, st)

    // second commit: upsert that REWRITES keys in one partition and
    // appends new ones — the post-image merge, not a blind append
    val delta = df((0 until 50).map(i =>
      (i.toLong * 2, (i % 7 + 100).toLong, "a")))
    VersionedStats.commitWithStats(spark, s"$r/t2", tbl, st, delta,
      "p", Seq("id"), Seq("k"))
    assert(Versioned.latestVersion(spark, tbl) === 2L)
    assert(Versioned.latestVersion(spark, st) === 2L)
    assertStatsEqual(tbl, st)

    // consumers: exact rows; NDV at SMALL cardinality (44 distinct vs
    // 256 registers) needs the linear-counting correction — the raw
    // estimator reads ~200 here, which is exactly why the corrected
    // consumer exists (raw stays for oracle-replayable surfaces)
    val s2 = StatsStore.summary(VersionedStats.read(spark, st), Seq("k"))
    assert(s2.rows === Some(Versioned.readAsOf(spark, tbl).count()))
    val exact = Versioned.readAsOf(spark, tbl)
      .select(col("k")).distinct().count()
    val corrected = VersionedStats.ndvGlobalCorrected(s2, "k")
    assert(math.abs(corrected - exact) / exact <= 0.15,
      s"corrected NDV $corrected vs exact $exact")
    val raw = s2.ndv("k").est
    assert(raw > 2 * exact,
      s"raw HLL at tiny cardinality should overestimate (that is the " +
        s"point of the correction), got $raw vs $exact")
  }

  test("raw NDV is accurate above the small-range switch point") {
    val r = root()
    val tbl = s"$r/tbl"; val st = s"$r/stats"
    val base = df((0 until 4000).map(i =>
      (i.toLong, (i % 997).toLong, if (i % 2 == 0) "a" else "b")))
    VersionedStats.commitWithStats(spark, s"$r/t1", tbl, st, base,
      "p", Seq("id"), Seq("k"))
    val s1 = StatsStore.summary(VersionedStats.read(spark, st), Seq("k"))
    val raw = s1.ndv("k").est
    assert(math.abs(raw - 997.0) / 997.0 <= 0.15, s"raw NDV $raw vs 997")
    // above the switch the corrected consumer returns the raw estimate
    assert(VersionedStats.ndvGlobalCorrected(s1, "k") === raw)
  }

  test("a commit touching one partition leaves the other's stats row at its old tv") {
    val r = root()
    val tbl = s"$r/tbl"; val st = s"$r/stats"
    val base = df(Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b")))
    VersionedStats.commitWithStats(spark, s"$r/t1", tbl, st, base,
      "p", Seq("id"), Seq("k"))
    VersionedStats.commitWithStats(spark, s"$r/t2", tbl, st,
      df(Seq((4L, 40L, "a"))), "p", Seq("id"), Seq("k"))
    val rows = VersionedStats.read(spark, st)
      .select(col("pval"), col("rows"), col("tv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows === Set(("a", 3L, 2L), ("b", 1L, 1L)),
      s"only the touched partition's stats row may move, got $rows")
    assertStatsEqual(tbl, st)
  }

  test("broadcastAdvice enforces the row budget off live stats") {
    val r = root()
    val tbl = s"$r/tbl"; val st = s"$r/stats"
    VersionedStats.commitWithStats(spark, s"$r/t1", tbl, st,
      df((0 until 10).map(i => (i.toLong, i.toLong, "a"))),
      "p", Seq("id"), Seq("k"))
    val s1 = StatsStore.summary(VersionedStats.read(spark, st), Nil)
    assert(VersionedStats.broadcastAdvice(s1, 100L) === "broadcast")
    assert(VersionedStats.broadcastAdvice(s1, 5L) === "shuffle")
  }
}
