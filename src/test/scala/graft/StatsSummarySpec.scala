package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{HllSketch, StatsStore}

/** [[StatsStore.summary]], the driver-side fold every stats consumer
  * reads: bit-identical to the SQL register merge it replaced, and one
  * job per store. */
class StatsSummarySpec extends SparkSpec {

  /** The SQL whole-table merge the fold replaced: posexplode the
    * register arrays, max per bucket, then the harmonic estimate. */
  private def sqlSummary(stats: DataFrame, c: String): (Long, Double) = {
    val alpha = s"CAST('${HllSketch.alphaNumValue}' AS DOUBLE)"
    val r = stats.select(posexplode(col(s"ndv_regs_$c")).as(Seq("bkt", "mr")))
      .groupBy(col("bkt")).agg(max(col("mr")).as("mr"))
      .agg(count(when(col("mr") > 0, 1)).as("nz"),
        sum(expr("CAST(pow(2, 40 - mr) AS BIGINT)")).as("isum"))
      .select(col("nz"),
        when(col("nz") === 0, lit(0.0))
          .otherwise(expr(s"$alpha / CAST(isum AS DOUBLE)")).as("ndv_est"))
      .collect()(0)
    (r.getLong(0), r.getDouble(1))
  }

  private def sqlRows(stats: DataFrame): Option[Long] = {
    val r = stats.agg(sum(col("rows"))).collect()(0)
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  private val cols = Seq("a", "b", "c")

  /** `k` stats rows with random dense register arrays. `regs(row, col)`
    * gives each array: None for a NULL array. */
  private def frame(k: Int)(regs: (Int, Int) => Option[Seq[Long]]): DataFrame = {
    val schema = StructType(
      StructField("part", StringType) +: StructField("rows", LongType, nullable = false) +:
        cols.map(c => StructField(s"ndv_regs_$c", ArrayType(LongType, containsNull = false))))
    val rows = (0 until k).map { i =>
      Row.fromSeq(s"p$i" +: (i * 7L + 1L) +: cols.indices.map(j => regs(i, j).orNull))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** Registers as a real sketch leaves them: mostly small, a few past
    * 40 (whose 2^(40−mr) truncates to 0), and empty slots. */
  private def randomRegs(rnd: scala.util.Random): Seq[Long] =
    Seq.fill(256) {
      rnd.nextInt(10) match {
        case 0 | 1 | 2 => 0L
        case 3 => (41 + rnd.nextInt(20)).toLong
        case _ => (1 + rnd.nextInt(12)).toLong
      }
    }

  private def assertSameAsSql(stats: DataFrame): Unit = {
    val s = StatsStore.summary(stats, cols)
    assert(s.rows === sqlRows(stats))
    cols.foreach { c =>
      val (nz, est) = sqlSummary(stats, c)
      assert(s.ndv(c).nz === nz, s"nz of $c")
      // exact Double equality: the fold must reproduce the SQL bits
      assert(java.lang.Double.doubleToRawLongBits(s.ndv(c).est) ===
        java.lang.Double.doubleToRawLongBits(est), s"ndv of $c: ${s.ndv(c).est} vs $est")
    }
  }

  test("summary equals the SQL register merge bit for bit on random stats frames") {
    val rnd = new scala.util.Random(20261019L)
    // one partition, several, many
    Seq(1, 3, 40).foreach { k =>
      assertSameAsSql(frame(k)((_, _) => Some(randomRegs(rnd))))
    }
    // NULL arrays: scattered, and one column NULL in every row
    assertSameAsSql(frame(12) { (_, j) =>
      if (j == 2 || rnd.nextInt(3) == 0) None else Some(randomRegs(rnd))
    })
    // all-zero registers (a partition whose column is entirely NULL)
    assertSameAsSql(frame(5) { (i, j) =>
      if (j == 0 || i % 2 == 0) Some(Seq.fill(256)(0L)) else Some(randomRegs(rnd))
    })
    // a store with no row at all
    assertSameAsSql(frame(0)((_, _) => None))
  }

  test("summary equals the SQL register merge on stats a rebuild landed") {
    val root = Files.createTempDirectory("graft-summary").toString
    spark.range(3000)
      .selectExpr("concat('p', id % 5) AS part", "CAST(id % 700 AS LONG) AS a",
        "CAST(id % 11 AS LONG) AS b", "CASE WHEN id % 5 = 0 THEN NULL ELSE id END AS c")
      .write.partitionBy("part").parquet(s"$root/t")
    StatsStore.rebuild(spark, s"$root/t", s"$root/st", "part", cols)
    assertSameAsSql(StatsStore.read(spark, s"$root/st"))
  }

  test("a join estimate costs one job per store fold and none of its own; an empty store is refused") {
    val root = Files.createTempDirectory("graft-summary-jobs").toString
    Seq("x" -> 400, "y" -> 90).foreach { case (n, m) =>
      spark.range(2000).selectExpr("CAST(id % 4 AS STRING) AS p", s"id % $m AS k")
        .write.partitionBy("p").parquet(s"$root/$n")
      StatsStore.rebuild(spark, s"$root/$n", s"$root/${n}_st", "p", Seq("k"))
    }
    def fold(n: String) = StatsStore.summary(StatsStore.read(spark, s"$root/$n"), Seq("k"))
    var est = 0.0
    val jobs = jobsOf {
      est = StatsStore.estimateJoinRows(
        s"$root/x_st", fold("x_st"), "k", s"$root/y_st", fold("y_st"), "k")
    }
    assert(jobs.size === 2, "one fold per stats store")
    assert(jobs.forall(_.getProperty("spark.sql.execution.id") != null))
    assert(est > 0.0)
    // a caller that holds both folds (k43 holds its orders fold) re-reads
    // neither store
    val (x, y) = (fold("x_st"), fold("y_st"))
    var again = 0.0
    assert(jobsOf {
      again = StatsStore.estimateJoinRows(s"$root/x_st", x, "k", s"$root/y_st", y, "k")
    }.isEmpty, "the estimate itself starts no job")
    assert(again === est)

    // a stats store with the right schema and no row
    StatsStore.statsRows(spark.range(0).selectExpr("'p' AS p", "id AS k"), "p", Seq("k"))
      .write.parquet(s"$root/empty_st")
    val e = intercept[IllegalArgumentException] {
      StatsStore.estimateJoinRows(
        s"$root/x_st", x, "k", s"$root/empty_st", fold("empty_st"), "k")
    }
    assert(e.getMessage.contains(s"stats store at $root/empty_st is empty"), e.getMessage)
  }
}
