package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.plans.MvRewriteRule
import graft.plans.MvRewriteRule.{MvAgg, MvDef}

/** MvRewriteRule: the summary-table rewrite must fire only on exactly
  * answerable shapes, produce bit-identical results, and preserve the
  * output schema so the swap is invisible to the parent plan.
  */
class MvRewriteSpec extends SparkSpec {

  private val dec = DecimalType(14, 2)

  /** Base fixture + its MV on (g1, g2), registered for `body`. */
  private def withMv(body: (String, String) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("mv-spec").toString
    val base = s"$root/base"; val mv = s"$root/mv"
    import spark.implicits._
    Seq(
      ("a", "x", 1L, 1.50), ("a", "x", 2L, 2.25), ("a", "y", 3L, 0.75),
      ("b", "x", 4L, 10.00), ("b", "y", 5L, 0.01), ("b", "y", 6L, 99.99))
      .toDF("g1", "g2", "k", "v").write.parquet(base)
    spark.read.parquet(base)
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("v").cast(dec)).as("sum_v"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .write.parquet(mv)
    MvRewriteRule.register(base, MvDef(mv, Seq("g1", "g2"), Some("cnt"),
      Seq(MvAgg("sum", "v", Some(dec), "sum_v"),
        MvAgg("min", "k", None, "min_k"),
        MvAgg("max", "k", None, "max_k"))))
    try GraftSession.withConf(spark, MvRewriteRule.enabledKey -> "true")(body(base, mv))
    finally MvRewriteRule.unregister(base)
  }

  private def q(base: String): DataFrame =
    spark.read.parquet(base)
      .groupBy(col("g1"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(dec)).cast("double").as("total"),
        min(col("k")).as("mn"), max(col("k")).as("mx"))

  /** Rule off for the plans `body` renders: the switch is read when a
    * frame is planned. */
  private def ruleOff[A](body: => A): A =
    GraftSession.withConf(spark, MvRewriteRule.enabledKey -> "false")(body)

  private def scansMv(df: DataFrame, mv: String): Boolean = {
    val p = uncut(df.queryExecution.executedPlan.toString)
    p.contains(mv) && !p.contains("/base")
  }

  test("subset-group query answers from the MV with identical rows and schema") {
    withMv { (base, mv) =>
      val withRule = q(base)
      assert(scansMv(withRule, mv), "rewrite must fire on the answerable shape")
      val without = q(base)
      assert(ruleOff(!scansMv(without, mv)))
      assert(withRule.schema === without.schema,
        "the swap must preserve names, types, and nullability-relevant structure")
      assert(withRule.collect().toSet === without.collect().toSet)
    }
  }

  test("grouping by the full MV key set also answers (pure passthrough re-agg)") {
    withMv { (base, mv) =>
      val full = spark.read.parquet(base)
        .groupBy(col("g1"), col("g2"))
        .agg(count(lit(1)).as("n"), sum(col("v").cast(dec)).cast("double").as("total"))
      assert(scansMv(full, mv))
      assert(full.collect().toSet ===
        Set(org.apache.spark.sql.Row("a", "x", 2L, 3.75),
          org.apache.spark.sql.Row("a", "y", 1L, 0.75),
          org.apache.spark.sql.Row("b", "x", 1L, 10.00),
          org.apache.spark.sql.Row("b", "y", 2L, 100.00)))
    }
  }

  test("unanswerable shapes are left alone: filter, avg, distinct, foreign cast, ungrouped col") {
    withMv { (base, mv) =>
      val r = spark.read.parquet(base)
      val cases = Seq(
        // a residual filter is not answerable from the summary
        r.filter(col("k") > 2).groupBy(col("g1")).agg(count(lit(1)).as("n")),
        // avg is not registered as re-aggregable
        r.groupBy(col("g1")).agg(avg(col("v")).as("a")),
        // DISTINCT aggregates can never re-aggregate from partials
        r.groupBy(col("g1")).agg(countDistinct(col("k")).as("n")),
        // a different cast than the MV was built with must not match
        r.groupBy(col("g1")).agg(sum(col("v").cast(DecimalType(10, 1))).as("s")),
        // grouping by a column outside the MV key set
        r.groupBy(col("k")).agg(count(lit(1)).as("n")))
      cases.foreach { df =>
        assert(!uncut(df.queryExecution.executedPlan.toString).contains(mv),
          s"rule must not fire on:\n${df.queryExecution.logical}")
        df.collect() // and the un-rewritten query still runs
      }
    }
  }

  test("disabled conf or unregistered base leaves the plan untouched") {
    withMv { (base, mv) =>
      assert(ruleOff(!scansMv(q(base), mv)))
      MvRewriteRule.unregister(base)
      assert(!scansMv(q(base), mv))
    }
  }
}
