package graft

import org.apache.spark.sql.functions._

/** `graft.Explain` commits plan files as before/after evidence, so a
  * plan is written whole, past the session's plan-string cap. */
class ExplainSpec extends SparkSpec {

  test("a plan longer than the session's plan-string cap renders in full") {
    val cap = spark.conf.get("spark.sql.maxPlanStringLength").toInt
    val wide = spark.range(10).select(
      (0 until 60).map(i => (col("id") * i + lit(i)).as(s"a_long_column_name_$i")): _*)
      .filter(col("a_long_column_name_59") > 0)
    val capped = wide.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(capped.contains("more characters"), "the session cap cuts this plan")
    val full = Explain.render(wide)
    assert(full.length > cap, s"${full.length} chars under a cap of $cap")
    assert(!full.contains("more characters"))
    assert(full.contains("a_long_column_name_59"))
    assert(spark.conf.get("spark.sql.maxPlanStringLength").toInt === cap, "the cap is restored")
  }
}
