package graft

import org.apache.spark.sql.DataFrame
import graft.plans.RangeJoinRule

/** The auto-range-join optimizer rule: fires only on the non-equi
  * point-in-interval shape, produces a hash equi-join, and never changes
  * results.
  */
class RangeJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def points: DataFrame =
    Seq((-25L, "a"), (-3L, "b"), (0L, "c"), (7L, "d"), (19L, "e"), (100L, "f"))
      .toDF("p", "tag")

  private def intervals: DataFrame =
    Seq((-30L, -20L, "lowneg"), (-5L, 5L, "zero"), (5L, 19L, "mid"), (50L, 60L, "empty"))
      .toDF("lo", "hi", "nm")

  private def expected = Set(
    ("a", "lowneg"), ("b", "zero"), ("c", "zero"),
    ("d", "mid"), ("e", "mid"))

  private def withRule[A](width: Long)(f: => A): A =
    GraftSession.withConf(spark, RangeJoinRule.widthKey -> width.toString)(f)

  test("BETWEEN join rewrites to a hash equi-join with identical results") {
    withRule(10L) {
      val j = points.join(intervals, $"p" >= $"lo" && $"p" <= $"hi")
      val plan = uncut(j.queryExecution.executedPlan.toString)
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"rule must kill the nested loop:\n$plan")
      assert(plan.contains("HashJoin"), s"expected a hash join:\n$plan")
      assert(j.select($"tag", $"nm").as[(String, String)].collect().toSet === expected)
    }
  }

  test("results agree with the rule off (the rewrite is physical only)") {
    val naive = points.join(intervals, $"p" >= $"lo" && $"p" <= $"hi")
      .select($"tag", $"nm").as[(String, String)].collect().toSet
    assert(naive === expected)
    Seq(1L, 7L, 1000L).foreach { w =>
      withRule(w) {
        val got = points.join(intervals, $"p" >= $"lo" && $"p" <= $"hi")
          .select($"tag", $"nm").as[(String, String)].collect().toSet
        assert(got === naive, s"width $w changed results")
      }
    }
  }

  test("flipped comparisons and extra conjuncts still rewrite; residuals kept") {
    withRule(10L) {
      val j = points.join(intervals, $"lo" <= $"p" && $"hi" >= $"p" && $"nm" =!= "mid")
      val plan = uncut(j.queryExecution.executedPlan.toString)
      assert(!plan.contains("NestedLoop"), s"flipped form must rewrite:\n$plan")
      assert(j.select($"tag", $"nm").as[(String, String)].collect().toSet ===
        expected.filterNot(_._2 == "mid"))
    }
  }

  test("joins that already have a cross-side equality are left alone") {
    withRule(10L) {
      val l = Seq((1L, 5L), (2L, 100L)).toDF("k", "p")
      val r = Seq((1L, 0L, 10L), (2L, 0L, 10L)).toDF("rk", "lo", "hi")
      val j = l.join(r, $"k" === $"rk" && $"p" >= $"lo" && $"p" <= $"hi")
      // the equi key already makes this a hash join; rule must not explode
      // the intervals a second time (exactly one join, no Generate)
      assert(!uncut(j.queryExecution.optimizedPlan.toString).contains("__graft_bin"))
      assert(j.count() === 1)
    }
  }

  test("non-long types are not touched (rule stays in its lane)") {
    withRule(10L) {
      val l = Seq((5, "x")).toDF("p", "tag")
      val r = Seq((0, 10, "i")).toDF("lo", "hi", "nm")
      val j = l.join(r, $"p" >= $"lo" && $"p" <= $"hi")
      assert(!uncut(j.queryExecution.optimizedPlan.toString).contains("__graft_bin"))
      assert(j.count() === 1)
    }
  }
}
