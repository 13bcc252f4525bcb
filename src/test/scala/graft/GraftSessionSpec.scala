package graft

import org.apache.spark.sql.SparkSession
import graft.plans.RangeJoinRule

/** Every session GraftSession builds carries the graft extensions, and a
  * `newSession()` child inherits them with no installer call: the SQL
  * functions, the as-of lowering and the conf-switched optimizer rules.
  */
class GraftSessionSpec extends SparkSpec {

  private def child: SparkSession = spark.newSession()

  test("a child session resolves the graft_* functions") {
    val c = child
    // graft_nfc composes a decomposed e + combining acute into one é
    val r = c.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
      "graft_nfc('e\u0301') AS n").collect().head
    assert(r.getDouble(0) === 11.0)
    assert(r.getString(1) === "\u00e9")
  }

  test("a child session lowers asof_match SQL onto AsOfJoinExec") {
    val c = child
    import c.implicits._
    Seq((1L, 10L, "p1"), (1L, 30L, "p2")).toDF("uid", "pts", "pid")
      .selectExpr("uid", "timestamp_seconds(pts) AS pts", "pid").createOrReplaceTempView("gs_probe")
    Seq((1L, 5L, "s1"), (1L, 20L, "s2")).toDF("suid", "sts", "sid")
      .selectExpr("suid", "timestamp_seconds(sts) AS sts", "sid").createOrReplaceTempView("gs_state")
    val df = c.sql(
      """SELECT p.pid, s.sid FROM gs_probe p LEFT JOIN gs_state s
        |  ON p.uid = s.suid AND asof_match(p.pts, s.sts)""".stripMargin)
    val plan = uncut(df.queryExecution.executedPlan.toString)
    assert(plan.contains("AsOfJoin"), s"asof_match did not lower onto AsOfJoinExec:\n$plan")
    assert(df.as[(String, String)].collect().toSet === Set(("p1", "s1"), ("p2", "s2")))
    // the temp views went to the child only
    assert(!spark.catalog.tableExists("gs_probe"))
  }

  test("RangeJoinRule fires on a child once its width key is set there, and not on the parent") {
    val c = child
    import c.implicits._
    def join(s: SparkSession) = {
      val pts = s.createDataFrame(Seq((3L, "a"), (15L, "b"))).toDF("p", "tag")
      val ivs = s.createDataFrame(Seq((0L, 9L, "lo"), (10L, 19L, "hi"))).toDF("lo", "hi", "nm")
      pts.join(ivs, pts("p") >= ivs("lo") && pts("p") <= ivs("hi"))
    }
    assert(uncut(join(c).queryExecution.executedPlan.toString).contains("NestedLoop"),
      "the rule must stay off while the width key is unset")
    c.conf.set(RangeJoinRule.widthKey, "10")
    val ruled = join(c)
    val plan = uncut(ruled.queryExecution.executedPlan.toString)
    assert(!plan.contains("NestedLoop") && plan.contains("HashJoin"),
      s"the child's width key must turn the rule on:\n$plan")
    assert(ruled.select($"tag", $"nm").as[(String, String)].collect().toSet ===
      Set(("a", "lo"), ("b", "hi")))
    assert(spark.conf.getOption(RangeJoinRule.widthKey).isEmpty)
    assert(uncut(join(spark).queryExecution.executedPlan.toString).contains("NestedLoop"),
      "the child's switch must not reach the parent")
  }

  test("withConf restores a set key and unsets a key that had no value") {
    val set = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(set)
    GraftSession.withConf(spark, set -> "3", RangeJoinRule.widthKey -> "5") {
      assert(spark.conf.get(set) === "3")
      assert(spark.conf.get(RangeJoinRule.widthKey) === "5")
    }
    assert(spark.conf.get(set) === before)
    assert(spark.conf.getOption(RangeJoinRule.widthKey).isEmpty)
    intercept[IllegalStateException] {
      GraftSession.withConf(spark, set -> "5")(throw new IllegalStateException("boom"))
    }
    assert(spark.conf.get(set) === before)
  }
}
