package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** SQL-text surface for the native as-of join: the asof_match/asof_next
  * markers + lowering rule must plan onto AsOfJoinExec, agree with the
  * DataFrame-native path, and fail LOUDLY on unsupported shapes.
  */
class AsOfSqlSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def setup(): Unit = {
    Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (1L, ts("2024-01-01 12:00:00"), "p2"),
      (2L, ts("2024-01-01 11:00:00"), "p3"))
      .toDF("uid", "pts", "pid").createOrReplaceTempView("probe")
    Seq(
      (1L, ts("2024-01-01 09:00:00"), "s1"),
      (1L, ts("2024-01-01 11:30:00"), "s2"),
      (3L, ts("2024-01-01 08:00:00"), "s3"))
      .toDF("suid", "sts", "sid").createOrReplaceTempView("state")
  }

  test("asof_match lowers to AsOfJoinExec and matches the DataFrame-native path") {
    setup()
    val df = spark.sql(
      """SELECT p.pid, p.uid, s.sid
        |FROM probe p LEFT JOIN state s
        |  ON p.uid = s.suid AND asof_match(p.pts, s.sts)""".stripMargin)
    // the physical plan must BE the native operator, not a generic join
    // (string check: AQE wraps the plan, hiding the exec from collect)
    val plan = uncut(df.queryExecution.executedPlan.toString)
    assert(plan.contains("AsOfJoin"), s"SQL text did not lower onto AsOfJoinExec:\n$plan")
    val got = df.as[(String, Long, Option[String])].collect().toSet
    assert(got === Set(
      ("p1", 1L, Some("s1")),   // 10:00 -> latest <= is 09:00
      ("p2", 1L, Some("s2")),   // 12:00 -> 11:30
      ("p3", 2L, None)))        // no state for uid 2
    // bit-agreement with the DataFrame-native operator
    val native = graft.plans.AsOfJoinNative.asofJoin(
      spark.table("probe"), spark.table("state"), "uid", "suid", "pts", "sts")
      .select(col("pid"), col("uid"), col("sid"))
      .as[(String, Long, Option[String])].collect().toSet
    assert(got === native)
  }

  test("asof_next lowers the FORWARD direction") {
    setup()
    val got = spark.sql(
      """SELECT p.pid, s.sid
        |FROM probe p LEFT JOIN state s
        |  ON p.uid = s.suid AND asof_next(p.pts, s.sts)""".stripMargin)
      .as[(String, Option[String])].collect().toSet
    assert(got === Set(
      ("p1", Some("s2")),  // 10:00 -> earliest >= is 11:30
      ("p2", None),        // nothing after 12:00
      ("p3", None)))
  }

  test("unsupported shapes fail loudly instead of silently computing something else") {
    setup()
    // reversed marker arguments (first arg must be the probe side): the
    // rule must NOT fire, and the Unevaluable marker kills execution
    intercept[Throwable] {
      spark.sql(
        """SELECT p.pid FROM probe p LEFT JOIN state s
          |  ON p.uid = s.suid AND asof_match(s.sts, p.pts)""".stripMargin).collect()
    }
    // INNER join is not the as-of shape (as-of is left-preserving)
    intercept[Throwable] {
      spark.sql(
        """SELECT p.pid FROM probe p JOIN state s
          |  ON p.uid = s.suid AND asof_match(p.pts, s.sts)""".stripMargin).collect()
    }
  }
}
