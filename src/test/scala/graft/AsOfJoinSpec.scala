package graft

import java.sql.Timestamp
import graft.plans.AsOfJoinNative

/** Backward as-of semantics of the as-of join (`AsOfJoinExec`, reached
  * through `AsOfJoinNative.asofJoin`): the match per key, whole-row carry
  * of the matched right row, and independence from input partitioning.
  */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)

  test("asof semantics: latest right at-or-before each left row, per key") {
    val left = Seq(
      (1L, ts(10), "L-a"), (1L, ts(30), "L-b"), (1L, ts(5), "L-early"),
      (2L, ts(20), "L-c"), (3L, ts(50), "L-nomatch"))
      .toDF("k", "lts", "lval")
    val right = Seq(
      (1L, ts(10), "R1"), (1L, ts(25), "R2"), (2L, ts(5), "R3"))
      .toDF("rk", "rts", "rval")
    val out = AsOfJoinNative.asofJoin(left, right, "k", "rk", "lts", "rts")
      .select("lval", "rval").as[(String, String)].collect().toMap
    assert(out("L-a") === "R1")       // equal ts matches (inclusive)
    assert(out("L-b") === "R2")       // latest of the two priors
    assert(out("L-early") === null)   // before any right row
    assert(out("L-c") === "R3")
    assert(out("L-nomatch") === null) // key with no right rows
  }

  test("whole-row carry: NULL field of the matching right row stays NULL") {
    // Carrying each right column on its own (a running last(ignoreNulls))
    // would let a NULL in the true matching row leak the previous row's
    // value and mix columns across right rows.
    val left = Seq((1L, ts(30), "L")).toDF("k", "lts", "lval")
    val right = Seq(
      (1L, ts(10), Option("R1"), Option(5L)),
      (1L, ts(25), Option.empty[String], Option(7L))) // the true match; rval NULL
      .toDF("rk", "rts", "rval", "rx")
    val row = AsOfJoinNative.asofJoin(left, right, "k", "rk", "lts", "rts")
      .select("rval", "rx").collect().head
    assert(row.isNullAt(0), "NULL field of matched row must not leak the prior row's value")
    assert(row.getLong(1) === 7L)
  }

  test("asof join is repartition-stable") {
    val left = (1 to 500).map(i => (i % 7L, ts(i), s"L$i")).toDF("k", "lts", "lval")
    val right = (1 to 100).map(i => (i % 7L, ts(i * 3), s"R$i")).toDF("rk", "rts", "rval")
    val a = AsOfJoinNative.asofJoin(left.repartition(13), right.repartition(3), "k", "rk", "lts", "rts")
    val b = AsOfJoinNative.asofJoin(left.coalesce(1), right.coalesce(1), "k", "rk", "lts", "rts")
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
    assert(a.count() === 500) // every left row exactly once
  }
}
