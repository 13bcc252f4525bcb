package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.AsOfJoinNative

/** The as-of join (LogicalPlan+Strategy+Exec): both directions against
  * hand-built edge cases and against the same join composed from stock
  * operators (left outer join, then max/min of a (ts, row) struct per left
  * row), NULL semantics, the tolerance wrapper, and the planned shape (one
  * merge with two exchanges).
  */
class AsOfNativeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)

  test("native == composed on hand-built edge cases") {
    val left = Seq(
      (1L, ts(10), "L-a"), (1L, ts(30), "L-b"), (1L, ts(5), "L-early"),
      (2L, ts(20), "L-c"), (3L, ts(50), "L-nokey"), (4L, ts(30), "L-carry"))
      .toDF("k", "lts", "lval")
    val right = Seq(
      (1L, ts(10), Option("R1"), 1L), (1L, ts(25), Option("R2"), 2L),
      (2L, ts(5), Option("R3"), 3L), (9L, ts(1), Option("R-unused"), 9L),
      (4L, ts(10), Option("R4"), 5L), (4L, ts(25), None, 7L)) // L-carry's match; rval NULL
      .toDF("rk", "rts", "rval", "rx")
    val native = AsOfJoinNative.asofJoin(left, right, "k", "rk", "lts", "rts")
      .select("lval", "rval", "rx").as[(String, String, Option[Long])].collect()
      .map { case (l, r, x) => l -> (r, x) }.toMap
    assert(native("L-a") === ("R1", Some(1L)))      // inclusive tie
    assert(native("L-b") === ("R2", Some(2L)))
    assert(native("L-early") === (null, None))
    assert(native("L-c") === ("R3", Some(3L)))
    assert(native("L-nokey") === (null, None))
    // whole-row carry: a NULL field of the matched right row stays NULL
    // instead of taking the prior row's value
    assert(native("L-carry") === (null, Some(7L)))

    // the composed reference: max (rts, row) struct over past rows per left
    val composed = left.join(right, $"k" === $"rk" && $"rts" <= $"lts", "left_outer")
      .groupBy($"lval")
      .agg(max(when($"rk".isNotNull, struct($"rts", $"rval", $"rx"))).as("m"))
      .select($"lval", $"m.rval".as("rval"), $"m.rx".as("rx"))
      .as[(String, String, Option[Long])].collect()
      .map { case (l, r, x) => l -> (r, x) }.toMap
    assert(native === composed)
  }

  test("forward direction: earliest right at-or-after each left row, per key") {
    val left = Seq(
      (1L, ts(10), "L-tie"),    // equal ts matches (inclusive)
      (1L, ts(11), "L-next"),   // skips the ts(10) row, takes ts(25)
      (1L, ts(26), "L-late"),   // nothing after -> NULL
      (2L, ts(1), "L-share"),   // both 2L rows share the single future row
      (2L, ts(3), "L-share2"),
      (3L, ts(5), "L-nokey"))
      .toDF("k", "lts", "lval")
    val right = Seq(
      (1L, ts(10), "R1"), (1L, ts(25), "R2"), (2L, ts(7), "R3"), (0L, ts(1), "R-unused"))
      .toDF("rk", "rts", "rval")
    val out = AsOfJoinNative.asofJoin(left, right, "k", "rk", "lts", "rts", forward = true)
      .select("lval", "rval").as[(String, String)].collect().toMap
    assert(out("L-tie") === "R1")
    assert(out("L-next") === "R2")
    assert(out("L-late") === null)
    assert(out("L-share") === "R3")   // match must NOT consume the right head:
    assert(out("L-share2") === "R3")  // the same future row answers both lefts
    assert(out("L-nokey") === null)
  }

  test("forward agrees with the batch first-future-row formulation on real events") {
    val ev = Tables.events(spark, sfDir)
    val l = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("lid"), col("user_id"), col("ts").as("lts"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("ru"), col("ts").as("rts"), col("event_id").as("rid"))
    val native = AsOfJoinNative.asofJoin(l, r, "user_id", "ru", "lts", "rts", forward = true)
      .select(col("lid"), col("rid"))
    // oracle formulation: min (rts, rid) struct over future rows per left
    val ref = l.join(r, col("user_id") === col("ru") && col("rts") >= col("lts"), "left_outer")
      .groupBy(col("lid"))
      .agg(min(when(col("rid").isNotNull, struct(col("rts"), col("rid")))).as("m"))
      .select(col("lid"), col("m.rid").as("rid"))
    assert(native.exceptAll(ref).isEmpty && ref.exceptAll(native).isEmpty)
  }

  test("backward agrees with the batch latest-past-row formulation on real events") {
    val ev = Tables.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
    val sgn = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("sts"), col("event_id").as("signup_id"))
    val native = AsOfJoinNative.asofJoin(p, sgn, "user_id", "s_user", "pts", "sts")
      .select(col("purchase_id"), col("signup_id"))
    // reference: max (sts, signup_id) struct over past rows per left
    val ref = p.join(sgn, col("user_id") === col("s_user") && col("sts") <= col("pts"), "left_outer")
      .groupBy(col("purchase_id"))
      .agg(max(when(col("signup_id").isNotNull, struct(col("sts"), col("signup_id")))).as("m"))
      .select(col("purchase_id"), col("m.signup_id").as("signup_id"))
    assert(native.count() === p.count()) // left-preserving
    assert(native.exceptAll(ref).isEmpty && ref.exceptAll(native).isEmpty)
  }

  test("NULL keys and NULL timestamps never match, in either direction") {
    val before1970 = Some(new Timestamp(-86400000L * 3650))
    def run(l: DataFrame, r: DataFrame, forward: Boolean): Map[String, String] =
      AsOfJoinNative.asofJoin(l, r, "k", "rk", "lts", "rts", forward)
        .select("lval", "rval").as[(String, String)].collect().toMap
    // A NULL long key must not pass for key 0, nor a NULL ts for 1970:
    // k2's only right row has a NULL rts (it would be everyone's backward
    // match); k3's left row predates 1970 (a NULL rts would be its
    // forward match); L-nullts would match R1 forward and R1-old backward.
    val left = Seq[(Option[Long], Option[Timestamp], String)](
      (None, Some(ts(10)), "L-nullkey"), (Some(0L), Some(ts(10)), "L-zero"),
      (Some(1L), None, "L-nullts"), (Some(2L), Some(ts(10)), "L-k2"),
      (Some(3L), before1970, "L-k3"))
      .toDF("k", "lts", "lval")
    val right = Seq[(Option[Long], Option[Timestamp], String)](
      (None, Some(ts(5)), "R-nullkey"), (Some(0L), Some(ts(5)), "R0"),
      (Some(0L), Some(ts(20)), "R0-next"), (Some(1L), before1970, "R1-old"),
      (Some(1L), Some(ts(5)), "R1"), (Some(2L), None, "R2-nullts"),
      (Some(3L), None, "R3-nullts"))
      .toDF("rk", "rts", "rval")
    val unmatched = Map[String, String](
      "L-nullkey" -> null, "L-nullts" -> null, "L-k2" -> null, "L-k3" -> null)
    assert(run(left, right, forward = false) === unmatched + ("L-zero" -> "R0"))
    assert(run(left, right, forward = true) === unmatched + ("L-zero" -> "R0-next"))

    // a NULL string key on either side used to throw inside the ordering
    val sLeft = Seq[(Option[String], Timestamp, String)](
      (None, ts(10), "L-nullkey"), (Some("a"), ts(10), "L-a"))
      .toDF("k", "lts", "lval")
    val sRight = Seq[(Option[String], Timestamp, String)](
      (None, ts(5), "R-nullkey"), (Some("a"), ts(5), "Ra"), (Some("a"), ts(20), "Ra-next"))
      .toDF("rk", "rts", "rval")
    assert(run(sLeft, sRight, forward = false) === Map("L-nullkey" -> null, "L-a" -> "Ra"))
    assert(run(sLeft, sRight, forward = true) === Map("L-nullkey" -> null, "L-a" -> "Ra-next"))
  }

  test("tolerance: stale matches become no-matches, fresh ones keep the row") {
    val left = Seq((1L, ts(100), "L1"), (1L, ts(200), "L2"), (2L, ts(50), "L3"))
      .toDF("k", "lts", "lval")
    val right = Seq((1L, ts(95), "R-fresh"), (1L, ts(0), "R-old"), (2L, ts(49), "R-ok"))
      .toDF("rk", "rts", "rval")
    // tolerance 10 minutes: L1 matches R-fresh (5 min old); L2's best
    // match is still R-fresh but 105 min stale -> nulled; L3 matches R-ok
    val got = AsOfJoinNative.asofJoinTolerance(left, right, "k", "rk", "lts", "rts", 600L)
      .select("lval", "rval").as[(String, Option[String])].collect().toMap
    assert(got === Map(
      "L1" -> Some("R-fresh"), "L2" -> None, "L3" -> Some("R-ok")))
  }

  test("string keys: matchedKey survives buffer reuse across advanceRight") {
    // Regression: matchedKey used to store a UTF8String VIEW into the
    // reused UnsafeProjection buffer; consuming the next right row (a
    // different key) overwrote it, so later left rows of the same key
    // lost their valid match. Needs a right row of key B to be read
    // between two left rows of key A.
    val left = Seq(
      ("aa", ts(10), "L1"), ("aa", ts(20), "L2"), ("bb", ts(50), "L3"))
      .toDF("k", "lts", "lval")
    val right = Seq(
      ("aa", ts(5), "RA"), ("bb", ts(7), "RB"))
      .toDF("rk", "rts", "rval")
    val out = AsOfJoinNative.asofJoin(left, right, "k", "rk", "lts", "rts")
      .select("lval", "rval").as[(String, String)].collect().toMap
    assert(out === Map("L1" -> "RA", "L2" -> "RA", "L3" -> "RB"))
  }

  test("unmatched left rows get NULL (not 0/false) for non-nullable right columns") {
    val left = Seq((1L, ts(10), "hit"), (2L, ts(10), "miss")).toDF("k", "lts", "lval")
    val right = Seq((1L, ts(5), 42L, true)).toDF("rk", "rts", "rnum", "rflag")
    val rows = AsOfJoinNative.asofJoin(left, right, "k", "rk", "lts", "rts")
      .select("lval", "rnum", "rflag").collect()
    val byVal = rows.map(r => r.getString(0) -> r).toMap
    assert(byVal("hit").getLong(1) === 42L && byVal("hit").getBoolean(2) === true)
    assert(byVal("miss").isNullAt(1), "unmatched long must be NULL, not 0")
    assert(byVal("miss").isNullAt(2), "unmatched boolean must be NULL, not false")
  }

  test("plans as AsOfJoinExec with hash exchanges and in-partition sorts") {
    val left = Seq((1L, ts(1), "x")).toDF("k", "lts", "v")
    val right = Seq((1L, ts(0), "y")).toDF("rk", "rts", "w")
    val df = AsOfJoinNative.asofJoin(left, right, "k", "rk", "lts", "rts")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"custom exec missing:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 2)
    assert(plan.contains("Sort "), "children must be sorted by (key, ts)")
    assert(df.count() === 1)
  }

  test("repartition-stability of the native operator") {
    val left = (1 to 300).map(i => (i % 5L, ts(i), s"L$i")).toDF("k", "lts", "v")
    val right = (1 to 90).map(i => (i % 5L, ts(i * 3), s"R$i")).toDF("rk", "rts", "w")
    val a = AsOfJoinNative.asofJoin(left.repartition(11), right.repartition(2), "k", "rk", "lts", "rts")
    val b = AsOfJoinNative.asofJoin(left.coalesce(1), right.coalesce(1), "k", "rk", "lts", "rts")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    assert(a.count() === 300)
  }
}
