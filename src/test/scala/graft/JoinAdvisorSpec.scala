package graft

import org.apache.spark.sql.functions._
import graft.operators.{JoinAdvisor, StatsStore}
import graft.operators.JoinAdvisor.{Edge, Rel}
import graft.plans.PlanMetrics

/** Greedy left-deep join-order enumeration over a 4-relation star:
  * the stats-chosen FIRST join must be the selective one, the plan must
  * cover every relation, and — the part estimates alone can't prove —
  * the chosen order's measured intermediate is an order of magnitude
  * smaller than the naive (as-written) order's on EXECUTED plans. */
class JoinAdvisorSpec extends SparkSpec {
  import spark.implicits._

  private def root() =
    java.nio.file.Files.createTempDirectory("graft-advisor").toString

  test("planLeftDeep picks the selective join first; measured delta on executed plans") {
    val r = root()
    // F: 20k facts; k1 joins A (non-selective: every row matches),
    // k2 joins B (selective: B covers 50 of F's 1000 k2 values -> 5%),
    // k3 joins C (non-selective tiny dim: domain 10 fully covered)
    val f = (0 until 20000).map(i =>
      ((i % 2000).toLong, (i % 1000).toLong, (i % 10).toLong, (i % 4).toString))
      .toDF("k1", "k2", "k3", "p")
    val a = (0 until 2000).map(i => (i.toLong, (i % 4).toString)).toDF("k1", "p")
    val b = (1 to 50).map(i => (i.toLong, (i % 4).toString)).toDF("k2", "p")
    val c = (0 until 10).map(i => (i.toLong, (i % 4).toString)).toDF("k3", "p")
    def land(df: org.apache.spark.sql.DataFrame, name: String, cols: Seq[String]): String = {
      df.write.partitionBy("p").parquet(s"$r/$name")
      StatsStore.rebuild(spark, s"$r/$name", s"$r/${name}_stats", "p", cols)
      s"$r/${name}_stats"
    }
    val fSt = land(f, "f", Seq("k1", "k2", "k3"))
    val aSt = land(a, "a", Seq("k1"))
    val bSt = land(b, "b", Seq("k2"))
    val cSt = land(c, "c", Seq("k3"))

    val steps = JoinAdvisor.planLeftDeep(spark,
      Seq(Rel("F", fSt), Rel("A", aSt), Rel("B", bSt), Rel("C", cSt)),
      Seq(Edge("F", "k1", "A", "k1"), Edge("F", "k2", "B", "k2"),
        Edge("F", "k3", "C", "k3")))
    assert(steps.size === 3, "left-deep plan joins every relation")
    assert(steps.head.edge.label === "F_join_B",
      s"the selective edge must seed the plan, got ${steps.map(_.edge.label)}")
    assert(steps.map(_.added).toSet === Set("A", "B", "C"))
    // estimates: ~1000 for F><B (20000 * 50 / ndv(k2)=1000) vs ~20000
    // for either naive seed — HLL noise is a few percent, the gap is 20x
    assert(steps.head.estRows < 2000.0,
      s"selective seed estimate ~1000, got ${steps.head.estRows}")
    // NDV propagation: later steps divide by the containment-capped
    // domain, keeping the running estimate ~1000, never re-exploding
    assert(steps.forall(_.estRows < 3000.0),
      s"propagated estimates stay intermediate-sized, got ${steps.map(_.estRows)}")

    // MEASURED delta on executed plans: the stats-chosen first join
    // (F><B) produces 1000 rows; the naive as-written first join (F><A)
    // produces 20000 — a 20x intermediate every later operator would pay
    val fd = spark.read.parquet(s"$r/f")
    val chosen = fd.join(spark.read.parquet(s"$r/b").select(col("k2")), Seq("k2"))
    val naive = fd.join(spark.read.parquet(s"$r/a").select(col("k1")), Seq("k1"))
    def joinRows(df: org.apache.spark.sql.DataFrame): Long =
      PlanMetrics.actualRows(df)
        .filter(_.node.toLowerCase.contains("join"))
        .flatMap(_.outputRows).headOption.getOrElse(-1L)
    val (chosenRows, naiveRows) = (joinRows(chosen), joinRows(naive))
    assert(chosenRows === 1000L, s"chosen first join actual rows: $chosenRows")
    assert(naiveRows === 20000L, s"naive first join actual rows: $naiveRows")
    assert(chosenRows * 10 <= naiveRows,
      "the advisor's order saves an order of magnitude of intermediate rows")
  }

  test("broadcastSide advice plans a BroadcastHashJoin even with the threshold disabled") {
    val r = root()
    val big = (0 until 20000).map(i => ((i % 500).toLong, (i % 4).toString))
      .toDF("k", "p")
    val dim = (0 until 500).map(i => (i.toLong, (i % 4).toString)).toDF("k", "p")
    big.write.partitionBy("p").parquet(s"$r/big")
    StatsStore.rebuild(spark, s"$r/big", s"$r/big_stats", "p", Seq("k"))
    dim.write.partitionBy("p").parquet(s"$r/dim")
    StatsStore.rebuild(spark, s"$r/dim", s"$r/dim_stats", "p", Seq("k"))
    val bigRel = Rel("big", s"$r/big_stats"); val dimRel = Rel("dim", s"$r/dim_stats")
    // advice: the dim side fits; the fact side must be refused even as
    // the smaller side of some other comparison
    assert(JoinAdvisor.broadcastSide(spark, bigRel, dimRel, 1000L)
      === (("right", 20000L, 500L)))
    assert(JoinAdvisor.broadcastSide(spark, dimRel, bigRel, 1000L)
      === (("left", 500L, 20000L)))
    assert(JoinAdvisor.broadcastSide(spark, bigRel, bigRel, 1000L)._1 === "shuffle",
      "an oversized smaller side is refused, not broadcast")
    // plan shape: with autoBroadcastJoinThreshold DISABLED (the 100 TB
    // default posture against mis-sized estimates), the advised hint
    // still plans a broadcast join; the unhinted plan shuffles
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bigDf = spark.read.parquet(s"$r/big").select(col("k"))
      val dimDf = spark.read.parquet(s"$r/dim")
        .select(col("k").as("dk"))
      val (advised, side) = JoinAdvisor.advisedJoin(spark,
        bigDf, bigRel, dimDf, dimRel, col("k") === col("dk"), 1000L)
      assert(side === "right")
      val hinted = PlanMetrics.actualRows(advised).map(_.node).mkString(" ")
      assert(hinted.contains("BroadcastHashJoin"),
        s"advised plan must broadcast the dim side, got: $hinted")
      val unhinted = PlanMetrics
        .actualRows(bigDf.join(dimDf, col("k") === col("dk")))
        .map(_.node).mkString(" ")
      assert(!unhinted.contains("BroadcastHashJoin"),
        s"without the hint the disabled threshold shuffles, got: $unhinted")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("planLeftDeep over a three-relation chain starts one job per rel, each inside a SQL execution") {
    val r = root()
    // the CBO trio's shape: lineitem(ok) – orders(ok, ck) – customer(ck)
    def land(df: org.apache.spark.sql.DataFrame, name: String, cols: Seq[String]): Rel = {
      df.write.partitionBy("p").parquet(s"$r/$name")
      StatsStore.rebuild(spark, s"$r/$name", s"$r/${name}_stats", "p", cols)
      Rel(name, s"$r/${name}_stats")
    }
    val l = land(spark.range(4000).selectExpr("id % 1000 AS ok", "CAST(id % 3 AS STRING) AS p"),
      "l", Seq("ok"))
    val o = land(spark.range(1000).selectExpr("id AS ok", "id % 150 AS ck",
      "CAST(id % 3 AS STRING) AS p"), "o", Seq("ok", "ck"))
    val c = land(spark.range(150).selectExpr("id AS ck", "CAST(id % 3 AS STRING) AS p"),
      "c", Seq("ck"))
    val edges = Seq(Edge("l", "ok", "o", "ok"), Edge("o", "ck", "c", "ck"))
    var steps = Seq.empty[JoinAdvisor.Step]
    val jobs = jobsOf { steps = JoinAdvisor.planLeftDeep(spark, Seq(l, o, c), edges) }
    assert(jobs.size === 3, "one stats fold per rel")
    assert(jobs.forall(_.getProperty("spark.sql.execution.id") != null))
    assert(steps.size === 2, "the plan joins every relation")
    val bJobs = jobsOf { JoinAdvisor.broadcastSide(spark, o, c, 500L) }
    assert(bJobs.size === 2, "one row-count fold per side")
  }

  test("empty or rowless stats are refused with the stats path named, never an NPE") {
    val r = root()
    // a stats table with the right schema but ZERO rows — sum(rows)
    // folds to NULL, the shape that used to surface as a bare NPE
    spark.range(0)
      .select(col("id").cast("string").as("p"), col("id").as("rows"))
      .write.parquet(s"$r/empty_stats")
    // and a healthy side to pair it with
    val ok = (0 until 100).map(i => (i.toLong, (i % 4).toString)).toDF("k", "p")
    ok.write.partitionBy("p").parquet(s"$r/ok")
    StatsStore.rebuild(spark, s"$r/ok", s"$r/ok_stats", "p", Seq("k"))
    val okRel = Rel("ok", s"$r/ok_stats")
    val emptyRel = Rel("hollow", s"$r/empty_stats")
    val e = intercept[IllegalArgumentException] {
      JoinAdvisor.broadcastSide(spark, okRel, emptyRel, 1000L)
    }
    assert(e.getMessage.contains(s"$r/empty_stats") &&
      e.getMessage.contains("hollow") && e.getMessage.contains("rebuild"),
      s"error must name the stats path and rel: ${e.getMessage}")
    val e2 = intercept[IllegalArgumentException] {
      JoinAdvisor.planLeftDeep(spark, Seq(okRel, emptyRel),
        Seq(Edge("ok", "k", "hollow", "k")))
    }
    assert(e2.getMessage.contains(s"$r/empty_stats"))
  }
}
