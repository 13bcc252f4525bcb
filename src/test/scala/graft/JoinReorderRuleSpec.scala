package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.StatsStore
import graft.plans.{JoinReorderRule, PlanMetrics}

/** The stats-driven join-REORDER optimizer rule (k55): fires only on
  * inner equi-join chains fully covered by configured stats rels,
  * rebuilds them left-deep in the greedy Selinger-lite order, never
  * changes results, and converges (fixpoint-safe no-op once the chain
  * is in its chosen order).
  */
class JoinReorderRuleSpec extends SparkSpec {
  import spark.implicits._

  private def root() =
    java.nio.file.Files.createTempDirectory("graft-reorder").toString

  /** F: 20k facts; A matches every row on k1 (20k intermediate);
    * B covers 50 of F's 1000 k2 values (1k intermediate). The naive
    * as-written chain joins A first; the rule must flip to B first. */
  private def fixture(): (String, Seq[(String, String)]) = {
    val r = root()
    val f = (0 until 20000).map(i =>
      ((i % 2000).toLong, (i % 1000).toLong, (i % 4).toString))
      .toDF("k1", "k2", "p")
    val a = (0 until 2000).map(i => (i.toLong, s"a$i", (i % 4).toString))
      .toDF("ak1", "atag", "p")
    val b = (1 to 50).map(i => (i.toLong, s"b$i", (i % 4).toString))
      .toDF("bk2", "btag", "p")
    f.write.partitionBy("p").parquet(s"$r/f")
    StatsStore.rebuild(spark, s"$r/f", s"$r/f_stats", "p", Seq("k1", "k2"))
    a.write.partitionBy("p").parquet(s"$r/a")
    StatsStore.rebuild(spark, s"$r/a", s"$r/a_stats", "p", Seq("ak1"))
    b.write.partitionBy("p").parquet(s"$r/b")
    StatsStore.rebuild(spark, s"$r/b", s"$r/b_stats", "p", Seq("bk2"))
    (r, Seq("F" -> s"$r/f_stats", "A" -> s"$r/a_stats", "B" -> s"$r/b_stats"))
  }

  private def naiveChain(r: String): DataFrame = {
    val f = spark.read.parquet(s"$r/f")
    val a = spark.read.parquet(s"$r/a")
    val b = spark.read.parquet(s"$r/b")
    f.join(a, col("k1") === col("ak1"))
      .join(b, col("k2") === col("bk2"))
      .select(col("k1"), col("k2"), col("atag"), col("btag"))
  }

  /** Actual output rows of the FIRST-executed (deepest) join. */
  private def firstJoinRows(df: DataFrame): Long = {
    val joins = PlanMetrics.actualRows(df)
      .filter(_.node.toLowerCase.contains("join"))
    assert(joins.size >= 2, s"expected a 2-join chain, got $joins")
    joins.maxBy(_.depth).outputRows.getOrElse(-1L)
  }

  private def withRule[T](rels: Seq[(String, String)])(body: => T): T =
    GraftSession.withConf(spark, JoinReorderRule.relsKey -> JoinReorderRule.relsValue(rels))(body)

  test("reorders the chain: selective join first, results identical") {
    val (r, rels) = fixture()
    val expected = naiveChain(r).collect().map(_.toSeq).toSet
    val naiveFirst = firstJoinRows(naiveChain(r))
    assert(naiveFirst === 20000L, s"naive first join rows: $naiveFirst")
    withRule(rels) {
      val ruled = naiveChain(r)
      val ruledFirst = firstJoinRows(ruled)
      assert(ruledFirst === 1000L,
        s"rule must put the selective join first, got $ruledFirst rows")
      assert(ruled.collect().map(_.toSeq).toSet === expected,
        "reorder must be result-identical")
      assert(ruled.columns.toSeq === Seq("k1", "k2", "atag", "btag"),
        "output column order preserved")
    }
  }

  test("fixpoint: a chain already in the chosen order is left unchanged") {
    val (r, rels) = fixture()
    withRule(rels) {
      // the rule applied to its own (fully optimized) output must be a
      // strict no-op — reference-equal, or the user-rule batch would
      // re-rewrite every fixpoint pass until max-iterations
      val once = naiveChain(r).queryExecution.optimizedPlan
      val again = graft.plans.JoinReorderRule(spark)(once)
      assert(again eq once, s"rule must no-op on its own output:\n$again")
    }
  }

  test("conf unset leaves the plan alone") {
    val (r, _) = fixture()
    assert(firstJoinRows(naiveChain(r)) === 20000L,
      "without the conf the as-written order stands")
  }

  test("non-equi conjunct or uncovered base: no rewrite") {
    val (r, rels) = fixture()
    withRule(rels) {
      // a cross-base non-equi conjunct disqualifies the chain
      val f = spark.read.parquet(s"$r/f")
      val a = spark.read.parquet(s"$r/a")
      val b = spark.read.parquet(s"$r/b")
      val j = f.join(a, col("k1") === col("ak1"))
        .join(b, col("k2") === col("bk2") && col("k1") < col("bk2") + 100000)
      assert(firstJoinRows(j) === 20000L, "non-equi chain must not reorder")
      // a base whose join column no stats rel tracks
      val x = (0 until 10).map(i => (i.toLong, i)).toDF("xk", "xv")
      val jx = f.join(a, col("k1") === col("ak1"))
        .join(x, col("k2") === col("xk"))
      assert(firstJoinRows(jx) === 20000L, "uncovered base must not reorder")
    }
  }

  test("superset stats rels resolve by elimination") {
    val (r, _) = fixture()
    // share the column NAME on purpose: A2's key is also called k1, so
    // its tracked set {k1} is a subset of the F rel's {k1,k2} — the A2
    // base is compatible with BOTH rels. The F base (probing {k1,k2})
    // is forced onto the F rel, and elimination leaves A2's base exactly
    // one candidate. The reorder must still fire and still be correct.
    val a2 = (0 until 2000).map(i => (i.toLong, s"a$i", (i % 4).toString))
      .toDF("k1", "atag", "ap")
    a2.write.partitionBy("ap").parquet(s"$r/a2")
    StatsStore.rebuild(spark, s"$r/a2", s"$r/a2_stats", "ap", Seq("k1"))
    val rels2 = Seq("F" -> s"$r/f_stats", "A2" -> s"$r/a2_stats",
      "B" -> s"$r/b_stats")
    val f = spark.read.parquet(s"$r/f")
    val b = spark.read.parquet(s"$r/b")
    def chain = f.join(spark.read.parquet(s"$r/a2"), Seq("k1"))
      .join(b, col("k2") === col("bk2"))
      .select(col("k1"), col("k2"), col("atag"), col("btag"))
    val expected = chain.collect().map(_.toSeq).toSet
    assert(firstJoinRows(chain) === 20000L, "as-written: A2 joins first")
    withRule(rels2) {
      assert(firstJoinRows(chain) === 1000L,
        "elimination must still let the selective join go first")
      assert(chain.collect().map(_.toSeq).toSet === expected)
    }
  }

  test("maxBroadcastRows hints exactly the fitting base rels") {
    val (r, rels) = fixture()
    // the 100 TB posture: size-estimate broadcasting disabled — only
    // the rule's exact-stats hints may plan a broadcast
    GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { withRule(rels) {
      val expected = naiveChain(r).collect().map(_.toSeq).toSet
      // A (2000 rows) and B (50) fit a 2500-row budget; F (20000) refused
      GraftSession.withConf(spark, JoinReorderRule.broadcastKey -> "2500") {
        val m = PlanMetrics.actualRows(naiveChain(r))
        assert(m.count(_.node.contains("BroadcastHashJoin")) === 2,
          s"both fitting dims must broadcast, got ${m.map(_.node)}")
      }
      // a budget below every rel: no hints, no broadcast — the refusal
      // (k50's discipline) must win over "it would be faster"
      GraftSession.withConf(spark, JoinReorderRule.broadcastKey -> "10") {
        val m = PlanMetrics.actualRows(naiveChain(r))
        assert(m.count(_.node.contains("BroadcastHashJoin")) === 0,
          s"nothing fits a 10-row budget, got ${m.map(_.node)}")
        assert(naiveChain(r).collect().map(_.toSeq).toSet === expected)
      }
    } }
  }

  test("5-relation star: greedy order holds at depth, all conjuncts kept") {
    val r = root()
    // F joins 4 dims; selectivities (match fraction of F) are engineered
    // distinct: B 5%, C 25%, D 100%, A 100% with the largest domain.
    val f = (0 until 20000).map(i => ((i % 2000).toLong, (i % 1000).toLong,
      (i % 400).toLong, (i % 10).toLong, (i % 4).toString))
      .toDF("k1", "k2", "k3", "k4", "p")
    def land(df: org.apache.spark.sql.DataFrame, name: String, cols: Seq[String]) = {
      df.write.partitionBy("p").parquet(s"$r/$name")
      StatsStore.rebuild(spark, s"$r/$name", s"$r/${name}_stats", "p", cols)
      s"$r/${name}_stats"
    }
    val fSt = land(f, "f", Seq("k1", "k2", "k3", "k4"))
    val aSt = land((0 until 2000).map(i => (i.toLong, (i % 4).toString))
      .toDF("ak1", "p"), "a", Seq("ak1"))
    val bSt = land((1 to 50).map(i => (i.toLong, (i % 4).toString))
      .toDF("bk2", "p"), "b", Seq("bk2"))
    val cSt = land((0 until 100).map(i => (i.toLong, (i % 4).toString))
      .toDF("ck3", "p"), "c", Seq("ck3"))
    val dSt = land((0 until 10).map(i => (i.toLong, (i % 4).toString))
      .toDF("dk4", "p"), "d", Seq("dk4"))
    def chain = spark.read.parquet(s"$r/f")
      .join(spark.read.parquet(s"$r/a"), col("k1") === col("ak1"))
      .join(spark.read.parquet(s"$r/b"), col("k2") === col("bk2"))
      .join(spark.read.parquet(s"$r/c"), col("k3") === col("ck3"))
      .join(spark.read.parquet(s"$r/d"), col("k4") === col("dk4"))
      .select(col("k1"), col("k2"), col("k3"), col("k4"))
    val expected = chain.count()
    withRule(Seq("F" -> fSt, "A" -> aSt, "B" -> bSt, "C" -> cSt, "D" -> dSt)) {
      val m = PlanMetrics.actualRows(chain)
      val joins = m.filter(_.node.toLowerCase.contains("join"))
        .sortBy(-_.depth).flatMap(_.outputRows)
      assert(joins.size === 4, s"4-join chain expected, got ${m.map(_.node)}")
      // the selective B edge (5% of F) must run first: 1000 rows, then
      // every later intermediate stays at most that size — the whole
      // point of the greedy order at depth (the as-written order would
      // carry 20000 rows through three joins)
      assert(joins.head === 1000L, s"B-first expected, got $joins")
      assert(joins.forall(_ <= 1000L),
        s"intermediates must never re-explode, got $joins")
      assert(chain.count() === expected, "reorder is result-identical")
    }
  }
}
