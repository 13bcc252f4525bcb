package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

/** The scratch-space contract: run-scoped unique dirs under a
  * configurable cluster-FS root, local-tmp fallback only in local mode,
  * and real staged queries landing under a non-default root.
  */
class ScratchSpec extends SparkSpec {

  private def withRoot[A](root: String)(body: => A): A = {
    val prev = spark.conf.getOption(Scratch.RootKey)
    spark.conf.set(Scratch.RootKey, root)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(Scratch.RootKey, v)
      case None => spark.conf.unset(Scratch.RootKey)
    }
  }

  test("allocations are unique, run-scoped, and under the configured root") {
    val root = Files.createTempDirectory("scratch-root").toString
    withRoot(root) {
      val a = Scratch.dir(spark, "stage")
      val b = Scratch.dir(spark, "stage")
      assert(a != b, "two allocations with the same tag must not collide")
      val appId = spark.sparkContext.applicationId
      Seq(a, b).foreach { p =>
        assert(p.contains(s"graft-scratch/$appId/"), s"$p not run-scoped under $root")
        assert(new Path(p).toUri.getPath.startsWith(root), s"$p escaped configured root $root")
        assert(new java.io.File(new Path(p).toUri.getPath).isDirectory, s"$p was not created")
      }
    }
  }

  test("tags are sanitized into path-safe labels") {
    val root = Files.createTempDirectory("scratch-root").toString
    withRoot(root) {
      val p = Scratch.dir(spark, "we ird/tag:x")
      assert(new java.io.File(new Path(p).toUri.getPath).isDirectory)
      assert(!new Path(p).getName.contains(" ") && !new Path(p).getName.contains(":"))
    }
  }

  test("fingerprint: inputs whose names share a 32-bit String.hashCode get different keys") {
    val root = Files.createTempDirectory("scratch-fp").toString
    assert("Aa".hashCode === "BB".hashCode)
    val a = Scratch.fingerprint(spark, Seq(s"$root/Aa"))
    val b = Scratch.fingerprint(spark, Seq(s"$root/BB"))
    assert(a !== b, "two absent inputs must not share a cache key")
    assert(a === Scratch.fingerprint(spark, Seq(s"$root/Aa")), "the key is deterministic")
  }

  test("local master falls back to java.io.tmpdir when no root configured") {
    val prev = spark.conf.getOption(Scratch.RootKey)
    spark.conf.unset(Scratch.RootKey)
    try {
      val p = Scratch.dir(spark, "fallback")
      val tmp = new Path(System.getProperty("java.io.tmpdir")).toUri.getPath
      assert(new Path(p).toUri.getPath.startsWith(tmp), s"$p not under local tmp $tmp")
    } finally prev.foreach(spark.conf.set(Scratch.RootKey, _))
  }

  test("a staged iterative query runs end-to-end under a non-default root") {
    val root = Files.createTempDirectory("scratch-root-pr").toString
    withRoot(root) {
      import org.apache.spark.sql.functions._
      val edges = spark.createDataFrame(Seq(
        (1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (3L, 2L, 1L)
      )).toDF("src", "dst", "w")
      // convergence-mode PageRank restages ranks to scratch every round
      val (ranks, rounds) = operators.PageRank.ranksConverged(
        edges, maxRounds = 30, toleranceUnits = 1000000L)
      assert(rounds > 0 && ranks.count() == 3)
      val appDir = new java.io.File(
        new Path(s"$root/graft-scratch/${spark.sparkContext.applicationId}").toUri.getPath)
      val staged = Option(appDir.listFiles()).getOrElse(Array.empty)
      assert(staged.exists(_.getName.startsWith("pagerank-rounds")),
        s"expected pagerank staging under $appDir, saw ${staged.map(_.getName).mkString(",")}")
      // the returned frame still reads the staged parquet — sum of exact
      // integer ranks stays within rounding slack of the total mass
      val total = ranks.agg(sum(col("r"))).collect()(0).getLong(0)
      assert(math.abs(total - 1000000000000L) < 100L)
    }
  }

  test("RoundChain bounds staged rounds to its window and keeps results readable") {
    // the window/eager-delete contract is about DURABLE round tables —
    // parquet stage mode (local mode parks rounds in the block manager;
    // releaseRunState is its reclamation, tested below)
    val root = Files.createTempDirectory("scratch-root-rc").toString
    withStageMode("parquet") { withRoot(root) {
      import org.apache.spark.sql.functions._
      val stage = Scratch.dir(spark, "chain")
      val chain = new Scratch.RoundChain(spark)
      var df = spark.range(10).toDF("id")
      for (r <- 1 to 5)
        df = chain.stage(df.withColumn("id", col("id") + 1), s"$stage/r$r")
      val live = Option(new java.io.File(new Path(stage).toUri.getPath).listFiles())
        .getOrElse(Array.empty).map(_.getName).sorted
      assert(live.toSeq === Seq("r5"),
        s"window-1 chain must keep only the latest round, saw ${live.mkString(",")}")
      // the surviving round is the result and still reads correctly
      assert(df.agg(sum(col("id"))).collect()(0).getLong(0) === 95L)
    } }
  }

  test("local stage mode: leaf plans, identical results, releaseRunState reclaims") {
    val root = Files.createTempDirectory("scratch-root-lm").toString
    withStageMode("local") { withRoot(root) {
      import org.apache.spark.sql.functions._
      val stage = Scratch.dir(spark, "chain-local")
      val chain = new Scratch.RoundChain(spark)
      var df = spark.range(10).toDF("id")
      for (r <- 1 to 5)
        df = chain.stage(df.withColumn("id", col("id") + 1), s"$stage/r$r")
      // same arithmetic as the parquet-mode chain test above
      assert(df.agg(sum(col("id"))).collect()(0).getLong(0) === 95L)
      // the staged frame is a flat LEAF plan (no lineage growth across
      // rounds — the property that keeps multi-reference loops like the
      // truss peel from exponential plan blowup)
      assert(df.queryExecution.analyzed.children.isEmpty,
        s"staged frame must be a leaf plan, got ${df.queryExecution.analyzed}")
      // stamped stats are the checkpointed blocks' actual footprint —
      // present and node-sized, so broadcast decisions stay adaptive
      val leafStats = df.queryExecution.optimizedPlan.collectLeaves()
        .head.stats.sizeInBytes
      assert(leafStats > 0 && leafStats < 10L * 1024 * 1024,
        s"staged leaf stats should be small actual bytes, got $leafStats")
      // rounds parked in the block manager are reclaimed by the
      // harness sweep (the hygiene contract RegistrySpec enforces)
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
      Scratch.releaseRunState(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    } }
  }

  test("local stage mode: staged frames self-join without ambiguity") {
    val root = Files.createTempDirectory("scratch-root-sj").toString
    withStageMode("local") { withRoot(root) {
      import org.apache.spark.sql.functions._
      val stage = Scratch.dir(spark, "selfjoin")
      val edges = Scratch.stageFrame(spark,
        spark.createDataFrame(Seq((1L, 2L), (2L, 3L))).toDF("u", "v"),
        s"$stage/e")
      // derived-frame ⋈ original — the Bfs/peel shape that tripped the
      // ambiguous-self-join analyzer when staging kept lineage
      val twoHop = edges.select(col("u"), col("v").as("m"))
        .join(edges.select(col("u").as("m"), col("v")), Seq("m"))
        .select(col("u"), col("v"))
      assert(twoHop.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        === Seq((1L, 3L)))
      Scratch.releaseRunState(spark)
    } }
  }

  test("iterative BFS leaves only a bounded number of round tables on scratch") {
    val root = Files.createTempDirectory("scratch-root-bfs").toString
    withStageMode("parquet") { withRoot(root) {
      import org.apache.spark.sql.functions._
      val edges0 = spark.createDataFrame(
        (1L to 40L).map(i => (i, i + 1))).toDF("u", "v")
      val seeds = spark.createDataFrame(Seq(Tuple1(1L))).toDF("id")
      val stage = Scratch.dir(spark, "bfs-bound")
      edges0.write.mode("overwrite").parquet(s"$stage/edges")
      val labels = operators.Bfs.distances(
        spark.read.parquet(s"$stage/edges"), seeds, rounds = 6, s"$stage/lab")
      assert(labels.count() === 7L) // seed + 6 hops down the chain
      val rounds = Option(new java.io.File(new Path(s"$stage/lab").toUri.getPath)
        .listFiles()).getOrElse(Array.empty).map(_.getName)
      assert(rounds.toSeq === Seq("l6"),
        s"6-round BFS must keep only its final label table, saw ${rounds.mkString(",")}")
      // the result is the surviving round — still fully readable
      assert(labels.agg(max(col("dist"))).collect()(0).getInt(0) === 6)
    } }
  }

  test("stage() lints the staged plan: a hidden partition-less window is fatal") {
    val root = Files.createTempDirectory("scratch-root-lint").toString
    withRoot(root) {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val df = spark.range(100).toDF("id")
      val chain = new Scratch.RoundChain(spark)
      val planted = df.withColumn("rn",
        row_number().over(Window.orderBy(col("id"))))
      val e = intercept[IllegalStateException] {
        chain.stage(planted, s"${Scratch.dir(spark, "lint")}/x")
      }
      assert(e.getMessage.contains("partition-less-window"))
      // a CONSTANT partition spec folds to the same single task — also fatal
      val folded = df.withColumn("rn",
        row_number().over(Window.partitionBy(lit("all")).orderBy(col("id"))))
      intercept[IllegalStateException] {
        chain.stage(folded, s"${Scratch.dir(spark, "lint")}/y")
      }
    }
  }

  test("stage() boundedRows admits a declared single-task fold and verifies the bound") {
    val root = Files.createTempDirectory("scratch-root-bound").toString
    withRoot(root) {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val chain = new Scratch.RoundChain(spark)
      val fold = spark.range(64).toDF("id").withColumn("rn",
        row_number().over(Window.orderBy(col("id"))))
      // declared bound holds: staged and readable
      val staged = chain.stage(fold, s"${Scratch.dir(spark, "bnd")}/ok",
        boundedRows = 100L)
      assert(staged.count() === 64L)
      // declared bound violated: the row-count verification fires
      val e = intercept[IllegalArgumentException] {
        chain.stage(fold, s"${Scratch.dir(spark, "bnd")}/bad", boundedRows = 10L)
      }
      assert(e.getMessage.contains("boundedRows=10"))
    }
  }

  test("eager cleanup deletes a staging dir") {
    val root = Files.createTempDirectory("scratch-root-cl").toString
    withRoot(root) {
      val p = Scratch.dir(spark, "gone")
      val f = new java.io.File(new Path(p).toUri.getPath)
      assert(f.isDirectory)
      Scratch.cleanup(spark, p)
      assert(!f.exists, s"$p survived cleanup")
    }
  }
}
