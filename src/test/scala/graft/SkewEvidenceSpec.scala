package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Scale evidence beyond prose: with a synthetically hot key, (1) AQE's
  * skew-join split actually fires on the engine's join shapes and no
  * single task reads a dominant share of the shuffle, and (2) d2's
  * document-frequency cap bounds the shingle self-join blowup that a hot
  * shingle would otherwise cause. These are the two mechanisms the 100×
  * claim rests on for skewed real-world data.
  */
class SkewEvidenceSpec extends SparkSpec {
  import spark.implicits._

  /** Collects per-task shuffle-read record counts keyed by stage. */
  private class ShuffleReadListener extends SparkListener {
    val byStage = mutable.Map.empty[Int, mutable.Buffer[Long]]
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && m.shuffleReadMetrics != null)
        byStage.getOrElseUpdate(e.stageId, mutable.Buffer.empty) +=
          m.shuffleReadMetrics.recordsRead
    }
  }

  /** The listener bus is async (and private[spark]); poll until event
    * counts stop changing before reading collected metrics. */
  private def awaitListenerQuiesce(l: ShuffleReadListener): Unit = {
    var last = -1L
    var same = 0
    while (same < 3) {
      Thread.sleep(100)
      val now = l.synchronized(l.byStage.values.map(_.size.toLong).sum)
      if (now == last) same += 1 else { same = 0; last = now }
    }
  }

  private def withSkewConfigs[T](body: => T): T = {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      body
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("AQE skew-join splits the hot key on the j2 join shape; no straggler task") {
    withSkewConfigs {
      // j2 shape: orders ⋈ items on order key — with one order carrying
      // 60% of all items (the hot-merchant pathology)
      val nItems = 400000
      val hotShare = (nItems * 0.6).toInt
      val orders = (1L to 2000L).toDF("o_id")
        .withColumn("o_meta", concat(lit("order-"), col("o_id")))
      val items = spark.range(nItems.toLong).toDF("i")
        .select(
          when(col("i") < hotShare, 1L)
            .otherwise(pmod(col("i"), lit(1999L)) + 2L).as("o_id"),
          concat(lit("item-"), col("i")).as("payload"))

      val listener = new ShuffleReadListener
      spark.sparkContext.addSparkListener(listener)
      val joined = items.join(orders, Seq("o_id"))
      try {
        // collect() executes the dataset's OWN QueryExecution — count(),
        // write, and foreach all plan a separate one, which would leave
        // joined's AQE plan unfinalized
        assert(joined.collect().length === nItems)
      } finally {
        spark.sparkContext.removeSparkListener(listener)
      }

      // (1) plan-level evidence: the executed AQE plan handled the skew
      val plan = uncut(joined.queryExecution.executedPlan.toString)
      assert(plan.contains("skew=true"), s"AQE skew split did not fire:\n$plan")

      // (2) metrics-level evidence: in the join's shuffle-read stage, no
      // task read a dominant share — the hot key's rows were split.
      awaitListenerQuiesce(listener)
      val joinStage = listener.byStage.maxBy(_._2.sum)
      val reads = joinStage._2.toSeq.sorted
      val max = reads.last
      assert(max < hotShare / 2,
        s"one task read $max of the $hotShare hot-key rows — skew not split (reads: $reads)")
    }
  }

  test("d2's DF cap bounds the hot-shingle self-join; planted dup still found") {
    // 300 documents all sharing one ultra-hot sentence (shingle DF = 300
    // >> cap 50), plus one planted near-duplicate pair. Without the cap
    // the self-join would generate ~300² candidate rows from the hot
    // shingles alone.
    val hot = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (0 until 300).map { i =>
      val uniq = s"document $i carries its own distinctive tail content piece$i part$i"
      val text = if (i == 298) s"$hot shared dup body one two three four five six seven"
      else if (i == 299) s"$hot shared dup body one two three four five six seven"
      else s"$hot $uniq"
      (i.toLong, text, "en", "synthetic", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("skew-docs").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val listener = new ShuffleReadListener
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      SparkEntry.queries("d2_ngram_jaccard")(spark, dir).collect()
    } finally {
      spark.sparkContext.removeSparkListener(listener)
    }
    // the planted duplicate survives; the hot shingle creates no pairs
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((298L, 299L)))
    // blowup evidence: no stage shuffled anything near the 300² ≈ 90k
    // pair rows the uncapped hot shingle would produce
    awaitListenerQuiesce(listener)
    val worstStage = listener.byStage.values.map(_.sum).max
    assert(worstStage < 45000, s"a stage shuffled $worstStage records — DF cap not effective")
  }

  test("post-AQE executed plans: q5/q9 keep broadcasts at runtime, no straggler") {
    // PlanSpec reads pre-execution estimates; this guards what AQE
    // actually RAN: the final adaptive plan still broadcasts the dims
    // (no runtime demotion to sort-merge) and no task dominated the
    // shuffle reads.
    Seq("q5_local_supplier", "q9_profit").foreach { q =>
      val listener = new ShuffleReadListener
      spark.sparkContext.addSparkListener(listener)
      val df = SparkEntry.queries(q)(spark, sfDir)
      try {
        // collect() executes the dataset's OWN QueryExecution; anything
        // else leaves df.queryExecution.executedPlan unfinalized
        df.collect()
      } finally spark.sparkContext.removeSparkListener(listener)
      val plan = uncut(df.queryExecution.executedPlan.toString)
      assert(plan.contains("isFinalPlan=true"), s"$q: AQE plan not finalized:\n$plan")
      assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
        s"$q: final adaptive plan lost its broadcast joins:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$q: final plan degraded to a nested-loop/cartesian join")
      awaitListenerQuiesce(listener)
      // straggler check on stages that moved real data (tiny test-SF
      // stages with a handful of rows are noise, not evidence)
      listener.byStage.foreach { case (stage, recs) =>
        if (recs.sum > 1000 && recs.size >= 4) {
          val mx = recs.max.toDouble
          val mean = recs.sum.toDouble / recs.size
          assert(mx / math.max(mean, 1.0) < 16.0,
            s"$q stage $stage: one task read $mx of ${recs.sum} records (mean $mean)")
        }
      }
    }
  }

  test("runtime bloom-filter join reduction fires on a selective dim join") {
    // Spark's InjectRuntimeFilter semi-reduces the big side of a shuffle
    // join with a bloom filter built from the selective side — at 100 TB
    // this is what keeps a dim-filtered fact join from shuffling the
    // whole fact table. The size thresholds exist for small-data
    // protection; zeroing them here exposes the mechanism on the
    // fixture so a Spark upgrade or conf regression that disables the
    // rewrite fails this test.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the shuffle join path
      val li = graft.Tables.lineitem(spark, sfDir)
      val part = graft.Tables.part(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("p_size") === 1)
      val joined = li.join(part,
        org.apache.spark.sql.functions.col("l_partkey") ===
          org.apache.spark.sql.functions.col("p_partkey"))
      val optimized = uncut(joined.queryExecution.optimizedPlan.toString)
      assert(optimized.contains("might_contain") || optimized.contains("bloom_filter_agg"),
        s"runtime bloom filter not injected:\n$optimized")
      // and the reduced join still returns the exact result
      val expected = li.join(part.hint("broadcast"),
        org.apache.spark.sql.functions.col("l_partkey") ===
          org.apache.spark.sql.functions.col("p_partkey")).count()
      assert(joined.count() === expected)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("post-AQE executed plan: c1 k-means assignment broadcasts survive runtime") {
    // every Lloyd round's centroid side must still be a broadcast in
    // the plan AQE actually ran — a runtime demotion to a shuffled
    // cartesian would be the classic k-means scale killer
    val df = SparkEntry.queries("c1_kmeans")(spark, sfDir)
    df.collect()
    val plan = uncut(df.queryExecution.executedPlan.toString)
    assert(plan.contains("isFinalPlan=true"), s"c1: AQE plan not finalized:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"c1: final adaptive plan lost the centroid broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"c1: final plan degraded to a shuffled cartesian:\n$plan")
  }

  test("dynamic partition pruning fires on a partitioned fact ⋈ filtered dim") {
    // the star-join shape k28's migration exists to serve: a day-
    // partitioned fact joined to a dimension carrying a selective
    // filter must prune fact PARTITIONS at runtime (DPP), not scan all
    // of them — at 100 TB this is the difference between reading 2
    // directories and reading 365
    val root = java.nio.file.Files.createTempDirectory("dpp").toString
    Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.partitionBy("day").parquet(s"$root/fact")
    // dim: one row per day, filter selects exactly 2 of them
    // dim day as DATE to match the fact's inferred partition type — a
    // type mismatch would wrap the join key in a cast and defeat DPP
    Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day")).distinct()
      // an explicit EqualTo predicate: Spark's DPP rule only treats
      // comparison-shaped filters as "likely selective" (a bare boolean
      // attribute would be declined)
      .withColumn("tag",
        when(col("day").isin("2024-01-03", "2024-01-04"), "hot").otherwise("cold"))
      .write.parquet(s"$root/dim")
    val fact = spark.read.parquet(s"$root/fact")
    val dim = spark.read.parquet(s"$root/dim")
    val nDays = dim.count()
    val joined = fact.join(dim.filter(col("tag") === "hot"), Seq("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val rows = joined.collect()
    // fact's `day` comes back as an inferred DATE partition column
    assert(rows.map(_.get(0).toString).sorted.toSeq
      === Seq("2024-01-03", "2024-01-04"))
    val plan = uncut(joined.queryExecution.executedPlan.toString)
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning subquery in the fact scan:\n$plan")
    // the scan must report pruning: selected partitions < total days
    val pruned = """(?i)partitionfilters: \[[^\]]*dynamicpruning""".r
      .findFirstIn(plan).isDefined
    assert(pruned, s"fact scan's partition filters carry no DPP predicate:\n$plan")
    assert(nDays > 2, "fixture must span more than the 2 probed days")
  }
}
