package graft

import java.sql.Timestamp
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{HllSketch, IncrementalAgg, Scd2}

/** SCD2 history maintenance + incremental aggregate state: edge
  * semantics beyond the k7/k8 DuckDB hash gates. */
class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val key = Seq("id"); private val order = Seq("ts", "seq")
  private val attrs = Seq("st")

  private def log(rows: (Long, String, Long, String)*): DataFrame =
    rows.map { case (id, t, seq, st) => (id, ts(t), seq, st) }
      .toDF("id", "ts", "seq", "st")

  private def build(df: DataFrame) = Scd2.fromChangeLog(df, key, order, attrs, "ts")

  private def rows(df: DataFrame): Set[(Long, String, Timestamp, Option[Timestamp], Boolean)] =
    df.select(col("id"), col("st"), col("valid_from"), col("valid_to"), col("is_current"))
      .as[(Long, String, Timestamp, Option[Timestamp], Boolean)].collect().toSet

  test("fromChangeLog collapses unchanged consecutive rows and versions changes") {
    val h = build(log(
      (1, "2024-01-01 00:00:00", 1, "A"),
      (1, "2024-01-02 00:00:00", 2, "A"), // no change → collapsed
      (1, "2024-01-03 00:00:00", 3, "B"),
      (2, "2024-01-01 12:00:00", 4, "X")))
    assert(rows(h) === Set(
      (1L, "A", ts("2024-01-01 00:00:00"), Some(ts("2024-01-03 00:00:00")), false),
      (1L, "B", ts("2024-01-03 00:00:00"), None, true),
      (2L, "X", ts("2024-01-01 12:00:00"), None, true)))
  }

  test("applyDelta closes open rows, collapses across the batch boundary, admits new keys") {
    val hist = build(log((1, "2024-01-01 00:00:00", 1, "A"), (2, "2024-01-01 00:00:00", 2, "X")))
    val out = Scd2.applyDelta(hist, log(
      (1, "2024-01-05 00:00:00", 5, "A"),  // same attrs as open row → collapsed
      (1, "2024-01-06 00:00:00", 6, "B"),  // real change → closes A
      (3, "2024-01-07 00:00:00", 7, "N")), // brand-new key
      key, order, attrs, "ts")
    assert(rows(out) === Set(
      (1L, "A", ts("2024-01-01 00:00:00"), Some(ts("2024-01-06 00:00:00")), false),
      (1L, "B", ts("2024-01-06 00:00:00"), None, true),
      (2L, "X", ts("2024-01-01 00:00:00"), None, true),   // untouched key
      (3L, "N", ts("2024-01-07 00:00:00"), None, true)))
  }

  test("two sequential deltas equal the one-shot history (associativity)") {
    val all = log(
      (1, "2024-01-01 00:00:00", 1, "A"), (1, "2024-01-02 00:00:00", 2, "B"),
      (1, "2024-01-03 00:00:00", 3, "B"), (1, "2024-01-04 00:00:00", 4, "C"),
      (2, "2024-01-02 00:00:00", 5, "P"), (2, "2024-01-05 00:00:00", 6, "Q"))
    val oneShot = build(all)
    val d1 = all.filter(col("ts") < lit(ts("2024-01-03 00:00:00")))
    val d2 = all.filter(col("ts") >= lit(ts("2024-01-03 00:00:00")) &&
      col("ts") < lit(ts("2024-01-05 00:00:00")))
    val d3 = all.filter(col("ts") >= lit(ts("2024-01-05 00:00:00")))
    val incr = Scd2.applyDelta(
      Scd2.applyDelta(build(d1), d2, key, order, attrs, "ts"),
      d3, key, order, attrs, "ts")
    assert(rows(incr) === rows(oneShot))
  }

  test("streaming SCD2 fold equals the one-shot history across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("scd2-stream").toString + "/hist"
    val ckpt = Files.createTempDirectory("scd2-ckpt").toString
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val q = Scd2.streamingScd2(
      input.toDF().toDF("id", "ts", "seq", "st"), path, key, order, attrs, "ts", ckpt)
    input.addData((1L, ts("2024-01-01 00:00:00"), 1L, "A"), (2L, ts("2024-01-01 00:00:00"), 2L, "X"))
    q.processAllAvailable()
    input.addData((1L, ts("2024-01-05 00:00:00"), 5L, "A"), (1L, ts("2024-01-06 00:00:00"), 6L, "B"))
    q.processAllAvailable()
    input.addData((3L, ts("2024-01-07 00:00:00"), 7L, "N"))
    q.processAllAvailable()
    q.stop()
    val oneShot = build(log(
      (1, "2024-01-01 00:00:00", 1, "A"), (2, "2024-01-01 00:00:00", 2, "X"),
      (1, "2024-01-05 00:00:00", 5, "A"), (1, "2024-01-06 00:00:00", 6, "B"),
      (3, "2024-01-07 00:00:00", 7, "N")))
    assert(rows(spark.read.parquet(path)) === rows(oneShot))
  }

  test("streaming aggregate fold equals full recompute and skips replayed batch ids") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("iagg-stream").toString + "/state"
    val ckpt = Files.createTempDirectory("iagg-ckpt").toString
    val input = MemoryStream[(Int, Double)]
    val q = IncrementalAgg.streamingFold(
      input.toDF().toDF("k", "v"), path, Seq("k"), col("v").cast("decimal(12,2)"), ckpt)
    input.addData((1, 10.0), (2, 5.0)); q.processAllAvailable()
    input.addData((1, 2.5), (3, 1.0)); q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(path).drop("last_batch", "run_id")
    val full = IncrementalAgg.partials(
      Seq((1, 10.0), (2, 5.0), (1, 2.5), (3, 1.0)).toDF("k", "v"),
      Seq("k"), col("v").cast("decimal(12,2)"))
    assert(got.orderBy("k").collect().toSeq === full.orderBy("k").collect().toSeq)
    val st = spark.read.parquet(path)
    // replay guard, legacy run-less state: bump the stored watermark and
    // strip run_id; the next batch id (<= 99) is a committed replay
    val tmp = Files.createTempDirectory("iagg-bump").toString + "/state"
    st.withColumn("last_batch", lit(99L)).drop("run_id").write.parquet(tmp)
    val input2 = MemoryStream[(Int, Double)]
    val ckpt2 = Files.createTempDirectory("iagg-ckpt2").toString
    val q2 = IncrementalAgg.streamingFold(
      input2.toDF().toDF("k", "v"), tmp, Seq("k"), col("v").cast("decimal(12,2)"), ckpt2)
    input2.addData((1, 1000.0)); q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(tmp).drop("last_batch", "run_id").orderBy("k").collect().toSeq
      === full.orderBy("k").collect().toSeq)
    // run-id guard: the same inflated watermark stamped by ANOTHER run
    // must NOT swallow a fresh checkpoint's batch 0 — new run id ⇒ the
    // batch is genuinely new work and folds
    val tmp3 = Files.createTempDirectory("iagg-newrun").toString + "/state"
    st.withColumn("last_batch", lit(99L)).write.parquet(tmp3)
    val input3 = MemoryStream[(Int, Double)]
    val ckpt3 = Files.createTempDirectory("iagg-ckpt3").toString
    val q3 = IncrementalAgg.streamingFold(
      input3.toDF().toDF("k", "v"), tmp3, Seq("k"), col("v").cast("decimal(12,2)"), ckpt3)
    input3.addData((1, 1000.0)); q3.processAllAvailable(); q3.stop()
    assert(spark.read.parquet(tmp3).filter(col("k") === 1)
      .select("n").as[Long].head() === 3L)
  }

  test("streaming SCD2 skips a redelivered batch (crash between swap and checkpoint commit)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("scd2-replay").toString + "/hist"
    val ckpt = Files.createTempDirectory("scd2-replay-ckpt").toString
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val df = input.toDF().toDF("id", "ts", "seq", "st")
    val q = Scd2.streamingScd2(df, path, key, order, attrs, "ts", ckpt)
    input.addData((1L, ts("2024-01-01 00:00:00"), 1L, "A"))
    q.processAllAvailable()
    // batch 1 holds TWO changes for key 1 — the case where replay is NOT
    // structurally harmless: redelivery would re-create the closed B row
    // on top of the copy carried through `closed`
    input.addData(
      (1L, ts("2024-01-02 00:00:00"), 2L, "B"),
      (1L, ts("2024-01-03 00:00:00"), 3L, "C"))
    q.processAllAvailable(); q.stop()
    val expect = rows(spark.read.parquet(path))
    assert(spark.read.parquet(path).count() === 3)
    // crash window: the fold committed (swap done) but the checkpoint did
    // not — drop the batch-1 commit marker so restart redelivers batch 1
    assert(new java.io.File(s"$ckpt/commits/1").delete())
    new java.io.File(s"$ckpt/commits/.1.crc").delete() // checksum shadow
    val q2 = Scd2.streamingScd2(df, path, key, order, attrs, "ts", ckpt)
    q2.processAllAvailable(); q2.stop()
    assert(rows(spark.read.parquet(path)) === expect)
    assert(spark.read.parquet(path).count() === 3) // A, B, C — each exactly once
  }

  test("streaming fold heals a crash caught mid-swap before applying the next batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("iagg-crash").toString
    val path = s"$root/state"
    // seed a committed state, then simulate the mid-swap crash window:
    // live table gone, the durably staged result (with _SUCCESS) at __new
    val seeded = IncrementalAgg.partials(
        Seq((1, 10.0), (2, 5.0)).toDF("k", "v"), Seq("k"), col("v").cast("decimal(12,2)"))
      .withColumn("last_batch", lit(0L))
    seeded.write.parquet(s"${path}__new")
    assert(new java.io.File(s"${path}__new/_SUCCESS").exists)
    assert(!new java.io.File(path).exists)
    val input = MemoryStream[(Int, Double)]
    val q = IncrementalAgg.streamingFold(
      input.toDF().toDF("k", "v"), path, Seq("k"), col("v").cast("decimal(12,2)"), s"$root/ckpt")
    input.addData((1, 2.5)); q.processAllAvailable(); q.stop()
    // recovery rolled __new forward, then batch 0 of the NEW stream...
    // careful: the fresh checkpoint restarts batch ids at 0, which the
    // seeded RUN-LESS watermark (0, legacy semantics) marks as replayed
    // — so the state must be
    // exactly the recovered seed, proving both the roll-forward AND the
    // replay guard engaged
    val got = spark.read.parquet(path)
    assert(!new java.io.File(s"${path}__new").exists)
    assert(got.drop("last_batch").orderBy("k").collect().toSeq
      === seeded.drop("last_batch").orderBy("k").collect().toSeq)
    // a later batch id folds normally on top of the recovered state.
    // ckpt2 is a DIFFERENT checkpoint, so the ownership stamp must be
    // released first — the deliberate-adoption escape hatch
    graft.operators.ReplayGuard.releaseOwnership(
      new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration), path)
    val input2 = MemoryStream[(Int, Double)]
    val q2 = IncrementalAgg.streamingFold(
      input2.toDF().toDF("k", "v"), path, Seq("k"), col("v").cast("decimal(12,2)"), s"$root/ckpt2")
    input2.addData((3, 7.0)); q2.processAllAvailable()  // replayed id 0 → skipped
    input2.addData((3, 7.0)); q2.processAllAvailable()  // id 1 > 0 → folds
    q2.stop()
    val fin = spark.read.parquet(path).filter(col("k") === 3)
      .select("n").as[Long].collect()
    assert(fin.toSeq === Seq(1L))
  }

  test("a different checkpoint's stream targeting an owned state path fails loudly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("own").toString
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    // each fold starts a stream on (state path, checkpoint) that folds
    // entity n in as one state row: an SCD2 version, an HLL register
    val folds: Seq[(String, (String, String, Long) => StreamingQuery)] = Seq(
      "scd2" -> { (path, ckpt, n) =>
        val in = MemoryStream[(Long, Timestamp, Long, String)]
        in.addData((n, ts("2024-01-01 00:00:00"), 1L, "A"))
        Scd2.streamingScd2(
          in.toDF().toDF("id", "ts", "seq", "st"), path, key, order, attrs, "ts", ckpt)
      },
      "hll" -> { (path, ckpt, n) =>
        val in = MemoryStream[(Long, Long)]
        in.addData((n, n))
        HllSketch.streamingHllFold(in.toDF().toDF("g", "v"), path, Seq("g"), col("v"), ckpt)
      })
    folds.foreach { case (name, fold) =>
      val path = s"$root/$name"
      // stream 1 claims the path on first fold
      val q = fold(path, s"$root/$name-ckpt1", 1L)
      q.processAllAvailable(); q.stop()
      // stream 2, DIFFERENT checkpoint, same state path: must fail loudly
      val q2 = fold(path, s"$root/$name-ckpt2", 2L)
      val e = intercept[Exception] { q2.processAllAvailable() }
      q2.stop()
      assert(messages(e).exists(_.contains("owned by streaming run")), name)
      // the owned table is untouched by the rejected fold
      assert(spark.read.parquet(path).count() === 1, name)
      // releaseOwnership is the deliberate adoption path: stream 2 retries
      // with a THIRD checkpoint and now folds
      graft.operators.ReplayGuard.releaseOwnership(
        new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration), path)
      val q3 = fold(path, s"$root/$name-ckpt3", 2L)
      q3.processAllAvailable(); q3.stop()
      assert(spark.read.parquet(path).count() === 2, name)
    }
    // resetting state AND checkpoint together needs no release: the
    // fresh-table claim happens automatically (the documented convention)
    val path2 = s"$root/hist2"
    val input4 = MemoryStream[(Int, Double)]
    val q4 = IncrementalAgg.streamingFold(
      input4.toDF().toDF("k", "v"), path2, Seq("k"),
      col("v").cast("decimal(12,2)"), s"$root/ckpt4")
    input4.addData((1, 1.0)); q4.processAllAvailable(); q4.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path2))
    val input5 = MemoryStream[(Int, Double)]
    val q5 = IncrementalAgg.streamingFold(
      input5.toDF().toDF("k", "v"), path2, Seq("k"),
      col("v").cast("decimal(12,2)"), s"$root/ckpt5")
    input5.addData((2, 2.0)); q5.processAllAvailable(); q5.stop()
    assert(spark.read.parquet(path2).select("k").as[Int].collect().toSeq === Seq(2))
  }

  test("snapshot diff classifies adds/removes/changes and treats null attrs null-safely") {
    import graft.operators.SnapshotDiff
    val a = Seq((1L, Some("x")), (2L, None: Option[String]), (3L, Some("z")), (4L, Some("w")))
      .toDF("k", "v")
    val b = Seq((2L, None: Option[String]), (3L, Some("Z")), (4L, Some("w")), (5L, Some("n")))
      .toDF("k", "v")
    val got = SnapshotDiff.diff(a, b, Seq("k"))
      .as[(Long, String)].collect().toSet
    // 2: null==null → unchanged (absent); 4: equal → absent
    assert(got === Set((1L, "removed"), (3L, "changed"), (5L, "added")))
  }

  test("range join matches nested-loop semantics: inclusive bounds, overlaps, bin edges") {
    import graft.operators.RangeJoin
    val pts = Seq((1L, 0.0), (2L, 10.0), (3L, 10.5), (4L, 25.0), (5L, -3.0)).toDF("pid", "v")
    val ivs = Seq((100L, 0.0, 10.0), (101L, 10.0, 20.0), (102L, -5.0, 30.0)).toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(pts, "v", ivs, "lo", "hi", binWidth = 4.0)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val want = (for {
      (p, v) <- Seq((1L, 0.0), (2L, 10.0), (3L, 10.5), (4L, 25.0), (5L, -3.0))
      (i, lo, hi) <- Seq((100L, 0.0, 10.0), (101L, 10.0, 20.0), (102L, -5.0, 30.0))
      if v >= lo && v <= hi
    } yield (p, i)).toSet
    assert(got === want)   // incl. v=10.0 in BOTH bands and negative-value bins
  }

  test("incremental aggregate state merges to the full recompute under any batching") {
    val df = (1 to 100).map(i => (i % 7, i.toDouble)).toDF("k", "v")
    val v = col("v").cast("decimal(12,2)")
    val full = IncrementalAgg.partials(df, Seq("k"), v)
    val batched = Seq(0, 1, 2).map(b => IncrementalAgg.partials(df.filter(col("v") % 3 === b), Seq("k"), v))
      .reduce(IncrementalAgg.merge)
    val a = IncrementalAgg.finish(full).orderBy("k").collect().toSeq
    val bRows = IncrementalAgg.finish(batched).orderBy("k").collect().toSeq
    assert(a === bRows)
  }
}
