package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Upsert

/** K1-K6 correctness contract (SURVEY.md §2.2): keyed upsert is
  * idempotent and last-write-wins; at-least-once input ⇒ effectively-once
  * table.
  */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(): String =
    Files.createTempDirectory("graft-upsert").toString + "/t"

  test("merge: delta wins on conflict, base passes through") {
    val base = Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("k", "name", "v")
    val delta = Seq((2, "b2", 99), (4, "d", 40)).toDF("k", "name", "v")
    val out = Upsert.merge(base, delta, Seq("k")).orderBy("k")
      .as[(Int, String, Int)].collect().toSeq
    assert(out === Seq((1, "a", 10), (2, "b2", 99), (3, "c", 30), (4, "d", 40)))
  }

  test("fullMerge: in-scope absent keys delete, preserve survives updates, out-of-scope untouched") {
    // target: segment A keys 1-3 (first_seen = 10·k), segment B key 9
    val tgt = Seq(
      (1, "A", 100, 10), (2, "A", 200, 20), (3, "A", 300, 30),
      (9, "B", 900, 90)).toDF("k", "seg", "v", "first_seen")
    // source re-sends segment A in full: key 1 updated, key 3 unchanged,
    // key 2 ABSENT (deleted), key 4 new; stamp 999 rides every source row
    val src = Seq((1, "A", 111, 999), (3, "A", 300, 999), (4, "A", 400, 999))
      .toDF("k", "seg", "v", "first_seen")
    val out = Upsert.fullMerge(tgt, src, Seq("k"), col("seg") === "A",
      preserve = Seq("first_seen")).orderBy("k")
      .as[(Int, String, Int, Int)].collect().toSeq
    assert(out === Seq(
      (1, "A", 111, 10),    // updated payload, preserved audit column
      (3, "A", 300, 30),    // unchanged row keeps its audit column too
      (4, "A", 400, 999),   // inserted key keeps the source stamp
      (9, "B", 900, 90)),   // out-of-scope row passes through; key 2 gone
      s"unexpected fullMerge result: $out")
  }

  test("upsertParquet is idempotent: upsert(d); upsert(d) == upsert(d)") {
    val path = tempDir()
    val d1 = Seq((1, "a", 1), (2, "b", 2)).toDF("k", "name", "v")
    Upsert.upsertParquet(spark, path, d1, Seq("k"))
    Upsert.upsertParquet(spark, path, d1, Seq("k"))
    val out = spark.read.parquet(path).orderBy("k").as[(Int, String, Int)].collect().toSeq
    assert(out === Seq((1, "a", 1), (2, "b", 2)))
  }

  test("upsertParquet overlapping windows reprocess == single processing") {
    val path = tempDir()
    // run 1: keys 1-4; run 2 re-processes 3-4 (overlap) + new 5-6, new values win
    val run1 = Seq((1, 1), (2, 1), (3, 1), (4, 1)).toDF("k", "v")
    val run2 = Seq((3, 2), (4, 2), (5, 2), (6, 2)).toDF("k", "v")
    Upsert.upsertParquet(spark, path, run1, Seq("k"))
    Upsert.upsertParquet(spark, path, run2, Seq("k"))
    val out = spark.read.parquet(path).orderBy("k").as[(Int, Int)].collect().toSeq
    assert(out === Seq((1, 1), (2, 1), (3, 2), (4, 2), (5, 2), (6, 2)))
  }

  test("partitioned upsert rewrites only affected partitions") {
    val path = tempDir()
    val run1 = Seq((1, "p1", 1), (2, "p1", 1), (3, "p2", 1)).toDF("k", "part", "v")
    Upsert.upsertParquet(spark, path, run1, Seq("k"), partitionBy = Seq("part"))
    val p2FilesBefore = new java.io.File(s"$path/part=p2").listFiles().map(_.getName).toSet
    val run2 = Seq((1, "p1", 9)).toDF("k", "part", "v")
    Upsert.upsertParquet(spark, path, run2, Seq("k"), partitionBy = Seq("part"))
    val p2FilesAfter = new java.io.File(s"$path/part=p2").listFiles().map(_.getName).toSet
    assert(p2FilesBefore === p2FilesAfter, "untouched partition must not be rewritten")
    val out = spark.read.parquet(path).orderBy("k")
      .select($"k", $"part", $"v").as[(Int, String, Int)].collect().toSeq
    assert(out === Seq((1, "p1", 9), (2, "p1", 1), (3, "p2", 1)))
  }

  test("partitioned upsert into the NULL partition keeps that partition's other rows") {
    // an equi-match on the affected partitions never matches NULL, so the
    // dynamic overwrite would replace the NULL partition with the delta alone
    val path = tempDir()
    Upsert.upsertParquet(spark, path,
      Seq((1, Some("p1"), 1), (2, None, 1), (3, None, 1)).toDF("k", "part", "v"),
      Seq("k"), partitionBy = Seq("part"))
    Upsert.upsertParquet(spark, path, Seq((2, None: Option[String], 9)).toDF("k", "part", "v"),
      Seq("k"), partitionBy = Seq("part"))
    assert(readPartitioned(path) === Seq((1, "p1", 1), (2, null, 9), (3, null, 1)))
  }

  test("a partitioned merge into an existing table runs 4 jobs: stage, broadcast, merge, apply") {
    val path = tempDir()
    Upsert.upsertParquet(spark, path,
      Seq((1, "p1", 1), (2, "p1", 1), (3, "p2", 1)).toDF("k", "part", "v"),
      Seq("k"), partitionBy = Seq("part"))
    val delta = Seq((1, "p1", 9), (4, "p3", 9)).toDF("k", "part", "v")
    val jobs = jobsOf(Upsert.upsertParquet(spark, path, delta, Seq("k"), partitionBy = Seq("part")))
    assert(jobs.size === 4, "the affected partitions ride the staging: no job of their own")
    assert(readPartitioned(path) === Seq((1, "p1", 9), (2, "p1", 1), (3, "p2", 1), (4, "p3", 9)))
  }

  test("a partitioned upsert of an empty delta returns and changes nothing, in both stage modes") {
    for (mode <- Seq("local", "parquet")) withStageMode(mode) {
      val path = tempDir()
      Upsert.upsertParquet(spark, path,
        Seq((1, "p1", 1), (2, "p2", 1)).toDF("k", "part", "v"), Seq("k"), partitionBy = Seq("part"))
      Upsert.upsertParquet(spark, path, Seq.empty[(Int, String, Int)].toDF("k", "part", "v"),
        Seq("k"), partitionBy = Seq("part"))
      Upsert.upsertParquet(spark, path,
        spark.range(5).selectExpr("CAST(id AS INT) AS k", "'p1' AS part", "9 AS v").filter("k < 0"),
        Seq("k"), partitionBy = Seq("part"))
      assert(readPartitioned(path) === Seq((1, "p1", 1), (2, "p2", 1)), s"$mode: an empty delta changed the table")
      assert(stagedDeltaDirs().isEmpty, s"$mode: a staged delta directory was left behind")
    }
  }

  // ---- crash injection, partitioned path: stage write → dynamic
  // overwrite → drop stage. A complete stage must roll FORWARD (it can
  // hold the only copy of partially-deleted partitions); an incomplete
  // stage is discarded with the table untouched.

  /** Partitioned table {1,2→p1, 3→p2} plus a fabricated crash state of
    * upserting delta {(1,p1,9)}: the merged p1 content staged durably,
    * the overwrite at the given progress. */
  private def partitionedCrashState(step: String): (String, org.apache.spark.sql.DataFrame) = {
    val path = tempDir()
    val run1 = Seq((1, "p1", 1), (2, "p1", 1), (3, "p2", 1)).toDF("k", "part", "v")
    Upsert.upsertParquet(spark, path, run1, Seq("k"), partitionBy = Seq("part"))
    val delta = Seq((1, "p1", 9)).toDF("k", "part", "v")
    // stage = full merged content of the affected partition, durable
    Seq((1, "p1", 9), (2, "p1", 1)).toDF("k", "part", "v")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path + "__stage")
    step match {
      case "staged" => // crash before the overwrite touched the table
      case "mid-overwrite" => // worst case: partition deleted, stage is its only copy
        fs.delete(hp(s"$path/part=p1"), true)
      case "incomplete-stage" => // crash during the stage write itself
        fs.delete(hp(path + "__stage/_SUCCESS"), false)
    }
    (path, delta)
  }

  private def readPartitioned(path: String) =
    spark.read.parquet(path).orderBy("k")
      .select($"k", $"part", $"v").as[(Int, String, Int)].collect().toSeq

  test("partitioned crash after staging: retry converges, no duplicate effects") {
    val (path, delta) = partitionedCrashState("staged")
    Upsert.upsertParquet(spark, path, delta, Seq("k"), partitionBy = Seq("part"))
    assert(readPartitioned(path) === Seq((1, "p1", 9), (2, "p1", 1), (3, "p2", 1)))
    assert(!fs.exists(hp(path + "__stage")))
  }

  test("partitioned crash mid-overwrite: stage is the partition's only copy and rolls FORWARD") {
    val (path, delta) = partitionedCrashState("mid-overwrite")
    // the damaged table is missing partition p1 entirely at this point
    assert(!fs.exists(hp(s"$path/part=p1")))
    Upsert.upsertParquet(spark, path, delta, Seq("k"), partitionBy = Seq("part"))
    assert(readPartitioned(path) === Seq((1, "p1", 9), (2, "p1", 1), (3, "p2", 1)),
      "rows absent from the delta must survive via the staged copy")
    assert(!fs.exists(hp(path + "__stage")))
  }

  test("partitioned crash during stage write: incomplete stage discarded, base intact") {
    val (path, delta) = partitionedCrashState("incomplete-stage")
    Upsert.upsertParquet(spark, path, delta, Seq("k"), partitionBy = Seq("part"))
    assert(readPartitioned(path) === Seq((1, "p1", 9), (2, "p1", 1), (3, "p2", 1)))
    assert(!fs.exists(hp(path + "__stage")))
  }

  // ---- crash injection: every interruption point of the unpartitioned
  // swap (stage write → rename path→__old → rename __new→path → drop
  // __old) must leave a recoverable table; retrying the upsert converges.

  private def fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)
  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)
  private def readTable(path: String) =
    spark.read.parquet(path).orderBy("k").as[(Int, Int)].collect().toSeq

  /** Build the table {1→1, 2→1}, then fabricate the on-disk state of a
    * crash at the given step of upserting delta {2→9, 3→9}. */
  private def crashState(step: String): (String, org.apache.spark.sql.DataFrame) = {
    val path = tempDir()
    val d1 = Seq((1, 1), (2, 1)).toDF("k", "v")
    Upsert.upsertParquet(spark, path, d1, Seq("k"))
    val delta = Seq((2, 9), (3, 9)).toDF("k", "v")
    // stage the merge exactly as upsertParquet does
    val merged = Upsert.merge(spark.read.parquet(path), delta, Seq("k"))
    merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path + "__new")
    step match {
      case "after-stage" => // crash before any rename: table untouched
      case "mid-swap" =>    // crash between the two renames: table gone
        assert(fs.rename(hp(path), hp(path + "__old")))
      case "before-cleanup" => // crash after swap, __old left behind
        assert(fs.rename(hp(path), hp(path + "__old")))
        assert(fs.rename(hp(path + "__new"), hp(path)))
    }
    (path, delta)
  }

  test("crash after staged write: old table intact, retry converges") {
    val (path, delta) = crashState("after-stage")
    assert(readTable(path) === Seq((1, 1), (2, 1)), "live table must be untouched")
    Upsert.upsertParquet(spark, path, delta, Seq("k")) // the retry
    assert(readTable(path) === Seq((1, 1), (2, 9), (3, 9)))
  }

  test("crash mid-swap: durable __new rolls FORWARD, nothing lost") {
    val (path, delta) = crashState("mid-swap")
    assert(!fs.exists(hp(path)), "precondition: table dir gone mid-swap")
    Upsert.upsertParquet(spark, path, delta, Seq("k")) // retry heals then applies
    assert(readTable(path) === Seq((1, 1), (2, 9), (3, 9)))
    assert(!fs.exists(hp(path + "__new")) && !fs.exists(hp(path + "__old")))
  }

  test("crash mid-swap with unusable __new rolls BACK to __old") {
    val (path, _) = crashState("mid-swap")
    // corrupt the staged result: drop its _SUCCESS marker
    fs.delete(hp(path + "__new/_SUCCESS"), false)
    Upsert.recoverSwap(fs, path)
    assert(readTable(path) === Seq((1, 1), (2, 1)), "rollback restores the pre-upsert table")
  }

  test("crash before cleanup: swap done, leftover __old is dropped on retry") {
    val (path, delta) = crashState("before-cleanup")
    assert(readTable(path) === Seq((1, 1), (2, 9), (3, 9)), "swap already landed")
    Upsert.upsertParquet(spark, path, delta, Seq("k")) // idempotent retry
    assert(readTable(path) === Seq((1, 1), (2, 9), (3, 9)))
    assert(!fs.exists(hp(path + "__old")))
  }

  test("upsert plans contain no localCheckpoint / memory-pinned scan") {
    val path = tempDir()
    // Diff-based: the SparkContext is shared with concurrently running
    // suites whose staged leaves (Scratch.stageFrame local mode) are
    // legitimately pinned while their query runs — asserting the global
    // registry is empty races with them. What THIS contract forbids is
    // upsert itself parking anything in executor storage.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Upsert.upsertParquet(spark, path, Seq((1, 1)).toDF("k", "v"), Seq("k"))
    Upsert.upsertParquet(spark, path, Seq((2, 2)).toDF("k", "v"), Seq("k"))
    val pinned = spark.sparkContext.getPersistentRDDs.filter {
      case (id, _) => !before.contains(id)
    }
    assert(pinned.isEmpty,
      s"upsert must not pin RDDs in executor storage, found: $pinned")
    assert(readTable(path) === Seq((1, 1), (2, 2)))
  }

  /** Staged-delta directories under this run's scratch root. */
  private def stagedDeltaDirs(): Seq[String] = {
    val root = Scratch.runRoot(spark)
    val rfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!rfs.exists(root)) Nil
    else rfs.listStatus(root).map(_.getPath.getName).filter(_.startsWith("upsert-delta")).toSeq
  }

  test("upsert into an existing table evaluates the delta once, in both stage modes") {
    for (mode <- Seq("local", "parquet")) withStageMode(mode) {
      // the filter runs once per evaluated delta row; a filter is never
      // pruned away, whichever columns a use of the delta reads
      val evaluated = spark.sparkContext.longAccumulator(s"upsert-delta-rows-$mode")
      val seen = udf { (_: Int) => evaluated.add(1); true }
      def delta(cols: org.apache.spark.sql.Column*) = spark.range(0, 3)
        .select((col("id").cast("int").as("k") +: cols).toIndexedSeq: _*)
        .filter(seen(col("k")))

      val flat = tempDir()
      Upsert.upsertParquet(spark, flat, Seq((1, 1), (5, 1)).toDF("k", "v"), Seq("k"))
      Upsert.upsertParquet(spark, flat, delta(lit(9).as("v")), Seq("k"))
      assert(evaluated.value === 3L, s"$mode: unpartitioned merge evaluated the delta more than once")
      assert(readTable(flat) === Seq((0, 9), (1, 9), (2, 9), (5, 1)))

      evaluated.reset()
      val parted = tempDir()
      Upsert.upsertParquet(spark, parted,
        Seq((1, "p1", 1), (5, "p1", 1)).toDF("k", "part", "v"), Seq("k"), partitionBy = Seq("part"))
      Upsert.upsertParquet(spark, parted,
        delta(concat(lit("p"), (col("id") % 2).cast("string")).as("part"), lit(9).as("v")),
        Seq("k"), partitionBy = Seq("part"))
      assert(evaluated.value === 3L, s"$mode: partitioned merge evaluated the delta more than once")
      assert(readPartitioned(parted) === Seq((0, "p0", 9), (1, "p1", 9), (2, "p0", 9), (5, "p1", 1)))
      assert(stagedDeltaDirs().isEmpty, s"$mode: a staged delta directory was left behind")
    }
  }

  test("upsert releases only what it staged: the caller's persisted state survives") {
    val path = tempDir()
    Upsert.upsertParquet(spark, path, Seq((1, 1), (2, 1)).toDF("k", "v"), Seq("k"))
    val callerRdd = spark.sparkContext.parallelize(1 to 10).persist()
    callerRdd.count()
    val cached = Seq((2, 7), (3, 7)).toDF("k", "v").persist()
    cached.count()
    try {
      Upsert.upsertParquet(spark, path, cached, Seq("k"))
      assert(spark.sparkContext.getPersistentRDDs.contains(callerRdd.id),
        "upsert unpersisted an RDD the caller had persisted")
      assert(cached.storageLevel.useMemory || cached.storageLevel.useDisk,
        "upsert dropped a frame the caller had cached")
      assert(readTable(path) === Seq((1, 1), (2, 7), (3, 7)))
      assert(stagedDeltaDirs().isEmpty, "a staged delta directory was left behind")
    } finally {
      callerRdd.unpersist()
      cached.unpersist()
    }
  }

  test("mergeEvolve: additive schema evolution, nulls for the missing side") {
    val base = Seq((1, "a"), (2, "b")).toDF("k", "name")
    val delta = Seq((2, "b2", "new"), (3, "c", "x")).toDF("k", "name", "extra")
    val out = Upsert.mergeEvolve(base, delta, Seq("k")).orderBy("k")
      .as[(Int, String, Option[String])].collect().toSeq
    assert(out === Seq((1, "a", None), (2, "b2", Some("new")), (3, "c", Some("x"))))
  }

  test("latestPerKey collapses delta versions deterministically") {
    val delta = Seq((1, 10, "old"), (1, 20, "new"), (2, 5, "only")).toDF("k", "ver", "val")
    val out = Upsert.latestPerKey(delta, Seq("k"), "ver").orderBy("k")
      .as[(Int, Int, String)].collect().toSeq
    assert(out === Seq((1, 20, "new"), (2, 5, "only")))
  }
}
