package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Keyed hard-delete ("right to be forgotten") over landed parquet
  * tables, with an audit report.
  *
  * Design for 100 TB: the forget set is tiny (a user list), so it
  * broadcasts everywhere it appears. On a partitioned table only the
  * partitions that actually CONTAIN a forgotten key are rewritten — the
  * affected set is found with one broadcast semi join, survivors are
  * staged durably (reusing [[Upsert]]'s stage-then-dynamic-overwrite
  * machinery and its crash recovery), and partitions left empty by the
  * scrub are removed explicitly (dynamic overwrite cannot express "this
  * partition is now empty"). Cost is O(affected partitions), never
  * O(table) — the deletion analog of Scd2.applyDelta's O(delta)
  * discipline. Unpartitioned tables fall back to one staged-swap
  * rewrite.
  *
  * Idempotence is the crash story: every window (before stage, mid
  * overwrite — healed by Upsert's recovery — or mid empty-partition
  * cleanup) leaves a table where re-running the same scrub converges to
  * the same state, because forgotten keys still match the forget set.
  */
object Forget {

  /** Result of one scrub: matched row count removed, rows left. */
  final case class Report(rowsRemoved: Long, rowsRemaining: Long)

  /** Minimal replica of Hive/Spark partition-path escaping for the
    * characters that would corrupt a `col=value` directory name. */
  private[graft] def escapePart(v: String): String =
    v.flatMap { c =>
      if (c.isLetterOrDigit || "-_.".contains(c)) c.toString
      else f"%%${c.toInt}%02X"
    }

  def scrub(
      spark: SparkSession,
      path: String,
      forgetKeys: DataFrame,
      keyCols: Seq[String],
      partitionBy: Seq[String] = Nil): Report = {
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Upsert.recoverSwap(fs, path)
    if (partitionBy.nonEmpty) Upsert.recoverPartitionedStage(spark, path, partitionBy)

    val keys = broadcast(forgetKeys.select(keyCols.map(col).toIndexedSeq: _*).distinct())
    val base = Tables.parquet(spark, path)

    // counts taken BEFORE any mutation: the base frame is lazy and would
    // re-list the rewritten files afterwards
    val total = base.count()

    if (partitionBy.isEmpty) {
      val removed = base.join(keys, keyCols, "left_semi").count()
      if (removed > 0)
        Upsert.stagedRewrite(spark, path)(b => b.join(keys, keyCols, "left_anti"))
      Report(removed, total - removed)
    } else {
      // partitions that contain at least one forgotten row (small: one
      // row per affected partition value)
      val affected = base.join(keys, keyCols, "left_semi")
        .select(partitionBy.map(col).toIndexedSeq: _*).distinct().collect()
      if (affected.isEmpty) return Report(0L, total)

      val affectedDf = broadcast(
        spark.createDataFrame(
          spark.sparkContext.parallelize(affected.toIndexedSeq, 1),
          org.apache.spark.sql.types.StructType(
            partitionBy.map(c => base.schema(c)))))
      val slice = base.join(affectedDf, partitionBy, "left_semi")
      val removed = slice.join(keys, keyCols, "left_semi").count()
      val survivors = slice.join(keys, keyCols, "left_anti")

      // stage + dynamic overwrite for partitions that still have rows
      val surviving = survivors
        .select(partitionBy.map(col).toIndexedSeq: _*).distinct().collect().toSet
      if (surviving.nonEmpty) {
        val stage = new org.apache.hadoop.fs.Path(path + "__stage")
        fs.delete(stage, true)
        survivors.write.mode(SaveMode.Overwrite).parquet(stage.toString)
        Upsert.applyPartitionedStage(spark, path, partitionBy)
      }
      // partitions the scrub emptied entirely: drop their directories
      // (idempotent — a crash mid-cleanup is healed by re-running)
      affected.filterNot(surviving).foreach { row =>
        val dir = partitionBy.zipWithIndex
          .map { case (c, i) => s"$c=${escapePart(String.valueOf(row.get(i)))}" }
          .mkString("/")
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$dir"), true)
      }
      Report(removed, total - removed)
    }
  }

  /** Scrub forgotten keys from EVERY retained [[Versioned]] generation —
    * the scrub-through-history half of right-to-be-forgotten. [[scrub]]
    * cleans a live table, but a `Versioned` root retains prior
    * generations for time travel: without this, a forgotten key survives
    * in history until `expire` happens to drop the generation.
    *
    * Design: generation data is normally write-once; GDPR scrub is the
    * sanctioned exception, and it rewrites IN PLACE (same (gen, pval)
    * directory) so every manifest that references the directory — there
    * can be several, because unaffected partitions carry entries forward
    * across versions — is scrubbed by one rewrite. Affected directories
    * are found with ONE scan+broadcast-semi-join over the union of live
    * directories (partition columns `__gen`/`__p` come free from the
    * directory names), so cost is O(retained footprint scanned once +
    * affected dirs rewritten), never O(versions × table).
    *
    * The rewrite itself is BATCHED (round-13): one anti-join job stages
    * every affected directory's survivors under `<path>/__scrub_staged`
    * (the table's own filesystem — renames stay atomic), partitioned by
    * (`__gen`, `__p`); each directory is then swapped in independently
    * under [[Upsert.stagedRewrite]]'s exact protocol (its `__new` gets
    * its `_SUCCESS` before its swap, so [[Upsert.recoverSwap]] heals
    * every crash window per-directory, and re-running after any window
    * converges — forgotten keys still match). The per-directory-write
    * shape this replaced paid one Spark job per (generation × affected
    * partition) and re-ran the caller's forget-key plan per broadcast;
    * the key set is now staged once ([[graft.Scratch.stageFrame]]) and
    * the total-row audit count rides the detection scan as an
    * Observation instead of its own pass.
    */
  def scrubVersioned(
      spark: SparkSession,
      path: String,
      forgetKeys: DataFrame,
      keyCols: Seq[String]): Report = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retained = Versioned.retainedVersions(spark, path)
    if (retained.isEmpty) return Report(0L, 0L)

    // every (pval, gen) directory any retained manifest references
    val live: Seq[(String, Long)] = retained
      .flatMap(v => Versioned.manifestRefs(spark, path, v)).distinct
    val liveDirs = live.map { case (p, g) => Versioned.partDir(path, p, g) }

    // A shallow clone serves some refs from the SOURCE's directories;
    // scrubbing those in place would mutate a table we don't own (and
    // silently scrub the source's history). Refuse until the caller
    // localizes the data — the honest answer for shared storage.
    Versioned.sourcePath(spark, path).foreach { src =>
      val shared = live.filterNot { case (p, g) =>
        fs.exists(new org.apache.hadoop.fs.Path(Versioned.partDir(path, p, g)))
      }
      require(shared.isEmpty,
        s"cannot scrub shallow clone $path: ${shared.size} partition dirs " +
          s"are still shared with source $src — run Versioned.materialize " +
          "(and expire pre-materialize versions), or scrub the source table")
    }

    // heal any interrupted prior scrub BEFORE listing/reading: per-dir
    // swap residue first, then any batched stage a crash left behind
    liveDirs.foreach(d => Upsert.recoverSwap(fs, d))
    val stagedRoot = new org.apache.hadoop.fs.Path(path, "__scrub_staged")
    fs.delete(stagedRoot, true)

    // stage the distinct key set once: every executed query below
    // rebroadcasts a k-row leaf instead of re-running the caller's
    // forget-set plan (a scan+distinct) per broadcast build
    val keys = broadcast(graft.Scratch.stageFrame(spark,
      forgetKeys.select(keyCols.map(col).toIndexedSeq: _*).distinct(),
      s"${graft.Scratch.dir(spark, "scrub-keys")}/keys"))
    val union = Tables.parquet(spark, liveDirs, basePath = Some(Versioned.genRoot(path)))
    // ONE job: per-directory total AND matched counts off the same scan
    // (a left-outer probe against the broadcast key set — an Observation
    // riding a semi join would be pruned with the empty-result subtree
    // by AQE's empty-relation propagation whenever nothing matches)
    val perDir = union
      .join(keys.withColumn("__hit", lit(1)), keyCols, "left_outer")
      .groupBy(col("__gen"), col("__p"))
      .agg(count(lit(1)).as("__rows"), count(col("__hit")).as("__n"))
      .collect() // one row per live directory — driver-sized by design
    val total = perDir.map(_.getAs[Long]("__rows")).sum
    // ONE batched job stages every affected directory's survivors,
    // partitioned back into (__gen, __p) subdirectories
    val dirs: Seq[(String, Long, Long)] = perDir.toSeq
      .filter(_.getAs[Long]("__n") > 0L)
      .map { row =>
        (String.valueOf(row.get(row.fieldIndex("__p"))),
          row.getAs[Number]("__gen").longValue(),
          row.getAs[Long]("__n"))
      }
    if (dirs.isEmpty) return Report(0L, total)
    Tables.parquet(spark, dirs.map { case (p, g, _) => Versioned.partDir(path, p, g) },
        basePath = Some(Versioned.genRoot(path)))
      .join(keys, keyCols, "left_anti")
      .write.mode(SaveMode.Overwrite).partitionBy("__gen", "__p")
      .parquet(stagedRoot.toString)

    // per-directory swap, exactly stagedRewrite's protocol: __new is
    // complete (its _SUCCESS planted) before its swap starts, so every
    // crash window heals through Upsert.recoverSwap on the next call
    var removed = 0L
    dirs.foreach { case (p, g, n) =>
      removed += n
      val dir = new org.apache.hadoop.fs.Path(Versioned.partDir(path, p, g))
      val newP = new org.apache.hadoop.fs.Path(dir.toString + "__new")
      val oldP = new org.apache.hadoop.fs.Path(dir.toString + "__old")
      fs.delete(newP, true)
      fs.delete(oldP, true)
      val stagedPart = new org.apache.hadoop.fs.Path(stagedRoot, s"__gen=$g/__p=$p")
      if (fs.exists(stagedPart)) {
        if (!fs.rename(stagedPart, newP))
          throw new java.io.IOException(s"stage move failed: $stagedPart -> $newP")
      } else {
        // every row scrubbed: stage a schema-only empty parquet (what a
        // per-directory rewrite of an all-matched dir produced), so
        // as-of readers of this generation keep a readable directory
        union.filter(lit(false)).drop("__gen", "__p").repartition(1)
          .write.mode(SaveMode.Overwrite).parquet(newP.toString)
      }
      fs.create(new org.apache.hadoop.fs.Path(newP, "_SUCCESS"), true).close()
      if (!fs.rename(dir, oldP))
        throw new java.io.IOException(s"swap failed: $dir -> $oldP")
      if (!fs.rename(newP, dir)) {
        fs.rename(oldP, dir) // restore; __new remains for inspection
        throw new java.io.IOException(s"swap failed: $newP -> $dir")
      }
      fs.delete(oldP, true)
    }
    fs.delete(stagedRoot, true)
    Report(removed, total - removed)
  }

  /** Scrub forgotten keys from every committed [[Publish]] run that
    * still exists under `root`. Tables lacking one of `keyCols` are
    * skipped (they cannot contain the keyed rows). Published runs are
    * normally immutable; as with [[scrubVersioned]], the GDPR scrub is
    * the sanctioned in-place exception, staged-swap per table directory,
    * crash-healed on the next call, idempotent on re-run.
    */
  def scrubPublished(
      spark: SparkSession,
      root: String,
      forgetKeys: DataFrame,
      keyCols: Seq[String]): Report = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keys = broadcast(forgetKeys.select(keyCols.map(col).toIndexedSeq: _*).distinct())
    var removed = 0L
    var remaining = 0L
    Publish.committedRuns(spark, root).foreach { run =>
      val rd = new org.apache.hadoop.fs.Path(Publish.runDir(root, run))
      if (fs.exists(rd)) fs.listStatus(rd).foreach { st =>
        val tbl = st.getPath.toString
        // heal any interrupted prior scrub of this table directory first
        if (!st.getPath.getName.endsWith("__new") && !st.getPath.getName.endsWith("__old")) {
          Upsert.recoverSwap(fs, tbl)
          val df = Tables.parquet(spark, tbl)
          if (keyCols.forall(df.columns.contains)) {
            val m = df.join(keys, keyCols, "left_semi").count()
            if (m > 0) {
              Upsert.stagedRewrite(spark, tbl)(b => b.join(keys, keyCols, "left_anti"))
              removed += m
              remaining += Tables.parquet(spark, tbl).count()
            } else remaining += df.count()
          } else remaining += df.count()
        }
      }
    }
    Report(removed, remaining)
  }
}
