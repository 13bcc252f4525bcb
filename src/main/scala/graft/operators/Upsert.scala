package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Keyed idempotent upsert — the Spark re-expression of the reference's
  * `INSERT ... ON CONFLICT (keys) DO UPDATE` sinks (K1-K6,
  * reference: src/etl-square-payments.ts:59-117 and siblings).
  *
  * Contract: at-least-once input + keyed upsert ⇒ effectively-once table
  * (SURVEY.md §2.7). `upsert(t); upsert(t)` ≡ `upsert(t)`.
  *
  * Scale design: the merge is a single shuffle on the upsert key
  * (left_anti join); with a partitioned table only the partitions touched
  * by the delta are rewritten (dynamic partition overwrite), so cost is
  * O(delta ∪ affected partitions), not O(table) — the property that makes
  * hourly incremental runs viable at 100 TB.
  */
object Upsert {

  /** Pure merge: rows of `delta` replace rows of `base` sharing the same
    * key; all other base rows pass through. Exactly ON CONFLICT DO UPDATE
    * semantics when `delta` is key-unique.
    */
  def merge(base: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    val d = delta.select(base.columns.map(col).toIndexedSeq: _*)
    d.unionByName(base.join(d.select(keys.map(col).toIndexedSeq: _*).distinct(), keys, "left_anti"))
  }

  /** Schema-evolving merge: the result schema is the union of base and
    * delta columns; rows from the side missing a column get NULL there
    * (additive evolution only — the common case for feeds that grow
    * fields over time). Delta still wins on key conflicts.
    */
  def mergeEvolve(base: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    val baseKeep = base.join(
      delta.select(keys.map(col).toIndexedSeq: _*).distinct(), keys, "left_anti")
    delta.unionByName(baseKeep, allowMissingColumns = true)
  }

  /** Scoped FULL merge — the `MERGE … WHEN NOT MATCHED BY SOURCE THEN
    * DELETE` shape: within the rows satisfying `scope`, `source` becomes
    * the truth (new keys insert, matched keys take the source payload,
    * and target keys ABSENT from the source are deleted); rows outside
    * `scope` pass through untouched. Columns named in `preserve` keep
    * the TARGET's value for matched keys (audit columns like first_seen
    * that an update must not clobber); for inserted keys the source's
    * value stands. Caller contract: every source row satisfies `scope`.
    *
    * This is the reconciliation between [[merge]] (upsert-only — absent
    * keys survive) and a partition restatement (k21 — replaces whole
    * partitions, no row-level preserve): snapshot feeds that re-send a
    * time window in full, where a vanished row means a real deletion.
    * Scale: the out-of-scope side is a scan+filter (no shuffle); only
    * the scope slice shuffles (one key join against the target's
    * preserve projection). Align `scope` with the table's partitioning
    * and the passthrough prunes to untouched files.
    *
    * Reference: the windowed replace-then-reload shape of
    * /root/reference/src/etl-square-payments.ts:57-123 (its one-txn run
    * replaces the window's rows wholesale); `preserve` re-expresses the
    * created_at-style audit columns its upserts keep.
    */
  def fullMerge(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      scope: Column,
      preserve: Seq[String] = Nil): DataFrame = {
    val untouched = target.filter(!scope)
    val tPreserve = target.select(
      (keys.map(col) ++ preserve.map(c => col(c).as(s"__t_$c"))).toIndexedSeq: _*)
    val reconciled = source.join(tPreserve, keys, "left")
      .select(source.columns.map { c =>
        if (preserve.contains(c)) coalesce(col(s"__t_$c"), col(c)).as(c) else col(c)
      }.toIndexedSeq: _*)
    untouched.unionByName(reconciled.select(target.columns.map(col).toIndexedSeq: _*))
  }

  /** Collapse a delta that may carry several versions of one key to the
    * latest version per key, deterministically: greatest `versionCol`,
    * ties broken by the remaining columns' order. The reference's analog
    * is first-wins insertion order (J1, src/etl-square-orders.ts:181-193);
    * for upserts last-write-wins is the useful direction.
    */
  def latestPerKey(delta: DataFrame, keys: Seq[String], versionCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(col(versionCol).desc)
    delta.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Upsert `delta` into the parquet table at `path` (creating it if
    * absent). When `partitionBy` is set, only partitions present in the
    * delta are read+rewritten (dynamic overwrite); unpartitioned tables
    * are rewritten whole via a staged write + atomic-swap protocol
    * (SURVEY.md §7.4 hard part #1).
    *
    * Crash safety without a transaction log: every merge result is fully
    * durable on disk (a staged parquet write with its `_SUCCESS` marker)
    * BEFORE the live table is touched — there is no state in which the
    * table's only copy is executor memory (the round-1
    * `localCheckpoint(true)` pinned the entire merged table in block
    * storage: lethal at 100 TB, and lost on any executor death). The
    * unpartitioned swap (`path` → `path__old`, `path__new` → `path`,
    * drop `__old`) has two crash windows, both recovered by
    * [[recoverSwap]] on the next call: roll FORWARD when `__new` is
    * complete and the table vanished mid-swap, roll BACK to `__old`
    * otherwise. The partitioned path's crash window (mid dynamic
    * overwrite, affected partitions partially deleted) is healed by
    * [[recoverPartitionedStage]]: a complete `__stage` is the only full
    * copy of those partitions and is rolled FORWARD, never deleted
    * first. A crash before either apply leaves the old table intact and
    * the job retryable — and the keyed upsert makes retries idempotent.
    */
  def upsertParquet(
      spark: SparkSession,
      path: String,
      delta: DataFrame,
      keys: Seq[String],
      partitionBy: Seq[String] = Nil): Unit = {
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, path)
    if (partitionBy.nonEmpty) recoverPartitionedStage(spark, path, partitionBy)
    val exists = fs.exists(fsPath)

    if (!exists) {
      // Created like a swap: staged whole at `__new`, then renamed in. A
      // write cancelled in place would leave an empty `path` that every
      // later call takes for a table without a schema.
      val newP = new org.apache.hadoop.fs.Path(path + "__new")
      val w = delta.write.mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(newP.toString)
      if (!fs.rename(newP, fsPath))
        throw new java.io.IOException(s"create failed: $newP -> $fsPath")
      return
    }

    if (partitionBy.nonEmpty) {
      // Only touch partitions the delta lands in. The merge is staged to
      // disk first (not localCheckpoint: disk-backed, sized by the
      // affected partitions only), then read back for the dynamic
      // overwrite so the table is never read and rewritten in one job.
      val affected = delta.select(partitionBy.map(col).toIndexedSeq: _*).distinct()
      val base = spark.read.parquet(path).join(broadcast(affected), partitionBy, "left_semi")
      val stage = new org.apache.hadoop.fs.Path(path + "__stage")
      fs.delete(stage, true)
      merge(base, delta, keys).write.mode(SaveMode.Overwrite).parquet(stage.toString)
      applyPartitionedStage(spark, path, partitionBy)
    } else {
      stagedRewrite(spark, path) { base => merge(base, delta, keys) }
    }
  }

  /** Apply a durably-staged merged partition set (`path__stage`, complete
    * with `_SUCCESS`) to the live table via dynamic partition overwrite,
    * then drop the stage. The stage holds the FULL merged content of
    * every affected partition, so re-applying after any crash is
    * idempotent — which is what makes [[recoverPartitionedStage]]'s
    * roll-forward safe at every interruption point of the overwrite.
    */
  private[graft] def applyPartitionedStage(
      spark: SparkSession, path: String, partitionBy: Seq[String]): Unit = {
    val stage = new org.apache.hadoop.fs.Path(path + "__stage")
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(stage.toString).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*)
      .parquet(path)
    // only after the overwrite commits is the stage disposable
    fs.delete(stage, true)
  }

  /** Heal an interrupted PARTITIONED stage-then-overwrite. A crash mid
    * dynamic overwrite leaves affected partitions partially deleted while
    * `path__stage` still holds their only complete merged copy — so a
    * complete stage (`_SUCCESS` present) is rolled FORWARD by re-applying
    * the overwrite, never deleted first. An incomplete stage (crash
    * during the stage write) is discarded: the live table was not yet
    * touched and the interrupted run simply retries.
    */
  private[graft] def recoverPartitionedStage(
      spark: SparkSession, path: String, partitionBy: Seq[String]): Unit = {
    val stage = new org.apache.hadoop.fs.Path(path + "__stage")
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(stage)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(stage, "_SUCCESS")))
        applyPartitionedStage(spark, path, partitionBy)
      else fs.delete(stage, true)
    }
  }

  /** Crash-safe full rewrite of an unpartitioned parquet table: stage
    * `rewrite(currentTable)` durably at `path__new`, then atomically
    * swap (`path` → `path__old`, `__new` → `path`, drop `__old`).
    * Interrupted swaps heal via [[recoverSwap]] on the next call. Shared
    * by the keyed upsert and table maintenance (compaction/clustering).
    */
  private[graft] def stagedRewrite(
      spark: SparkSession, path: String, partitionBy: Seq[String] = Nil)(
      rewrite: DataFrame => DataFrame): Unit = {
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newP = new org.apache.hadoop.fs.Path(path + "__new")
    val oldP = new org.apache.hadoop.fs.Path(path + "__old")
    fs.delete(newP, true)
    fs.delete(oldP, true)
    // Stage the full result durably BEFORE touching the live table.
    val staged = rewrite(spark.read.parquet(path)).write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) staged.partitionBy(partitionBy: _*) else staged)
      .parquet(newP.toString)
    // Swap. Directory renames are atomic on HDFS-like filesystems.
    if (!fs.rename(fsPath, oldP))
      throw new java.io.IOException(s"swap failed: $fsPath -> $oldP")
    if (!fs.rename(newP, fsPath)) {
      fs.rename(oldP, fsPath) // restore; __new remains for inspection
      throw new java.io.IOException(s"swap failed: $newP -> $fsPath")
    }
    fs.delete(oldP, true)
  }

  /** Heal an interrupted unpartitioned swap. States and actions:
    *   - table present: any `__new`/`__old` leftovers are from a crash
    *     before the swap started or after it finished — garbage, drop
    *     them (the interrupted upsert simply retries);
    *   - table missing, `__new` complete (`_SUCCESS`): the crash hit
    *     between the two renames; the merge was durable — roll FORWARD;
    *   - table missing, `__new` unusable: roll BACK to `__old`.
    */
  private[graft] def recoverSwap(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val newP = new org.apache.hadoop.fs.Path(path + "__new")
    val oldP = new org.apache.hadoop.fs.Path(path + "__old")
    if (!fs.exists(fsPath)) {
      val newComplete =
        fs.exists(new org.apache.hadoop.fs.Path(newP, "_SUCCESS"))
      if (newComplete) {
        if (!fs.rename(newP, fsPath))
          throw new java.io.IOException(s"swap recovery failed: $newP -> $fsPath")
        fs.delete(oldP, true)
      } else if (fs.exists(oldP)) {
        if (!fs.rename(oldP, fsPath))
          throw new java.io.IOException(s"swap recovery failed: $oldP -> $fsPath")
        fs.delete(newP, true)
      }
    }
  }
}
