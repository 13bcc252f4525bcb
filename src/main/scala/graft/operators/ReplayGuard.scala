package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Tables

/** Replay detection for foreachBatch sinks whose fold is NOT idempotent
  * (incremental aggregate merge, SCD2 delta application, additive
  * sketches): state rows are stamped with the id of the last folded
  * batch AND the durable identity of the streaming run that folded it,
  * so a redelivered batch is skipped exactly once per run. [[foldSink]]
  * is the one sink that applies the guard, for every streaming state
  * fold.
  *
  * Why the run identity matters: micro-batch ids are per-checkpoint. A
  * fresh/reset checkpoint restarts ids at 0, so a batch-id-only watermark
  * silently drops every genuinely new batch until the id climbs past the
  * stored maximum. The run id disambiguates: Spark persists a query id in
  * `checkpoint/metadata` at first start — stable across restarts of the
  * same checkpoint (where redelivery can really happen), fresh when the
  * checkpoint is reset (where batch 0 is genuinely new work).
  *
  * State written before this guard existed (or hand-seeded in tests) has
  * no `run_id` column; such state keeps the old batch-id-only semantics,
  * so operators upgrade in place without a state migration.
  *
  * Note: resetting the checkpoint WITHOUT resetting the state table makes
  * the new run re-read its source from scratch; those re-reads are new
  * batches by construction and will fold again. The guard's contract is
  * at-least-once redelivery within a run — cross-run dedup is the state
  * table's (re)build policy, not a watermark's.
  */
object ReplayGuard {

  /** The streaming query's durable identity: the `id` field of the
    * checkpoint's metadata file (written by Spark before the first batch
    * is handed to foreachBatch). Empty string if unreadable. */
  def runId(fs: FileSystem, checkpoint: String): String = {
    val p = new Path(checkpoint, "metadata")
    if (!fs.exists(p)) ""
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    }
  }

  /** Stamp the fold marker onto a state table (one constant per run). */
  def stamp(df: DataFrame, run: String, batchId: Long): DataFrame =
    df.withColumn("last_batch", lit(batchId)).withColumn("run_id", lit(run))

  /** Remove the fold marker before handing state back to the fold. */
  def strip(df: DataFrame): DataFrame = df.drop("last_batch", "run_id")

  /** Ownership stamp: `<statePath>__owner` records the run id of the
    * checkpoint whose stream folds into that state. Claimed on first
    * fold (or re-claimed when the state table itself was reset); once
    * claimed, a DIFFERENT checkpoint's stream targeting the same path
    * fails loudly instead of silently double-folding — the "reset the
    * checkpoint but kept the state" misuse (or two unrelated streams
    * pointed at one table) becomes an error with an explicit escape
    * hatch ([[releaseOwnership]]) for a deliberate rebuild-in-place.
    *
    * `stateExists=false` (fresh state table) always re-claims: resetting
    * state and checkpoint together — the documented convention — needs
    * no manual release. Legacy owner-less state adopts the first run
    * that touches it. */
  def assertOwnership(
      fs: FileSystem, statePath: String, run: String, stateExists: Boolean): Unit = {
    if (run.isEmpty) return // unreadable checkpoint metadata: no identity to pin
    val p = new Path(statePath + "__owner")
    val owner =
      if (!fs.exists(p)) ""
      else {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      }
    if (!stateExists || owner.isEmpty) {
      val out = fs.create(p, true)
      try out.write(run.getBytes("UTF-8")) finally out.close()
    } else if (owner != run)
      throw new IllegalStateException(
        s"state table $statePath is owned by streaming run $owner but run $run " +
          "(a different checkpoint) tried to fold into it — folding twice from " +
          "two checkpoints double-counts. Reset state and checkpoint together, " +
          "or call ReplayGuard.releaseOwnership to adopt the table deliberately.")
  }

  /** Deliberately release a state table for adoption by a new stream. */
  def releaseOwnership(fs: FileSystem, statePath: String): Unit = {
    fs.delete(new Path(statePath + "__owner"), false)
    ()
  }

  /** Maintain the state table at `path` from a micro-batched stream;
    * `fold(state, batch)` is the operator's own step, `state` being None
    * for the first batch. Each batch heals an interrupted swap
    * ([[Upsert.recoverSwap]]) and checks [[assertOwnership]], then
    * either creates the table from `fold(None, batch)` through
    * [[Upsert.create]] (written at `path__new`, renamed in) or, unless
    * the batch is a committed replay ([[isReplay]]), rewrites it as
    * `fold(Some(state), batch)` under [[Upsert.stagedRewrite]]'s staged
    * swap. Both writes carry the run/batch [[stamp]], so the watermark
    * commits atomically with the folded state. */
  def foldSink(stream: DataFrame, path: String, checkpoint: String)(
      fold: (Option[DataFrame], DataFrame) => DataFrame): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val fsPath = new Path(path)
        val fs = fsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        Upsert.recoverSwap(fs, path)
        val run = runId(fs, checkpoint)
        val exists = fs.exists(fsPath)
        // fail loudly if a DIFFERENT checkpoint's stream owns this path
        assertOwnership(fs, path, run, exists)
        if (!exists) Upsert.create(fs, path, stamp(fold(None, batch), run, batchId))
        else if (!isReplay(Tables.parquet(s, path), run, batchId))
          Upsert.stagedRewrite(s, path)(base =>
            stamp(fold(Some(strip(base)), batch), run, batchId))
        ()
      }
      .start()

  /** True iff `(run, batchId)` is already folded into `state`: same run
    * (or legacy run-less state) and batchId at or below the stored
    * watermark. */
  def isReplay(state: DataFrame, run: String, batchId: Long): Boolean = {
    val hasRun = state.columns.contains("run_id")
    val row =
      if (hasRun) state.agg(max(col("last_batch")), max(col("run_id"))).head()
      else state.agg(max(col("last_batch"))).head()
    if (row.isNullAt(0)) false
    else {
      val sameRun = !hasRun || row.isNullAt(1) || run.isEmpty ||
        row.getString(1) == run
      sameRun && batchId <= row.getLong(0)
    }
  }
}
