package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental materialized-aggregate maintenance: keep per-key
  * mergeable partials (count / exact decimal sum / min / max) as a
  * state table, fold new data in batch-by-batch, and derive the final
  * aggregates (including avg) at read time.
  *
  * This is the standard incremental-view-maintenance shape: each
  * increment costs one partial aggregation of the delta (map-side
  * combined before its single shuffle) plus a key-aligned merge with
  * state — never a rescan of history. Sums are exact DECIMAL so state
  * merging is order- and batching-independent (double accumulation
  * would drift between merge orders); avg is derived, not stored,
  * because avg partials don't merge.
  */
object IncrementalAgg {

  /** Partial state for one batch: (keys..., n, s, mn, mx). */
  def partials(df: DataFrame, key: Seq[String], value: Column): DataFrame =
    df.groupBy(key.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(value).as("s"),
        min(value).as("mn"),
        max(value).as("mx"))

  /** Merge two state tables (associative + commutative). Key columns are
    * explicit — inferring them by excluding the reserved state names
    * would silently corrupt a merge whose key is itself named n/s/mn/mx. */
  def merge(state: DataFrame, delta: DataFrame, key: Seq[String]): DataFrame =
    state.unionByName(delta)
      .groupBy(key.map(col).toIndexedSeq: _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("s")).as("s"),
        min(col("mn")).as("mn"),
        max(col("mx")).as("mx"))

  /** Convenience overload inferring the keys as every non-state column;
    * rejects states whose key columns collide with the reserved names
    * (n / s / mn / mx) — those callers must pass keys explicitly. */
  def merge(state: DataFrame, delta: DataFrame): DataFrame = {
    val reserved = Set("n", "s", "mn", "mx")
    val key = state.columns.filterNot(reserved).toSeq
    require(
      key.size + reserved.size == state.columns.length,
      s"state columns ${state.columns.mkString(",")} collide with reserved " +
        "n/s/mn/mx — use merge(state, delta, key) with explicit keys")
    merge(state, delta, key)
  }

  /** Read view over a state table: final aggregates incl. derived avg. */
  def finish(state: DataFrame): DataFrame =
    state.withColumn("avg", col("s").cast("double") / col("n"))

  /** Maintain the aggregate state table at `path` from a micro-batched
    * stream. Merging is NOT idempotent (a replayed batch would double
    * count), so the state rows carry a [[ReplayGuard]] marker — the id
    * of the last folded batch plus the checkpoint's durable run id: a
    * batch already folded by THIS run (same run id, batchId <= stored
    * watermark) is a committed replay and is skipped, while a fresh
    * checkpoint (batch ids restart at 0) is recognized by its new run id
    * and folds normally. The fold runs under the crash-safe staged swap,
    * so the watermark and the merged counts commit atomically together. */
  def streamingFold(
      stream: DataFrame,
      path: String,
      key: Seq[String],
      value: Column,
      checkpoint: String): StreamingQuery =
    ReplayGuard.foldSink(stream, path, checkpoint) { (state, batch) =>
      val p = partials(batch, key, value)
      state.fold(p)(merge(_, p, key))
    }
}
