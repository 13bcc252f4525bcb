package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Mergeable Count-Min sketch — the frequency twin of [[HllSketch]]:
  * per-(row, bucket) counter tables estimate how often any value occurs
  * in a stream/corpus using depth × width counters (here 4 × 256, 8 KB)
  * regardless of vocabulary size. Counters are plain sums, so sketches
  * merge by adding (associative + commutative — build per day/cluster,
  * merge at read), and estimates only ever OVER-count (min over the
  * depth rows bounds collision noise).
  *
  * Determinism: positions are md5-derived and counters are exact
  * integer sums, so estimates — including every collision — reproduce
  * bit-for-bit in SQL (a23's gate).
  */
object CountMin {

  val depth = 4

  /** Bucket of hash row j for value `v`: first 2 md5 hex chars of
    * "j:v" (256 buckets — no modulo). */
  def position(j: Column, v: Column): Column =
    conv(substring(md5(concat(j.cast("string"), lit(":"), v.cast("string"))), 1, 2), 16, 10)
      .cast("int")

  /** Counter table (j, p, c) for one batch: `weight` per row of `df`
    * (default 1) summed into each of the depth positions of `value`.
    * One partial-aggregated shuffle on (j, p) — ≤ depth×256 rows out. */
  def sketch(df: DataFrame, value: Column, weight: Column = lit(1L)): DataFrame =
    df.select(value.as("__v"), weight.as("__w"),
        explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .select(col("j"), position(col("j"), col("__v")).as("p"), col("__w"))
      .groupBy(col("j"), col("p"))
      .agg(sum(col("__w")).as("c"))

  /** Merge counter tables by addition. */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("j"), col("p")).agg(sum(col("c")).as("c"))

  /** Point estimates for `keys` (a frame with distinct `keyCol`):
    * min over the depth rows of the counters at the key's positions —
    * an EMPTY counter cell estimates 0 (left join + coalesce; an inner
    * join would silently take the min over occupied rows only and
    * overestimate unseen keys). The sketch side is ≤ 1024 rows —
    * Catalyst broadcasts it; the probe is one narrow join per key,
    * never a scan of the sketched corpus. */
  def lookup(cms: DataFrame, keys: DataFrame, keyCol: String): DataFrame =
    keys.select(col(keyCol), explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .withColumn("p", position(col("j"), col(keyCol)))
      .join(broadcast(cms), Seq("j", "p"), "left_outer")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("c"), lit(0L))).as("est_n"))

  /** Maintain a counter table at `path` from a micro-batched stream
    * under the crash-safe staged swap. Unlike [[HllSketch]]'s max-merge
    * (idempotent — a replayed batch is harmless), CMS counters are
    * ADDITIVE: folding a delivered batch twice double-counts, so the
    * [[ReplayGuard]] is the correctness of this fold, not an
    * optimization — the e39 gate proves stream-fold ≡ one-shot exactly
    * because committed replays are skipped. */
  def streamingCmsFold(
      stream: DataFrame,
      path: String,
      value: Column,
      checkpoint: String): StreamingQuery =
    ReplayGuard.foldSink(stream, path, checkpoint) { (state, batch) =>
      val sk = sketch(batch, value)
      state.fold(sk)(merge(_, sk))
    }
}
