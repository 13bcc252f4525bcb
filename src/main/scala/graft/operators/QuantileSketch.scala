package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Mergeable DETERMINISTIC quantile summary — the rank-sketch
  * counterpart of [[HllSketch]]: per-group weighted sample tables with
  * a provable rank-error bound that MERGE by plain union, so a 100 TB
  * table's quantiles (and the range-partition splitters a distributed
  * sort needs) are maintained incrementally and combined across
  * partitions, days, or clusters without ever re-sorting history.
  *
  * Algorithm (the sample-sort splitter selection TeraSort popularized,
  * grouped): rows scatter into `buckets` content-defined cells
  * (md5-derived — no RNG, no partitioner dependence), each cell keeps
  * every stride-th value of its sorted run with weight = stride
  * (+ a tail sample carrying the remainder, so weights sum EXACTLY to
  * the cell count). An n-row group therefore keeps ≤ buckets·k samples,
  * and the estimate "min v whose cumulative weight ≥ ⌈q·n⌉" has true
  * rank within n/k + buckets of the target — the bound each gate's
  * `within_bound` column re-derives from exact ranks.
  *
  * Everything is deterministic integer/sort arithmetic on exact
  * weights, so (unlike t-digest/KLL, whose RNG makes results
  * partitioning-dependent) a DuckDB oracle reproduces the summary
  * bit-for-bit and `merge(summarize(A), summarize(B))` is a valid
  * summary of A ∪ B with additive bounds — an exact hash gate, not a
  * tolerance band.
  *
  * Scale shape: one range-free shuffle into (group × bucket) cells +
  * an in-cell sort of n/buckets rows (size `buckets` to taste — the
  * cells are the parallelism), then every downstream step runs on the
  * SKETCH (≤ buckets·k rows per group, independent of n): the
  * cumulative-weight window partitions by group over sketch-sized
  * partitions, HllSketch's 256-registers-per-group shape, never a
  * data-sized funnel. */
object QuantileSketch {

  private val hexOf = "instr('0123456789abcdef', %s) - 1"

  /** Per-group weighted sample table `(group…, v DOUBLE, wt BIGINT)`
    * for one batch of rows. `key` must be a row-unique column/expr
    * (cast to string for the md5 scatter); `buckets` cells × ≤ `k`
    * samples each bound the summary size. Weights per group sum
    * exactly to the group's row count. */
  def summarize(
      df: DataFrame,
      group: Seq[String],
      value: Column,
      key: Column,
      buckets: Int,
      k: Int): DataFrame = {
    val cell = df.select(
        group.map(col) :+ value.cast("double").as("v") :+
          md5(key.cast("string")).as("hx"): _*)
      .withColumn("b", expr(
        s"((${hexOf.format("substr(hx,1,1)")}) * 16 + ${hexOf.format("substr(hx,2,1)")}) % $buckets"))
    val w = Window.partitionBy((group :+ "b").map(col): _*).orderBy(col("v"))
    val cw = Window.partitionBy((group :+ "b").map(col): _*)
    cell
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(cw))
      .withColumn("stride", expr(s"(cnt + ${k - 1}) div $k"))
      .filter(col("rn") % col("stride") === 0 ||
        (col("rn") === col("cnt") && col("cnt") % col("stride") =!= 0))
      .select(group.map(col) :+ col("v") :+
        when(col("rn") % col("stride") === 0, col("stride"))
          .otherwise(col("cnt") % col("stride")).cast("long").as("wt"): _*)
  }

  /** Merge summaries (associative, commutative): weighted samples of
    * disjoint batches union into a valid summary of the union with
    * additive rank bounds — no recompression, no history rescan. */
  def merge(a: DataFrame, b: DataFrame): DataFrame = a.unionByName(b)

  /** Maintain a durable summary table at `path` from a micro-batched
    * stream: each batch's weighted samples APPEND into the summary
    * (merge = union — no recompression, no rescan of prior batches),
    * under the crash-safe staged swap. Appending is ADDITIVE semantics
    * — a replayed batch's samples would inflate every weight — so the
    * [[ReplayGuard]] run/batch stamps are the fold's correctness
    * (CountMin's discipline, not HllSketch's idempotent max-merge).
    * State grows by ≤ buckets·k sample rows per group per BATCH (not
    * per input row) under the default unbounded append;
    * `maxSamplesPerGroup` caps it by running [[compact]] inline on
    * every fold — bounded state over an unbounded stream, at ≤
    * ⌈W/bound⌉ extra rank error per fold. */
  def streamingQuantileFold(
      stream: DataFrame,
      path: String,
      group: Seq[String],
      value: Column,
      key: Column,
      buckets: Int,
      k: Int,
      checkpoint: String,
      maxSamplesPerGroup: Int = Int.MaxValue): StreamingQuery =
    ReplayGuard.foldSink(stream, path, checkpoint) { (state, batch) =>
      val summ = summarize(batch, group, value, key, buckets, k)
      val folded = state.fold(summ)(merge(_, summ))
      // the bounded-state knob: the default appends forever (exact
      // union algebra, e41's hash-gated shape); a finite bound runs
      // [[compact]] inline so per-group state stays ≤ the bound over
      // an UNBOUNDED stream, trading ≤ ⌈W/bound⌉ extra rank error per
      // batch fold — compact is deterministic, so the folded state
      // remains bit-reproducible for a given batch cohort sequence
      if (maxSamplesPerGroup == Int.MaxValue) folded
      else compact(folded, group, maxSamplesPerGroup)
    }

  /** COMPACT a (possibly many-batch) summary back to ≤ `maxSamples`
    * weighted rows per group — the maintenance pass that keeps
    * [[streamingQuantileFold]]'s append-only state bounded over an
    * unbounded stream. Weighted, deterministic, RNG-free: duplicate
    * values merge first (the canonical form), then one cumulative-
    * weight pass keeps exactly the samples where a stride boundary
    * (stride = ⌈W / maxSamples⌉) falls inside the row's weight span,
    * re-weighting each kept sample to the span since the previous kept
    * one — weights still sum EXACTLY to W, and the added rank error is
    * ≤ stride per estimate (on top of the input summary's own bound).
    * The cumulative window partitions per group over sketch-sized
    * input, never data-sized. */
  def compact(summary: DataFrame, group: Seq[String], maxSamples: Int): DataFrame = {
    val g = summary.groupBy((group :+ "v").map(col): _*)
      .agg(sum(col("wt")).as("wt"))
    val wv = Window.partitionBy(group.map(col): _*).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g.withColumn("cw", sum(col("wt")).over(wv))
      .withColumn("tot", max(col("cw")).over(Window.partitionBy(group.map(col): _*)))
      .withColumn("stride", expr(s"(tot + ${maxSamples - 1}) div $maxSamples"))
    val kept = cum.filter(
      expr("(cw div stride) > ((cw - wt) div stride)") || col("cw") === col("tot"))
    val kw = Window.partitionBy(group.map(col): _*).orderBy(col("v"))
    kept
      .withColumn("pcw", coalesce(lag(col("cw"), 1).over(kw), lit(0L)))
      .select(group.map(col) :+ col("v") :+ (col("cw") - col("pcw")).as("wt"): _*)
  }

  /** Per-group quantile estimates off a summary: for each q in `qs`,
    * the smallest sample value whose VALUE-cumulative weight reaches
    * ⌈q · totalWeight⌉. Returns (group…, q, est). The window partitions
    * by group over the sketch (≤ buckets·k rows/group by construction);
    * the q frame is a broadcast literal. */
  def quantiles(summary: DataFrame, group: Seq[String], qs: Seq[Double]): DataFrame = {
    val g = summary.groupBy((group :+ "v").map(col): _*)
      .agg(sum(col("wt")).as("wt"))
    val wv = Window.partitionBy(group.map(col): _*).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g.withColumn("cw", sum(col("wt")).over(wv))
    val tot = summary.groupBy(group.map(col): _*).agg(sum(col("wt")).as("tot"))
    val spark = summary.sparkSession
    import spark.implicits._
    val qf = broadcast(qs.toDF("q"))
    val targets = tot.crossJoin(qf)
      .withColumn("t", ceil(col("q") * col("tot").cast("double")).cast("long"))
    targets.join(cum, group)
      .filter(col("cw") >= col("t"))
      .groupBy((group :+ "q").map(col): _*)
      .agg(min(col("v")).as("est"))
  }

  /** GLOBAL (group-less) quantile estimates off a summary, computed
    * DRIVER-SIDE. A summary is sketch-sized BY CONSTRUCTION (≤
    * partitions × (maxSamples + 2) weighted rows), so the group-less
    * cumulative fold is a single task no matter where it runs —
    * through [[quantiles]] with a constant group it additionally plans
    * a partition-less window (the optimizer folds the constant away),
    * which is both the scale-lint's fatal pattern and a WARN flood.
    * This is metadata-scale math: collect the value-merged summary
    * once (`maxRows`-guarded so a data-sized frame fails loudly
    * instead of OOMing the driver), fold cumulative weights exactly as
    * [[quantiles]] does (smallest v whose cumulative weight reaches
    * ⌈q·W⌉), return (q, est) pairs. */
  def quantilesGlobal(
      summary: DataFrame,
      qs: Seq[Double],
      maxRows: Int = 1 << 20): Seq[(Double, Double)] = {
    val rows = summary.groupBy(col("v")).agg(sum(col("wt")).as("wt"))
      .orderBy(col("v"))
      .limit(maxRows + 1)
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    require(rows.length <= maxRows,
      s"quantilesGlobal collected more than $maxRows summary rows — " +
        "this fold is for sketch-sized summaries, not data frames")
    val tot = rows.iterator.map(_._2).sum
    qs.map { q =>
      val t = math.max(1L, math.ceil(q * tot.toDouble).toLong)
      var cw = 0L
      val est = rows.find { case (_, w) => cw += w; cw >= t }
      require(est.nonEmpty, s"empty summary — no estimate for q=$q")
      (q, est.get._1)
    }
  }
}
