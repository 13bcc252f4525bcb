package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TRANSACTIONAL CBO STATS — the [[StatsStore]] maintained as a
  * Versioned table committed in the SAME transaction as the data it
  * describes (the k48/k53 secondary-index discipline, applied to the
  * statistics the join planner reads). A plain stats store refreshed
  * "after" a commit has a lag window in which [[JoinAdvisor]] /
  * [[graft.plans.JoinReorderRule]] plan tomorrow's biggest query off
  * yesterday's cardinalities; here the stats row and the data partition
  * land under one `_COMMIT` marker, so there is NO observable state in
  * which the table and its stats disagree — crash-recovery included
  * (Txn rolls both forward or both back).
  *
  * Layout: one stats row per table partition, keyed by `pval` (the
  * partition value as string — [[VersionedZone]]'s key discipline),
  * carrying the exact row count plus one 256-slot md5-deterministic HLL
  * register array per tracked column (`ndv_regs_<col>` —
  * [[StatsStore]]'s exact shape, so [[StatsStore.summary]] folds it
  * unchanged), and `tv`, the table version the row describes.
  *
  * Scale: a commit's stats delta recomputes ONLY the affected
  * partitions' rows (post-image merge of delta over the pinned base —
  * the same partition-pruned read the data write itself performs); the
  * decision consumers fold k stats rows, never data.
  */
object VersionedStats {

  /** The post-image stats rows for the partitions `delta` touches,
    * against the base table pinned at `asOfVersion` (pass the version
    * the paired data write uses as `expectedVersion` — reading "latest"
    * here would race a concurrent writer, the k48 lesson). */
  def statsDelta(
      spark: SparkSession,
      tablePath: String,
      delta: DataFrame,
      partCol: String,
      keys: Seq[String],
      cols: Seq[String],
      asOfVersion: Long = -1L): DataFrame = {
    val base =
      if (asOfVersion < 0) Versioned.latestVersion(spark, tablePath) else asOfVersion
    val affected = delta.select(col(partCol)).distinct().collect()
      .map(_.get(0)).toSeq // partition domain — driver-sized by design
    val merged =
      if (base == 0) delta
      else Upsert.merge(
        Versioned.readAsOf(spark, tablePath, base)
          .filter(col(partCol).isin(affected: _*)),
        delta, keys)
    StatsStore.statsRows(merged, partCol, cols)
      .withColumn("pval", col(partCol).cast("string"))
      .drop(partCol)
      .withColumn("tv", lit(base + 1))
  }

  /** Commit `delta` into the Versioned table AND its recomputed stats
    * rows into the Versioned stats table in ONE transaction. Stamped
    * (e42's replay discipline) and CAS-guarded on the data table's
    * version, so a concurrent writer aborts cleanly instead of
    * publishing stats for a base it never saw. */
  def commitWithStats(
      spark: SparkSession,
      txnDir: String,
      tablePath: String,
      statsPath: String,
      delta: DataFrame,
      partCol: String,
      keys: Seq[String],
      cols: Seq[String],
      stamp: Option[Long] = None): Map[String, Long] = {
    val base = Versioned.latestVersion(spark, tablePath)
    Txn.run(spark, txnDir, Seq(
      Txn.Write(tablePath, delta, partCol, keys, stamp,
        expectedVersion = Some(base)),
      Txn.Write(statsPath,
        statsDelta(spark, tablePath, delta, partCol, keys, cols, asOfVersion = base),
        "pval", Seq("pval"), stamp)))
  }

  /** The live stats rows (latest committed version). */
  def read(spark: SparkSession, statsPath: String): DataFrame =
    Versioned.readAsOf(spark, statsPath)

  /** SMALL-RANGE-CORRECTED NDV of `c` off a [[StatsStore.summary]] of
    * the stats rows: the raw HLL estimator overestimates badly when
    * n ≪ m (empty registers dominate the harmonic sum — a 44-distinct
    * column reads as ~200); below Flajolet's 2.5·m switch point with
    * free registers, linear counting m·ln(m/(m−nz)) is the right
    * estimator. Scala-side decision consumer ONLY: `ln` is not
    * correctly-rounded, so it is not cross-engine bit-identical —
    * oracle-replayed surfaces keep the summary's raw estimate. */
  def ndvGlobalCorrected(s: StatsStore.Summary, c: String): Double = {
    val StatsStore.Ndv(nz, raw) = s.ndv(c)
    val m = 256.0
    if (raw <= 2.5 * m && nz < 256) m * math.log(m / (m - nz)) else raw
  }

  /** k50's physical-strategy refusal off LIVE stats: 'broadcast' iff
    * the described table currently fits the row budget, else 'shuffle'.
    * Exact counts, so the advice is deterministic and replayable. */
  def broadcastAdvice(s: StatsStore.Summary, maxBroadcastRows: Long): String =
    if (s.rows.getOrElse(0L) <= maxBroadcastRows) "broadcast" else "shuffle"
}
