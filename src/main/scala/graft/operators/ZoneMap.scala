package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** File-level zone maps (min/max indexes) over a parquet table — the
  * coarse-grained secondary index that makes selective scans on a
  * NON-partition column cheap at 100 TB. Partitioning prunes on the
  * partition key ([[Maintenance.evolvePartitioning]], k28); parquet
  * row-group stats prune WITHIN a file the reader already opened
  * ([[Maintenance.clusterBy]]); the zone map closes the remaining gap:
  * skip whole FILES — the open()/footer-read cost that dominates wide
  * scans over many-file tables — using a persisted, dimension-sized
  * (one row per file) index consulted BEFORE any file is opened.
  *
  * Build cost is one column-pruned scan (only the indexed columns leave
  * the parquet reader) with one file-grained shuffle; the index pays for
  * itself after a single selective query. Rebuild after compaction or
  * upsert (file set changed) — [[build]] overwrites atomically via
  * parquet's committer. The index is only worth its cost when the table
  * is CLUSTERED on the indexed columns (otherwise every file spans the
  * whole value range and nothing prunes) — the [[Maintenance.clusterBy]]
  * + [[build]] pair is the deliberate workflow, same as any database's
  * "cluster, then index" discipline.
  *
  * Pruning is CONSERVATIVE by construction: a file is skipped only when
  * its [min, max] interval provably cannot satisfy the predicate, so a
  * pruned read returns exactly the rows a full scan would (the k29 gate
  * hash-proves this).
  */
object ZoneMap {

  /** Per-file min/max/null-count for each of `cols`, one row per file:
    * columns `file`, `rows`, and `min_c`/`max_c`/`nulls_c` per indexed
    * column. Persisted at `indexPath`. */
  def build(spark: SparkSession, path: String, cols: Seq[String], indexPath: String): Unit = {
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        count(when(col(c).isNull, 1)).as(s"nulls_$c"))
    } :+ count(lit(1)).as("rows")
    Tables.parquet(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .write.mode(SaveMode.Overwrite).parquet(indexPath)
  }

  /** The files whose zones MAY satisfy `keep` — a predicate over the
    * index columns (`min_c`/`max_c`/`nulls_c`), e.g. for `c BETWEEN lo
    * AND hi`: `col("max_c") >= lo && col("min_c") <= hi`. Driver-sized
    * by design: one row per FILE, the same scale as the file listing
    * every scan already materializes on the driver. */
  def candidateFiles(spark: SparkSession, indexPath: String, keep: Column): Seq[String] = {
    import spark.implicits._
    Tables.parquet(spark, indexPath).filter(keep).select(col("file")).as[String]
      .collect().toIndexedSeq
  }

  /** Read only the files whose zones may satisfy `keep`. The caller
    * still applies the exact row-level predicate on the result — the
    * zone map eliminates file opens, not the residual filter (standard
    * two-level index semantics). Returns an empty frame with the
    * table's schema when every file prunes. */
  def readPruned(spark: SparkSession, path: String, indexPath: String, keep: Column): DataFrame = {
    val files = candidateFiles(spark, indexPath, keep)
    if (files.isEmpty) Tables.parquet(spark, path).limit(0)
    else Tables.parquet(spark, files)
  }

  /** Pruning evidence for audits/tests: (files kept, files total). */
  def pruningStats(spark: SparkSession, indexPath: String, keep: Column): (Long, Long) = {
    val idx = Tables.parquet(spark, indexPath)
    (idx.filter(keep).count(), idx.count())
  }
}
