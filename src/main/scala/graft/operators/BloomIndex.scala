package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** File-level BLOOM index over a parquet table — the point-lookup
  * complement to [[ZoneMap]]'s range index. A zone map only prunes when
  * the table is clustered on the indexed column (otherwise every file's
  * [min, max] spans the whole domain); the bloom index prunes point
  * lookups on a HIGH-CARDINALITY column even on a hash-scattered,
  * unclustered layout — a key present in j files opens at most j (plus
  * false positives), never the whole table. This is parquet's own
  * column-index bloom filter lifted to FILE granularity, consulted
  * before any file opens (Iceberg/Delta data-skipping stats' shape).
  *
  * Representation: k=2 hash positions per key in an m-bit space, a
  * file's filter stored SPARSE as the sorted distinct position array —
  * one row per file, so the whole index is file-listing-sized and
  * broadcastable. Build is one column-pruned scan + one file-grained
  * partial-agg shuffle ([[ZoneMap.build]]'s cost shape). Membership is
  * conservative by construction: all k positions present ⇒ MAYBE (open
  * the file), any absent ⇒ provably not there (skip) — so a pruned read
  * returns exactly what a full scan would, which is what the k36 gate
  * hash-proves. False positives cost an extra file open, never a wrong
  * row: with m = 65536 and a 6k-row file, fp ≈ (rows·k/m)² ≈ 3% per
  * file. Rebuild after compaction/upsert, like any file-stat index.
  */
object BloomIndex {

  private val DefaultBits = 1 << 16

  /** xxhash64 is TYPE-sensitive: hashing an INT/DECIMAL/STRING key
    * column in its native type while the probe side hashes LongType
    * would yield disjoint positions — zero candidates, silently missing
    * rows, the false-negative class bloom must never have. So BOTH
    * sides hash through an explicit `cast long`: build positions match
    * probe positions for every key a `Seq[Long]` probe can express, and
    * non-integral values only widen the candidate set (conservative),
    * never shrink it. */
  private[operators] def positions(key: org.apache.spark.sql.Column, bits: Int) = {
    val k = key.cast("long")
    Seq(
      pmod(xxhash64(k), lit(bits.toLong)),
      pmod(xxhash64(k, lit("graft-bloom-2")), lit(bits.toLong)))
  }

  /** Build the index for `keyCol` of the table at `path`: one row per
    * file, `(file, rows, bloom: array<bigint>)`. */
  def build(
      spark: SparkSession,
      path: String,
      keyCol: String,
      indexPath: String,
      bits: Int = DefaultBits): Unit = {
    val pos = positions(col(keyCol), bits)
    Tables.parquet(spark, path)
      .select(input_file_name().as("file"),
        explode(array(pos: _*)).as("p"))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("entries"),
        sort_array(collect_set(col("p"))).as("bloom"))
      .write.mode(SaveMode.Overwrite).parquet(indexPath)
  }

  /** The files that MAY contain at least one of `keys` (driver-sized:
    * the index has one row per file, keys are a lookup list). A file
    * qualifies for a key iff ALL the key's hash positions are set. */
  def candidateFiles(
      spark: SparkSession,
      indexPath: String,
      keys: Seq[Long],
      bits: Int = DefaultBits): Seq[String] = {
    import spark.implicits._
    val probes = keys.toDF("k")
      .select(array(positions(col("k"), bits): _*).as("ps"))
    Tables.parquet(spark, indexPath)
      .crossJoin(broadcast(probes))
      .filter(expr("forall(ps, p -> array_contains(bloom, p))"))
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq // one row per candidate FILE
  }

  /** Point-lookup read: open only the bloom-candidate files, then apply
    * the exact key filter (bloom false positives die here). Equals a
    * full scan + filter by construction. */
  def lookup(
      spark: SparkSession,
      path: String,
      indexPath: String,
      keyCol: String,
      keys: Seq[Long],
      bits: Int = DefaultBits): DataFrame = {
    val files = candidateFiles(spark, indexPath, keys, bits)
    val base = Tables.parquet(spark, path)
    val src = if (files.isEmpty) base.limit(0) else Tables.parquet(spark, files)
    src.filter(col(keyCol).isin(keys: _*))
  }
}
