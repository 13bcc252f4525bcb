package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Table maintenance for incrementally-upserted parquet tables. Hourly
  * keyed upserts (the reference's cadence) accrete one small file set
  * per run; at 100 TB that turns scans into metadata storms (task per
  * tiny file, footer reads dominating). Compaction + clustering are the
  * two levers:
  *
  *   - [[compact]] rewrites a table into ~`targetBytesPerFile` files via
  *     the same crash-safe staged-swap protocol as the upsert (an
  *     interrupted compaction can never lose the table; recovery is
  *     [[Upsert.recoverSwap]]);
  *   - [[compactPartitioned]] compacts only the partitions whose file
  *     count exceeds a threshold — O(fragmented partitions), not
  *     O(table), the only form that scales;
  *   - [[clusterBy]] additionally sorts by the given columns during the
  *     rewrite, so parquet row-group min/max stats become selective and
  *     filters on those columns skip whole files/row groups.
  */
object Maintenance {

  final case class TableStats(files: Long, bytes: Long, avgFileBytes: Long)

  def stats(spark: SparkSession, path: String): TableStats = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var files = 0L
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { files += 1; bytes += f.getLen }
    }
    TableStats(files, bytes, if (files == 0) 0 else bytes / files)
  }

  /** Evolve the PARTITION SCHEME of a landed table in place — the
    * "we partitioned by X, every query filters by Y" migration (the
    * classic: type-partitioned events vs day-bounded queries). The
    * whole table is rewritten ONCE under the new layout through the
    * same staged-swap protocol as [[compact]]: the new tree is staged
    * durably at `path__new` (with `derive` applied first, so the new
    * partition columns can be computed from existing data), then the
    * directory swap is atomic, and every crash window is healed by
    * [[Upsert.recoverSwap]] — an interrupted migration can never lose
    * the table or leave it half-migrated. Cost is O(table), paid once;
    * the payoff is partition pruning on the new key for every query
    * after. At 100 TB run it partition-group by partition-group only if
    * the table cannot take one rewrite window — the swap protocol is
    * the same either way. */
  def evolvePartitioning(
      spark: SparkSession,
      path: String,
      newPartitionBy: Seq[String],
      derive: DataFrame => DataFrame = identity): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Upsert.recoverSwap(fs, path)
    Upsert.stagedRewrite(spark, path, newPartitionBy)(derive)
  }

  private def targetFileCount(bytes: Long, targetBytesPerFile: Long): Int =
    math.max(1, math.ceil(bytes.toDouble / targetBytesPerFile).toInt)

  /** Crash-safe whole-table compaction (unpartitioned tables). */
  def compact(
      spark: SparkSession,
      path: String,
      targetBytesPerFile: Long = 128L << 20): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Upsert.recoverSwap(fs, path)
    val n = targetFileCount(stats(spark, path).bytes, targetBytesPerFile)
    Upsert.stagedRewrite(spark, path)(_.repartition(n))
  }

  /** Crash-safe compaction + clustering: the rewrite range-partitions and
    * sorts by `cols`, so row-group min/max stats on those columns become
    * disjoint and selective — the data-skipping lever for the scan-heavy
    * queries (filters on the cluster columns read a fraction of files). */
  def clusterBy(
      spark: SparkSession,
      path: String,
      cols: Seq[String],
      targetBytesPerFile: Long = 128L << 20): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Upsert.recoverSwap(fs, path)
    val n = targetFileCount(stats(spark, path).bytes, targetBytesPerFile)
    Upsert.stagedRewrite(spark, path) { df =>
      df.repartitionByRange(n, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)
    }
  }

  /** Morton (Z-order) code column `__z` over `cols`: each column is
    * normalized to `bits` equal-width buckets from its own min/max (one
    * tiny agg pass — bounded output, never corpus-sized) and the bucket
    * bits are interleaved. Nearby points in ANY of the dimensions land
    * near each other in z, which is what makes multi-column box
    * predicates skippable — a lexicographic sort only ever prunes on
    * its leading column. Pure codegen'd integer expression per row. */
  def withZorder(df: DataFrame, cols: Seq[String], bits: Int = 8): DataFrame = {
    require(cols.nonEmpty && bits * cols.length <= 62, "z code must fit a long")
    val bexprs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val bounds = df.agg(bexprs.head, bexprs.tail: _*).head()
    var out = df
    cols.zipWithIndex.foreach { case (c, d) =>
      val mn = bounds.getDouble(2 * d)
      val mx = bounds.getDouble(2 * d + 1)
      val span = if (mx > mn) mx - mn else 1.0
      out = out.withColumn(s"__b$d",
        least(lit((1 << bits) - 1), greatest(lit(0),
          floor((col(c).cast("double") - lit(mn)) / lit(span) * lit(1 << bits)).cast("int"))))
    }
    val terms = for (i <- 0 until bits; d <- cols.indices)
      yield s"shiftleft(shiftright(__b$d, $i) & 1, ${i * cols.length + d})"
    out.withColumn("__z", expr(terms.mkString("CAST(", " + ", " AS BIGINT)")))
      .drop(cols.indices.map(d => s"__b$d"): _*)
  }

  /** Crash-safe compaction + Z-ORDER clustering: the rewrite range-
    * partitions and sorts by the interleaved code, so row-group min/max
    * stats become selective on EVERY clustered column at once — the
    * layout for tables filtered by multi-dimensional boxes (time ×
    * tenant, lat × lon, x × y), where [[clusterBy]]'s lexicographic
    * order prunes only the leading column. */
  def zorderBy(
      spark: SparkSession,
      path: String,
      cols: Seq[String],
      bits: Int = 8,
      targetBytesPerFile: Long = 128L << 20): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Upsert.recoverSwap(fs, path)
    val n = targetFileCount(stats(spark, path).bytes, targetBytesPerFile)
    Upsert.stagedRewrite(spark, path) { df =>
      withZorder(df, cols, bits)
        .repartitionByRange(n, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
    }
  }

  /** Compact only fragmented partitions of a partitioned table: each
    * partition directory with more than `maxFilesPerPartition` files is
    * rewritten in place via dynamic partition overwrite. Untouched
    * partitions keep their files byte-for-byte. */
  def compactPartitioned(
      spark: SparkSession,
      path: String,
      partitionBy: Seq[String],
      maxFilesPerPartition: Int = 8,
      targetBytesPerFile: Long = 128L << 20): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal a prior interrupted compaction FIRST: a complete leftover
    // stage is rolled forward (partitions may be partially deleted and
    // the stage holds their only full copy), an incomplete one discarded
    Upsert.recoverPartitionedStage(spark, path, partitionBy)
    // partition dirs = depth-|partitionBy| subdirectories (hive layout)
    def partitions(dir: org.apache.hadoop.fs.Path, depth: Int): Seq[org.apache.hadoop.fs.Path] =
      if (depth == 0) Seq(dir)
      else fs.listStatus(dir).filter(_.isDirectory)
        .flatMap(s => partitions(s.getPath, depth - 1)).toSeq
    val fragmented = partitions(root, partitionBy.length).filter { p =>
      fs.listStatus(p).count(f => f.getPath.getName.endsWith(".parquet")) > maxFilesPerPartition
    }
    if (fragmented.nonEmpty) {
      // ONE job for every fragmented partition: read just those dirs
      // (basePath keeps the partition columns), hash-repartition on the
      // partition columns so each partition lands in one task → one
      // file, stage, then dynamic-overwrite only those partitions.
      val df = Tables.parquet(spark, fragmented.map(_.toString), basePath = Some(path))
      val stage = new org.apache.hadoop.fs.Path(path + "__stage")
      fs.delete(stage, true)
      df.repartition(fragmented.size, partitionBy.map(col): _*)
        .write.mode(SaveMode.Overwrite).parquet(stage.toString)
      Upsert.applyPartitionedStage(spark, path, partitionBy)
    }
    fragmented.map(_.toString)
  }
}
