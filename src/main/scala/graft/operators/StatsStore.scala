package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import graft.Tables

/** Incremental per-PARTITION table statistics — the ANALYZE that scales:
  * a 100 TB table's stats must refresh in O(changed partitions), never
  * O(table), or nobody runs ANALYZE and every optimizer estimate goes
  * stale. The store keeps one row per partition value (row count plus
  * min/max/null-count per tracked column — the zone-map/CBO feed), laid
  * out as parquet PARTITIONED BY the same key, so refreshing a subset of
  * partitions is a dynamic partition overwrite of exactly those stats
  * rows: the write-side analog of the keyed upsert's affected-set
  * discipline (the upsert already KNOWS its affected partitions — pass
  * them straight in).
  *
  * Stats are exact integers/values (counts, min, max), so an
  * incremental refresh after a change converges to bit-identical stats
  * with a from-scratch rebuild — which is what the k37 gate hash-proves.
  *
  * NDV: each stats row also carries a dense 256-slot [[HllSketch]]
  * register array per tracked column (`ndv_regs_<c>`) — registers are
  * md5-derived and max-merged, so they are as deterministic as the
  * min/max columns (incremental ≡ rebuild holds bit-for-bit) and
  * MERGEABLE: the whole-table distinct count ([[summary]]) folds the
  * per-partition registers with an element-wise max instead of
  * rescanning anything, and a refresh recomputes registers only for
  * the changed partitions. [[estimateJoinRows]] is the CBO consumer:
  * the textbook |A⋈B| ≈ |A|·|B| / max(ndv) estimate straight off two
  * stats stores. */
object StatsStore {

  /** The directory value Spark writes a NULL partition value under. */
  private val DefaultPartition = ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  private def aggs(cols: Seq[String]): Seq[Column] =
    (count(lit(1)).as("rows") +:
      cols.flatMap { c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
          count(when(col(c).isNull, 1)).as(s"nulls_$c"))
      })

  private val denseRegisters = udaf(new DenseRegisters, Encoders.INT)

  /** The stats rows for `df`: one row per `partCol` value carrying the
    * exact row/min/max/null counts plus a dense 256-slot NDV register
    * array per tracked column (absent bucket = 0; NULL when the column
    * has no non-NULL value in that partition). Dense arrays make row
    * equality deterministic (a map's iteration order is not) and let
    * the estimate's harmonic sum run without an absent-register
    * correction (slot 0 contributes exactly the 2^40 an empty register
    * should). One aggregate computes the whole row: each value's packed
    * register update ([[HllSketch.slot]]) is projected before it, so the
    * write costs one partial-aggregated shuffle on `partCol`.
    *
    * This is the single computation every stats surface shares —
    * [[rebuild]]/[[refreshPartitions]] land it as a plain parquet store;
    * [[VersionedStats]] commits it transactionally WITH its table. */
  def statsRows(df: DataFrame, partCol: String, cols: Seq[String]): DataFrame = {
    val slots = cols.map(c => HllSketch.slot(col(c)).as(s"__slot_$c"))
    val a = aggs(cols) ++
      cols.map(c => denseRegisters(col(s"__slot_$c")).as(s"ndv_regs_$c"))
    df.select((partCol +: cols).distinct.map(col) ++ slots: _*)
      .groupBy(col(partCol))
      .agg(a.head, a.tail: _*)
  }

  /** Full rebuild: one column-pruned scan, one partition-grained
    * partial-agg shuffle, stats landed partitioned by `partCol`. */
  def rebuild(
      spark: SparkSession,
      tablePath: String,
      statsPath: String,
      partCol: String,
      cols: Seq[String]): Unit =
    statsRows(Tables.parquet(spark, tablePath), partCol, cols)
      .write.mode(SaveMode.Overwrite).partitionBy(partCol)
      .parquet(statsPath)

  /** Incremental refresh: recompute stats ONLY for `changed` partition
    * values (the upsert's affected set, NULL included) and dynamically
    * overwrite just those stats rows — every other partition's stats
    * ride untouched. Cost: a partition-pruned scan of the changed slice
    * + a k-row write, two jobs (the aggregate's shuffle and the write). */
  def refreshPartitions(
      spark: SparkSession,
      tablePath: String,
      statsPath: String,
      partCol: String,
      cols: Seq[String],
      changed: Seq[Any]): Unit = {
    if (changed.isEmpty) return
    // Dynamic overwrite cannot express "now empty": a changed partition
    // whose recomputed slice has ZERO rows emits no file, so its stale
    // stats row would ride along and break the incremental-equals-
    // rebuild contract after deletes/scrubs. The partition directories
    // actually written ride the stats write as an Observation (one stats
    // row per present value, so the set holds at most |changed| values);
    // the stale stats subdirectories are then dropped explicitly. A NULL
    // value is matched null-safely and lives in Spark's default-partition
    // directory.
    val obs = org.apache.spark.sql.Observation()
    val dirName = coalesce(col(partCol).cast("string"), lit(DefaultPartition))
    val slice = Tables.parquet(spark, tablePath)
      .filter(Upsert.inPartitions(Seq(partCol), changed.map(Seq(_)))) // partition-pruned scan
    statsRows(slice, partCol, cols)
      .observe(obs, collect_set(dirName).as("present"))
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(statsPath)
    val present = obs.get("present").asInstanceOf[scala.collection.Seq[String]].toSet
    val gone = changed.map(v => if (v == null) DefaultPartition else String.valueOf(v))
      .filterNot(present.contains)
    if (gone.nonEmpty) {
      import org.apache.hadoop.fs.Path
      val root = new Path(statsPath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      gone.foreach { v =>
        fs.delete(new Path(root, s"$partCol=${ExternalCatalogUtils.escapePathName(v)}"), true)
      }
    }
  }

  /** The current stats table (one row per partition). */
  def read(spark: SparkSession, statsPath: String): DataFrame =
    Tables.parquet(spark, statsPath)

  /** Per-partition NDV estimates for `c` from the stored registers:
    * (partCol, nz, ndv_est). Partitions whose column is entirely null
    * estimate 0. */
  def ndvPerPartition(stats: DataFrame, partCol: String, c: String): DataFrame =
    stats.select(col(partCol), col(s"ndv_regs_$c").as("r"))
      .select(col(partCol),
        coalesce(expr("size(filter(r, x -> x > 0))"), lit(0)).as("nz"),
        expr("aggregate(r, CAST(0 AS BIGINT), (acc, x) -> acc + CAST(pow(2, 40 - x) AS BIGINT))")
          .as("isum"))
      .withColumn("ndv_est",
        when(col("nz") === 0, lit(0.0))
          .otherwise(expr(s"${HllSketch.alphaNum} / CAST(isum AS DOUBLE)")))
      .drop("isum")

  /** Merged NDV of one tracked column: `nz` non-zero registers and the
    * raw HLL estimate (0 when no register is set). */
  final case class Ndv(nz: Long, est: Double)

  /** A stats store's totals: `rows` summed over its stats rows (None
    * when the store holds no row, as SQL's `sum` reads NULL) and the
    * merged [[Ndv]] of each requested column. */
  final case class Summary(rows: Option[Long], ndv: Map[String, Ndv])

  /** The one way to read a stats store's totals: ONE collect of the k
    * stats rows (`rows` plus only the requested `ndv_regs_<c>` arrays;
    * one job inside a SQL execution, no shuffle), then the register
    * max-merge and the harmonic estimate on the driver: element-wise
    * max with NULL arrays skipped, isum = Σ trunc(2^(40−mr)) in 64-bit
    * integers, ndv = alpha / isum — the oracle SQL's arithmetic
    * ([[HllSketch.sqlEstimate]]), bit for bit.
    *
    * Driver-sized by contract: the driver receives k rows × 256 longs
    * per requested column, k being the store's row count (one row per
    * partition) — ~20 MB for one column of a 10,000-partition table. */
  def summary(stats: DataFrame, cols: Seq[String]): Summary = {
    val picked = stats.select(
      (col("rows").cast("long") +: cols.map(c => col(s"ndv_regs_$c"))): _*)
      .collect()
    val rows =
      if (picked.isEmpty) None
      else Some(picked.iterator.map(r => if (r.isNullAt(0)) 0L else r.getLong(0)).sum)
    val ndv = cols.zipWithIndex.map { case (c, i) =>
      val merged = new Array[Long](256)
      picked.foreach { r =>
        if (!r.isNullAt(i + 1)) {
          val a = r.getSeq[Long](i + 1)
          var b = 0
          while (b < 256) { if (a(b) > merged(b)) merged(b) = a(b); b += 1 }
        }
      }
      var isum = 0L
      var nz = 0L
      merged.foreach { mr =>
        if (mr > 0L) nz += 1
        isum += math.pow(2.0, (40L - mr).toDouble).toLong
      }
      c -> Ndv(nz, if (nz == 0) 0.0 else HllSketch.alphaNumValue / isum.toDouble)
    }.toMap
    Summary(rows, ndv)
  }

  /** CBO consumer: equi-join output-size estimate |A ⋈ B| ≈
    * |A|·|B| / max(ndv_A, ndv_B) straight off two stats stores — the
    * estimate a join planner reads BEFORE touching either table. Each
    * side is a store's path (named when the store is empty) and its
    * [[summary]] fold over at least the join column, so a caller that
    * already holds a store's fold reads it once; the estimate itself
    * starts no job. */
  def estimateJoinRows(
      statsPathA: String, a: Summary, colA: String,
      statsPathB: String, b: Summary, colB: String): Double = {
    def side(path: String, s: Summary, c: String): (Long, Double) = {
      require(s.rows.isDefined,
        s"stats store at $path is empty — rebuild it before estimating")
      (s.rows.get, s.ndv(c).est)
    }
    val (ra, na) = side(statsPathA, a, colA)
    val (rb, nb) = side(statsPathB, b, colB)
    val maxNdv = math.max(na, nb)
    if (maxNdv <= 0.0) 0.0 else ra.toDouble * rb.toDouble / maxNdv
  }
}
