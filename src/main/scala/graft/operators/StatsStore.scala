package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
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
  * MERGEABLE: the whole-table distinct count ([[ndvGlobal]]) folds the
  * per-partition registers with an element-wise max instead of
  * rescanning anything, and a refresh recomputes registers only for
  * the changed partitions. [[estimateJoinRows]] is the CBO consumer:
  * the textbook |A⋈B| ≈ |A|·|B| / max(ndv) estimate straight off two
  * stats stores. */
object StatsStore {

  private def aggs(cols: Seq[String]): Seq[Column] =
    (count(lit(1)).as("rows") +:
      cols.flatMap { c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
          count(when(col(c).isNull, 1)).as(s"nulls_$c"))
      })

  /** One row per partition: a dense 256-slot register array per tracked
    * column (absent bucket = 0). Dense arrays make row equality
    * deterministic (a map's iteration order is not) and let the
    * estimate's harmonic sum run without an absent-register correction
    * (slot 0 contributes exactly the 2^40 an empty register should). */
  private def ndvRegCols(df: DataFrame, partCol: String, cols: Seq[String]): DataFrame =
    cols.map { c =>
      HllSketch.registers(
          df.select(col(partCol), col(c)).filter(col(c).isNotNull),
          Seq(partCol), col(c))
        .groupBy(col(partCol))
        .agg(map_from_entries(collect_list(struct(col("bkt"), col("mr")))).as("m"))
        .select(col(partCol), expr(
          "transform(sequence(0, 255), i -> coalesce(element_at(m, i), CAST(0 AS BIGINT)))")
          .as(s"ndv_regs_$c"))
    }.reduce(_.join(_, Seq(partCol), "full_outer"))

  /** The stats rows for `df`: one row per `partCol` value carrying the
    * exact row/min/max/null counts plus a 256-slot NDV register array
    * per tracked column. This is the single computation every stats
    * surface shares — [[rebuild]]/[[refreshPartitions]] land it as a
    * plain parquet store; [[VersionedStats]] commits it transactionally
    * WITH its table. */
  def statsRows(df: DataFrame, partCol: String, cols: Seq[String]): DataFrame = {
    val a = aggs(cols)
    df.groupBy(col(partCol))
      .agg(a.head, a.tail: _*)
      .join(ndvRegCols(df, partCol, cols), Seq(partCol), "left_outer")
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
    * values (the upsert's affected set) and dynamically overwrite just
    * those stats rows — every other partition's stats ride untouched.
    * Cost: a partition-pruned scan of the changed slice + a k-row
    * write. */
  def refreshPartitions(
      spark: SparkSession,
      tablePath: String,
      statsPath: String,
      partCol: String,
      cols: Seq[String],
      changed: Seq[Any]): Unit = {
    if (changed.isEmpty) return
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val slice = Tables.parquet(spark, tablePath)
        .filter(col(partCol).isin(changed: _*)) // partition-pruned scan
      statsRows(slice, partCol, cols)
        .write.mode(SaveMode.Overwrite).partitionBy(partCol)
        .parquet(statsPath)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // Dynamic overwrite cannot express "now empty": a changed partition
    // whose recomputed slice has ZERO rows emits no file, so its stale
    // stats row would ride along and break the incremental-equals-
    // rebuild contract after deletes/scrubs. Diff the changed set
    // against the values actually present (k-value column-pruned probe)
    // and drop the stale stats subdirectories explicitly.
    val present = Tables.parquet(spark, tablePath)
      .filter(col(partCol).isin(changed: _*))
      .select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val gone = changed.map(String.valueOf).filterNot(present.contains)
    if (gone.nonEmpty) {
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
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

  /** Whole-table NDV for `c` by MERGING the per-partition registers
    * (element-wise max) — the refresh-free path: no rescan of any
    * partition, just a k×256-row fold of the stats rows. Returns
    * (nz, ndv_est), one row. */
  def ndvGlobal(stats: DataFrame, c: String): DataFrame =
    stats.select(posexplode(col(s"ndv_regs_$c")).as(Seq("bkt", "mr")))
      .groupBy(col("bkt")).agg(max(col("mr")).as("mr"))
      .agg(count(when(col("mr") > 0, 1)).as("nz"),
        sum(expr("CAST(pow(2, 40 - mr) AS BIGINT)")).as("isum"))
      .select(col("nz"),
        when(col("nz") === 0, lit(0.0))
          .otherwise(expr(s"${HllSketch.alphaNum} / CAST(isum AS DOUBLE)"))
          .as("ndv_est"))

  /** CBO consumer: equi-join output-size estimate |A ⋈ B| ≈
    * |A|·|B| / max(ndv_A, ndv_B) straight off two stats stores — the
    * estimate a join planner reads BEFORE touching either table.
    * Driver-sized: two 1-row aggregates over k stats rows each. */
  def estimateJoinRows(
      spark: SparkSession,
      statsPathA: String, colA: String,
      statsPathB: String, colB: String): Double = {
    def side(path: String, c: String): (Long, Double) = {
      val st = read(spark, path)
      val rowsRow = st.agg(sum(col("rows"))).collect()(0)
      require(!rowsRow.isNullAt(0),
        s"stats store at $path is empty — rebuild it before estimating")
      val ndv = ndvGlobal(st, c).collect()(0).getDouble(1)
      (rowsRow.getLong(0), ndv)
    }
    val (ra, na) = side(statsPathA, colA)
    val (rb, nb) = side(statsPathB, colB)
    val maxNdv = math.max(na, nb)
    if (maxNdv <= 0.0) 0.0 else ra.toDouble * rb.toDouble / maxNdv
  }
}
