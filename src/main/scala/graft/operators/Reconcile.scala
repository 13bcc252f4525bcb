package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Source↔target table reconciliation — the validation pass behind every
  * migration, backfill, and replication pipeline: classify every key as
  * MATCH / MISMATCH / MISSING_IN_TARGET / EXTRA_IN_TARGET and say WHICH
  * columns drifted.
  *
  * Shape at scale: ONE full-outer sort-merge join on the key (both
  * sides shuffle once on the same partitioning — the minimum possible
  * for an exact diff), column comparison with null-safe equality inside
  * the fused post-join stage, and the per-class rollup partial-
  * aggregates before its exchange. No checksums-by-sampling: at 100 TB
  * the join IS affordable (it's the same cost as the copy being
  * validated), and exactness is the point of a reconciliation gate.
  */
object Reconcile {

  /** Per-key reconciliation rows: key columns, `status`, and
    * `diff_cols` (comma-joined names of drifted columns, empty for
    * non-MISMATCH rows). `compareCols` are checked with null-safe
    * equality (<=>), so a NULL↔value drift is a MISMATCH, not a MATCH.
    */
  def compare(
      source: DataFrame,
      target: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "no key columns")
    require(compareCols.nonEmpty, "no compare columns")
    val s = source.select((keys ++ compareCols).map(col): _*).alias("s")
    val t = target.select((keys ++ compareCols).map(col): _*).alias("t")
    val on = keys.map(k => col(s"s.$k") === col(s"t.$k")).reduce(_ && _)
    val joined = s.join(t, on, "full_outer")
    val inSource = col(s"s.${keys.head}").isNotNull
    val inTarget = col(s"t.${keys.head}").isNotNull
    val diffs = compareCols.map { c =>
      when(!(col(s"s.$c") <=> col(s"t.$c")), lit(c)).otherwise(lit(null))
    }
    val diffCols = concat_ws(",", diffs: _*)
    val status = when(!inTarget, lit("MISSING_IN_TARGET"))
      .when(!inSource, lit("EXTRA_IN_TARGET"))
      .when(diffCols =!= "", lit("MISMATCH"))
      .otherwise(lit("MATCH"))
    val keyOut = keys.map(k => coalesce(col(s"s.$k"), col(s"t.$k")).as(k))
    joined.select(keyOut ++ Seq(status.as("status"),
      when(inSource && inTarget, diffCols).otherwise(lit("")).as("diff_cols")): _*)
  }

  /** One row per (status, diff_cols) with exact counts — the audit
    * summary a gate thresholds on. */
  def summarize(reconciled: DataFrame): DataFrame =
    reconciled.groupBy(col("status"), col("diff_cols"))
      .agg(count(lit(1)).as("n"))

  /** SCHEMA drift between two landed tables — the metadata half of
    * reconciliation ([[compare]] audits values; this audits structure):
    * one row per column that exists in either table, classified as
    * `added` (target only), `removed` (source only), `retyped` (both,
    * different type), or `unchanged`. Types are Spark `simpleString`s
    * read from the parquet footers — the whole audit is metadata-only
    * and costs the same at 100 TB as at 100 rows. The classic consumers:
    * a contract gate before a schema-evolving merge ([[Upsert
    * .mergeEvolve]] only ADDS columns — `removed`/`retyped` rows are
    * exactly what it refuses to absorb silently), and a migration
    * acceptance check next to [[compare]]'s row diff. */
  def schemaDiff(spark: SparkSession, sourcePath: String, targetPath: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    def types(p: String): Map[String, String] =
      Tables.parquet(spark, p).schema.fields
        .map(f => f.name -> f.dataType.simpleString).toMap
    val a = types(sourcePath)
    val b = types(targetPath)
    val rows = (a.keySet ++ b.keySet).toSeq.sorted.map { c =>
      val change = (a.get(c), b.get(c)) match {
        case (Some(_), None) => "removed"
        case (None, Some(_)) => "added"
        case (Some(x), Some(y)) if x != y => "retyped"
        case _ => "unchanged"
      }
      org.apache.spark.sql.Row(c, change, a.get(c).orNull, b.get(c).orNull)
    }
    spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("col_name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("change",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("type_source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("type_target",
        org.apache.spark.sql.types.StringType))))
  }
}
