package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooter

/** Parquet table reads: [[parquet]], which every parquet read in the
  * engine goes through, and readers for the driver-provided fixture
  * tables (TESTDATA.md).
  *
  * All reads are plain parquet scans so Catalyst's column pruning and
  * predicate pushdown reach the file scan (verify via
  * `.explain("formatted")` → `PushedFilters` / `ReadSchema`).
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The parquet table at `path`, read with exactly the schema
    * `spark.read.parquet(path)` infers — names, types, nullability and
    * order — but with that schema resolved on the driver
    * ([[GraftFooter.dataSchema]]): Spark's inference ships one footer
    * read to a one-task job, a fee paid on every table read. Scale
    * design: the read costs one listing plus one footer read on the
    * driver, and no Spark job. Partition columns are discovered by
    * Spark as before. A path with no data file is left to
    * `spark.read.parquet`, so it fails with Spark's own error. */
  def parquet(spark: SparkSession, path: String): DataFrame = parquet(spark, Seq(path))

  /** [[parquet]] over several directories, files or glob patterns, as
    * `spark.read.parquet(paths: _*)`, with Spark's `basePath` option
    * when given. */
  def parquet(spark: SparkSession, paths: Seq[String], basePath: Option[String] = None): DataFrame = {
    val options = basePath.map("basePath" -> _).toMap
    val reader = spark.read.options(options)
    GraftFooter.dataSchema(spark, paths, options)
      .fold(reader.parquet(paths: _*))(reader.schema(_).parquet(paths: _*))
  }

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  /** events.parquet's `ts` physical type has varied across fixture
    * generations — TIMESTAMP(NANOS) (readable only as Long nanos under
    * spark.sql.legacy.parquet.nanosAsLong=true) and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (read as TIMESTAMP_NTZ). Both normalize here
    * to a plain session-UTC TIMESTAMP so every consumer (and the
    * time-function surface: unix_micros, windows, watermarks) sees one
    * type. The instants are identical to DuckDB's naive reading of the
    * same file under the session's UTC zone; nanos floor to micros,
    * which day-aligned boundary predicates agree with exactly.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = read(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}

/** One declared query: a Spark implementation plus (when SQL-expressible)
  * an equivalent ANSI SQL oracle the driver runs through DuckDB on the
  * same parquet tables. Column names MUST match between the two — the
  * driver sorts columns by name before hashing values.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle))
  def rowsOnly(name: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, None)
}
