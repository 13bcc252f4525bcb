package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.types.StructType

/** Access to Spark's `private[parquet]` footer reader and schema
  * conversion, so a parquet table's schema can be resolved on the
  * driver (see `graft.Tables.parquet`). */
object GraftFooter {

  /** The data schema `spark.read.options(options).parquet(paths: _*)`
    * infers, found by Spark's own rule (`ParquetUtils.inferSchema`
    * without schema merging): the paths are globbed and listed as a read
    * globs and lists them (`basePath` included), the file touched is a
    * `_common_metadata`, else a `_metadata`, else the first data file in
    * path order, and its footer is converted as the inference task
    * converts it, under the session's conf. Spark runs that one footer
    * read as a one-task job; here it is one listing and one footer read
    * on the driver, and no job. `None` when Spark would merge schemas or
    * has no file to take a schema from — the caller then leaves the read
    * to Spark, which raises its own error. */
  def dataSchema(spark: SparkSession, paths: Seq[String],
      options: Map[String, String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val roots = paths.flatMap { p =>
      val path = new Path(p)
      SparkHadoopUtil.get.globPathIfNecessary(path.getFileSystem(hadoopConf), path)
    }
    val files = new InMemoryFileIndex(spark, roots, options, None)
      .allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    def named(n: String) = files.find(_.getPath.getName == n)
    val touch = named(summaries(0)).orElse(named(summaries(1)))
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    touch.flatMap { f =>
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      ParquetFileFormat
        .readParquetFootersInParallel(hadoopConf, Seq(f), conf.ignoreCorruptFiles)
        .headOption.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
    }
  }
}
