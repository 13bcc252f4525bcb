package graft

import java.nio.file.Files
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Upsert

/** `Tables.parquet` reads a parquet table exactly as `spark.read.parquet`
  * does — same schema (names, types, nullability, order), same rows, same
  * error when there is nothing to read — but resolves the schema on the
  * driver, so it starts no Spark job where Spark's inference starts one. */
class TablesParquetSpec extends SparkSpec {
  import spark.implicits._

  private def tempTable(): String =
    Files.createTempDirectory("graft-tables").toString + "/t"

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case v => v
  }.toString).toSeq.sorted

  private def assertSameAsSpark(path: String): Unit =
    assertSame(path, Tables.parquet(spark, path), spark.read.parquet(path))

  private def assertSame(what: String, ours: => DataFrame, theirs: => DataFrame): Unit = {
    // StructType equality covers names, types, nullability, metadata and order
    assert(ours.schema === theirs.schema, what)
    assert(rows(ours) === rows(theirs), what)
    assert(jobsOf(ours).isEmpty, s"$what: the helper started a job")
    assert(jobsOf(theirs).size === 1, s"$what: Spark's inference job")
  }

  test("the ten fixture tables: Spark's schema and rows, no job") {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")
      .foreach(n => assertSameAsSpark(s"$sfDir/$n.parquet"))
  }

  test("an upserted unpartitioned table and one rewritten by mergeEvolve") {
    val path = tempTable()
    Upsert.upsertParquet(spark, path, Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))
    Upsert.upsertParquet(spark, path, Seq((2, "c"), (3, "d")).toDF("k", "v"), Seq("k"))
    assertSameAsSpark(path)
    val delta = Seq((3, "e", 1.5), (4, "f", 2.5)).toDF("k", "v", "w")
    Upsert.stagedRewrite(spark, path)(base => Upsert.mergeEvolve(base, delta, Seq("k")))
    assert(Tables.parquet(spark, path).columns.toSeq === Seq("k", "v", "w"))
    assertSameAsSpark(path)
  }

  test("a partitioned table with a timestamp-NTZ and an all-NULL column") {
    val path = tempTable()
    Seq((1L, "O", 10L), (2L, "F", 20L), (3L, "O", 30L), (4L, "P", 40L))
      .toDF("o_orderkey", "st", "k")
      .withColumn("seen", to_timestamp_ntz(lit("2024-03-01 10:00:00")))
      .withColumn("note", lit(null).cast("string"))
      .write.partitionBy("st").parquet(path)
    val delta = Tables.parquet(spark, path).filter(col("st") === "O")
      .withColumn("k", col("k") + lit(1000000L))
    Upsert.upsertParquet(spark, path, delta, Seq("o_orderkey"), partitionBy = Seq("st"))
    assert(Tables.parquet(spark, path).columns.last === "st")
    assertSameAsSpark(path)
  }

  test("a file written outside Spark: TIMESTAMP(NANOS) under nanosAsLong, plain binary") {
    // no Spark schema in the footer, so the schema comes from the
    // session's parquet conversion rules
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-tables-nanos").toString
    val schema = MessageTypeParser.parseMessageType("message m { " +
      "required int64 ts (TIMESTAMP(NANOS,false)); optional binary raw; optional binary name (STRING); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1709287200123456789L).append("raw", "ab").append("name", "x"))
    finally w.close()
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assertSameAsSpark(dir)
    assert(Tables.parquet(spark, dir).schema.map(_.dataType.simpleString) === Seq("bigint", "binary", "string"))
  }

  test("several directories under a basePath, a glob, and a list of files") {
    val root = Files.createTempDirectory("graft-tables-gen").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$root/__gen=1/__p=x")
    Seq((3L, "c")).toDF("k", "v").write.parquet(s"$root/__gen=2/__p=y")
    val dirs = Seq(s"$root/__gen=2/__p=y", s"$root/__gen=1/__p=x")
    assertSame("basePath", Tables.parquet(spark, dirs, basePath = Some(root)),
      spark.read.option("basePath", root).parquet(dirs: _*))
    assert(Tables.parquet(spark, dirs, basePath = Some(root)).columns.toSeq === Seq("k", "v", "__gen", "__p"))
    assertSame("glob", Tables.parquet(spark, Seq(s"$root/*/*"), basePath = Some(root)),
      spark.read.option("basePath", root).parquet(s"$root/*/*"))
    val files = dirs.flatMap(d => new java.io.File(d).listFiles().map(_.getPath).filter(_.endsWith(".parquet")))
    assertSame("files", Tables.parquet(spark, files), spark.read.parquet(files: _*))
  }

  test("a directory with no data file fails with Spark's own error") {
    val empty = Files.createTempDirectory("graft-tables-empty").toString
    new java.io.File(empty, "_SUCCESS").createNewFile()
    val missing = s"$empty/absent"
    Seq(empty, missing).foreach { p =>
      val ours = intercept[AnalysisException](Tables.parquet(spark, p))
      val theirs = intercept[AnalysisException](spark.read.parquet(p))
      assert(ours.getCondition === theirs.getCondition, p)
    }
  }
}
