package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare (tools/check.py).
  *
  *   sbt "runMain graft.Verify <sfDir> <outDir>"
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val steps = RegistryRun.steps(Nil)
    val spark = RegistryRun.session()
    new java.io.File(outDir).mkdirs()
    RegistryRun.run(spark, sfDir, steps) { (q, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
    }
    val json = JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), compact(render(json)))
    spark.stop()
  }
}
