package graft

/** Dev plan-dump main (guide §7.2): writes each named query's
  * `.explain("formatted")` output to `<outDir>/<query>_<tag>.txt` so
  * optimization rounds can commit before/after plan evidence without
  * hand-copying console output.
  *
  *   SPARK_GRAFT_SF_DIR=<fixture dir> \
  *     sbt "runMain graft.Explain plans/r13 after v22_hnsw g20_hyperball"
  *
  * Steps after the tag are run-loop steps: query names and inline conf
  * pokes ("set:key=value") at any position.
  */
object Explain {

  /** `df`'s formatted plan in full. The session caps plan strings at
    * `spark.sql.maxPlanStringLength`, read from the thread's active
    * session; the render lifts that cap on `df`'s own session, made
    * active, to Spark's largest accepted length, so a plan file never
    * loses the part past the cut. */
  def render(df: org.apache.spark.sql.DataFrame): String = {
    val s = df.sparkSession
    org.apache.spark.sql.graftbridge.withActive(s) {
      GraftSession.withConf(s, "spark.sql.maxPlanStringLength" ->
        org.apache.spark.unsafe.array.ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH.toString) {
        df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Explain <outDir> <tag> [set:k=v|query]...")
    val Array(outDir, tag) = args.take(2)
    val steps = RegistryRun.steps(args.toSeq.drop(2))
    val sfDir = RegistryRun.sfDir
    val spark = RegistryRun.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    RegistryRun.run(spark, sfDir, steps) { (q, df) =>
      val plan = render(df)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, s"${q.name}_$tag.txt"), plan)
      println(s"[explain] wrote $outDir/${q.name}_$tag.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
