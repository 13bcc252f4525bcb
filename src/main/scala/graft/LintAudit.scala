package graft

import graft.plans.PlanLint

/** Registry-wide plan audit: runs [[PlanLint]] (logical + physical
  * rules) over every registered query (or the steps given as arguments
  * or in SPARK_GRAFT_ONLY) and prints the findings — the standing answer
  * to "would this plan survive a 100× scale-up?". Queries whose
  * construction runs jobs, commits or streams run them in the run's
  * scratch, as Bench does. Exits 1 on any fatal finding or any query
  * that could not be built and linted.
  *
  *   SPARK_GRAFT_SF_DIR=<fixture dir> sbt "runMain graft.LintAudit"
  */
object LintAudit {
  def main(args: Array[String]): Unit = {
    val steps = RegistryRun.steps(args.toSeq)
    val sfDir = RegistryRun.sfDir
    val spark = RegistryRun.session()
    var fatals = 0
    val rows = RegistryRun.run(spark, sfDir, steps) { (q, df) =>
      val fs = PlanLint.lint(df).filterNot(_.severity == "info")
      fatals += fs.count(_.severity == "fatal")
      if (fs.nonEmpty) println(s"${q.name}:\n  ${fs.mkString("\n  ")}")
      else println(s"${q.name}: clean")
    }
    val unlinted = rows.filterNot(_.outcome.isInstanceOf[RegistryRun.Measured]).map(_.name)
    println(s"[lint] fatal findings: $fatals; queries not linted: ${unlinted.size} ${unlinted.mkString(",")}")
    spark.stop()
    if (fatals > 0 || unlinted.nonEmpty) sys.exit(1)
  }
}
