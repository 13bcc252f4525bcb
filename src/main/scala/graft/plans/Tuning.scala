package graft.plans

import org.apache.spark.sql.SparkSession

/** Session-scoped execution knobs for TINY-JOB operator paths.
  *
  * The transactional-index gates and the staged iterative rounds
  * (graph fixpoints, NN-descent, beam search) execute dozens of
  * sequential Spark jobs over kilobyte-scale frames: their wall is
  * job-count x scheduler fee, not data. AQE contributes nothing to
  * such plans — every shuffle is already one wave — but it
  * MATERIALIZES each shuffle stage as its own job, multiplying the
  * fee per staged round by the number of exchanges in the round's
  * plan (measured round 13: v22_hnsw 103 jobs with AQE on for ~200
  * tiny tasks).
  *
  * Deployment-shaped dial, not a semantic change: the operator graph,
  * staged files' row sets, and result hashes are unchanged (AQE only
  * re-partitions post-shuffle data); a production pipeline sets AQE
  * per-query exactly like this. Restores the previous value on exit,
  * so surrounding queries keep the session default (AQE on — correct
  * for the data-sized paths).
  */
object Tuning {

  def withoutAqe[A](s: SparkSession)(body: => A): A =
    graft.GraftSession.withConf(s, "spark.sql.adaptive.enabled" -> "false")(body)

  /** Tiny-frame shuffle sizing: kilobyte-scale staged rounds get
    * nothing from cores x shuffle tasks — each extra task is pure
    * scheduler fee (AQE-off measurement, v22: 32-partition shuffles =
    * 2,102 tasks for the same 103 stages). The dial is the partition
    * count a DEPLOYMENT would set for the operator's state size (2), same
    * contract as the streaming gates' withStatePartitions; results are
    * partitioning-independent (windows are per-key, aggregates exact). */
  def withTinyShuffles[A](s: SparkSession)(body: => A): A =
    graft.GraftSession.withConf(s,
      "spark.sql.shuffle.partitions" -> "2", "spark.sql.adaptive.enabled" -> "false")(body)
}
