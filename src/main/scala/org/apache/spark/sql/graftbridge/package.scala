package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal accessor into Spark's `private[sql]` Column ↔ Expression
  * bridge (org.apache.spark.sql.classic.ExpressionUtils), needed to
  * expose custom Catalyst expressions as user-facing Columns in Spark 4
  * (the public Column constructor was removed in 4.0).
  */
package object graftbridge {
  def columnOf(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan (Dataset.ofRows is
    * private[sql]) — needed to expose custom plan nodes as user frames. */
  def datasetOf(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Eagerly localCheckpoint `df` and return the leaf-plan frame with
    * size stats stamped from the checkpointed blocks' ACTUAL storage
    * footprint, so downstream join-strategy decisions (broadcast vs
    * sort-merge) behave as they would over a parquet round trip.
    *
    * Why this exact shape (both alternatives were measured failing,
    * round 13):
    *   - plain `persist`+count leaves the logical plan intact, so
    *     iterative operators accumulate lineage — exponentially when a
    *     round references the staged frame more than once (g17's peel
    *     loop hung the driver in Catalyst transforms; g4/g11 tripped
    *     the ambiguous-self-join analyzer). Returning the cache's
    *     InMemoryRelation as a leaf does not help: the relation prints
    *     its cached plan as `innerChildren`, so every plan STRING
    *     (SQLExecutionStart events, cache names) still compounds per
    *     round — g17 OOM'd building one such string.
    *   - stock `localCheckpoint` is a flat LogicalRDD leaf (plans stay
    *     constant-size, MultiInstanceRelation so the analyzer dedups
    *     self-joins), but its stats come from the ORIGIN plan's
    *     estimates, which for a node-sized aggregate derived from a
    *     big edge table are estimated huge — measured flipping g20's
    *     registers⋈edges broadcast join to a full sort-merge.
    *
    * So: stock eager localCheckpoint (proven row-copy + partitioning
    * preservation), then rebuild the LogicalRDD with
    * `sizeInBytes = mem+disk bytes of the checkpointed blocks` — the
    * same "actual materialized size" property a parquet read's file
    * size provides, scale-adaptive in both directions (a big staged
    * round stays big, so nothing unbroadcastable is ever hinted).
    * Deserialized block bytes overstate parquet's encoded size, which
    * only ever errs toward NOT broadcasting — the safe direction.
    * Falls back to the stock checkpoint frame if the storage info is
    * not visible (e.g. blocks already evicted). */
  def materializedLeaf(df: DataFrame): DataFrame = {
    // SERIALIZED storage so the stamped size is actual encoded bytes
    // (with spark.rdd.compress, compressed bytes — the closest
    // equivalent of the parquet file size the planner saw before),
    // not SizeEstimator's object-graph estimate, which overstates a
    // deserialized block ~5x and was measured flipping g20's
    // registers⋈edges join from broadcast to sort-merge (+2.6 s)
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val spark = ds.sparkSession
    ds.queryExecution.analyzed match {
      case lr: execution.LogicalRDD =>
        spark.sparkContext.getRDDStorageInfo.find(_.id == lr.rdd.id)
          .map { info =>
            val stats = catalyst.plans.logical.Statistics(
              sizeInBytes = BigInt(math.max(info.memSize + info.diskSize, 1L)))
            classic.Dataset.ofRows(spark,
              execution.LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
                lr.outputOrdering, lr.isStreaming)(spark, Some(stats), None))
          }
          .getOrElse(ds.toDF())
      case _ => ds.toDF()
    }
  }

  /** Unpersist the checkpointed RDD under a [[materializedLeaf]] frame —
    * that leaf's own blocks, nothing else the session has persisted. */
  def releaseLeaf(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Runs `body` with `spark` as the thread's active session, so
    * `SparkSession.active` and `SQLConf.get` see it, then restores the
    * previous one (`withActive` is `private[sql]`). */
  def withActive[A](spark: SparkSession)(body: => A): A =
    spark.asInstanceOf[classic.SparkSession].withActive(body)

  /** Block until every listener (the status store included) has seen
    * every event posted so far — `listenerBus` is `private[spark]`.
    * Listener counters read after this are settled, with no sleep. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
