package graft.operators

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.util.QueryExecutionListener

/** Pipeline observability — the engine-grade form of the reference's
  * per-stage count logging (`Fetched N` / `Prepared N` / `Upserted N`,
  * e.g. src/etl-square-orders.ts:179,193,215). `Dataset.observe` attaches
  * named aggregates to a plan; they're computed DURING the action (no
  * extra pass over the data, unlike a separate .count()) and delivered to
  * a listener when the action finishes.
  */
object Observability {

  /** Attach row/reject counters to a frame: total rows seen and rows
    * failing `valid` — evaluated inline with whatever action runs the
    * frame. */
  def observed(df: DataFrame, name: String, valid: org.apache.spark.sql.Column): DataFrame =
    df.observe(name,
      count(lit(1)).as("rows"),
      count(when(!coalesce(valid, lit(false)), 1)).as("rejects"))

  /** Collects observation results per metric name for a session: the
    * non-NULL `LongType` fields of each observation (the row counters);
    * fields of any other type, such as a `max(ts)` timestamp or a
    * `collect_set` array, are skipped. */
  final class MetricsCollector extends QueryExecutionListener {
    val metrics = TrieMap.empty[String, Map[String, Long]]

    private def capture(qe: QueryExecution): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        metrics.update(name, row.schema.fields.zipWithIndex.collect {
          case (f, i) if f.dataType == LongType && !row.isNullAt(i) => f.name -> row.getLong(i)
        }.toMap)
      }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      capture(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      capture(qe)
  }

  def register(spark: SparkSession): MetricsCollector = {
    val c = new MetricsCollector
    spark.listenerManager.register(c)
    c
  }
}
