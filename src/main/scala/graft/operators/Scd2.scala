package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Slowly-changing-dimension Type-2 history maintenance — the warehouse
  * counterpart of the reference's keyed upserts (SURVEY §2.2): instead
  * of overwriting, every attribute change opens a new version row with
  * `[valid_from, valid_to)` validity and the open row marked current.
  *
  * Scale design: `fromChangeLog` is one window over the change log
  * (shuffle by key, sort by time — the minimum possible for
  * versioning); `applyDelta` is the incremental path and touches ONLY
  * keys present in the delta: untouched keys' rows stream through an
  * anti-join unmodified, closed history of affected keys is carried
  * verbatim, and the per-key window re-runs over just (open row ∪ delta
  * rows). At 100 TB the nightly increment costs O(delta ∪ open rows of
  * delta keys), never O(history).
  */
object Scd2 {

  /** Build a fresh SCD2 history from a change log.
    *
    * @param log      change-log rows: key cols + order cols + attr cols
    * @param key      entity key columns
    * @param order    total-order columns within a key (e.g. ts, seq id)
    * @param attrs    tracked attribute columns; consecutive rows with
    *                 unchanged attrs collapse into one version
    * @param validCol the order column whose value becomes
    *                 valid_from/valid_to (typically the timestamp)
    */
  def fromChangeLog(
      log: DataFrame,
      key: Seq[String],
      order: Seq[String],
      attrs: Seq[String],
      validCol: String): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(order.map(col): _*)
    val attrStruct = struct(attrs.map(col): _*)
    // keep only genuine changes (null-safe: first row always changes)
    val changes = log
      .withColumn("__prev", lag(attrStruct, 1).over(w))
      .filter(not(attrStruct <=> col("__prev")))
      .drop("__prev")
    changes
      .withColumn("valid_from", col(validCol))
      .withColumn("valid_to", lead(col(validCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((key ++ attrs ++ Seq("valid_from", "valid_to", "is_current")).map(col): _*)
  }

  /** Merge a new batch of change-log rows into an existing history.
    *
    * Contract: every delta row's order position is >= any history row of
    * the same key (deltas are forward-only, the streaming/incremental
    * case). The open row of each affected key re-enters the window as a
    * pseudo change-log row at its original valid_from, so change
    * collapse across the batch boundary and the close-out of superseded
    * open rows both fall out of the same `fromChangeLog` pass.
    */
  def applyDelta(
      history: DataFrame,
      delta: DataFrame,
      key: Seq[String],
      order: Seq[String],
      attrs: Seq[String],
      validCol: String): DataFrame = {
    val keyCols = key.map(col)
    val affected = delta.select(keyCols: _*).distinct()
    val untouched = history.join(affected, key, "left_anti")
    val affectedHist = history.join(affected, key, "left_semi")
    val closed = affectedHist.filter(!col("is_current"))
    // open rows re-enter as pseudo log rows at their valid_from; order
    // columns beyond validCol are neutralized (min-valued) so a delta
    // row at the same instant sorts after its open row
    val orderRest = order.filterNot(_ == validCol)
    val openAsLog = affectedHist.filter(col("is_current"))
      .select((key.map(col) ++ Seq(col("valid_from").as(validCol)) ++
        orderRest.map(c => lit(null).cast(delta.schema(c).dataType).as(c)) ++
        attrs.map(col)): _*)
    val rebuilt = fromChangeLog(
      openAsLog.unionByName(delta.select((key ++ order ++ attrs).map(col): _*)),
      key, order, attrs, validCol)
    untouched.unionByName(closed.unionByName(rebuilt))
  }

  /** Maintain an SCD2 history table at `path` from a micro-batched
    * change stream: each batch folds in via [[applyDelta]] under
    * Upsert's crash-safe staged swap.
    *
    * Replay safety is NOT structural: a redelivered batch holding >= 2
    * changes for one key would re-create the closed versions the first
    * delivery already produced (they ride through `closed` verbatim AND
    * get rebuilt from the replayed delta), duplicating history rows. So
    * the history rows carry a [[ReplayGuard]] marker — last folded batch
    * id plus the checkpoint's durable run id, committed atomically with
    * the fold by the staged swap — and a batch already folded by this
    * run is skipped outright. A fresh checkpoint (ids restart at 0) is
    * recognized by its new run id and folds normally. */
  def streamingScd2(
      stream: DataFrame,
      path: String,
      key: Seq[String],
      order: Seq[String],
      attrs: Seq[String],
      validCol: String,
      checkpoint: String): StreamingQuery =
    ReplayGuard.foldSink(stream, path, checkpoint) { (history, batch) =>
      history.fold(fromChangeLog(batch, key, order, attrs, validCol))(
        applyDelta(_, batch, key, order, attrs, validCol))
    }
}
