package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tenant
import graft.operators.{SquareOps, Upsert}
import graft.sources.SquareSource

/** The six pipelines (SURVEY.md §3), each `scan → transform → keyed
  * upsert`. Transform stages are pure (graft.operators.SquareOps) and
  * testable without I/O; sinks are the idempotent keyed upsert (K1-K6,
  * SURVEY.md §2.2) onto parquet tables under `warehouseDir`.
  *
  * Upsert keys mirror the reference's ON CONFLICT clauses:
  *   pos_payments    (tenant_id, provider, payment_id)              [K1 :82]
  *   pos_order_items (tenant_id, provider, order_id, line_item_uid) [K2 :127]
  *   pos_catalog     (tenant, provider, account, catalog_object_id) [K3 :91]
  *   pos_inventory   (… catalog_object_id, location_id, state)      [K4 :91]
  *   pos_categories  (… category_id)                                [K5 :82]
  *   pos_locations   (… location_id)                                [K6 :82]
  *
  * K4-K6 stamp an `updated_at` audit column at write time (reference sets
  * `updated_at = CURRENT_TIMESTAMP` on update).
  */
final class SquarePipelines(
    source: SquareSource,
    val warehouseDir: String,
    tenant: Tenant = Tenant()) {

  private def table(name: String): String = s"$warehouseDir/$name"

  private def upsert(spark: SparkSession, name: String, rows: DataFrame, keys: String*): Unit =
    Upsert.upsertParquet(spark, table(name), rows, keys)

  private def windowedPayments(spark: SparkSession, window: Option[TimeWindow]): DataFrame =
    window.fold(source.payments(spark))(w => w.filter(source.payments(spark), "created_at"))

  // The write steps: each lands one table and returns nothing, so
  // `runAll` pays for no read-back of what it just wrote.

  private def writePayments(spark: SparkSession, window: Option[TimeWindow]): Unit =
    upsert(spark, "pos_payments", SquareOps.payments(windowedPayments(spark, window), tenant),
      "tenant_id", "provider", "payment_id")

  private def writeOrderItems(spark: SparkSession, window: Option[TimeWindow]): Unit = {
    val payRows = SquareOps.payments(windowedPayments(spark, window), tenant)
    upsert(spark, "pos_order_items", SquareOps.orderItems(source.orders(spark), payRows, tenant),
      "tenant_id", "provider", "order_id", "line_item_uid")
  }

  private def writeCatalog(spark: SparkSession): Unit =
    upsert(spark, "pos_catalog", SquareOps.catalogRows(source.catalogObjects(spark), tenant),
      "tenant_id", "provider", "provider_account_id", "catalog_object_id")

  private def writeInventory(spark: SparkSession): Unit =
    upsert(spark, "pos_inventory",
      SquareOps.inventoryRows(source.inventoryCounts(spark), tenant)
        .withColumn("updated_at", current_timestamp()),
      "tenant_id", "provider", "provider_account_id", "catalog_object_id", "location_id", "state")

  private def writeCategories(spark: SparkSession): Unit =
    upsert(spark, "pos_categories",
      SquareOps.categoryRows(source.categories(spark), tenant)
        .withColumn("updated_at", current_timestamp()),
      "tenant_id", "provider", "provider_account_id", "category_id")

  private def writeLocations(spark: SparkSession): Unit =
    upsert(spark, "pos_locations",
      SquareOps.locationRows(source.locations(spark), tenant)
        .withColumn("updated_at", current_timestamp()),
      "tenant_id", "provider", "provider_account_id", "location_id")

  def runPayments(spark: SparkSession, window: Option[TimeWindow] = None): DataFrame = {
    writePayments(spark, window)
    spark.read.parquet(table("pos_payments"))
  }

  def runOrderItems(spark: SparkSession, window: Option[TimeWindow] = None): DataFrame = {
    writeOrderItems(spark, window)
    spark.read.parquet(table("pos_order_items"))
  }

  def runCatalog(spark: SparkSession): DataFrame = {
    writeCatalog(spark)
    spark.read.parquet(table("pos_catalog"))
  }

  def runInventory(spark: SparkSession): DataFrame = {
    writeInventory(spark)
    spark.read.parquet(table("pos_inventory"))
  }

  def runCategories(spark: SparkSession): DataFrame = {
    writeCategories(spark)
    spark.read.parquet(table("pos_categories"))
  }

  def runLocations(spark: SparkSession): DataFrame = {
    writeLocations(spark)
    spark.read.parquet(table("pos_locations"))
  }

  /** The full hourly run: all six pipelines at once. The reference runs
    * them one after another (SURVEY.md §3 trace note), but they share
    * nothing, so their order cannot change a result:
    *   - each writes only its own table under `warehouseDir`, and the
    *     upsert's staged rewrite, swap and recovery touch only that
    *     table's `path`, `path__new`, `path__old` and `path__stage`;
    *   - each reads only the source — order items derive their payments
    *     from the source, not from `pos_payments`, and join no catalog.
    * Run together, the small dimension pipelines fill the slots the fact
    * pipelines leave idle, on one box or on a cluster.
    *
    * Job group: the caller's Spark local properties (job group, job tags,
    * scheduler pool) reach every pipeline's jobs, so a caller's
    * `cancelJobGroup` cancels the whole run. Returns or throws only after
    * every pipeline has finished, since the next run writes the same
    * tables; a failure is the first error, with the others suppressed.
    */
  def runAll(spark: SparkSession, window: Option[TimeWindow] = None): Unit =
    SquarePipelines.runConcurrently(Seq(
      "pos_payments" -> (() => writePayments(spark, window)),
      "pos_order_items" -> (() => writeOrderItems(spark, window)),
      "pos_catalog" -> (() => writeCatalog(spark)),
      "pos_inventory" -> (() => writeInventory(spark)),
      "pos_categories" -> (() => writeCategories(spark)),
      "pos_locations" -> (() => writeLocations(spark))))
}

object SquarePipelines {

  /** Runs each step on a thread of its own and waits for all of them.
    * The threads are made here, per call, by the calling thread: Spark
    * keeps local properties in an `InheritableThreadLocal` that a new
    * thread copies from the thread that creates it, so a pooled thread
    * made earlier would miss the caller's job group. An interrupt of the
    * caller does not cut the wait short (a step may still be writing);
    * it is restored once every step is done.
    */
  private def runConcurrently(steps: Seq[(String, () => Unit)]): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = steps.map { case (name, step) =>
      val t = new Thread(() => try step() catch { case e: Throwable => errors.add(e) }, s"graft-$name")
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    Option(errors.poll()).foreach { first =>
      errors.forEach(e => first.addSuppressed(e))
      throw first
    }
  }
}

/** P2: the incremental lookback window (SURVEY.md §2.3 P2 / §2.7;
  * reference: src/etl-square-payments.ts:12,18-25). Overlapping windows
  * across runs are intended — the keyed upsert makes reprocessing
  * idempotent (at-least-once extract ⇒ effectively-once tables). The
  * lookback is the batch analog of a watermark / allowed lateness.
  */
final case class TimeWindow(beginIso: String, endIso: String) {
  def filter(df: DataFrame, tsCol: String): DataFrame =
    df.filter(to_timestamp(col(tsCol)).between(
      to_timestamp(lit(beginIso)), to_timestamp(lit(endIso))))
}

object TimeWindow {
  /** now − lookbackHours .. now, matching getTimeWindow (:18-25). */
  def lookback(nowEpochMs: Long, lookbackHours: Int = 24): TimeWindow = {
    val fmt = java.time.format.DateTimeFormatter.ISO_INSTANT
    TimeWindow(
      fmt.format(java.time.Instant.ofEpochMilli(nowEpochMs - lookbackHours * 3600L * 1000)),
      fmt.format(java.time.Instant.ofEpochMilli(nowEpochMs)))
  }
}
