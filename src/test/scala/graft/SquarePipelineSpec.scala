package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.drainListenerBus
import graft.model.Tenant
import graft.operators.SquareOps
import graft.pipeline.{SquarePipelines, TimeWindow}
import graft.sources.{JsonlSquareSource, SquareSource}

/** Golden/edge-case coverage of the six Square pipelines over the JSONL
  * fixtures (FIXTURES.md). Each assertion cites the reference behavior
  * it preserves.
  */
class SquarePipelineSpec extends SparkSpec {

  private val fixtures = getClass.getResource("/fixtures/square").getPath
  private val source = new JsonlSquareSource(fixtures)
  private val tenant = Tenant()

  private def freshPipelines() = new SquarePipelines(
    source, Files.createTempDirectory("graft-sq").toString, tenant)

  test("payments: coalesce prefers total_money; both-missing dropped; nulls defaulted") {
    val rows = SquareOps.payments(source.payments(spark), tenant)
    val byId = rows.collect().map(r => r.getAs[String]("payment_id") -> r).toMap
    // pay-4 has no money fields → dropped, not thrown (ref throws: etl-square-payments.ts:30-32)
    assert(!byId.contains("pay-4"))
    assert(byId.size === 5)
    // total_money preferred over amount_money (:29)
    assert(byId("pay-1").getAs[Long]("amount") === 550L)
    // amount_money fallback
    assert(byId("pay-2").getAs[Long]("amount") === 200L)
    // constant columns stamped (:100-103)
    assert(byId("pay-1").getAs[String]("tenant_id") === "t-test")
    assert(byId("pay-1").getAs[String]("provider") === "square")
    // nullable defaulting (:36-43)
    assert(byId("pay-3").getAs[String]("customer_id") === null)
    // raw_payload lineage column present and JSON (:45)
    assert(byId("pay-1").getAs[String]("raw_payload").contains("\"pay-1\""))
  }

  test("order items: first-wins pairing, 404 drop, empty-array drop, quantity validation") {
    val items = SquareOps.orderItems(
      source.orders(spark), SquareOps.payments(source.payments(spark), tenant), tenant)
    val rows = items.collect()
    val byUid = rows.map(r => r.getAs[String]("line_item_uid") -> r).toMap
    // ord-1 has 7 line items: li-1 (qty 2) and li-2 (qty 2.5) survive;
    // no-uid, "abc", "0", "-1", "" are dropped (etl-square-orders.ts:54-68)
    assert(byUid.keySet === Set("li-1", "li-2", "li-8"))
    assert(byUid("li-2").getAs[Double]("quantity") === 2.5)
    // first payment per order by created_at wins: ord-1 has pay-1@10:00 and
    // pay-2@11:00 → pay-1 (etl-square-orders.ts:181-193 + ASC sort square.ts:55)
    assert(byUid("li-1").getAs[String]("payment_id") === "pay-1")
    // ord-404 referenced by pay-5 doesn't exist → no rows (404 tolerance via
    // inner join, square.ts:137-140); ord-3 has empty line_items → dropped
    // (:202-205); ord-9 has no payment → dropped (keyed from payments scan)
    assert(!rows.exists(_.getAs[String]("order_id") == "ord-3"))
    assert(!rows.exists(_.getAs[String]("order_id") == "ord-9"))
    // currency coalesce base → total (:72-74)
    assert(byUid("li-2").getAs[String]("currency") === "USD")
    // sku stubbed null by reference (:82)
    assert(byUid("li-1").getAs[String]("sku") === null)
  }

  test("order items: sku join fills the reference's stubbed column") {
    val items = SquareOps.orderItems(
      source.orders(spark), SquareOps.payments(source.payments(spark), tenant), tenant)
    val cat = SquareOps.catalogRows(source.catalogObjects(spark), tenant)
    val withSku = SquareOps.withSkuFromCatalog(items, cat)
    val byUid = withSku.collect().map(r => r.getAs[String]("line_item_uid") -> r).toMap
    assert(byUid("li-1").getAs[String]("sku") === "ESP-1")
    assert(byUid("li-2").getAs[String]("sku") === "CRO-1")
    // li-8 points at var-dangling (not in catalog) → sku stays null
    assert(byUid("li-8").getAs[String]("sku") === null)
  }

  test("catalog: parent lookup, name fallback, first-category, deleted normalize") {
    val rows = SquareOps.catalogRows(source.catalogObjects(spark), tenant)
    val byId = rows.collect().map(r => r.getAs[String]("catalog_object_id") -> r).toMap
    // only variations become rows (items are the build side)
    assert(byId.keySet === Set("var-1", "var-2", "var-3", "var-4", "var-5"))
    // parent name wins over variation name (etl-square-catalog.ts:47-48)
    assert(byId("var-1").getAs[String]("item_name") === "Espresso Drinks")
    assert(byId("var-1").getAs[String]("variation_name") === "Single Shot")
    // category = FIRST array element's id, ordinal ignored (:143)
    assert(byId("var-1").getAs[String]("category_id") === "cat-1")
    // parent with empty categories array → null category
    assert(byId("var-2").getAs[String]("category_id") === null)
    // no variation name + named parent → parent name; is_deleted === true normalize (:41)
    assert(byId("var-3").getAs[String]("item_name") === "Espresso Drinks")
    assert(byId("var-3").getAs[Boolean]("is_deleted") === true)
    assert(byId("var-1").getAs[Boolean]("is_deleted") === false)
    // dangling parent link → null parent fields, row kept (:159-161)
    assert(byId("var-4").getAs[String]("item_name") === "Dangling")
    assert(byId("var-4").getAs[String]("category_id") === null)
    // missing item_id entirely → fallback to variation name
    assert(byId("var-5").getAs[String]("item_name") === "NoParentLink")
  }

  test("inventory: zero/negative kept, garbage dropped, state default, ts parse") {
    val rows = SquareOps.inventoryRows(source.inventoryCounts(spark), tenant)
    val collected = rows.collect()
    // "oops" quantity dropped; missing catalog_object_id dropped (etl-square-inventory.ts:33-45)
    assert(collected.length === 4)
    val q = collected.map(r =>
      (r.getAs[String]("catalog_object_id"), r.getAs[String]("state")) -> r.getAs[Double]("quantity")).toMap
    // 0 and negative KEPT (unlike order items — :38-45)
    assert(q(("var-2", "IN_STOCK")) === 0.0)
    assert(q(("var-3", "UNKNOWN")) === -3.0)
    // state null → "UNKNOWN" (:55); calculated_at parsed to timestamp (:47-49)
    assert(collected.forall(_.getAs[java.sql.Timestamp]("calculated_at") != null))
  }

  test("categories: defaults and hardcoded-null parent") {
    val rows = SquareOps.categoryRows(source.categories(spark), tenant)
    val byId = rows.collect().map(r => r.getAs[String]("category_id") -> r).toMap
    assert(byId("cat-2").getAs[String]("category_name") === "Unknown Category") // :38
    assert(byId("cat-3").getAs[Boolean]("is_top_level") === true)               // :39
    assert(byId.values.forall(_.getAs[String]("parent_category_id") == null))   // :43
  }

  test("locations: id/name filter, null-skipping concat, empty address → null") {
    val rows = SquareOps.locationRows(source.locations(spark), tenant)
    val byId = rows.collect().map(r => r.getAs[String]("location_id") -> r).toMap
    // loc-4 (no name) and NoId dropped (etl-square-locations.ts:30-33)
    assert(byId.keySet === Set("loc-1", "loc-2", "loc-3"))
    assert(byId("loc-1").getAs[String]("address") === "1 Main St, Springfield, IL, 62701")
    // partial address: nulls skipped, not empty-joined (:36-43)
    assert(byId("loc-2").getAs[String]("address") === "Terminal 2, 62702")
    // all-null address → null (:42)
    assert(byId("loc-3").getAs[String]("address") === null)
  }

  test("end-to-end: runAll twice is idempotent (at-least-once ⇒ effectively-once)") {
    val p = freshPipelines()
    p.runAll(spark)
    p.runAll(spark) // rerun = reprocess same window
    // stable row counts and key-uniqueness after the second run
    def tbl(n: String) = spark.read.parquet(s"${p.warehouseDir}/$n")
    assert(tbl("pos_payments").count() === 5)
    assert(tbl("pos_order_items").count() === 3)
    assert(tbl("pos_catalog").count() === 5)
    assert(tbl("pos_inventory").count() === 4)
    assert(tbl("pos_categories").count() === 3)
    assert(tbl("pos_locations").count() === 3)
    assert(tbl("pos_payments").select("payment_id").distinct().count() === 5)
  }

  test("incremental window: overlapping reruns converge to the same table") {
    val p = freshPipelines()
    // run 1 covers only Feb (pay-6); run 2 covers Mar (rest) with overlap
    p.runPayments(spark, Some(TimeWindow("2024-02-01T00:00:00Z", "2024-03-01T10:30:00Z")))
    p.runPayments(spark, Some(TimeWindow("2024-02-15T00:00:00Z", "2024-03-02T00:00:00Z")))
    val tbl = spark.read.parquet(s"${p.warehouseDir}/pos_payments")
    assert(tbl.count() === 5)
    assert(tbl.select("payment_id").distinct().count() === 5)
  }

  test("an hourly runAll into existing tables starts no job outside a SQL execution") {
    // a job outside any SQL execution is one no query plan accounts for:
    // Spark's parquet schema inference ships each table's footer read to
    // one, before every merge reads its base table
    val p = freshPipelines()
    p.runAll(spark)
    assert(jobsOutsideSql(p.runAll(spark)) === 0)
  }

  // ---- the concurrent hourly run --------------------------------------

  private val tables = Seq("pos_payments", "pos_order_items", "pos_catalog",
    "pos_inventory", "pos_categories", "pos_locations")

  /** Per table, the sorted row hashes over every column but the
    * write-time `updated_at` stamp. */
  private def content(p: SquarePipelines, names: Seq[String] = tables): Map[String, Seq[Long]] =
    names.map { n =>
      val t = spark.read.parquet(s"${p.warehouseDir}/$n").drop("updated_at")
      n -> t.select(xxhash64(t.columns.toIndexedSeq.map(col): _*)).collect().map(_.getLong(0)).sorted.toSeq
    }.toMap

  /** Staging directories of an upsert that did not finish. */
  private def leftovers(p: SquarePipelines): Seq[String] =
    new File(p.warehouseDir).list().toSeq.filter(_.matches(".*__(new|old|stage)"))

  private def noActiveJobs(): Boolean = {
    drainListenerBus(spark)
    spark.sparkContext.statusTracker.getActiveJobIds.isEmpty
  }

  test("runAll lands the same tables as the six pipelines run one by one") {
    // pay-1, pay-2 and pay-5 fall in the window; pay-3 and pay-6 before it
    val window = Some(TimeWindow("2024-03-01T09:45:00Z", "2024-03-02T00:00:00Z"))
    val together = freshPipelines()
    together.runAll(spark, window)
    val oneByOne = freshPipelines()
    oneByOne.runPayments(spark, window)
    oneByOne.runCatalog(spark)
    oneByOne.runOrderItems(spark, window)
    oneByOne.runInventory(spark)
    oneByOne.runCategories(spark)
    oneByOne.runLocations(spark)
    val got = content(together)
    assert(got("pos_payments").size === 3)
    assert(got === content(oneByOne))
  }

  test("a caller's cancelJobGroup reaches every pipeline; a rerun converges") {
    val sc = spark.sparkContext
    val expected = freshPipelines()
    expected.runAll(spark)
    val p = freshPipelines()
    // first while runAll creates the tables, then while it merges into them
    Seq("create", "merge").foreach { phase =>
      val group = s"square-spec-cancel-$phase"
      val groups = new ConcurrentLinkedQueue[String]()
      val started = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          groups.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
          started.countDown()
        }
      }
      sc.addSparkListener(listener)
      @volatile var outcome: Try[Unit] = null
      val caller = new Thread(() => {
        sc.setJobGroup(group, "SquarePipelineSpec cancel", interruptOnCancel = true)
        outcome = Try(p.runAll(spark))
      })
      try {
        caller.start()
        assert(started.await(60, TimeUnit.SECONDS), s"$phase: no job started")
        // like the watchdogs: cancel repeatedly, so no between-jobs gap escapes
        while (caller.isAlive) { sc.cancelJobGroup(group); caller.join(10) }
        assert(outcome.isFailure, s"$phase: runAll must throw when its group is cancelled")
        assert(noActiveJobs(), s"$phase: a pipeline job outlived runAll")
        assert(groups.asScala.toSet === Set(group), s"$phase: every job runs in the caller's group")
      } finally sc.removeSparkListener(listener)
      p.runAll(spark)
      assert(content(p) === content(expected), s"$phase: the rerun must converge")
      assert(leftovers(p).isEmpty)
    }
  }

  test("one failing pipeline: runAll rethrows its error after the other five commit") {
    val planted = new IllegalStateException("planted: locations feed unavailable")
    val failing = new SquareSource {
      def payments(s: SparkSession): DataFrame = source.payments(s)
      def orders(s: SparkSession): DataFrame = source.orders(s)
      def catalogObjects(s: SparkSession): DataFrame = source.catalogObjects(s)
      def inventoryCounts(s: SparkSession): DataFrame = source.inventoryCounts(s)
      // starts well after locations has failed: runAll must still wait for it
      def categories(s: SparkSession): DataFrame = { Thread.sleep(500); source.categories(s) }
      def locations(s: SparkSession): DataFrame = throw planted
    }
    val p = new SquarePipelines(failing, Files.createTempDirectory("graft-sq").toString, tenant)
    val thrown = intercept[IllegalStateException](p.runAll(spark))
    assert(thrown eq planted)
    val committed = tables.filterNot(_ == "pos_locations")
    committed.foreach(n => assert(new File(s"${p.warehouseDir}/$n/_SUCCESS").exists, s"$n not committed"))
    assert(!new File(s"${p.warehouseDir}/pos_locations").exists)
    assert(leftovers(p).isEmpty)
    assert(noActiveJobs())
    val expected = freshPipelines()
    expected.runAll(spark)
    assert(content(p, committed) === content(expected, committed))
  }
}
