package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.model.SquareSchemas

/** DSv2 paged source: planning-time page pruning from pushed time-window
  * filters, column pruning, executor-side parsing, retry slot.
  */
class PagedSourceSpec extends SparkSpec {

  /** Three pages with disjoint created_at ranges + a manifest. */
  private lazy val feedDir: String = {
    val dir = Files.createTempDirectory("paged-feed").toString
    def page(name: String, rows: Seq[String]): Unit =
      Files.write(Paths.get(dir, name), rows.mkString("\n").getBytes)
    page("page-0.jsonl", Seq(
      """{"id":"p1","created_at":"2024-01-05T00:00:00Z","total_money":{"amount":100,"currency":"USD"}}""",
      """{"id":"p2","created_at":"2024-01-10T00:00:00Z","amount_money":{"amount":200,"currency":"USD"}}"""))
    page("page-1.jsonl", Seq(
      """{"id":"p3","created_at":"2024-02-05T00:00:00Z","total_money":{"amount":300,"currency":"USD"}}""",
      """{"id":"p4","created_at":"2024-02-10T00:00:00Z","total_money":{"amount":400,"currency":"USD"}}"""))
    page("page-2.jsonl", Seq(
      """{"id":"p5","created_at":"2024-03-05T00:00:00Z","total_money":{"amount":500,"currency":"USD"}}"""))
    Files.write(Paths.get(dir, "manifest.jsonl"), Seq(
      """{"file":"page-0.jsonl","min_created_at":"2024-01-05T00:00:00Z","max_created_at":"2024-01-10T00:00:00Z","rows":2}""",
      """{"file":"page-1.jsonl","min_created_at":"2024-02-05T00:00:00Z","max_created_at":"2024-02-10T00:00:00Z","rows":2}""",
      """{"file":"page-2.jsonl","min_created_at":"2024-03-05T00:00:00Z","max_created_at":"2024-03-05T00:00:00Z","rows":1}"""
    ).mkString("\n").getBytes)
    dir
  }

  private def read() = spark.read
    .format("graft.sources.dsv2.PagedJsonSource")
    .schema(SquareSchemas.payment)
    .option("path", feedDir)
    .load()

  test("full scan reads every page; nested money structs parse") {
    val df = read()
    assert(df.count() === 5)
    val p1 = df.filter(col("id") === "p1").select(col("total_money.amount")).head().getLong(0)
    assert(p1 === 100L)
    assert(df.rdd.getNumPartitions === 3) // one partition per page
  }

  test("time-window filter prunes pages at planning time") {
    val df = read().filter(
      col("created_at") >= "2024-02-01T00:00:00Z" && col("created_at") < "2024-03-01T00:00:00Z")
    // only page-1 overlaps the window → one input partition
    assert(df.rdd.getNumPartitions === 1)
    assert(df.select("id").orderBy("id").collect().map(_.getString(0)).toSeq === Seq("p3", "p4"))
    // and the pushed bounds are visible in the scan description
    val scanDesc = uncut(df.queryExecution.executedPlan.toString)
    assert(scanDesc.contains("PagedJsonScan") || scanDesc.contains("BatchScan"))
  }

  test("residual filtering stays row-exact within a kept page") {
    // window covers only the first row of page-0: page kept, second row filtered
    val df = read().filter(col("created_at") <= "2024-01-05T00:00:00Z")
    assert(df.rdd.getNumPartitions === 1)
    assert(df.select("id").collect().map(_.getString(0)).toSeq === Seq("p1"))
  }

  test("column pruning reaches the reader schema") {
    val df = read().select("id")
    val scan = uncut(df.queryExecution.executedPlan.collectLeaves().head.toString)
    assert(df.columns.toSeq === Seq("id"))
    assert(df.count() === 5)
  }

  test("limit pushdown stops planning pages once counts cover the limit") {
    import graft.sources.dsv2.PagedJsonSource
    assert(read().limit(2).collect().length === 2)
    assert(PagedJsonSource.lastPlannedPages === 1, "2 rows fit in page-0 alone")
    assert(read().limit(3).collect().length === 3)
    assert(PagedJsonSource.lastPlannedPages === 2)
    // limit larger than the feed keeps everything and returns all rows
    assert(read().limit(100).collect().length === 5)
    assert(PagedJsonSource.lastPlannedPages === 3)
  }

  test("retry slot: transient failures recover with backoff") {
    import graft.sources.dsv2.{PageFetcher, RetryingFetcher}
    var calls = 0
    val flaky = new PageFetcher {
      def open(file: String): Iterator[String] = {
        calls += 1
        if (calls < 3) throw new java.io.IOException("simulated 429")
        Iterator("""{"ok":true}""")
      }
    }
    val out = new RetryingFetcher(flaky, maxAttempts = 5, baseBackoffMs = 1).open("x").toSeq
    assert(out === Seq("""{"ok":true}"""))
    assert(calls === 3)
    // permanent failure surfaces after maxAttempts
    val dead = new PageFetcher {
      def open(file: String): Iterator[String] = throw new java.io.IOException("down")
    }
    intercept[java.io.IOException] {
      new RetryingFetcher(dead, maxAttempts = 2, baseBackoffMs = 1).open("x")
    }
  }

  test("DSv2 feed composes with the payments pipeline transform") {
    val rows = graft.operators.SquareOps.payments(read(), graft.model.Tenant())
    assert(rows.count() === 5)
    assert(rows.filter(col("amount") === 200L).count() === 1) // amount_money fallback
  }

  // ---------------- streaming: micro-batch over the growing feed -------

  test("micro-batch stream: incremental pages across restarts, exactly-once offsets") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    // fresh copy of the fixture feed we can append to
    val dir = Files.createTempDirectory("paged-stream").toString
    Seq("page-0.jsonl", "page-1.jsonl", "page-2.jsonl", "manifest.jsonl").foreach { f =>
      Files.copy(Paths.get(feedDir, f), Paths.get(dir, f))
    }
    val ckpt = Files.createTempDirectory("paged-ckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]

    def runOnce(): Unit = {
      val q = spark.readStream
        .format("graft.sources.dsv2.PagedJsonSource")
        .schema(SquareSchemas.payment)
        .option("path", dir)
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val ids = batch.select("id").collect().map(_.getString(0)).sorted.toSeq
          seen.synchronized { seen += ((id, ids)) }
          ()
        }
        .start()
      q.awaitTermination()
    }

    runOnce()
    assert(seen.flatMap(_._2).sorted === Seq("p1", "p2", "p3", "p4", "p5"),
      s"first run must drain the whole feed: $seen")

    // feed grows: a new page lands at the manifest tail
    Files.write(Paths.get(dir, "page-3.jsonl"), Seq(
      """{"id":"p6","created_at":"2024-04-01T00:00:00Z","total_money":{"amount":600,"currency":"USD"}}"""
    ).mkString("\n").getBytes)
    val manifest = new String(Files.readAllBytes(Paths.get(dir, "manifest.jsonl")), "UTF-8")
    Files.write(Paths.get(dir, "manifest.jsonl"), (manifest +
      "\n" + """{"file":"page-3.jsonl","min_created_at":"2024-04-01T00:00:00Z","max_created_at":"2024-04-01T00:00:00Z","rows":1}""").getBytes)

    val before = seen.size
    runOnce() // restart from the checkpoint: only the new page flows
    val newRows = seen.drop(before).flatMap(_._2)
    assert(newRows === Seq("p6"), s"restart must read ONLY the appended page, got $newRows")

    // third run with nothing new: no rows
    val before2 = seen.size
    runOnce()
    assert(seen.drop(before2).flatMap(_._2).isEmpty, "no new pages -> no rows")
  }

  test("end-to-end: streaming feed -> payments transform -> upserted table") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("sq-feed").toString
    Seq("page-0.jsonl", "page-1.jsonl", "page-2.jsonl", "manifest.jsonl").foreach { f =>
      Files.copy(Paths.get(feedDir, f), Paths.get(dir, f))
    }
    val table = Files.createTempDirectory("sq-table").toString + "/pos_payments"
    val ckpt = Files.createTempDirectory("sq-ckpt").toString

    graft.streaming.SquareFeedStream
      .paymentsStream(spark, dir, table, ckpt).awaitTermination()
    val t1 = spark.read.parquet(table)
    assert(t1.count() === 5)
    assert(t1.filter(col("payment_id") === "p1").select("amount").head().getLong(0) === 100L)

    // the feed grows with an UPDATED p1 (amount 111) and a new p6;
    // the next incremental run must upsert, not append
    Files.write(Paths.get(dir, "page-3.jsonl"), Seq(
      """{"id":"p1","created_at":"2024-01-05T00:00:00Z","total_money":{"amount":111,"currency":"USD"}}""",
      """{"id":"p6","created_at":"2024-04-01T00:00:00Z","total_money":{"amount":600,"currency":"USD"}}"""
    ).mkString("\n").getBytes)
    val manifest = new String(Files.readAllBytes(Paths.get(dir, "manifest.jsonl")), "UTF-8")
    Files.write(Paths.get(dir, "manifest.jsonl"), (manifest +
      "\n" + """{"file":"page-3.jsonl","min_created_at":"2024-01-05T00:00:00Z","max_created_at":"2024-04-01T00:00:00Z","rows":2}""").getBytes)

    graft.streaming.SquareFeedStream
      .paymentsStream(spark, dir, table, ckpt).awaitTermination()
    val t2 = spark.read.parquet(table)
    assert(t2.count() === 6, "p6 inserted, p1 updated in place — no duplicates")
    assert(t2.filter(col("payment_id") === "p1").select("amount").head().getLong(0) === 111L,
      "the re-fed payment must win by key, reference ON CONFLICT semantics")
  }

  // ---------------- HTTP: mock server, 429s, fail-fast, cursors --------

  import java.net.InetSocketAddress
  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.atomic.AtomicInteger
  import com.sun.net.httpserver.{HttpExchange, HttpServer}
  import graft.sources.HttpCursorSource
  import graft.sources.dsv2.{HttpPageFetcher, PageFetchFailedException, RateLimitedException, RetryingFetcher}

  /** Mock feed server: serves the local fixture pages over HTTP, 429s the
    * FIRST request to every page path (with Retry-After: 0), requires the
    * auth header when told to, and exposes a cursor-chained endpoint. */
  private class MockFeed {
    val hits = new ConcurrentHashMap[String, AtomicInteger]()
    val server: HttpServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var requireAuth = false
    @volatile var rateLimitFirstHit = true

    private def respond(x: HttpExchange, status: Int, body: String,
        extra: Map[String, String] = Map.empty): Unit = {
      extra.foreach { case (k, v) => x.getResponseHeaders.set(k, v) }
      val bytes = body.getBytes("UTF-8")
      x.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) x.getResponseBody.write(bytes)
      x.close()
    }

    server.createContext("/feed/", { x =>
      val path = x.getRequestURI.getPath
      val n = hits.computeIfAbsent(path, _ => new AtomicInteger()).incrementAndGet()
      if (requireAuth && x.getRequestHeaders.getFirst("Authorization") != "Bearer tok")
        respond(x, 401, """{"error":"unauthorized"}""")
      else if (rateLimitFirstHit && n == 1)
        respond(x, 429, "slow down", Map("Retry-After" -> "0"))
      else {
        val file = java.nio.file.Paths.get(feedDir, path.stripPrefix("/feed/"))
        if (java.nio.file.Files.exists(file))
          respond(x, 200, new String(java.nio.file.Files.readAllBytes(file), "UTF-8"))
        else respond(x, 404, "no such page")
      }
    })

    server.createContext("/broken", { x =>
      hits.computeIfAbsent("/broken", _ => new AtomicInteger()).incrementAndGet()
      respond(x, 500, """{"error":"boom"}""")
    })

    // three cursor-chained pages, Square-response-shaped
    server.createContext("/payments", { x =>
      val q = Option(x.getRequestURI.getQuery).getOrElse("")
      val params = q.split("&").filter(_.nonEmpty)
        .map(_.split("=", 2)).map(a => a(0) -> java.net.URLDecoder.decode(a(1), "UTF-8")).toMap
      val n = hits.computeIfAbsent("/payments@" + params.getOrElse("cursor", ""),
        _ => new AtomicInteger()).incrementAndGet()
      if (rateLimitFirstHit && params.get("cursor").contains("c2") && n == 1)
        respond(x, 429, "slow down", Map("Retry-After" -> "0"))
      else if (!params.contains("begin_time"))
        respond(x, 400, """{"error":"begin_time required"}""")
      else params.get("cursor") match {
        case None =>
          respond(x, 200, """{"payments":[{"id":"p1","amount":1},{"id":"p2","amount":2}],"cursor":"c2"}""")
        case Some("c2") =>
          respond(x, 200, """{"payments":[{"id":"p3","amount":3}],"cursor":"c3"}""")
        case Some("c3") =>
          respond(x, 200, """{"payments":[]}""")
        case Some(other) =>
          respond(x, 400, s"""{"error":"bad cursor $other"}""")
      }
    })

    server.start()
    def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  test("HTTP feed: DSv2 scan over the mock server with injected 429s on every page") {
    val feed = new MockFeed
    try {
      val df = spark.read
        .format("graft.sources.dsv2.PagedJsonSource")
        .schema(SquareSchemas.payment)
        .option("path", s"${feed.base}/feed")
        .load()
      // every path (manifest + 3 pages) got a 429 first; retries recover
      assert(df.count() === 5)
      assert(feed.hits.get("/feed/manifest.jsonl").get() >= 2)
      assert(feed.hits.get("/feed/page-0.jsonl").get() >= 2)
    } finally feed.stop()
  }

  test("HTTP feed: planning-time pruning fetches only overlapping pages") {
    val feed = new MockFeed
    feed.rateLimitFirstHit = false
    try {
      val df = spark.read
        .format("graft.sources.dsv2.PagedJsonSource")
        .schema(SquareSchemas.payment)
        .option("path", s"${feed.base}/feed")
        .load()
        .filter(col("created_at") >= "2024-02-01T00:00:00Z" &&
          col("created_at") < "2024-03-01T00:00:00Z")
      // no orderBy: range partitioning samples the source, re-fetching pages
      assert(df.select("id").collect().map(_.getString(0)).sorted.toSeq === Seq("p3", "p4"))
      assert(feed.hits.get("/feed/page-1.jsonl").get() === 1)
      assert(!feed.hits.containsKey("/feed/page-0.jsonl"), "pruned page must never be fetched")
      assert(!feed.hits.containsKey("/feed/page-2.jsonl"), "pruned page must never be fetched")
    } finally feed.stop()
  }

  test("HTTP feed: auth headers forwarded from header.* options") {
    val feed = new MockFeed
    feed.requireAuth = true
    feed.rateLimitFirstHit = false
    try {
      val unauthed = spark.read
        .format("graft.sources.dsv2.PagedJsonSource")
        .schema(SquareSchemas.payment)
        .option("path", s"${feed.base}/feed")
        .load()
      val e = intercept[Exception] { unauthed.count() }
      def rootCauses(t: Throwable): Seq[Throwable] =
        Seq(t) ++ Option(t.getCause).toSeq.flatMap(rootCauses)
      assert(rootCauses(e).exists {
        case PageFetchFailedException(401, _, _) => true
        case _ => false
      }, s"expected fail-fast 401, got $e")

      val authed = spark.read
        .format("graft.sources.dsv2.PagedJsonSource")
        .schema(SquareSchemas.payment)
        .option("path", s"${feed.base}/feed")
        .option("header.Authorization", "Bearer tok")
        .load()
      assert(authed.count() === 5)
    } finally feed.stop()
  }

  test("429 retries with backoff; other HTTP failures fail fast") {
    val feed = new MockFeed
    try {
      // direct fetcher probe: first hit 429s (Retry-After: 0), then serves
      val fetcher = new RetryingFetcher(new HttpPageFetcher(), maxAttempts = 3, baseBackoffMs = 1)
      val lines = fetcher.open(s"${feed.base}/feed/page-2.jsonl").toSeq
      assert(lines.size === 1)
      assert(feed.hits.get("/feed/page-2.jsonl").get() === 2)

      // 500 must NOT be retried: exactly one request, error carries status+body
      val calls0 = Option(feed.hits.get("/broken")).map(_.get()).getOrElse(0)
      val e = intercept[PageFetchFailedException] {
        fetcher.open(s"${feed.base}/broken")
      }
      assert(e.status === 500 && e.getMessage.contains("boom"))
      assert(feed.hits.get("/broken").get() === calls0 + 1, "fail-fast means no retry")

      // a 429 that never clears exhausts maxAttempts and surfaces
      feed.server.createContext("/always429",
        { x => x.getResponseHeaders.set("Retry-After", "0")
          x.sendResponseHeaders(429, -1); x.close() })
      intercept[RateLimitedException] {
        new RetryingFetcher(new HttpPageFetcher(), maxAttempts = 2, baseBackoffMs = 1)
          .open(s"${feed.base}/always429")
      }
    } finally feed.stop()
  }

  test("cursor-paginated REST: chains cursors, pushes the time window, rides out 429s") {
    val feed = new MockFeed
    try {
      import org.apache.spark.sql.types._
      val itemSchema = StructType(Seq(
        StructField("id", StringType), StructField("amount", LongType)))
      val df = HttpCursorSource.read(
        spark, s"${feed.base}/payments", "payments", itemSchema,
        params = Map("begin_time" -> "2024-01-01T00:00:00Z", "sort_order" -> "ASC"),
        baseBackoffMs = 1)
      val got = df.orderBy("id").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got === Seq(("p1", 1L), ("p2", 2L), ("p3", 3L)))
      // page 2 (cursor=c2) was 429'd once and retried
      assert(feed.hits.get("/payments@c2").get() === 2)
      // empty terminal page (cursor=c3, no next cursor) ends the walk
      assert(feed.hits.get("/payments@c3").get() === 1)
    } finally feed.stop()
  }

  test("cursor walk spills pages to files: O(1) driver memory over a many-page feed") {
    import org.apache.spark.sql.types._
    import graft.sources.dsv2.PageFetcher
    val nPages = 50
    // mock a long cursor chain without a network: page i carries one item
    val chain: PageFetcher = (url: String) => {
      val cur = url.split("cursor=").drop(1).headOption.map(_.takeWhile(_ != '&'))
      val i = cur.map(_.stripPrefix("c").toInt).getOrElse(0)
      val next = if (i < nPages - 1) s""","cursor":"c${i + 1}"""" else ""
      Iterator(s"""{"items":[{"id":"doc$i","v":$i}]$next}""")
    }
    val spill = Files.createTempDirectory("cursor-spill").toString
    val itemSchema = StructType(Seq(
      StructField("id", StringType), StructField("v", LongType)))
    val df = HttpCursorSource.read(
      spark, "http://mock/feed", "items", itemSchema,
      fetcher = Some(chain), spillDir = Some(spill))
    // every page landed as its own file BEFORE the DataFrame is consumed —
    // the driver held one body at a time, and executors parse the files
    assert(new java.io.File(spill).listFiles().count(_.getName.startsWith("page-")) === nPages)
    assert(df.count() === nPages)
    assert(df.agg(sum(col("v"))).head.getLong(0) === (0 until nPages).sum.toLong)
  }

  test("cursor walk guards: cycling cursors and maxPages fail fast, never loop") {
    import org.apache.spark.sql.types._
    import graft.sources.dsv2.PageFetcher
    val itemSchema = StructType(Seq(StructField("id", StringType)))
    val echo: PageFetcher = // server echoes the same cursor forever
      (_: String) => Iterator("""{"items":[],"cursor":"same"}""")
    val e1 = intercept[IllegalStateException] {
      HttpCursorSource.read(spark, "http://mock/echo", "items", itemSchema,
        fetcher = Some(echo))
    }
    assert(e1.getMessage.contains("twice"))
    val endless: PageFetcher = { (url: String) =>
      val i = url.split("cursor=c").drop(1).headOption.map(_.toInt).getOrElse(0)
      Iterator(s"""{"items":[],"cursor":"c${i + 1}"}""")
    }
    val e2 = intercept[IllegalStateException] {
      HttpCursorSource.read(spark, "http://mock/endless", "items", itemSchema,
        fetcher = Some(endless), maxPages = 7)
    }
    assert(e2.getMessage.contains("maxPages=7"))
  }

  test("Retry-After is capped: a hostile day-long header cannot pin the task") {
    import graft.sources.dsv2.{PageFetcher, RateLimitedException, RetryingFetcher}
    var calls = 0
    val hostile: PageFetcher = { (_: String) =>
      calls += 1
      if (calls == 1) throw RateLimitedException(Some(86400000L), "slow down")
      Iterator("ok")
    }
    val t0 = System.nanoTime()
    val out = new RetryingFetcher(hostile, maxAttempts = 3, baseBackoffMs = 1,
      maxWaitMs = 50).open("x").toSeq
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(out === Seq("ok"))
    assert(elapsedMs < 5000, s"Retry-After must be capped at maxWaitMs, slept ${elapsedMs}ms")
  }

  test("batch scan tolerates blank manifest lines (appended-feed stray newline)") {
    val dir = Files.createTempDirectory("paged-feed-blank").toString
    Files.write(Paths.get(dir, "page-0.jsonl"),
      """{"id":"p1","created_at":"2024-01-05T00:00:00Z"}""".getBytes)
    Files.write(Paths.get(dir, "manifest.jsonl"),
      ("""{"file":"page-0.jsonl","min_created_at":"2024-01-05T00:00:00Z","max_created_at":"2024-01-05T00:00:00Z","rows":1}""" +
        "\n\n").getBytes) // trailing blank line, as an append with extra newline leaves
    val df = spark.read.format("graft.sources.dsv2.PagedJsonSource")
      .schema(SquareSchemas.payment).option("path", dir).load()
    assert(df.select("id").collect().map(_.getString(0)).toSeq === Seq("p1"))
  }

  test("cursor-paginated REST: server 400 fails fast through the walk") {
    val feed = new MockFeed
    feed.rateLimitFirstHit = false
    try {
      import org.apache.spark.sql.types._
      val itemSchema = StructType(Seq(StructField("id", StringType)))
      val e = intercept[PageFetchFailedException] {
        HttpCursorSource.read(
          spark, s"${feed.base}/payments", "payments", itemSchema,
          params = Map.empty, baseBackoffMs = 1) // missing begin_time → 400
      }
      assert(e.status === 400)
    } finally feed.stop()
  }
}
