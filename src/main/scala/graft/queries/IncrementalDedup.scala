package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{MinHash16, TextFns}
import graft.Tables

/** Incremental deduplication — the production shape of the d1/d3
  * operators: a 100 TB corpus is not re-deduped per run; each INCREMENT
  * is deduped against a persistent index and the index grows by the
  * novel documents only. Cost per run is O(increment ∪ candidates),
  * never O(corpus).
  *
  * State under `statePath` — APPEND-ONLY parquet tables:
  *   - `fingerprints` (fp, doc_id): exact-dedup index — one row per
  *     distinct normalized text, first-seen doc wins;
  *   - `signatures` (doc_id, band, sig): MinHash LSH index — 4 slim
  *     band rows per doc;
  *   - `doc_shingles` (doc_id, shs): each doc's shingle set stored ONCE,
  *     joined only for exact verification of band-collision candidates
  *     (the same fetch-on-candidates shape as TextDedup d3) — band rows
  *     stay a few bytes wide, and collisions never ship shingle arrays.
  *
  * Append-only is load-bearing twice over: the returned novel/duplicate
  * frames lazily read the index, and appends never invalidate those
  * plans (a rewrite-and-swap would yank files out from under them); and
  * crash-retry is safe — a doc whose index rows landed before a crash
  * self-matches on replay (self-matches are excluded), stays classified
  * novel, and at worst re-appends an identical row, which the candidate
  * distinct absorbs. Compact the index periodically with
  * [[graft.operators.Maintenance]].
  */
object IncrementalDedup {

  final case class DedupResult(novel: DataFrame, duplicates: DataFrame)

  private def emptyState(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    !p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Exact incremental dedup: a doc is a duplicate if its normalized-text
    * fingerprint was seen in a prior run (index hit) or earlier in this
    * batch (min doc_id wins). `docs`: (doc_id, text). */
  def dedupeExactIncrement(
      spark: SparkSession, statePath: String, docs: DataFrame): DedupResult = {
    val fpTable = s"$statePath/fingerprints"
    val withFp = docs.select(col("doc_id"),
      TextFns.fingerprint(col("text")).as("fp"))

    // within-batch: first doc per fingerprint survives
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val ranked = withFp.withColumn("__rn", row_number().over(w))
      .withColumn("__first", first(col("doc_id")).over(w))
    val batchDupes = ranked.filter(col("__rn") > 1)
      .select(col("doc_id"), col("__first").as("matched_doc_id"),
        lit("exact-batch").as("reason"))
    val batchFirsts = ranked.filter(col("__rn") === 1).select("doc_id", "fp")

    // vs index: batch-surviving docs whose fp is already known
    val indexDupes =
      if (emptyState(spark, fpTable))
        batchFirsts.limit(0).select(col("doc_id"),
          col("doc_id").as("matched_doc_id"), lit("exact-index").as("reason"))
      else {
        val idx = Tables.parquet(spark, fpTable)
          .select(col("fp"), col("doc_id").as("matched_doc_id"))
        batchFirsts.join(idx, Seq("fp"))
          .filter(col("doc_id") =!= col("matched_doc_id")) // replay-safe
          .select(col("doc_id"), col("matched_doc_id"), lit("exact-index").as("reason"))
          .distinct() // replayed appends may duplicate index rows
      }

    val duplicates = batchDupes.unionByName(indexDupes)
    val novel = docs.join(duplicates.select("doc_id"), Seq("doc_id"), "left_anti")

    // index grows by the novel docs' fingerprints (append-only: novel
    // fps are absent from the index by construction)
    val novelFps = withFp.join(novel.select("doc_id"), Seq("doc_id"), "left_semi")
    novelFps.select("fp", "doc_id").write.mode(SaveMode.Append).parquet(fpTable)
    DedupResult(novel, duplicates)
  }

  /** Near-dup incremental dedup via the MinHash LSH index: band-collision
    * candidates (within the batch and against the index) verified by
    * exact shingle Jaccard ≥ `threshold`. `docs`: (doc_id, text). */
  def dedupeNearIncrement(
      spark: SparkSession,
      statePath: String,
      docs: DataFrame,
      threshold: Double = 0.7): DedupResult = {
    val sigTable = s"$statePath/signatures"
    val shsTable = s"$statePath/doc_shingles"

    val withShs = docs.select(col("doc_id"),
      array_distinct(TextFns.shinglesRegex(col("text"), 3)).as("shs"))
      .filter(size(col("shs")) > 0)
    val withMh = withShs.withColumn("mh", MinHash16.of(col("shs")))
    val bandCols = (0 until 4).map { k =>
      md5(concat_ws("|", (0 until 4).map(j => element_at(col("mh"), k * 4 + j + 1)): _*))
    }
    // slim band rows: shingle sets never ride the LSH join (stored once
    // in doc_shingles, fetched below for verified candidates only)
    val newSigs = withMh
      .select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "sig")))

    val indexSigs =
      if (emptyState(spark, sigTable)) newSigs.limit(0)
      else Tables.parquet(spark, sigTable)

    // candidate PAIRS from band collisions (slim: ids only); distinct
    // collapses multi-band collisions before any shingle array moves
    val vsIndex = newSigs.as("n")
      .join(indexSigs.as("o"),
        col("n.band") === col("o.band") && col("n.sig") === col("o.sig") &&
          col("n.doc_id") =!= col("o.doc_id")) // replay-safe
      .select(col("n.doc_id").as("doc_id"), col("o.doc_id").as("matched_doc_id"))
    val vsBatch = newSigs.as("a")
      .join(newSigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") > col("b.doc_id")) // later doc dupes the earlier
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("matched_doc_id"))
    val pairs = vsIndex.unionByName(vsBatch).distinct()

    // fetch shingle sets for candidates only: batch side from lineage,
    // partner side from (batch ∪ doc_shingles) semi-joined to the
    // candidate partner ids — replayed appends deduped at candidate size
    val allShs = withShs.unionByName(
      if (emptyState(spark, shsTable)) withShs.limit(0)
      else Tables.parquet(spark, shsTable))
    val partnerShs = allShs
      .join(pairs.select(col("matched_doc_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .dropDuplicates("doc_id")

    val inter = size(array_intersect(col("shs1"), col("shs2")))
    val jac = inter.cast("double") / (size(col("shs1")) + size(col("shs2")) - inter)
    val duplicates = pairs
      .join(withShs.select(col("doc_id"), col("shs").as("shs1")), Seq("doc_id"))
      .join(partnerShs.select(col("doc_id").as("matched_doc_id"), col("shs").as("shs2")),
        Seq("matched_doc_id"))
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("matched_doc_id"), col("jaccard"))
      // a doc may collide with several partners; report its best match
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("jaccard").desc, col("matched_doc_id"))))
      .filter(col("__rn") === 1).drop("__rn")

    val novel = docs.join(duplicates.select("doc_id"), Seq("doc_id"), "left_anti")
    // doc_shingles first: a doc with shingles but no band rows is merely
    // invisible to candidates until replay; band rows without shingles
    // would form pairs that the inner verification join drops — both
    // windows replay-safe, the former cheaper
    val novelIds = novel.select("doc_id")
    withShs.join(novelIds, Seq("doc_id"), "left_semi")
      .select("doc_id", "shs")
      .write.mode(SaveMode.Append).parquet(shsTable)
    newSigs.join(novelIds, Seq("doc_id"), "left_semi")
      .select("doc_id", "band", "sig")
      .write.mode(SaveMode.Append).parquet(sigTable)
    DedupResult(novel, duplicates)
  }

  /** Streaming near-dup filter: every micro-batch of (doc_id, text) is
    * deduped against the persistent index (and itself) via
    * [[dedupeNearIncrement]]; novel docs land under
    * `novelPath/batch=<id>`. Replay-safe end to end: the index append is
    * replay-stable (self-matches excluded), and the per-batch OVERWRITE
    * of the batch's own output directory makes the novel sink idempotent
    * under foreachBatch's at-least-once contract. */
  def streamingNearDedup(
      docs: DataFrame,
      statePath: String,
      novelPath: String,
      checkpoint: String,
      threshold: Double = 0.7): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val r = dedupeNearIncrement(batch.sparkSession, statePath, batch, threshold)
        r.novel.write.mode(SaveMode.Overwrite)
          .parquet(s"$novelPath/batch=$batchId")
        ()
      }
      .start()
}
