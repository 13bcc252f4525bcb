package graft.queries

import java.security.MessageDigest
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables => T}
import graft.functions.{ArrayLongDot, ArrayLshBuckets, ArraySignBits, ArraySignedProjections}

/** Similarity search over the `embeddings` table (Array[Float], dim 64).
  *
  * v1 is the exact baseline: broadcast the (small) query set against all
  * candidates and score with array expressions — per-row dot products
  * stay inside whole-stage codegen, no explode. At cluster scale the
  * candidate side stays partitioned; only the query set moves.
  *
  * v2 is the scale path: random-hyperplane LSH. Bucket signatures are
  * computed per-row against constant sign vectors derived from md5 —
  * deterministic, so the DuckDB oracle reproduces them bit-for-bit.
  * Search cost drops from O(N) to O(bucket).
  *
  * Oracle parity + speed: embedding floats are quantized ONCE to
  * fixed-point micro-units (double → DECIMAL(10,6) → ×1e6 → BIGINT —
  * identical rounding in both engines), then every dot/norm is an exact
  * integer sum (order-independent, no Decimal allocation in the hot
  * loop; |dot| ≤ 64·10⁷·10⁷ < 2⁶³). Only the final cosine runs in
  * double, with the same expression shape on both engines.
  */
object Similarity {

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Deterministic ±1 hyperplane component for (plane, dim), dims 1-based. */
  private def sign(plane: Int, dim: Int): Int =
    if (md5Hex(s"$plane-$dim").charAt(0) < '8') 1 else -1

  private val nPlanes = 8   // single-table signature width (near-dup use)
  private val dim = 64
  // multi-table ANN: L narrower tables, candidates unioned across tables.
  // Plane p of table t uses the global plane index t*tablePlanes + p, so
  // table 0 reuses the first 4 single-table hyperplanes. L is the recall
  // dial: each extra table adds an independent chance to catch a true
  // neighbor (miss rate decays geometrically in L).
  private[graft] val nTables = 28
  private[graft] val tablePlanes = 4

  /** The deterministic ±1 hyperplane matrix for the given global plane
    * indices (rows = planes, cols = dims). */
  private def signMatrix(planes: Range): Seq[Seq[Int]] =
    planes.map(p => (1 to dim).map(d => sign(p, d)))

  /** Quantize a float array column to fixed-point micro-unit longs. */
  private[queries] def quantize(arr: String): Column =
    expr(s"transform($arr, x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(10,6)) * 1000000 AS BIGINT))")

  /** Exact integer dot product of two quantized long-array columns — the
    * codegen'd native kernel (the interpreted aggregate/zip_with HOF form
    * was the round-1 hot spot; same integer math, same oracle). */
  private[queries] def dotQ(a: String, b: String): Column =
    ArrayLongDot.dotQ(col(a), col(b))

  /** cosine from integer dot/norms: same expression shape in the oracle. */
  private[queries] def cosine: Column =
    (col("dot").cast("double") / lit(1e12)) /
      (sqrt(col("nx").cast("double") / lit(1e12)) * sqrt(col("ny").cast("double") / lit(1e12)))

  private[queries] val sqlQuantU = "CAST(CAST(CAST(u.x AS DOUBLE) AS DECIMAL(10,6)) * 1000000 AS BIGINT)"
  private[queries] val sqlQuantV = "CAST(CAST(CAST(u.y AS DOUBLE) AS DECIMAL(10,6)) * 1000000 AS BIGINT)"

  private val sqlDots =
    s"""dots AS (SELECT qid, cid,
       |    sum($sqlQuantU * $sqlQuantV) AS dot,
       |    sum($sqlQuantU * $sqlQuantU) AS nx,
       |    sum($sqlQuantV * $sqlQuantV) AS ny
       |  FROM u GROUP BY qid, cid),
       |scored AS (SELECT qid, cid,
       |    (CAST(dot AS DOUBLE) / 1e12) /
       |      (sqrt(CAST(nx AS DOUBLE) / 1e12) * sqrt(CAST(ny AS DOUBLE) / 1e12)) AS cosine
       |  FROM dots)""".stripMargin

  private val sqlTopk =
    """SELECT qid, cid, cosine, rank FROM (
      |  SELECT qid, cid, cosine,
      |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
      |  FROM scored) t
      |WHERE rank <= 10""".stripMargin

  /** Score a (qid, cid, qeq, ceq) frame and keep cosine top-k per query. */
  private def scoreTopk(pairs: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    pairs
      .withColumn("dot", dotQ("qeq", "ceq"))
      .withColumn("nx", dotQ("qeq", "qeq"))
      .withColumn("ny", dotQ("ceq", "ceq"))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("cosine"), col("rank"))
  }

  /** Global md5-order rank (`rn` = row_number over `(md5(vec_id),
    * vec_id)`), built DISTRIBUTED: a partition-less window would sort
    * the whole corpus in one task (the v22/v25 scale-killer flagged in
    * round 10). Instead the two-hex md5 PREFIX buckets the rows — a
    * prefix of the order key, so bucket boundaries respect the global
    * order and the resulting rank is bit-identical to the single-window
    * formulation (the DuckDB oracles replay exactly that) — each of the
    * ≤256 buckets ranks in parallel under a partitioned window, and the
    * per-bucket offsets are a 256-row driver fold broadcast back. At
    * 100 TB every task sorts ~1/256 of the corpus; nothing global.
    * The result is STAGED to `stagePath` and read back: callers use
    * the rank several times (ring self-join twice, entry lottery), and
    * re-executing the shuffle+window lineage per use would pay the
    * distribution cost thrice for one rank. Returns the corpus count
    * too — the bucket fold already knows it, so callers' ring modulo
    * arithmetic costs no separate count() job.
    *
    * Parallelism dial: the two-hex prefix caps the rank at 256 tasks —
    * ample for any corpus whose PER-BUCKET sort fits a task (≈ tens of
    * millions of rows per bucket); at true 100 TB vector counts, widen
    * the prefix to three hex chars (4,096 buckets) — the construction
    * is prefix-length-agnostic, only the `substring` length and the
    * bucket-count require() change. */
  private def md5Rank(df: DataFrame, stagePath: String): (DataFrame, Long) = {
    val h = df.select(col("vec_id"),
        md5(col("vec_id").cast("string")).as("h"))
      .withColumn("bkt", substring(col("h"), 1, 2))
    val local = h.withColumn("lrn", row_number().over(
      Window.partitionBy(col("bkt")).orderBy(col("h"), col("vec_id"))))
    val counts = local.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    require(counts.nonEmpty && counts.length <= 256,
      s"md5Rank needs a non-empty frame within 256 buckets, got ${counts.length}")
    val offsets = counts.scanLeft(("", 0L)) {
      case ((_, acc), (b, c)) => (b, acc + c)
    }.sliding(2).map { case Array((_, off), (b, _)) => (b, off) }.toSeq
    val offDf = broadcast(
      df.sparkSession.createDataFrame(offsets).toDF("bkt", "off"))
    val staged = graft.Scratch.stageFrame(df.sparkSession,
      local.join(offDf, Seq("bkt"))
        .select(col("vec_id"), (col("off") + col("lrn")).as("rn")),
      stagePath)
    (staged, counts.map(_._2).sum)
  }

  /** Attach LSH `bucket` (int id) to a frame holding quantized array `q`:
    * 8 hyperplane projections against constant ±1 sign vectors (exact
    * integer sums), bucket = the 8-bit sign pattern. One codegen'd
    * native-expression pass computes every plane. */
  private def bucketed(df: DataFrame, q: String): DataFrame =
    df.withColumn("bucket",
      element_at(ArrayLshBuckets.buckets(col(q), signMatrix(0 until nPlanes), nPlanes), 1))

  /** Reusable ANN operator: cosine top-k of `queryPred`-selected vectors
    * against the whole frame, via multi-table hyperplane LSH candidates +
    * exact rescoring. `emb0` must carry (vec_id, embedding). At cluster
    * scale the bucket join shuffles only (id, table, bucket) triples;
    * vectors are joined back for rescoring on the candidate set alone. */
  private[graft] def annTopK(
      emb0: DataFrame,
      queryPred: Column,
      nT: Int,
      tp: Int,
      k: Int): DataFrame = {
    val emb = emb0.withColumn("q", quantize("embedding"))
    val melted = emb.select(col("vec_id"),
      posexplode(ArrayLshBuckets.buckets(col("q"), signMatrix(0 until nT * tp), tp))
        .as(Seq("tbl", "bucket")))
    val qSide = melted.filter(queryPred)
      .select(col("vec_id").as("qid"), col("tbl"), col("bucket"))
    val cand = melted.select(col("vec_id").as("cid"), col("tbl"), col("bucket"))
      .join(broadcast(qSide), Seq("tbl", "bucket"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid")).distinct()
    val vecs = emb.select(col("vec_id"), col("q"))
    scoreTopk(cand
      .join(vecs.select(col("vec_id").as("qid"), col("q").as("qeq")), Seq("qid"))
      .join(vecs.select(col("vec_id").as("cid"), col("q").as("ceq")), Seq("cid")), k)
  }

  private val sqlSigns =
    """signs AS (SELECT p, dim,
      |    CASE WHEN substr(md5(CAST(p AS VARCHAR) || '-' || CAST(dim AS VARCHAR)), 1, 1)
      |      IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS sgn
      |  FROM (SELECT unnest(range(0, 8)) AS p) planes,
      |       (SELECT unnest(range(1, 65)) AS dim) dims)""".stripMargin

  private val sqlMultiBuckets =
    s"""signs AS (SELECT p, dim,
       |    CASE WHEN substr(md5(CAST(p AS VARCHAR) || '-' || CAST(dim AS VARCHAR)), 1, 1)
       |      IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS sgn
       |  FROM (SELECT unnest(range(0, ${nTables * tablePlanes})) AS p) planes,
       |       (SELECT unnest(range(1, 65)) AS dim) dims),
       |uv AS (SELECT vec_id, unnest(embedding) AS x, unnest(range(1, 65)) AS dim FROM embeddings),
       |proj AS (SELECT vec_id, p,
       |    sum(CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(10,6)) * 1000000 AS BIGINT) * sgn) AS pr
       |  FROM uv JOIN signs USING (dim) GROUP BY vec_id, p),
       |buckets AS (SELECT vec_id, p // $tablePlanes AS tbl,
       |    string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
       |  FROM proj GROUP BY vec_id, p // $tablePlanes)""".stripMargin

  private val sqlBuckets =
    s"""uv AS (SELECT vec_id, unnest(embedding) AS x, unnest(range(1, 65)) AS dim FROM embeddings),
       |proj AS (SELECT vec_id, p,
       |    sum(CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(10,6)) * 1000000 AS BIGINT) * sgn) AS pr
       |  FROM uv JOIN signs USING (dim) GROUP BY vec_id, p),
       |buckets AS (SELECT vec_id, string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
       |  FROM proj GROUP BY vec_id)""".stripMargin

  // --- v1_knn_bruteforce: exact cosine top-10 per query vector ---
  val v1KnnBruteforce = QueryDef.sql(
    "v1_knn_bruteforce",
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
       |pr AS (SELECT qid, c.vec_id AS cid, qe, c.embedding AS ce FROM q, embeddings c WHERE c.vec_id <> qid),
       |u AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM pr),
       |$sqlDots
       |$sqlTopk""".stripMargin) { (s, d) =>
    val emb = T.embeddings(s, d).withColumn("q", quantize("embedding"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qeq"))
    val c = emb.select(col("vec_id").as("cid"), col("q").as("ceq"))
    scoreTopk(c.crossJoin(broadcast(q)).filter(col("cid") =!= col("qid")))
  }

  // --- v2_ann_lsh: multi-table hyperplane LSH ANN (nTables × tablePlanes,
  // candidates unioned across tables, exact rescoring). One coarse table
  // measured recall@10 = 0 on these near-orthogonal embeddings (top-10
  // cosine ≈ 0.3 ⇒ per-plane collision ≈ 0.6, 0.6⁸ ≈ 0.017/table);
  // narrower tables × more of them is the standard recall/cost dial —
  // per-table hit ≈ 0.6⁴ ≈ 0.13, so miss@L ≈ 0.87^L: L=28 ⇒ ~2% miss.
  // The fixture's near-orthogonal embeddings are LSH's worst geometry, so
  // high recall costs a large candidate set here; on real clustered
  // embeddings the same machinery prunes far harder. ---
  val v2AnnLsh = QueryDef.sql(
    "v2_ann_lsh",
    s"""WITH $sqlMultiBuckets,
       |q AS (SELECT e.vec_id AS qid, e.embedding AS qe, b.tbl, b.bucket
       |      FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id WHERE e.vec_id < 5),
       |cand AS (SELECT DISTINCT q.qid, b.vec_id AS cid
       |         FROM q JOIN buckets b ON q.tbl = b.tbl AND q.bucket = b.bucket
       |         WHERE b.vec_id <> q.qid),
       |pairs AS (SELECT c.qid, c.cid, eq.embedding AS qe, ec.embedding AS ce
       |          FROM cand c
       |          JOIN embeddings eq ON eq.vec_id = c.qid
       |          JOIN embeddings ec ON ec.vec_id = c.cid),
       |u AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM pairs),
       |$sqlDots
       |$sqlTopk""".stripMargin) { (s, d) =>
    annTopK(T.embeddings(s, d), col("vec_id") < 5, nTables, tablePlanes, 10)
  }

  // --- v3_embedding_neardup: all-pairs near-duplicate detection via LSH
  // buckets (cosine ≥ 0.4 within bucket; the fixture embeddings have no
  // planted near-dups — max all-pairs cosine ≈ 0.51 — so the threshold
  // sits where signal exists) ---
  val v3EmbeddingNeardup = QueryDef.sql(
    "v3_embedding_neardup",
    s"""WITH $sqlSigns,
       |$sqlBuckets,
       |pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2, ea.embedding AS qe, eb.embedding AS ce
       |          FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |          JOIN embeddings ea ON ea.vec_id = a.vec_id
       |          JOIN embeddings eb ON eb.vec_id = b.vec_id),
       |u AS (SELECT id1 AS qid, id2 AS cid, unnest(qe) AS x, unnest(ce) AS y FROM pairs),
       |$sqlDots
       |SELECT qid AS id1, cid AS id2, cosine FROM scored WHERE cosine >= 0.4""".stripMargin) { (s, d) =>
    // No persist: the codegen'd projections are cheap enough to
    // recompute, and the self-join's identical sides share one shuffle
    // via ReusedExchange — nothing is left cached after the query.
    val emb = bucketed(T.embeddings(s, d).withColumn("q", quantize("embedding")), "q")
    val a = emb.select(col("vec_id").as("id1"), col("q").as("qeq"), col("bucket"))
    val b = emb.select(col("vec_id").as("id2"), col("q").as("ceq"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .withColumn("dot", dotQ("qeq", "ceq"))
      .withColumn("nx", dotQ("qeq", "qeq"))
      .withColumn("ny", dotQ("ceq", "ceq"))
      .withColumn("cosine", cosine)
      .filter(col("cosine") >= 0.4)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  // --- v5_ann_ivf: IVF-Flat with a sampled coarse quantizer — the
  // cell-partitioned alternative to v2's hyperplane LSH. Centroids are a
  // deterministic sample of the corpus (vec_id % 37; k-means init IS a
  // sample, and skipping Lloyd iterations keeps every arithmetic step
  // exact-integer → bit-reproducible by the SQL oracle). Build: one
  // linear pass scores every vector against the broadcast centroids and
  // keeps the argmax cell. Query: probe the nprobe nearest cells, rescore
  // only their members exactly. At cluster scale cells are the storage
  // clustering key (like the persistent index's (tbl, bucket)), the
  // centroid set stays broadcast-sized (production samples ~√N), and
  // search cost is O(corpus/k × nprobe) instead of O(corpus). ---
  val v5AnnIvf = QueryDef.sql(
    "v5_ann_ivf",
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id % 37 = 0),
       |apairs AS (SELECT e.vec_id AS qid, c.cent_id AS cid, e.embedding AS qe, c.ce
       |           FROM embeddings e, cents c),
       |au AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM apairs),
       |adots AS (SELECT qid, cid,
       |    sum($sqlQuantU * $sqlQuantV) AS dot,
       |    sum($sqlQuantU * $sqlQuantU) AS nx,
       |    sum($sqlQuantV * $sqlQuantV) AS ny
       |  FROM au u GROUP BY qid, cid),
       |aranked AS (SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY
       |      (CAST(dot AS DOUBLE) / 1e12) /
       |        (sqrt(CAST(nx AS DOUBLE) / 1e12) * sqrt(CAST(ny AS DOUBLE) / 1e12)) DESC,
       |      cid) AS rank
       |  FROM adots),
       |cells AS (SELECT qid AS vec_id, cid AS cell FROM aranked WHERE rank = 1),
       |probes AS (SELECT qid, cid AS cell FROM aranked WHERE qid < 5 AND rank <= 3),
       |cand AS (SELECT DISTINCT p.qid, cl.vec_id AS cid
       |         FROM probes p JOIN cells cl ON p.cell = cl.cell
       |         WHERE cl.vec_id <> p.qid),
       |pairs AS (SELECT c.qid, c.cid, eq.embedding AS qe, ec.embedding AS ce
       |          FROM cand c
       |          JOIN embeddings eq ON eq.vec_id = c.qid
       |          JOIN embeddings ec ON ec.vec_id = c.cid),
       |u AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM pairs),
       |$sqlDots
       |$sqlTopk""".stripMargin) { (s, d) =>
    val emb = T.embeddings(s, d).withColumn("q", quantize("embedding"))
    val cents = ivfCentroids(emb)
    val ranked = rankAgainstCentroids(
      emb.select(col("vec_id").as("qid"), col("q").as("qeq")), cents)
    val cells = ranked.filter(col("rank") === 1)
      .select(col("qid").as("vec_id"), col("cid").as("cell"))
    val probes = ranked.filter(col("qid") < 5 && col("rank") <= 3)
      .select(col("qid"), col("cid").as("cell"))
    val cand = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid")).distinct()
    val vecs = emb.select(col("vec_id"), col("q"))
    scoreTopk(cand
      .join(vecs.select(col("vec_id").as("qid"), col("q").as("qeq")), Seq("qid"))
      .join(vecs.select(col("vec_id").as("cid"), col("q").as("ceq")), Seq("cid")), 10)
  }

  /** The deterministic sampled coarse quantizer shared by v5 and the
    * persistent IVF index (production swaps in ~√N sampling or k-means
    * centroids — everything downstream is centroid-agnostic). */
  private def ivfCentroids(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("cid"), col("q").as("ceq"))

  /** Rank `vecs` (qid, qeq) against the broadcast centroid set (cid,
    * ceq) by exact-integer cosine: one linear codegen'd pass, no shuffle
    * of the vector side. */
  private def rankAgainstCentroids(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("dot", dotQ("qeq", "ceq"))
      .withColumn("nx", dotQ("qeq", "qeq"))
      .withColumn("ny", dotQ("ceq", "ceq"))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))))

  /** Build a persistent IVF index at `path`: `centroids` (the coarse
    * quantizer's vectors) + `cells` (vec_id, cell, q) clustered by cell
    * so a probe's members are a row-group-skipping range scan. */
  def buildIvfIndex(spark: SparkSession, path: String, emb0: DataFrame): Unit = {
    val emb = emb0.withColumn("q", quantize("embedding"))
    val cents = ivfCentroids(emb)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    rankAgainstCentroids(emb.select(col("vec_id").as("qid"), col("q").as("qeq")), cents)
      .filter(col("rank") === 1)
      .select(col("qid").as("vec_id"), col("cid").as("cell"), col("qeq").as("q"))
      .repartitionByRange(col("cell"))
      .sortWithinPartitions(col("cell"))
      .write.mode("overwrite").parquet(s"$path/cells")
  }

  /** Cosine top-k of `queries` (qid, embedding) against the IVF index:
    * probe the `nprobe` nearest cells, rescore members exactly —
    * O(corpus/k × nprobe) per query, never a corpus scan. */
  def queryIvfIndex(
      spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int = 3): DataFrame = {
    val cents = T.parquet(spark, s"$path/centroids")
    val cells = T.parquet(spark, s"$path/cells")
    val q = queries.select(col("qid"), quantize("embedding").as("qeq"))
    val probes = rankAgainstCentroids(q, cents)
      .filter(col("rank") <= nprobe)
      .select(col("qid"), col("qeq"), col("cid").as("cell"))
    scoreTopk(cells
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qeq"), col("vec_id").as("cid"), col("q").as("ceq"))
      .dropDuplicates("qid", "cid"), k)
  }

  // ------------- persistent ANN index (build / append / query) ---------
  // The production shape of v2: bucket signatures are computed ONCE per
  // vector at ingest and persisted; queries join their own buckets
  // against the index and rescore only the candidates. Append-only like
  // IncrementalDedup's state (new vectors are new rows; lazy readers
  // keep a stable file snapshot), clustered by (tbl, bucket) so
  // bucket-selective scans skip row groups.

  /** (vec_id, tbl, bucket, q) rows for an embeddings frame. */
  private def indexRows(emb: DataFrame, nT: Int, tp: Int): DataFrame =
    emb.withColumn("q", quantize("embedding"))
      .select(col("vec_id"), col("q"),
        posexplode(ArrayLshBuckets.buckets(col("q"), signMatrix(0 until nT * tp), tp))
          .as(Seq("tbl", "bucket")))

  /** Create the index from `emb` (vec_id, embedding), replacing any
    * existing index at `path`. */
  def buildIndex(
      spark: SparkSession, path: String, emb: DataFrame,
      nT: Int = nTables, tp: Int = tablePlanes): Unit =
    indexRows(emb, nT, tp)
      .repartitionByRange(col("tbl"), col("bucket"))
      .sortWithinPartitions(col("tbl"), col("bucket"))
      .write.mode("overwrite").parquet(path)

  /** Append new vectors to an existing index (no rewrite of old rows). */
  def appendToIndex(
      spark: SparkSession, path: String, emb: DataFrame,
      nT: Int = nTables, tp: Int = tablePlanes): Unit =
    indexRows(emb, nT, tp).write.mode("append").parquet(path)

  // Deletions are APPEND-ONLY TOMBSTONES (the production vector-store
  // pattern: the index rows are immutable at ingest; a delete lands one
  // id row in a sibling table and queries anti-join it — O(deleted set)
  // per query, no index rewrite on the delete path). [[compactIndex]]
  // folds accumulated tombstones into the index through the staged-swap
  // crash protocol when the tombstone set has grown enough to matter.

  private def tombstonePath(path: String) = path + "_tombstones"

  /** Mark `ids` (vec_id rows) deleted: append-only, idempotent (dupes
    * collapse at read time). */
  def deleteFromIndex(spark: SparkSession, path: String, ids: DataFrame): Unit =
    ids.select(col("vec_id")).distinct()
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(tombstonePath(path))

  private def liveIndex(spark: SparkSession, path: String): DataFrame = {
    val tp = new org.apache.hadoop.fs.Path(tombstonePath(path))
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idx = T.parquet(spark, path)
    if (!fs.exists(tp)) idx
    else idx.join(broadcast(T.parquet(spark, tp.toString).distinct()),
      Seq("vec_id"), "left_anti")
  }

  /** [[queryIndex]] over the LIVE view: tombstoned vectors can never
    * surface as results. */
  def queryIndexLive(
      spark: SparkSession, path: String, queries: DataFrame, k: Int,
      nT: Int = nTables, tp: Int = tablePlanes): DataFrame =
    queryFrom(liveIndex(spark, path), queries, k, nT, tp)

  /** Fold tombstones into the index (drop their rows, clear the
    * tombstone table) via the staged-swap crash protocol — run when the
    * deleted fraction makes the per-query anti-join worth removing. */
  def compactIndex(spark: SparkSession, path: String): Unit = {
    val tp = new org.apache.hadoop.fs.Path(tombstonePath(path))
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.operators.Upsert.recoverSwap(fs, path)
    if (fs.exists(tp)) {
      val tomb = T.parquet(spark, tp.toString).distinct()
      graft.operators.Upsert.stagedRewrite(spark, path)(
        _.join(broadcast(tomb), Seq("vec_id"), "left_anti"))
      fs.delete(tp, true)
    }
  }

  private def queryFrom(
      idx: DataFrame, queries: DataFrame, k: Int, nT: Int, tp: Int): DataFrame = {
    val qRows = indexRows(queries.select(col("qid").as("vec_id"), col("embedding")), nT, tp)
      .select(col("vec_id").as("qid"), col("q").as("qeq"), col("tbl"), col("bucket"))
    val cand = idx
      .join(broadcast(qRows.select(col("qid"), col("qeq"), col("tbl"), col("bucket"))),
        Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qeq"), col("vec_id").as("cid"), col("q").as("ceq"))
      .dropDuplicates("qid", "cid")
    scoreTopk(cand, k)
  }

  /** Cosine top-k of `queries` (qid, embedding) against the indexed
    * corpus: candidates from bucket collisions, exact fixed-point
    * rescoring — O(candidates), never a corpus scan. */
  def queryIndex(
      spark: SparkSession, path: String, queries: DataFrame, k: Int,
      nT: Int = nTables, tp: Int = tablePlanes): DataFrame =
    queryFrom(T.parquet(spark, path), queries, k, nT, tp)

  // --- v6_random_projection: Johnson-Lindenstrauss dimensionality
  // reduction, 64 → 16 dims against the deterministic ±1 hyperplane
  // matrix — the standard embedding-compression step before indexing or
  // clustering at corpus scale (16 ints/vector instead of 64 floats).
  // All 16 projections are exact integer sums computed by the codegen'd
  // ArraySignedProjections kernel in ONE pass per row (no per-plane
  // recompute, no shuffle); the posexplode only unpivots the finished
  // 16-value array into the hashable long-format output. ---
  val v6RandomProjection = QueryDef.sql(
    "v6_random_projection",
    s"""WITH signs AS (SELECT p, dim,
       |    CASE WHEN substr(md5(CAST(p AS VARCHAR) || '-' || CAST(dim AS VARCHAR)), 1, 1)
       |      IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS sgn
       |  FROM (SELECT unnest(range(0, 16)) AS p) planes,
       |       (SELECT unnest(range(1, 65)) AS dim) dims),
       |uv AS (SELECT vec_id, unnest(embedding) AS x, unnest(range(1, 65)) AS dim FROM embeddings)
       |SELECT vec_id, p AS j,
       |  CAST(sum(CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(10,6)) * 1000000 AS BIGINT) * sgn) AS BIGINT) AS pr
       |FROM uv JOIN signs USING (dim)
       |GROUP BY vec_id, p""".stripMargin) { (s, d) =>
    T.embeddings(s, d)
      .select(col("vec_id"), quantize("embedding").as("q"))
      .select(col("vec_id"),
        posexplode(ArraySignedProjections.project(col("q"), signMatrix(0 until 16)))
          .as(Seq("j", "pr")))
  }

  // --- v8_mmr_rerank: Maximal-Marginal-Relevance diverse top-3 for the
  // query vector (vec_id 0) — greedy picks maximizing
  // λ·rel(c) − (1−λ)·max_{s∈picked} sim(c,s), λ=0.7. The retrieval flow
  // this models: an ANN pass yields a relevance shortlist, then MMR
  // reranks the SHORTLIST for diversity — so the unrolled greedy rounds
  // here run on the top-50 shortlist (TakeOrdered top-M, never a global
  // sort shuffle), and each round is one broadcast of the single picked
  // vector against ≤50 rows. All relevances/similarities are cosines in
  // the shared fixed-point formulation — integer dots, one double
  // division shape — so both engines pick identical argmaxes and the
  // hash gate pins all three greedy rounds end-to-end. ---
  private def simAgainst(df: DataFrame, vec: String, out: String): DataFrame =
    df.withColumn("dot", dotQ("q", vec))
      .withColumn("nx", dotQ("q", "q"))
      .withColumn("ny", dotQ(vec, vec))
      .withColumn(out, cosine)
      .drop("dot", "nx", "ny", vec)

  val v8MmrRerank = QueryDef.sql(
    "v8_mmr_rerank",
    s"""WITH qp AS (SELECT c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
       |  FROM embeddings q, embeddings c WHERE q.vec_id = 0 AND c.vec_id <> 0),
       |relu AS (SELECT cid, unnest(qe) AS x, unnest(ce) AS y FROM qp),
       |reld AS (SELECT cid,
       |    sum($sqlQuantU * $sqlQuantV) AS dot,
       |    sum($sqlQuantU * $sqlQuantU) AS nx,
       |    sum($sqlQuantV * $sqlQuantV) AS ny
       |  FROM relu u GROUP BY cid),
       |rel AS (SELECT cid, (CAST(dot AS DOUBLE) / 1e12) /
       |    (sqrt(CAST(nx AS DOUBLE) / 1e12) * sqrt(CAST(ny AS DOUBLE) / 1e12)) AS rel
       |  FROM reld),
       |short AS (SELECT r.cid, r.rel, e.embedding
       |  FROM rel r JOIN embeddings e ON e.vec_id = r.cid
       |  ORDER BY r.rel DESC, r.cid LIMIT 50),
       |p1 AS (SELECT cid, rel, embedding FROM short ORDER BY rel DESC, cid LIMIT 1),
       |s1u AS (SELECT s.cid, unnest(s.embedding) AS x, unnest(p.embedding) AS y
       |  FROM short s, p1 p WHERE s.cid <> p.cid),
       |s1d AS (SELECT cid,
       |    sum($sqlQuantU * $sqlQuantV) AS dot,
       |    sum($sqlQuantU * $sqlQuantU) AS nx,
       |    sum($sqlQuantV * $sqlQuantV) AS ny
       |  FROM s1u u GROUP BY cid),
       |m2 AS (SELECT s.cid, s.rel, s.embedding,
       |    (CAST(dot AS DOUBLE) / 1e12) /
       |      (sqrt(CAST(nx AS DOUBLE) / 1e12) * sqrt(CAST(ny AS DOUBLE) / 1e12)) AS sim1
       |  FROM short s JOIN s1d USING (cid)),
       |m2s AS (SELECT cid, rel, embedding, sim1,
       |    CAST(0.7 AS DOUBLE) * rel - CAST(0.3 AS DOUBLE) * sim1 AS mmr FROM m2),
       |p2 AS (SELECT cid, rel, mmr, embedding FROM m2s ORDER BY mmr DESC, cid LIMIT 1),
       |s2u AS (SELECT m.cid, unnest(m.embedding) AS x, unnest(p.embedding) AS y
       |  FROM m2s m, p2 p WHERE m.cid <> p.cid),
       |s2d AS (SELECT cid,
       |    sum($sqlQuantU * $sqlQuantV) AS dot,
       |    sum($sqlQuantU * $sqlQuantU) AS nx,
       |    sum($sqlQuantV * $sqlQuantV) AS ny
       |  FROM s2u u GROUP BY cid),
       |m3 AS (SELECT m.cid, m.rel,
       |    CAST(0.7 AS DOUBLE) * m.rel - CAST(0.3 AS DOUBLE) * greatest(m.sim1,
       |      (CAST(dot AS DOUBLE) / 1e12) /
       |        (sqrt(CAST(nx AS DOUBLE) / 1e12) * sqrt(CAST(ny AS DOUBLE) / 1e12))) AS mmr
       |  FROM m2s m JOIN s2d USING (cid)),
       |p3 AS (SELECT cid, rel, mmr FROM m3 ORDER BY mmr DESC, cid LIMIT 1)
       |SELECT CAST(1 AS INT) AS rank, cid AS vec_id, rel AS relevance,
       |  CAST(0.7 AS DOUBLE) * rel AS mmr FROM p1
       |UNION ALL SELECT 2, cid, rel, mmr FROM p2
       |UNION ALL SELECT 3, cid, rel, mmr FROM p3""".stripMargin) { (s, d) =>
    val emb = T.embeddings(s, d).withColumn("q", quantize("embedding"))
    val qv = emb.filter(col("vec_id") === 0).select(col("q").as("qq"))
    val rel = simAgainst(
      emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv)), "qq", "rel")
      .select(col("vec_id"), col("q"), col("rel"))
    val short = rel.orderBy(col("rel").desc, col("vec_id")).limit(50)
    val p1 = short.orderBy(col("rel").desc, col("vec_id")).limit(1)
    val s1 = simAgainst(
      short.crossJoin(broadcast(p1.select(col("vec_id").as("pid"), col("q").as("pq"))))
        .filter(col("vec_id") =!= col("pid")).drop("pid"), "pq", "sim1")
      .withColumn("mmr",
        lit(0.7) * col("rel") - lit(0.3) * col("sim1"))
    val p2 = s1.orderBy(col("mmr").desc, col("vec_id")).limit(1)
    val s2 = simAgainst(
      s1.crossJoin(broadcast(p2.select(col("vec_id").as("pid"), col("q").as("pq"))))
        .filter(col("vec_id") =!= col("pid")).drop("pid"), "pq", "sim2")
      .withColumn("mmr",
        lit(0.7) * col("rel") - lit(0.3) * greatest(col("sim1"), col("sim2")))
    val p3 = s2.orderBy(col("mmr").desc, col("vec_id")).limit(1)
    p1.select(lit(1).as("rank"), col("vec_id"), col("rel").as("relevance"),
        (lit(0.7) * col("rel")).as("mmr"))
      .unionAll(p2.select(lit(2).as("rank"), col("vec_id"),
        col("rel").as("relevance"), col("mmr")))
      .unionAll(p3.select(lit(3).as("rank"), col("vec_id"),
        col("rel").as("relevance"), col("mmr")))
  }

  // --- v9_pq_codes: product-quantization encoding — THE embedding-
  // storage lever at corpus scale: 64 float32 (256 B) compress to 8
  // byte-sized codebook ids + an exact integer reconstruction error.
  // The vector splits into 8 subspaces of 8 dims; each subvector maps
  // to its nearest codebook entry (deterministic sampled codebook,
  // vec_id % 23 — the IVF/k-means init discipline) by squared-L2 over
  // quantized integers, so assignment is EXACT integer arithmetic end
  // to end (the codegen'd ArrayLongL2 kernel; ties break to the
  // smaller cell). Scale shape: codebook broadcasts (8×|sample| rows),
  // the corpus side is one linear pass (explode ×8 — map-side, no
  // shuffle), and the argmin is a partial-aggregated min(struct) hash
  // aggregate — never a window over the pair space. An ADC search over
  // the codes needs only the 8-byte codes + the broadcast codebook:
  // the 100 TB corpus never rereads its float vectors. ---
  private val sqlPqQuant =
    "CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(10,6)) * 1000000 AS BIGINT)"

  /** Shared SQL CTE chain `q`/`sub`/`cent`/`u`/`l2s` → `best`
    * (vec_id, s, cell, l2): the PQ subspace assignment (v9/v10). */
  private val sqlPqBest =
    s"""q AS (SELECT vec_id,
       |    list_transform(embedding, x -> $sqlPqQuant) AS q FROM embeddings),
       |sub AS (SELECT vec_id, r.s, q[r.s*8+1 : r.s*8+8] AS sq
       |        FROM q, LATERAL (SELECT unnest(range(0, 8)) AS s) r),
       |cent AS (SELECT vec_id AS cell, s, sq AS cq FROM sub WHERE vec_id % 23 = 0),
       |u AS (SELECT v.vec_id, v.s, c.cell, unnest(v.sq) AS x, unnest(c.cq) AS y
       |      FROM sub v JOIN cent c ON c.s = v.s),
       |l2s AS (SELECT vec_id, s, cell, CAST(sum((x - y)*(x - y)) AS BIGINT) AS l2
       |        FROM u GROUP BY vec_id, s, cell),
       |best AS (SELECT vec_id, s, cell, l2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY l2, cell) AS rk
       |    FROM l2s) t
       |  WHERE rk = 1)""".stripMargin

  /** (vec_id, sub, sq): quantized 8-dim subvectors, one row per
    * (vector, subspace) — map-side explode, no shuffle. */
  private def pqSubs(s: SparkSession, d: String): DataFrame =
    T.embeddings(s, d)
      .select(col("vec_id"), quantize("embedding").as("q"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("sub"), col("q"))
      .select(col("vec_id"), col("sub"), expr("slice(q, sub*8+1, 8)").as("sq"))

  /** (cell, sub, cq): the deterministic sampled codebook. */
  private def pqCents(subs: DataFrame): DataFrame =
    subs.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("cell"), col("sub"), col("sq").as("cq"))

  /** (vec_id, sub, cell, l2): each subvector's nearest codebook entry
    * by exact integer squared-L2 (ArrayLongL2 kernel), ties to the
    * smaller cell — broadcast codebook, partial-aggregated argmin. */
  private def pqBest(subs: DataFrame, cents: DataFrame): DataFrame =
    subs.join(broadcast(cents), Seq("sub"))
      .withColumn("l2", graft.functions.ArrayLongL2.l2Q(col("sq"), col("cq")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("l2"), col("cell"))).as("b"))
      .select(col("vec_id"), col("sub"), col("b.cell").as("cell"), col("b.l2").as("l2"))

  val v9PqCodes = QueryDef.sql(
    "v9_pq_codes",
    s"""WITH $sqlPqBest
       |SELECT vec_id, CAST(sum(l2) AS BIGINT) AS err,
       |${(0 to 7).map(i => s"  CAST(min(CASE WHEN s=$i THEN cell END) AS BIGINT) AS c$i")
          .mkString(",\n")}
       |FROM best GROUP BY vec_id""".stripMargin) { (s, d) =>
    val subs = pqSubs(s, d)
    val best = pqBest(subs, pqCents(subs))
    val codeAggs = sum(col("l2")).cast("long").as("err") +:
      (0 to 7).map(i => min(when(col("sub") === i, col("cell"))).as(s"c$i"))
    best.groupBy(col("vec_id"))
      .agg(codeAggs.head, codeAggs.tail: _*)
  }

  // --- v10_pq_adc: asymmetric-distance search over the PQ codes — the
  // query path that completes v9: each query subvector's distance to
  // every codebook entry is precomputed into a lookup table (LUT:
  // |queries|×8×|codebook| rows — driver/broadcast-sized), and the
  // corpus is scanned via its CODES alone (8 small ints per vector):
  // approx distance = Σ_s LUT[q, s, code_s(x)]. All-integer arithmetic
  // end to end, so the oracle reproduces the ranking bit-exactly. At
  // 100 TB this is the PQ payoff: search touches the code table (32×
  // smaller than the floats) plus one broadcast LUT, one partial-
  // aggregated sum, and a per-query top-k window — the float vectors
  // are never reread. ---
  val v10PqAdc = QueryDef.sql(
    "v10_pq_adc",
    s"""WITH $sqlPqBest,
       |qs AS (SELECT vec_id AS qid, s, sq FROM sub WHERE vec_id < 3),
       |ul AS (SELECT q.qid, q.s, c.cell, unnest(q.sq) AS x, unnest(c.cq) AS y
       |       FROM qs q JOIN cent c ON c.s = q.s),
       |lut AS (SELECT qid, s, cell, CAST(sum((x - y)*(x - y)) AS BIGINT) AS ld
       |        FROM ul GROUP BY qid, s, cell),
       |adc AS (SELECT l.qid, b.vec_id, CAST(sum(l.ld) AS BIGINT) AS adist
       |        FROM best b JOIN lut l ON l.s = b.s AND l.cell = b.cell
       |        WHERE b.vec_id <> l.qid
       |        GROUP BY l.qid, b.vec_id)
       |SELECT qid, vec_id, adist, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rank
       |  FROM adc) t
       |WHERE rank <= 10""".stripMargin) { (s, d) =>
    val subs = pqSubs(s, d)
    val cents = pqCents(subs)
    val best = pqBest(subs, cents)
    val qs = subs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("sub"), col("sq").as("qq"))
    val lut = qs.join(broadcast(cents), Seq("sub"))
      .withColumn("ld", graft.functions.ArrayLongL2.l2Q(col("qq"), col("cq")))
      .select(col("qid"), col("sub"), col("cell"), col("ld"))
    val adc = best.join(broadcast(lut), Seq("sub", "cell"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("ld")).cast("long").as("adist"))
    adc
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("vec_id"), col("adist"), col("rank"))
  }

  // --- v11_sq8_knn: scalar-quantized (SQ8) exact-ranking kNN — the
  // SIMPLE compression lever next to v9's PQ: each dimension maps to a
  // byte code 0..255 against the corpus per-dimension [min, max] range,
  // shrinking the scan side 4× (float32 → uint8) while keeping distances
  // integer-exact OVER THE CODES (so the oracle reproduces the ranking
  // bit-for-bit; quantization error vs true floats is the documented
  // trade). Shape at scale: per-dim stats are one partial-aggregated
  // pass collapsing to 64 rows (map-side combine makes the ×64
  // posexplode free of shuffle volume), the 1-row (mins, maxs) arrays
  // broadcast onto a single codegen'd encode pass, and search is v1's
  // broadcast-queries × partitioned-candidates scan with the integer-L2
  // kernel — reading codes, never floats. ---
  val v11Sq8Knn = QueryDef.sql(
    "v11_sq8_knn",
    """WITH uv AS (SELECT vec_id, unnest(embedding) AS x, unnest(range(0, 64)) AS i
      |           FROM embeddings),
      |st AS (SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
      |       FROM uv GROUP BY i),
      |codes AS (SELECT vec_id, i,
      |    CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
      |         ELSE least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
      |           CAST(floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn)) AS BIGINT))) END AS c
      |  FROM uv JOIN st USING (i)),
      |carr AS (SELECT vec_id, list(c ORDER BY i) AS code FROM codes GROUP BY vec_id),
      |q AS (SELECT vec_id AS qid, code AS qc FROM carr WHERE vec_id < 5),
      |pr AS (SELECT qid, c.vec_id AS cid, qc, c.code AS cc FROM q, carr c WHERE c.vec_id <> qid),
      |u AS (SELECT qid, cid, unnest(qc) AS x, unnest(cc) AS y FROM pr),
      |dist AS (SELECT qid, cid, CAST(sum((x - y) * (x - y)) AS BIGINT) AS d2
      |         FROM u GROUP BY qid, cid)
      |SELECT qid, cid, d2, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rank
      |  FROM dist) t
      |WHERE rank <= 10""".stripMargin) { (s, d) =>
    val emb = T.embeddings(s, d)
    val st = emb.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
    val stRow = st.agg(
      expr("transform(array_sort(collect_list(struct(i, mn))), e -> e.mn)").as("mns"),
      expr("transform(array_sort(collect_list(struct(i, mx))), e -> e.mx)").as("mxs"))
    val coded = emb.crossJoin(broadcast(stRow)).select(col("vec_id"),
      expr("""transform(embedding, (x, i) ->
          CASE WHEN element_at(mxs, i + 1) = element_at(mns, i + 1) THEN CAST(0 AS BIGINT)
               ELSE least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
                 CAST(floor((CAST(x AS DOUBLE) - element_at(mns, i + 1)) * 255.0 /
                   (element_at(mxs, i + 1) - element_at(mns, i + 1))) AS BIGINT))) END)""")
        .as("code"))
    val q = coded.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("code").as("qc"))
    coded.select(col("vec_id").as("cid"), col("code").as("cc"))
      .crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("d2", graft.functions.ArrayLongL2.l2Q(col("qc"), col("cc")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d2"), col("cid"))))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("cid"), col("d2"), col("rank"))
  }

  // --- v12_ann_recall: recall@10 of the ANN path (v2) against the exact
  // baseline (v1) — evaluation AS a first-class query ("measure, don't
  // guess"): the recall dial (nTables) is only trustworthy if the
  // measurement reruns with every corpus/parameter change. Composes the
  // two pipelines and left-joins exact→approx per (query, neighbor);
  // both sides and the join are deterministic, so even this meta-metric
  // sits under the hash gate. ---
  val v12AnnRecall = QueryDef.sql(
    "v12_ann_recall",
    s"""WITH exact AS (SELECT qid, cid FROM (${v1KnnBruteforce.oracle.get}) t1),
       |approx AS (SELECT qid, cid FROM (${v2AnnLsh.oracle.get}) t2),
       |h AS (SELECT e.qid, count(a.cid) AS hits FROM exact e
       |      LEFT JOIN approx a ON a.qid = e.qid AND a.cid = e.cid
       |      GROUP BY e.qid)
       |SELECT qid, hits, CAST(hits AS DOUBLE) / 10 AS recall_at_10 FROM h""".stripMargin) {
    (s, d) =>
    val exact = v1KnnBruteforce.run(s, d).select(col("qid"), col("cid"))
    val approx = v2AnnLsh.run(s, d)
      .select(col("qid"), col("cid"), lit(1).as("hit"))
    exact.join(approx, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("hit")).as("hits"))
      .select(col("qid"), col("hits"),
        (col("hits").cast("double") / 10).as("recall_at_10"))
  }

  // --- v13_ivfpq: IVF + PQ composed — the canonical large-corpus ANN
  // layout (FAISS's IVFPQ): the coarse quantizer (v5's cells) bounds
  // WHICH vectors a query touches, PQ codes (v9) bound WHAT is read per
  // touched vector, and ADC (v10's broadcast LUT) scores candidates
  // from their 8-byte codes alone. Search cost at 100 TB:
  // O(corpus/cells × nprobe) rows × 8 small ints each — the float
  // vectors are never reread, the LUT and probe set broadcast, the only
  // shuffle is the partial-aggregated per-(query, candidate) sum. All
  // arithmetic is exact-integer, so the full composition sits under the
  // hash gate end-to-end. ---
  val v13Ivfpq = QueryDef.sql(
    "v13_ivfpq",
    s"""WITH $sqlPqBest,
       |cents2 AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id % 37 = 0),
       |apairs AS (SELECT e.vec_id AS qid2, c.cent_id AS cid2, e.embedding AS qe, c.ce
       |           FROM embeddings e, cents2 c),
       |au AS (SELECT qid2, cid2, unnest(qe) AS x, unnest(ce) AS y FROM apairs),
       |adots AS (SELECT qid2, cid2,
       |    sum($sqlQuantU * $sqlQuantV) AS dot,
       |    sum($sqlQuantU * $sqlQuantU) AS nx,
       |    sum($sqlQuantV * $sqlQuantV) AS ny
       |  FROM au u GROUP BY qid2, cid2),
       |aranked AS (SELECT qid2, cid2,
       |    row_number() OVER (PARTITION BY qid2 ORDER BY
       |      (CAST(dot AS DOUBLE) / 1e12) /
       |        (sqrt(CAST(nx AS DOUBLE) / 1e12) * sqrt(CAST(ny AS DOUBLE) / 1e12)) DESC,
       |      cid2) AS rank
       |  FROM adots),
       |cells AS (SELECT qid2 AS vec_id, cid2 AS cell FROM aranked WHERE rank = 1),
       |probes AS (SELECT qid2 AS qid, cid2 AS cell FROM aranked WHERE qid2 < 3 AND rank <= 3),
       |cand AS (SELECT DISTINCT p.qid, cl.vec_id AS cid
       |         FROM probes p JOIN cells cl ON p.cell = cl.cell
       |         WHERE cl.vec_id <> p.qid),
       |qs AS (SELECT vec_id AS qid, s, sq FROM sub WHERE vec_id < 3),
       |ul AS (SELECT q2.qid, q2.s, c.cell, unnest(q2.sq) AS x, unnest(c.cq) AS y
       |       FROM qs q2 JOIN cent c ON c.s = q2.s),
       |lut AS (SELECT qid, s, cell, CAST(sum((x - y)*(x - y)) AS BIGINT) AS ld
       |        FROM ul GROUP BY qid, s, cell),
       |adc AS (SELECT ca.qid, b.vec_id, CAST(sum(l.ld) AS BIGINT) AS adist
       |        FROM cand ca
       |        JOIN best b ON b.vec_id = ca.cid
       |        JOIN lut l ON l.qid = ca.qid AND l.s = b.s AND l.cell = b.cell
       |        GROUP BY ca.qid, b.vec_id)
       |SELECT qid, vec_id, adist, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rank
       |  FROM adc) t
       |WHERE rank <= 10""".stripMargin) { (s, d) =>
    // coarse quantizer: assign every vector to its nearest sampled
    // centroid; probe the 3 nearest cells for each query (v5's machinery)
    val emb = T.embeddings(s, d).withColumn("q", quantize("embedding"))
    val ranked = rankAgainstCentroids(
      emb.select(col("vec_id").as("qid"), col("q").as("qeq")), ivfCentroids(emb))
    val cells = ranked.filter(col("rank") === 1)
      .select(col("qid").as("vec_id"), col("cid").as("cell"))
    val probes = ranked.filter(col("qid") < 3 && col("rank") <= 3)
      .select(col("qid"), col("cid").as("cell"))
    val cand = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid")).distinct()
    // PQ codes for the corpus + the queries' broadcast distance LUT
    // (v9/v10's machinery); ADC restricted to the probed cells' members
    val subs = pqSubs(s, d)
    val pcents = pqCents(subs)
    val best = pqBest(subs, pcents).withColumnRenamed("vec_id", "cid")
    val qs = subs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("sub"), col("sq").as("qq"))
    val lut = qs.join(broadcast(pcents), Seq("sub"))
      .withColumn("ld", graft.functions.ArrayLongL2.l2Q(col("qq"), col("cq")))
      .select(col("qid"), col("sub"), col("cell"), col("ld"))
    cand
      .join(best, Seq("cid"))
      .join(broadcast(lut), Seq("qid", "sub", "cell"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("ld")).cast("long").as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adist"), col("cid"))))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("cid").as("vec_id"), col("adist"), col("rank"))
  }

  // --- v14_binary_hamming: sign-bit binary quantization — each 64-dim
  // float embedding collapses to TWO longs (bit = sign of the
  // coordinate, ArraySignBits codegen kernel), a 16× smaller corpus
  // representation whose distance is two XOR+popcount instructions.
  // Top-10 by Hamming distance per query (ties broken by candidate id),
  // the standard cheap first-pass retrieval filter in front of exact
  // rescoring (v4/v10's role). The corpus-side scan is one codegen'd
  // projection; the 5-query code set broadcasts, so at 100 TB nothing
  // shuffles but 16-byte codes. Signs are exact on both engines (same
  // parquet floats, one >= 0 compare), so the integer Hamming ranking is
  // deterministic and the oracle replays it bit-for-bit. ---
  val v14BinaryHamming = QueryDef.sql(
    "v14_binary_hamming",
    """WITH codes AS (
      |  SELECT vec_id,
      |    (SELECT CAST(sum(CASE WHEN e.embedding[i+1] >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT)
      |     FROM range(0, 32) t(i)) AS c0,
      |    (SELECT CAST(sum(CASE WHEN e.embedding[i+33] >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT)
      |     FROM range(0, 32) t(i)) AS c1
      |  FROM embeddings e),
      |q AS (SELECT vec_id AS qid, c0 AS q0, c1 AS q1 FROM codes WHERE vec_id < 5),
      |h AS (SELECT qid, c.vec_id AS cid,
      |    CAST(bit_count(xor(q0, c.c0)) + bit_count(xor(q1, c.c1)) AS BIGINT) AS hamming
      |  FROM q, codes c WHERE c.vec_id <> qid)
      |SELECT qid, cid, hamming, rank FROM (
      |  SELECT qid, cid, hamming,
      |    row_number() OVER (PARTITION BY qid ORDER BY hamming, cid) AS rank
      |  FROM h) t
      |WHERE rank <= 10""".stripMargin) { (s, d) =>
    val codes = T.embeddings(s, d).select(col("vec_id"),
      ArraySignBits.signBits(col("embedding"), 0, 32).as("c0"),
      ArraySignBits.signBits(col("embedding"), 32, 32).as("c1"))
    val q = codes.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("c0").as("q0"), col("c1").as("q1"))
    val w = Window.partitionBy(col("qid")).orderBy(col("hamming"), col("cid"))
    codes.select(col("vec_id").as("cid"), col("c0"), col("c1"))
      .crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("hamming",
        (bit_count(col("q0").bitwiseXOR(col("c0")))
          + bit_count(col("q1").bitwiseXOR(col("c1")))).cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("cid"), col("hamming"), col("rank"))
  }

  // --- v15_mips: MAXIMUM-INNER-PRODUCT retrieval — the recommender /
  // reward-model scoring metric the cosine family deliberately
  // normalizes away (two vectors can tie on cosine yet differ 10× on
  // dot when norms differ). Exactness is FREE here: the quantized dot
  // is a BIGINT end to end — no doubles anywhere, rank directly on the
  // integer (cleaner than v1's cosine, which needs the double norm
  // division). Brute-force baseline shape: query side broadcast ×
  // partitioned candidates (v1's contract). The corpus-scale path is
  // the classic norm-augmentation reduction (append sqrt(M²−|x|²) as
  // dim 65 ⇒ MIPS becomes cosine NN) feeding v2's multi-table LSH —
  // machinery already gated there. ---
  val v15Mips = QueryDef.sql(
    "v15_mips",
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
       |pr AS (SELECT qid, c.vec_id AS cid, qe, c.embedding AS ce FROM q, embeddings c WHERE c.vec_id <> qid),
       |u AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM pr),
       |dots AS (SELECT qid, cid, CAST(sum($sqlQuantU * $sqlQuantV) AS BIGINT) AS dot
       |  FROM u GROUP BY qid, cid)
       |SELECT qid, cid, dot, rank FROM (
       |  SELECT qid, cid, dot,
       |    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS rank
       |  FROM dots) t
       |WHERE rank <= 10""".stripMargin) { (s, d) =>
    val emb = T.embeddings(s, d).withColumn("q", quantize("embedding"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qeq"))
    val c = emb.select(col("vec_id").as("cid"), col("q").as("ceq"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid"))
    c.crossJoin(broadcast(q)).filter(col("cid") =!= col("qid"))
      .withColumn("dot", dotQ("qeq", "ceq"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("cid"), col("dot"), col("rank"))
  }

  // --- v16_filtered_knn: metadata-FILTERED vector search — top-5 cosine
  // restricted to candidates sharing the query's label (the "where
  // category = X" retrieval every production vector store serves; v1-v15
  // search the whole corpus). For an equality predicate the scale-honest
  // plan is a bucket EQUI-JOIN on the attribute — candidates shuffle
  // once on label, quadratic work stays inside each label's bucket, and
  // the filter prunes BEFORE scoring (post-filtering a global top-k
  // under-fills results when the predicate is selective — the classic
  // filtered-ANN failure). Composes with the v5/v13 IVF machinery for
  // non-equality predicates (filter inside each probed cell); here the
  // label partition IS the index. Exact integer dot kernel, same oracle
  // discipline as v1. ---
  val v16FilteredKnn = QueryDef.sql(
    "v16_filtered_knn",
    s"""WITH q AS (SELECT vec_id AS qid, label, embedding AS qe
       |           FROM embeddings WHERE vec_id < 8),
       |pr AS (SELECT qid, c.vec_id AS cid, qe, c.embedding AS ce
       |       FROM q JOIN embeddings c ON c.label = q.label AND c.vec_id <> q.qid),
       |u AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM pr),
       |$sqlDots
       |SELECT qid, cid, cosine, rank FROM (
       |  SELECT qid, cid, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
       |  FROM scored) t
       |WHERE rank <= 5""".stripMargin) { (s, d) =>
    val emb = T.embeddings(s, d).withColumn("q", quantize("embedding"))
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("label"), col("q").as("qeq"))
    val c = emb.select(col("vec_id").as("cid"), col("label"), col("q").as("ceq"))
    scoreTopk(
      c.join(broadcast(q), Seq("label")).filter(col("cid") =!= col("qid")),
      k = 5)
  }

  // --- v17_hybrid_rrf: HYBRID retrieval — lexical and vector rankings
  // fused by Reciprocal Rank Fusion (rrf = Σ 1/(60+rank)), the standard
  // production search shape (BM25/idf leg catches exact-term matches the
  // embedding misses; the vector leg catches paraphrases the lexicon
  // misses; RRF needs no score calibration between the two). Per probe
  // doc (doc_id = vec_id, fixture-aligned): the lexical leg scores
  // candidates by summed idf over SHARED DISTINCT tokens — stopwords
  // pruned by an exact integer df·2 ≤ N gate, which is also what bounds
  // the posting-list join at scale (high-df terms are precisely the ones
  // that would blow up the join and contribute the least idf; d2's
  // cap discipline) — each ln(idf) quantized to DECIMAL(8,5) before the
  // order-independent sum; the vector leg is the exact integer-dot
  // cosine (v1's kernel; swap in annTopK/v2 for unbounded probe sets).
  // Each leg keeps a per-probe top-50 by (score, cid) — deterministic —
  // and the fusion is a FULL OUTER join of two 50-row-per-probe lists
  // (dimension-sized), rrf in double with identical expression shape
  // both engines. Scale: corpus text never moves — only (token, doc)
  // pairs for non-stopword terms and (qid, cid) candidate pairs. ---
  val v17HybridRrf = QueryDef.sql(
    "v17_hybrid_rrf",
    s"""WITH toks AS (SELECT DISTINCT doc_id,
       |    unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS t
       |  FROM documents),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |dfx AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY t),
       |idf AS (SELECT t, CAST(ln(CAST(n AS DOUBLE) / df) AS DECIMAL(8,5)) AS w
       |  FROM dfx, nn WHERE df * 2 <= n),
       |qt AS (SELECT doc_id AS qid, t FROM toks WHERE doc_id < 4),
       |ov AS (SELECT qt.qid, c.doc_id AS cid, sum(w) AS lscore
       |  FROM qt JOIN idf USING (t) JOIN toks c USING (t)
       |  WHERE c.doc_id <> qt.qid
       |  GROUP BY qt.qid, c.doc_id),
       |lex50 AS (SELECT qid, cid, lex_rank FROM (
       |    SELECT qid, cid, row_number() OVER (
       |      PARTITION BY qid ORDER BY lscore DESC, cid) AS lex_rank FROM ov) z
       |  WHERE lex_rank <= 50),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 4),
       |pr AS (SELECT qid, c.vec_id AS cid, qe, c.embedding AS ce
       |  FROM q JOIN embeddings c ON c.vec_id <> q.qid),
       |u AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM pr),
       |$sqlDots,
       |sem50 AS (SELECT qid, cid, sem_rank FROM (
       |    SELECT qid, cid, row_number() OVER (
       |      PARTITION BY qid ORDER BY cosine DESC, cid) AS sem_rank FROM scored) z
       |  WHERE sem_rank <= 50),
       |f AS (SELECT qid, cid,
       |    coalesce(CAST(1.0 AS DOUBLE) / (60 + sem_rank), CAST(0.0 AS DOUBLE))
       |      + coalesce(CAST(1.0 AS DOUBLE) / (60 + lex_rank), CAST(0.0 AS DOUBLE)) AS rrf,
       |    sem_rank, lex_rank
       |  FROM sem50 FULL JOIN lex50 USING (qid, cid))
       |SELECT qid, cid, rrf, sem_rank, lex_rank, rank FROM (
       |  SELECT qid, cid, rrf, sem_rank, lex_rank,
       |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cid) AS rank
       |  FROM f) z
       |WHERE rank <= 10""".stripMargin) { (s, d) =>
    import graft.functions.TextFns
    val docs = T.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(TextFns.tokens(col("text")))).as("t"))
    val n = docs.agg(count(lit(1)).as("n"))
    val idf = toks.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df") * 2 <= col("n"))
      .select(col("t"),
        log(col("n").cast("double") / col("df")).cast("decimal(8,5)").as("w"))
    val qt = toks.filter(col("doc_id") < 4).select(col("doc_id").as("qid"), col("t"))
    val ov = qt.join(idf, Seq("t"))
      .join(toks.select(col("doc_id").as("cid"), col("t")), Seq("t"))
      .filter(col("cid") =!= col("qid"))
      .groupBy(col("qid"), col("cid")).agg(sum(col("w")).as("lscore"))
    val wl = Window.partitionBy(col("qid")).orderBy(col("lscore").desc, col("cid"))
    val lex50 = ov.withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= 50)
      .select(col("qid"), col("cid"), col("lex_rank"))
    val emb = T.embeddings(s, d).withColumn("q", quantize("embedding"))
    val q = emb.filter(col("vec_id") < 4).select(col("vec_id").as("qid"), col("q").as("qeq"))
    val c = emb.select(col("vec_id").as("cid"), col("q").as("ceq"))
    val sem50 = scoreTopk(c.crossJoin(broadcast(q)).filter(col("cid") =!= col("qid")), k = 50)
      .select(col("qid"), col("cid"), col("rank").as("sem_rank"))
    val fused = sem50.join(lex50, Seq("qid", "cid"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("sem_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)))
    val wf = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("cid"))
    fused.withColumn("rank", row_number().over(wf)).filter(col("rank") <= 10)
      .select(col("qid"), col("cid"), col("rrf"),
        col("sem_rank"), col("lex_rank"), col("rank"))
  }

  // --- v18_ann_tombstone: DELETION support on the persistent ANN index
  // — the lifecycle gap build/append/query leaves open: a production
  // vector store must stop serving deleted vectors IMMEDIATELY without
  // rewriting the index on every delete. Deletes land as append-only
  // tombstone rows; the query path anti-joins the (broadcast) tombstone
  // set before rescoring — pre-filtering candidates, not post-filtering
  // results, so top-k never under-fills (v16's filtered-search
  // argument). The oracle replays the LSH bucket algebra with the
  // deleted ids excluded, so a leaked tombstoned vector OR a lost
  // survivor hash-mismatches. AnnIndexSpec pins that compaction folds
  // the tombstones in (staged-swap) and serves identical results. ---
  val v18AnnTombstone = QueryDef.sql(
    "v18_ann_tombstone",
    s"""WITH $sqlMultiBuckets,
       |q AS (SELECT e.vec_id AS qid, e.embedding AS qe, b.tbl, b.bucket
       |      FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id
       |      WHERE e.vec_id BETWEEN 1 AND 8),
       |cand AS (SELECT DISTINCT q.qid, b.vec_id AS cid
       |         FROM q JOIN buckets b ON q.tbl = b.tbl AND q.bucket = b.bucket
       |         WHERE b.vec_id <> q.qid AND b.vec_id % 13 <> 0),
       |pairs AS (SELECT c.qid, c.cid, eq.embedding AS qe, ec.embedding AS ce
       |          FROM cand c
       |          JOIN embeddings eq ON eq.vec_id = c.qid
       |          JOIN embeddings ec ON ec.vec_id = c.cid),
       |u AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM pairs),
       |$sqlDots
       |$sqlTopk""".stripMargin) { (s, d) =>
    val root = graft.Scratch.dir("v18-ann")
    val emb = T.embeddings(s, d)
    buildIndex(s, s"$root/idx", emb)
    deleteFromIndex(s, s"$root/idx", emb.filter(col("vec_id") % 13 === 0))
    queryIndexLive(s, s"$root/idx",
      emb.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("qid"), col("embedding")),
      k = 10)
  }

  // --- v19_range_search: RADIUS (range) vector search — FAISS
  // range_search / Milvus "query by distance": for each query vector,
  // ALL corpus vectors with cosine ≥ τ, not a fixed top-k. The missing
  // query type between v2 (top-k) and v3 (all-pairs near-dup): τ-based
  // retrieval is what dedup-by-threshold, spam clustering, and
  // recall-bounded candidate generation actually call. Same multi-table
  // LSH candidate generation as v2 (28 × 4-bit tables, candidates
  // unioned, exact integer-dot rescore), with the rank window replaced
  // by the threshold filter — so result size adapts to local density
  // instead of truncating at k. The oracle replays the bucket algebra +
  // threshold, so a dropped candidate table or a rescore drift
  // hash-mismatches. Scale: identical to v2 (bucket-join shuffles id
  // triples only; rescore on candidates), PLUS no per-query window at
  // all — the densest query can't force a global sort. ---
  val v19RangeSearch = QueryDef.sql(
    "v19_range_search",
    s"""WITH $sqlMultiBuckets,
       |q AS (SELECT e.vec_id AS qid, b.tbl, b.bucket
       |      FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id
       |      WHERE e.vec_id < 25),
       |cand AS (SELECT DISTINCT q.qid, b.vec_id AS cid
       |         FROM q JOIN buckets b ON q.tbl = b.tbl AND q.bucket = b.bucket
       |         WHERE b.vec_id <> q.qid),
       |pairs AS (SELECT c.qid, c.cid, eq.embedding AS qe, ec.embedding AS ce
       |          FROM cand c
       |          JOIN embeddings eq ON eq.vec_id = c.qid
       |          JOIN embeddings ec ON ec.vec_id = c.cid),
       |u AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM pairs),
       |$sqlDots
       |SELECT qid, cid, cosine FROM scored WHERE cosine >= 0.25""".stripMargin) { (s, d) =>
    annRadius(T.embeddings(s, d), col("vec_id") < 25, nTables, tablePlanes, 0.25)
  }

  /** Radius variant of [[annTopK]]: every candidate with cosine ≥ `tau`
    * instead of the per-query top-k — no rank window, so the output is
    * density-adaptive and the plan has no per-query sort at all. */
  private[graft] def annRadius(
      emb0: DataFrame,
      queryPred: Column,
      nT: Int,
      tp: Int,
      tau: Double): DataFrame = {
    val emb = emb0.withColumn("q", quantize("embedding"))
    val melted = emb.select(col("vec_id"),
      posexplode(ArrayLshBuckets.buckets(col("q"), signMatrix(0 until nT * tp), tp))
        .as(Seq("tbl", "bucket")))
    val qSide = melted.filter(queryPred)
      .select(col("vec_id").as("qid"), col("tbl"), col("bucket"))
    val cand = melted.select(col("vec_id").as("cid"), col("tbl"), col("bucket"))
      .join(broadcast(qSide), Seq("tbl", "bucket"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid")).distinct()
    val vecs = emb.select(col("vec_id"), col("q"))
    cand
      .join(vecs.select(col("vec_id").as("qid"), col("q").as("qeq")), Seq("qid"))
      .join(vecs.select(col("vec_id").as("cid"), col("q").as("ceq")), Seq("cid"))
      .withColumn("dot", dotQ("qeq", "ceq"))
      .withColumn("nx", dotQ("qeq", "qeq"))
      .withColumn("ny", dotQ("ceq", "ceq"))
      .withColumn("cosine", cosine)
      .filter(col("cosine") >= tau)
      .select(col("qid"), col("cid"), col("cosine"))
  }

  // --- v20_knn_graph: corpus-wide k-NN GRAPH construction (k = 3) —
  // every vector's top-3 in-bucket neighbors as DIRECTED edges plus the
  // mutual-kNN flag: the substrate graph for HNSW-style navigation,
  // graph-based clustering (mutual-kNN components), and local-density
  // outlier scores. Differs from v2 (query-set top-k) in being
  // all-corpus and SELF-joined: the single-table LSH bucket is the
  // blocking key (v3's shape), candidates never leave their bucket, the
  // per-node top-3 window partitions by source node, and mutuality is
  // one self-join of the (already tiny) edge list against itself. At
  // cluster scale the bucket self-join shuffles each bucket once and
  // the k·N edge list is the only global artifact — no all-pairs
  // anywhere (some isolated nodes simply have no in-bucket neighbor:
  // honest LSH-graph sparsity, the production fix is more tables —
  // v2's dial). Oracle replays buckets, window, and mutuality. ---
  val v20KnnGraph = QueryDef.sql(
    "v20_knn_graph",
    s"""WITH $sqlSigns,
       |$sqlBuckets,
       |pairs AS (SELECT a.vec_id AS qid, b.vec_id AS cid, ea.embedding AS qe, eb.embedding AS ce
       |          FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |          JOIN embeddings ea ON ea.vec_id = a.vec_id
       |          JOIN embeddings eb ON eb.vec_id = b.vec_id),
       |u AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM pairs),
       |$sqlDots,
       |edges AS (SELECT qid, cid, cosine, rank FROM (
       |    SELECT qid, cid, cosine,
       |      row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
       |    FROM scored) t
       |  WHERE rank <= 3)
       |SELECT e.qid AS src, e.cid AS dst, e.cosine, e.rank,
       |  EXISTS (SELECT 1 FROM edges r WHERE r.qid = e.cid AND r.cid = e.qid)
       |    AS mutual
       |FROM edges e""".stripMargin) { (s, d) =>
    val emb = bucketed(T.embeddings(s, d).withColumn("q", quantize("embedding")), "q")
    val a = emb.select(col("vec_id").as("qid"), col("q").as("qeq"), col("bucket"))
    val b = emb.select(col("vec_id").as("cid"), col("q").as("ceq"), col("bucket"))
    val edges = scoreTopk(
      a.join(b, Seq("bucket")).filter(col("qid") =!= col("cid")), k = 3)
    edges.join(
        edges.select(col("qid").as("cid"), col("cid").as("qid"),
          lit(true).as("mutual")),
        Seq("qid", "cid"), "left")
      .select(col("qid").as("src"), col("cid").as("dst"), col("cosine"),
        col("rank"), coalesce(col("mutual"), lit(false)).as("mutual"))
  }

  // --- v21_late_interaction: MULTI-VECTOR retrieval with
  // late-interaction scoring (ColBERT's MaxSim): documents are BAGS of
  // chunk vectors (here vec_id div 10 = doc, 10 chunks each — the
  // passage-chunked shape every long-doc retrieval corpus lands in),
  // and score(q, d) = Σ_{qi∈q} max_{dj∈d} cos(qi, dj) — each query
  // chunk finds its best counterpart, so partial topical overlap
  // scores high where a single pooled vector would wash out. The
  // missing aggregation SHAPE in the vector tier: group-max inside
  // group-sum across two id levels. Determinism: the max runs on exact
  // comparisons; each per-query-chunk MaxSim QUANTIZES to DECIMAL(9,6)
  // BEFORE the sum (c5's rule), making the score an exact decimal.
  // Scale: the 3-doc query bag broadcasts; candidate chunks never
  // self-join (chunk-pair fan-out = |q chunks| × corpus, partial-agged
  // twice down to doc pairs); swap the broadcast for the LSH candidate
  // path (v2) for unbounded query sets. Top-5 docs per query, self
  // excluded. ---
  val v21LateInteraction = QueryDef.sql(
    "v21_late_interaction",
    s"""WITH ch AS (SELECT vec_id, vec_id // 10 AS doc, embedding FROM embeddings),
       |q AS (SELECT vec_id AS qv, doc AS qdoc, embedding AS qe FROM ch WHERE doc < 3),
       |pr AS (SELECT q.qdoc, q.qv, c.doc AS cdoc, c.vec_id AS cv, q.qe, c.embedding AS ce
       |       FROM q, ch c WHERE c.doc <> q.qdoc),
       |u AS (SELECT qv AS qid, cv AS cid, qdoc, cdoc, unnest(qe) AS x, unnest(ce) AS y FROM pr),
       |dots AS (SELECT qid, cid, qdoc, cdoc,
       |    sum($sqlQuantU * $sqlQuantV) AS dot,
       |    sum($sqlQuantU * $sqlQuantU) AS nx,
       |    sum($sqlQuantV * $sqlQuantV) AS ny
       |  FROM u GROUP BY qid, cid, qdoc, cdoc),
       |cs AS (SELECT qid, cid, qdoc, cdoc,
       |    (CAST(dot AS DOUBLE) / 1e12) /
       |      (sqrt(CAST(nx AS DOUBLE) / 1e12) * sqrt(CAST(ny AS DOUBLE) / 1e12)) AS cosine
       |  FROM dots),
       |mx AS (SELECT qdoc, cdoc, qid,
       |    CAST(max(cosine) AS DECIMAL(9,6)) AS maxsim
       |  FROM cs GROUP BY qdoc, cdoc, qid),
       |sc AS (SELECT qdoc, cdoc, sum(maxsim) AS score FROM mx GROUP BY qdoc, cdoc)
       |SELECT qdoc, cdoc, CAST(score AS DOUBLE) AS score, rank FROM (
       |  SELECT qdoc, cdoc, score,
       |    row_number() OVER (PARTITION BY qdoc ORDER BY score DESC, cdoc) AS rank
       |  FROM sc) t
       |WHERE rank <= 5""".stripMargin) { (s, d) =>
    val ch = T.embeddings(s, d)
      .withColumn("q", quantize("embedding"))
      .withColumn("doc", expr("vec_id div 10"))
    val qs = ch.filter(col("doc") < 3)
      .select(col("vec_id").as("qv"), col("doc").as("qdoc"), col("q").as("qeq"))
    val cand = ch.select(col("vec_id").as("cv"), col("doc").as("cdoc"),
      col("q").as("ceq"))
    val pairs = cand.crossJoin(broadcast(qs)).filter(col("cdoc") =!= col("qdoc"))
      .withColumn("dot", dotQ("qeq", "ceq"))
      .withColumn("nx", dotQ("qeq", "qeq"))
      .withColumn("ny", dotQ("ceq", "ceq"))
      .withColumn("cosine", cosine)
    val mx = pairs.groupBy(col("qdoc"), col("cdoc"), col("qv"))
      .agg(max(col("cosine")).cast("decimal(9,6)").as("maxsim"))
    val sc = mx.groupBy(col("qdoc"), col("cdoc"))
      .agg(sum(col("maxsim")).as("score"))
    val w = Window.partitionBy(col("qdoc")).orderBy(col("score").desc, col("cdoc"))
    sc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qdoc"), col("cdoc"), col("score").cast("double").as("score"),
        col("rank"))
  }

  // --- v22_hnsw: GRAPH-NAVIGATED ANN (flat NSW shape) — the one
  // standard production ANN family next to LSH (v2), IVF (v5/v13) and
  // binary Hamming (v14): search walks a NAVIGABLE GRAPH instead of
  // probing buckets. Construction is the distributed recipe (never
  // all-pairs): LSH buckets seed each node's candidate list (v3's
  // blocking), a deterministic md5 HASH RING adds the long links small-
  // world navigation needs, and THREE NN-DESCENT rounds (Dong et al.'s
  // neighbors-of-neighbors refinement — each round scores only the
  // ≤ (2K)² two-hop candidate set per node) sharpen the top-K=20 lists;
  // final adjacency = bidirectional kNN ∪ ring. Search is a FIXED
  // 8-round distributed BEAM (width 32) from 4 md5-lottery entry
  // points: each round expands the beam's neighbors, scores only the
  // NEWLY-visited ids (never the corpus), and re-ranks. Everything —
  // ring, entries, ties, rounds — is deterministic, so the DuckDB
  // oracle replays the ENTIRE walk (construction and search, 15
  // materialized CTE stages) and the result sits under the hash gate;
  // recall@10 vs exact brute force is require()d ≥ 0.9 per query and
  // emitted as a column. Honesty note (v2's): these near-orthogonal
  // fixture embeddings are the worst geometry for graph navigation —
  // the beam visits ~55% of the sf0.1 corpus to hold 0.9 recall, where
  // clustered real embeddings converge in a fraction of that; the
  // require(visited < corpus) pins that search never degenerates to
  // brute force. Scale: seed pairs shuffle by bucket, descent rounds
  // by node id, the walk state is queries × beam rows; every round
  // restages to scratch parquet (Components' discipline). ---
  val v22Hnsw: QueryDef = {
    // R/DESCENT are the suite-cost dial (every round is one staged job
    // at ~0.5 s fixed local cost; data volume is irrelevant at sf0.1):
    // rounds were cut 8→6 / 3→2 in round 12 WITH the recall floor still
    // require()d at ≥ 0.9 per query on both fixture SFs — the floor,
    // not the round count, is the gate's claim. At 100 TB rounds scale
    // O(log n) (graph navigability), so a production walk dials R up
    // with corpus growth; the shape per round is unchanged.
    val K = 20; val E = 4; val B = 32; val R = 6; val DESCENT = 2
    def sqlDescent(r: Int): String =
      s"""und${r - 1} AS MATERIALIZED (SELECT v, c FROM knn${r - 1}
         |  UNION SELECT c AS v, v AS c FROM knn${r - 1}),
         |cand$r AS MATERIALIZED (SELECT v, c FROM und${r - 1}
         |  UNION SELECT a.v, b.c FROM und${r - 1} a JOIN und${r - 1} b ON b.v = a.c
         |  WHERE b.c <> a.v),
         |knn$r AS MATERIALIZED (SELECT v, c, cosine FROM (
         |  SELECT s.v, s.c, ac.cosine,
         |    row_number() OVER (PARTITION BY s.v ORDER BY ac.cosine DESC, s.c) AS rk
         |  FROM cand$r s JOIN allcos ac ON ac.v = s.v AND ac.c = s.c) t
         |  WHERE rk <= $K)""".stripMargin
    def sqlBeam(r: Int): String =
      s"""beam${r - 1} AS (SELECT qid, cid FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rk
         |  FROM seen${r - 1}) t WHERE rk <= $B),
         |seen$r AS MATERIALIZED (SELECT qid, cid, cosine FROM seen${r - 1}
         |  UNION SELECT b.qid, a.c AS cid, ac.cosine
         |  FROM beam${r - 1} b JOIN adj a ON a.v = b.cid
         |  JOIN allcos ac ON ac.v = b.qid AND ac.c = a.c
         |  WHERE a.c <> b.qid)""".stripMargin
    QueryDef.sql(
      "v22_hnsw",
      s"""WITH $sqlSigns,
         |$sqlBuckets,
         |qv AS MATERIALIZED (SELECT vec_id, dim,
         |    CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(10,6)) * 1000000 AS BIGINT) AS qx
         |  FROM uv),
         |nrm AS MATERIALIZED (SELECT vec_id, sum(qx*qx) AS n2 FROM qv GROUP BY vec_id),
         |allcos AS MATERIALIZED (
         |  SELECT a.vec_id AS v, b.vec_id AS c,
         |    (CAST(sum(a.qx * b.qx) AS DOUBLE) / 1e12) /
         |      (sqrt(CAST(min(na.n2) AS DOUBLE) / 1e12) * sqrt(CAST(min(nb.n2) AS DOUBLE) / 1e12)) AS cosine
         |  FROM qv a JOIN qv b ON b.dim = a.dim AND b.vec_id <> a.vec_id
         |  JOIN nrm na ON na.vec_id = a.vec_id
         |  JOIN nrm nb ON nb.vec_id = b.vec_id
         |  GROUP BY a.vec_id, b.vec_id),
         |ro AS MATERIALIZED (SELECT vec_id,
         |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |  FROM embeddings),
         |nn AS (SELECT count(*) AS n FROM embeddings),
         |ring0 AS (SELECT a.vec_id AS v, b.vec_id AS c
         |  FROM ro a CROSS JOIN nn JOIN ro b ON b.rn = a.rn % nn.n + 1),
         |ring AS MATERIALIZED (SELECT v, c FROM ring0 UNION SELECT c AS v, v AS c FROM ring0),
         |seed AS MATERIALIZED (
         |  SELECT a.vec_id AS v, b.vec_id AS c FROM buckets a
         |  JOIN buckets b ON b.bucket = a.bucket AND b.vec_id <> a.vec_id
         |  UNION SELECT v, c FROM ring),
         |knn0 AS MATERIALIZED (SELECT v, c, cosine FROM (
         |  SELECT s.v, s.c, ac.cosine,
         |    row_number() OVER (PARTITION BY s.v ORDER BY ac.cosine DESC, s.c) AS rk
         |  FROM seed s JOIN allcos ac ON ac.v = s.v AND ac.c = s.c) t WHERE rk <= $K),
         |${(1 to DESCENT).map(sqlDescent).mkString(",\n")},
         |adj AS MATERIALIZED (SELECT v, c FROM knn$DESCENT
         |  UNION SELECT c AS v, v AS c FROM knn$DESCENT
         |  UNION SELECT v, c FROM ring),
         |ent AS (SELECT vec_id FROM ro WHERE rn <= $E),
         |qs AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 5),
         |seen0 AS MATERIALIZED (SELECT q.qid, e.vec_id AS cid, ac.cosine
         |  FROM qs q CROSS JOIN ent e
         |  JOIN allcos ac ON ac.v = q.qid AND ac.c = e.vec_id
         |  WHERE e.vec_id <> q.qid),
         |${(1 to R).map(sqlBeam).mkString(",\n")},
         |walk AS (SELECT qid, cid, cosine, rank FROM (
         |  SELECT qid, cid, cosine,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
         |  FROM seen$R) t WHERE rank <= 10),
         |ex AS (SELECT qid, cid FROM (
         |  SELECT v AS qid, c AS cid,
         |    row_number() OVER (PARTITION BY v ORDER BY cosine DESC, c) AS rk
         |  FROM allcos WHERE v < 5) t WHERE rk <= 10),
         |h AS (SELECT w.qid, CAST(count(e.cid) AS BIGINT) AS hits FROM walk w
         |  LEFT JOIN ex e ON e.qid = w.qid AND e.cid = w.cid GROUP BY w.qid)
         |SELECT w.qid, w.cid, w.cosine, w.rank,
         |  CAST(h.hits AS DOUBLE) / 10 AS recall_at_10
         |FROM walk w JOIN h ON h.qid = w.qid""".stripMargin) { (s, d) =>
      graft.plans.Tuning.withTinyShuffles(s) {
      val stage = graft.Scratch.dir("v22-hnsw")
      val emb = T.embeddings(s, d).withColumn("q", quantize("embedding"))
      val vecs = emb.select(col("vec_id"), col("q"))
      def scorePairs(pairs: DataFrame): DataFrame = pairs
        .join(vecs.select(col("vec_id").as("v"), col("q").as("qeq")), Seq("v"))
        .join(vecs.select(col("vec_id").as("c"), col("q").as("ceq")), Seq("c"))
        .withColumn("dot", dotQ("qeq", "ceq"))
        .withColumn("nx", dotQ("qeq", "qeq"))
        .withColumn("ny", dotQ("ceq", "ceq"))
        .withColumn("cosine", cosine)
        .select(col("v"), col("c"), col("cosine"))
      def topK(scored: DataFrame, k: Int): DataFrame = scored
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("v")).orderBy(col("cosine").desc, col("c"))))
        .filter(col("rk") <= k).drop("rk")
      // construction: LSH-bucket seeds + md5 hash ring (distributed
      // rank — see md5Rank; identical order to the oracle's single
      // row_number), then NN-descent
      val (ro, n) = md5Rank(emb, s"$stage/ro")
      val ring0 = ro.as("a").join(ro.as("b"),
          col("b.rn") === (col("a.rn") % n) + 1)
        .select(col("a.vec_id").as("v"), col("b.vec_id").as("c"))
      val ring = ring0.union(ring0.select(col("c").as("v"), col("v").as("c"))).distinct()
      val bk = bucketed(emb, "q").select(col("vec_id"), col("bucket"))
      val seed = bk.as("a").join(bk.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("v"), col("b.vec_id").as("c"))
        .union(ring).distinct()
      var knnCur = graft.Scratch.stageFrame(s, topK(scorePairs(seed), K), s"$stage/knn0")
      (1 to DESCENT).foreach { r =>
        val knn = knnCur.select(col("v"), col("c"))
        val und = knn.union(knn.select(col("c").as("v"), col("v").as("c"))).distinct()
        val cand = und.union(
            und.as("a").join(und.as("b"), col("b.v") === col("a.c"))
              .filter(col("b.c") =!= col("a.v"))
              .select(col("a.v").as("v"), col("b.c").as("c")))
          .distinct()
        knnCur = graft.Scratch.stageFrame(s, topK(scorePairs(cand), K), s"$stage/knn$r")
      }
      val knnF = knnCur.select(col("v"), col("c"))
      val adjS = graft.Scratch.stageFrame(s,
        knnF.union(knnF.select(col("c").as("v"), col("v").as("c")))
          .union(ring).distinct(),
        s"$stage/adj")
      // search: fixed-round beam from the md5-lottery entries; score
      // ONLY newly-visited ids against the broadcast query vectors
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q").as("qeq"))
      def scoreVsQuery(idPairs: DataFrame): DataFrame = idPairs
        .join(vecs.select(col("vec_id").as("cid"), col("q").as("ceq")), Seq("cid"))
        .join(broadcast(queries), Seq("qid"))
        .withColumn("dot", dotQ("qeq", "ceq"))
        .withColumn("nx", dotQ("qeq", "qeq"))
        .withColumn("ny", dotQ("ceq", "ceq"))
        .withColumn("cosine", cosine)
        .select(col("qid"), col("cid"), col("cosine"))
      val entries = ro.filter(col("rn") <= E).select(col("vec_id").as("cid"))
      // FRESH-ONLY round staging: seen(r) = seen0 ∪ fresh1 ∪ … ∪ freshr
      // with each round staging ONLY its newly-visited scored rows, and
      // `seen` the union of all rounds so far. Rewriting the full
      // cumulative seen table every round paid O(visited) staging per
      // round for rows that never change; the anti-join already makes
      // rounds disjoint, so the union of the round frames IS the seen
      // set, bit-identically.
      val seenParts = scala.collection.mutable.ArrayBuffer(
        graft.Scratch.stageFrame(s,
          scoreVsQuery(queries.select(col("qid")).crossJoin(broadcast(entries))
            .filter(col("cid") =!= col("qid"))),
          s"$stage/seen0"))
      (1 to R).foreach { r =>
        val seen = seenParts.reduce(_ unionByName _)
        val beam = seen.withColumn("rk", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))))
          .filter(col("rk") <= B).select(col("qid"), col("cid"))
        val expand = beam.join(adjS, beam("cid") === adjS("v"))
          .select(col("qid"), adjS("c").as("cid")).distinct()
          .filter(col("cid") =!= col("qid"))
        val fresh = expand.join(seen.select(col("qid"), col("cid")),
          Seq("qid", "cid"), "left_anti")
        seenParts += graft.Scratch.stageFrame(s, scoreVsQuery(fresh), s"$stage/seen$r")
      }
      val seenF = seenParts.reduce(_ unionByName _)
      // recall vs exact brute force (the measurement, not the search
      // path — v12's discipline), pinned per query
      val exact = scoreTopk(
        vecs.select(col("vec_id").as("cid"), col("q").as("ceq"))
          .crossJoin(broadcast(queries))
          .filter(col("cid") =!= col("qid")), 10)
        .select(col("qid"), col("cid"))
      val walk = seenF.withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))))
        .filter(col("rank") <= 10)
      val hits = walk.select(col("qid"), col("cid"))
        .join(exact.withColumn("hit", lit(1)), Seq("qid", "cid"), "left")
        .groupBy(col("qid")).agg(count(col("hit")).as("hits"))
      val hitRows = hits.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      require(hitRows.size == 5 && hitRows.valuesIterator.forall(_ >= 9L),
        s"graph-ANN recall@10 must hold >= 0.9 on every query, got $hitRows")
      val visited = seenF.groupBy(col("qid")).agg(count(lit(1)).as("nv"))
        .agg(max(col("nv"))).collect()(0).getLong(0)
      require(visited < n,
        s"beam search must not degenerate to brute force: visited $visited of $n")
      walk.join(hits, Seq("qid"))
        .select(col("qid"), col("cid"), col("cosine"), col("rank"),
          (col("hits").cast("double") / 10).as("recall_at_10"))
      }
    }
  }

  // --- v25_hnsw_insert: INCREMENTAL GRAPH-ANN GROWTH — the lifecycle
  // step v22 lacks: production vector stores append continuously, and
  // rebuilding the navigable graph per batch is a corpus-sized job. The
  // standard recipe (every HNSW implementation's insert): a NEWCOMER
  // beam-searches the EXISTING graph for its top-K nearest, then links
  // bidirectionally to them — the frozen graph never recomputes, the
  // append costs one beam walk per new vector, and a periodic rebuild
  // (v22) folds the accreted links back in. The gate holds out the
  // %251 lottery vectors, builds the v22 NSW graph on the remainder,
  // batch-inserts the newcomers (each links only to pre-existing
  // nodes — the bulk-append discipline that keeps inserts order-free
  // and oracle-replayable), then runs the standard 5-query beam over
  // the UPDATED graph: recall@10 ≥ 0.9 is require()d against exact
  // brute force over the FULL corpus (newcomers included — a walk that
  // cannot reach inserted vectors fails the floor), and a Spark-side
  // searchability probe walks each newcomer's own vector under a
  // pseudo query id and require()s the newcomer itself comes back at
  // rank 1 (reachability through its fresh links, not luck). The
  // oracle replays construction, every insert beam, and the query walk
  // — ~25 materialized stages, all deterministic. Scale: one beam per
  // insert (never a corpus scan), adjacency grows by 2K edges per
  // newcomer, and the search path is v22's unchanged. ---
  val v25HnswInsert: QueryDef = {
    // same suite-cost dial as v22 (R 8→6, DESCENT 3→2 in round 12):
    // v25 pays TWO walks (insert + query), so the cut lands twice; the
    // recall floor and the per-newcomer rank-1 searchability probe
    // below stay the enforced claims. The INSERT walk runs shorter
    // (RI=4): an insert only needs its top-K link set, and link
    // quality is exactly what the searchability probe and the full-
    // corpus recall floor (newcomers included) measure downstream.
    val K = 20; val E = 4; val B = 32; val R = 6; val RI = 4; val DESCENT = 2
    def sqlDescent(r: Int): String =
      s"""und${r - 1} AS MATERIALIZED (SELECT v, c FROM knn${r - 1}
         |  UNION SELECT c AS v, v AS c FROM knn${r - 1}),
         |cand$r AS MATERIALIZED (SELECT v, c FROM und${r - 1}
         |  UNION SELECT a.v, b.c FROM und${r - 1} a JOIN und${r - 1} b ON b.v = a.c
         |  WHERE b.c <> a.v),
         |knn$r AS MATERIALIZED (SELECT v, c, cosine FROM (
         |  SELECT s.v, s.c, ac.cosine,
         |    row_number() OVER (PARTITION BY s.v ORDER BY ac.cosine DESC, s.c) AS rk
         |  FROM cand$r s JOIN allcos ac ON ac.v = s.v AND ac.c = s.c) t
         |  WHERE rk <= $K)""".stripMargin
    def sqlBeam(pfx: String, adjName: String)(r: Int): String =
      s"""${pfx}beam${r - 1} AS (SELECT qid, cid FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rk
         |  FROM ${pfx}seen${r - 1}) t WHERE rk <= $B),
         |${pfx}seen$r AS MATERIALIZED (SELECT qid, cid, cosine FROM ${pfx}seen${r - 1}
         |  UNION SELECT b.qid, a.c AS cid, ac.cosine
         |  FROM ${pfx}beam${r - 1} b JOIN $adjName a ON a.v = b.cid
         |  JOIN allcos ac ON ac.v = b.qid AND ac.c = a.c
         |  WHERE a.c <> b.qid)""".stripMargin
    QueryDef.sql(
      "v25_hnsw_insert",
      s"""WITH $sqlSigns,
         |$sqlBuckets,
         |qv AS MATERIALIZED (SELECT vec_id, dim,
         |    CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(10,6)) * 1000000 AS BIGINT) AS qx
         |  FROM uv),
         |nrm AS MATERIALIZED (SELECT vec_id, sum(qx*qx) AS n2 FROM qv GROUP BY vec_id),
         |allcos AS MATERIALIZED (
         |  SELECT a.vec_id AS v, b.vec_id AS c,
         |    (CAST(sum(a.qx * b.qx) AS DOUBLE) / 1e12) /
         |      (sqrt(CAST(min(na.n2) AS DOUBLE) / 1e12) * sqrt(CAST(min(nb.n2) AS DOUBLE) / 1e12)) AS cosine
         |  FROM qv a JOIN qv b ON b.dim = a.dim AND b.vec_id <> a.vec_id
         |  JOIN nrm na ON na.vec_id = a.vec_id
         |  JOIN nrm nb ON nb.vec_id = b.vec_id
         |  GROUP BY a.vec_id, b.vec_id),
         |old AS (SELECT vec_id FROM embeddings WHERE vec_id % 251 <> 3),
         |nv AS (SELECT vec_id FROM embeddings WHERE vec_id % 251 = 3),
         |bko AS (SELECT b.vec_id, b.bucket FROM buckets b JOIN old o USING (vec_id)),
         |ro AS MATERIALIZED (SELECT vec_id,
         |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |  FROM old),
         |nn AS (SELECT count(*) AS n FROM old),
         |ring0 AS (SELECT a.vec_id AS v, b.vec_id AS c
         |  FROM ro a CROSS JOIN nn JOIN ro b ON b.rn = a.rn % nn.n + 1),
         |ring AS MATERIALIZED (SELECT v, c FROM ring0 UNION SELECT c AS v, v AS c FROM ring0),
         |seed AS MATERIALIZED (
         |  SELECT a.vec_id AS v, b.vec_id AS c FROM bko a
         |  JOIN bko b ON b.bucket = a.bucket AND b.vec_id <> a.vec_id
         |  UNION SELECT v, c FROM ring),
         |knn0 AS MATERIALIZED (SELECT v, c, cosine FROM (
         |  SELECT s.v, s.c, ac.cosine,
         |    row_number() OVER (PARTITION BY s.v ORDER BY ac.cosine DESC, s.c) AS rk
         |  FROM seed s JOIN allcos ac ON ac.v = s.v AND ac.c = s.c) t WHERE rk <= $K),
         |${(1 to DESCENT).map(sqlDescent).mkString(",\n")},
         |adjo AS MATERIALIZED (SELECT v, c FROM knn$DESCENT
         |  UNION SELECT c AS v, v AS c FROM knn$DESCENT
         |  UNION SELECT v, c FROM ring),
         |ent AS (SELECT vec_id FROM ro WHERE rn <= $E),
         |iseen0 AS MATERIALIZED (SELECT q.vec_id AS qid, e.vec_id AS cid, ac.cosine
         |  FROM nv q CROSS JOIN ent e
         |  JOIN allcos ac ON ac.v = q.vec_id AND ac.c = e.vec_id),
         |${(1 to RI).map(sqlBeam("i", "adjo")).mkString(",\n")},
         |newtop AS MATERIALIZED (SELECT qid AS v, cid AS c FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rk
         |  FROM iseen$RI) t WHERE rk <= $K),
         |adj AS MATERIALIZED (SELECT v, c FROM adjo
         |  UNION SELECT v, c FROM newtop
         |  UNION SELECT c AS v, v AS c FROM newtop),
         |qs AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 5),
         |seen0 AS MATERIALIZED (SELECT q.qid, e.vec_id AS cid, ac.cosine
         |  FROM qs q CROSS JOIN ent e
         |  JOIN allcos ac ON ac.v = q.qid AND ac.c = e.vec_id
         |  WHERE e.vec_id <> q.qid),
         |${(1 to R).map(sqlBeam("", "adj")).mkString(",\n")},
         |walk AS (SELECT qid, cid, cosine, rank FROM (
         |  SELECT qid, cid, cosine,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
         |  FROM seen$R) t WHERE rank <= 10),
         |ex AS (SELECT qid, cid FROM (
         |  SELECT v AS qid, c AS cid,
         |    row_number() OVER (PARTITION BY v ORDER BY cosine DESC, c) AS rk
         |  FROM allcos WHERE v < 5) t WHERE rk <= 10),
         |h AS (SELECT w.qid, CAST(count(e.cid) AS BIGINT) AS hits FROM walk w
         |  LEFT JOIN ex e ON e.qid = w.qid AND e.cid = w.cid GROUP BY w.qid)
         |SELECT w.qid, w.cid, w.cosine, w.rank,
         |  CAST(h.hits AS DOUBLE) / 10 AS recall_at_10
         |FROM walk w JOIN h ON h.qid = w.qid""".stripMargin) { (s, d) =>
      graft.plans.Tuning.withTinyShuffles(s) {
      val stage = graft.Scratch.dir("v25-hnsw-ins")
      val emb = T.embeddings(s, d).withColumn("q", quantize("embedding"))
      val isNew = col("vec_id") % 251 === 3
      val embO = emb.filter(!isNew)
      val embN = emb.filter(isNew)
      val vecs = emb.select(col("vec_id"), col("q")) // FULL corpus scoring
      require(embN.count() >= 2, "need newcomers to insert")
      def scorePairs(pairs: DataFrame): DataFrame = pairs
        .join(vecs.select(col("vec_id").as("v"), col("q").as("qeq")), Seq("v"))
        .join(vecs.select(col("vec_id").as("c"), col("q").as("ceq")), Seq("c"))
        .withColumn("dot", dotQ("qeq", "ceq"))
        .withColumn("nx", dotQ("qeq", "qeq"))
        .withColumn("ny", dotQ("ceq", "ceq"))
        .withColumn("cosine", cosine)
        .select(col("v"), col("c"), col("cosine"))
      def topKOf(scored: DataFrame, k: Int): DataFrame = scored
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("v")).orderBy(col("cosine").desc, col("c"))))
        .filter(col("rk") <= k).drop("rk")
      // v22's construction, over the PRE-INSERT corpus only
      // (distributed md5 rank — identical order to the oracle's window)
      val (ro, nOld) = md5Rank(embO, s"$stage/ro")
      val ring0 = ro.as("a").join(ro.as("b"),
          col("b.rn") === (col("a.rn") % nOld) + 1)
        .select(col("a.vec_id").as("v"), col("b.vec_id").as("c"))
      val ring = ring0.union(ring0.select(col("c").as("v"), col("v").as("c"))).distinct()
      val bk = bucketed(embO, "q").select(col("vec_id"), col("bucket"))
      val seed = bk.as("a").join(bk.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("v"), col("b.vec_id").as("c"))
        .union(ring).distinct()
      var knnCur = graft.Scratch.stageFrame(s, topKOf(scorePairs(seed), K), s"$stage/knn0")
      (1 to DESCENT).foreach { r =>
        val knn = knnCur.select(col("v"), col("c"))
        val und = knn.union(knn.select(col("c").as("v"), col("v").as("c"))).distinct()
        val cand = und.union(
            und.as("a").join(und.as("b"), col("b.v") === col("a.c"))
              .filter(col("b.c") =!= col("a.v"))
              .select(col("a.v").as("v"), col("b.c").as("c")))
          .distinct()
        knnCur = graft.Scratch.stageFrame(s, topKOf(scorePairs(cand), K), s"$stage/knn$r")
      }
      val knnF = knnCur.select(col("v"), col("c"))
      val adjO = graft.Scratch.stageFrame(s,
        knnF.union(knnF.select(col("c").as("v"), col("v").as("c")))
          .union(ring).distinct(),
        s"$stage/adjo")
      val entries = ro.filter(col("rn") <= E).select(col("vec_id").as("cid"))
      def walkBeam(queries: DataFrame, adj: DataFrame, tag: String,
          excludeSelf: Boolean, rounds: Int = R): DataFrame = {
        def scoreVsQuery(idPairs: DataFrame): DataFrame = idPairs
          .join(vecs.select(col("vec_id").as("cid"), col("q").as("ceq")), Seq("cid"))
          .join(broadcast(queries), Seq("qid"))
          .withColumn("dot", dotQ("qeq", "ceq"))
          .withColumn("nx", dotQ("qeq", "qeq"))
          .withColumn("ny", dotQ("ceq", "ceq"))
          .withColumn("cosine", cosine)
          .select(col("qid"), col("cid"), col("cosine"))
        // v22's fresh-only round staging: each round stages only its
        // newly-visited scored rows; `seen` is the union of the rounds
        // so far (disjoint by the anti-join, so the union of round
        // frames is the seen set bit-identically)
        val s0 = queries.select(col("qid")).crossJoin(broadcast(entries))
        val seenParts = scala.collection.mutable.ArrayBuffer(
          graft.Scratch.stageFrame(s,
            scoreVsQuery(if (excludeSelf) s0.filter(col("cid") =!= col("qid")) else s0),
            s"$stage/$tag-seen0"))
        (1 to rounds).foreach { r =>
          val seen = seenParts.reduce(_ unionByName _)
          val beam = seen.withColumn("rk", row_number().over(
              Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))))
            .filter(col("rk") <= B).select(col("qid"), col("cid"))
          val expand = beam.join(adj, beam("cid") === adj("v"))
            .select(col("qid"), adj("c").as("cid")).distinct()
            .filter(col("cid") =!= col("qid"))
          val fresh = expand.join(seen.select(col("qid"), col("cid")),
            Seq("qid", "cid"), "left_anti")
          seenParts += graft.Scratch.stageFrame(s, scoreVsQuery(fresh),
            s"$stage/$tag-seen$r")
        }
        seenParts.reduce(_ unionByName _)
      }
      // INSERT: each newcomer beam-searches the frozen graph, links to
      // its top-K — bulk-append (links target pre-existing nodes only)
      val insQ = embN.select(col("vec_id").as("qid"), col("q").as("qeq"))
      val insSeen = walkBeam(insQ, adjO, "ins", excludeSelf = true, rounds = RI)
      val newTop = insSeen.withColumn("rk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))))
        .filter(col("rk") <= K)
        .select(col("qid").as("v"), col("cid").as("c"))
      val adj2 = graft.Scratch.stageFrame(s,
        adjO.unionByName(newTop)
          .unionByName(newTop.select(col("c").as("v"), col("v").as("c")))
          .distinct(),
        s"$stage/adj2")
      // QUERY over the grown graph: standard 5 queries + a pseudo query
      // per newcomer (its own vector under a shifted id, so the self-
      // exclusion never hides it) — the searchability probe
      val stdQ = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q").as("qeq"))
      val pseudoQ = embN.select((col("vec_id") + 10000000L).as("qid"),
        col("q").as("qeq"))
      val seenF = walkBeam(stdQ.unionByName(pseudoQ), adj2, "qry",
        excludeSelf = true)
      val top1 = seenF.filter(col("qid") >= 10000000L)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))))
        .filter(col("rk") === 1)
        .select(col("qid"), col("cid")).collect()
        .map(r => (r.getLong(0) - 10000000L) -> r.getLong(1)).toMap
      require(top1.nonEmpty && top1.forall { case (nvId, got) => got == nvId },
        s"every inserted vector must be retrievable at rank 1 by its own " +
          s"vector, got $top1")
      val walkStd = seenF.filter(col("qid") < 5)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))))
        .filter(col("rank") <= 10)
      // recall floor vs exact brute force over the FULL corpus —
      // newcomers count: a walk that cannot reach them fails here
      val exact = scoreTopk(
        vecs.select(col("vec_id").as("cid"), col("q").as("ceq"))
          .crossJoin(broadcast(stdQ))
          .filter(col("cid") =!= col("qid")), 10)
        .select(col("qid"), col("cid"))
      val hits = walkStd.select(col("qid"), col("cid"))
        .join(exact.withColumn("hit", lit(1)), Seq("qid", "cid"), "left")
        .groupBy(col("qid")).agg(count(col("hit")).as("hits"))
      val hitRows = hits.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      require(hitRows.size == 5 && hitRows.valuesIterator.forall(_ >= 9L),
        s"post-insert recall@10 must hold >= 0.9 on every query, got $hitRows")
      walkStd.join(hits, Seq("qid"))
        .select(col("qid"), col("cid"), col("cosine"), col("rank"),
          (col("hits").cast("double") / 10).as("recall_at_10"))
      }
    }
  }

  // --- c6_knn_classifier: k-NEAREST-NEIGHBOR classification (k = 5,
  // majority vote) — the non-parametric classifier completing the
  // supervised tier (c3 Bayes counts, c4 stump, c5 linear, v7 nearest
  // centroid; k-NN is the "no model at all" baseline every embedding
  // pipeline sanity-checks against). Held-out fold vec_id % 5 = 0
  // scores against the training fold by exact integer-dot cosine;
  // votes aggregate per (query, neighbor label); the winner breaks
  // vote ties on the smaller label — every step deterministic, the
  // whole train/predict/evaluate loop in one plan. Scale: the probe
  // fold broadcasts against partitioned candidates (v1's shape; swap
  // in annTopK/queryIndexLive for unbounded probe sets), the vote and
  // argmax windows partition BY QUERY. ---
  private lazy val sqlKnnCtes =
    s"""q AS (SELECT vec_id AS qid, label AS label_true, embedding AS qe
       |      FROM embeddings WHERE vec_id % 5 = 0),
       |c AS (SELECT vec_id AS cid, label, embedding AS ce
       |      FROM embeddings WHERE vec_id % 5 <> 0),
       |pr AS (SELECT qid, cid, qe, ce FROM q, c),
       |u AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM pr),
       |$sqlDots,
       |top5 AS (SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |      row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
       |    FROM scored) t WHERE rn <= 5),
       |votes AS (SELECT t.qid, c.label, CAST(count(*) AS BIGINT) AS votes
       |  FROM top5 t JOIN c ON c.cid = t.cid GROUP BY t.qid, c.label),
       |win AS (SELECT qid, label AS label_pred, votes FROM (
       |    SELECT qid, label, votes,
       |      row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS rn
       |    FROM votes) t WHERE rn = 1),
       |pred AS (SELECT w.qid, qq.label_true, w.label_pred, w.votes,
       |    qq.label_true = w.label_pred AS correct
       |  FROM win w JOIN (SELECT qid, label_true FROM q) qq ON qq.qid = w.qid)""".stripMargin

  val c6KnnClassifier = QueryDef.sql(
    "c6_knn_classifier",
    s"""WITH $sqlKnnCtes
       |SELECT qid, label_true, label_pred, votes, correct FROM pred""".stripMargin) {
    (s, d) => knnPredictions(s, d)
  }

  /** c6's train/predict frame: (qid, label_true, label_pred, votes,
    * correct) for the held-out fold — shared by c6 (the predictions)
    * and c7 (the evaluation metrics over them). */
  private def knnPredictions(s: SparkSession, d: String): DataFrame = {
    val emb = T.embeddings(s, d).withColumn("q", quantize("embedding"))
    val q = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("qid"), col("label").as("label_true"), col("q").as("qeq"))
    val c = emb.filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id").as("cid"), col("label"), col("q").as("ceq"))
    val top5 = scoreTopk(
      c.select(col("cid"), col("ceq"))
        .crossJoin(broadcast(q.select(col("qid"), col("qeq")))), k = 5)
    val votes = top5.join(c.select(col("cid"), col("label")), Seq("cid"))
      .groupBy(col("qid"), col("label")).agg(count(lit(1)).as("votes"))
    val wWin = Window.partitionBy(col("qid")).orderBy(col("votes").desc, col("label"))
    votes.withColumn("rn", row_number().over(wWin)).filter(col("rn") === 1)
      .select(col("qid"), col("label").as("label_pred"), col("votes"))
      .join(q.select(col("qid"), col("label_true")), Seq("qid"))
      .select(col("qid"), col("label_true"), col("label_pred"), col("votes"),
        (col("label_true") === col("label_pred")).as("correct"))
  }

  // --- c7_classifier_eval: per-class PRECISION / RECALL / F1 over c6's
  // k-NN predictions — the evaluation harness every trained filter
  // ships with (a single accuracy number hides exactly the minority-
  // class failures that matter). Per class: TP (predicted c, true c),
  // predicted-count, true-count — three exact integer aggregates over
  // the prediction frame — then precision/recall/F1 as doubles with
  // zero-denominator guards in the identical CASE shape both engines.
  // Scale: the metric reduce is |classes|-sized; everything upstream is
  // c6's plan. ---
  val c7ClassifierEval = QueryDef.sql(
    "c7_classifier_eval",
    s"""WITH $sqlKnnCtes,
       |tc AS (SELECT label_true AS cls, CAST(count(*) AS BIGINT) AS n_true
       |  FROM pred GROUP BY label_true),
       |pc AS (SELECT label_pred AS cls, CAST(count(*) AS BIGINT) AS n_pred
       |  FROM pred GROUP BY label_pred),
       |tp AS (SELECT label_true AS cls, CAST(count(*) AS BIGINT) AS n_tp
       |  FROM pred WHERE correct GROUP BY label_true),
       |m AS (SELECT tc.cls, tc.n_true,
       |    coalesce(pc.n_pred, 0) AS n_pred, coalesce(tp.n_tp, 0) AS n_tp
       |  FROM tc LEFT JOIN pc ON pc.cls = tc.cls LEFT JOIN tp ON tp.cls = tc.cls),
       |pr2 AS (SELECT cls, n_true, n_pred, n_tp,
       |    CASE WHEN n_pred = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE CAST(n_tp AS DOUBLE) / n_pred END AS precision,
       |    CASE WHEN n_true = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE CAST(n_tp AS DOUBLE) / n_true END AS recall
       |  FROM m)
       |SELECT cls, n_true, n_pred, n_tp, precision, recall,
       |  CASE WHEN precision + recall = 0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE 2 * precision * recall / (precision + recall) END AS f1
       |FROM pr2""".stripMargin) { (s, d) =>
    val pred = knnPredictions(s, d)
    val tc = pred.groupBy(col("label_true").as("cls")).agg(count(lit(1)).as("n_true"))
    val pc = pred.groupBy(col("label_pred").as("cls")).agg(count(lit(1)).as("n_pred"))
    val tp = pred.filter(col("correct"))
      .groupBy(col("label_true").as("cls")).agg(count(lit(1)).as("n_tp"))
    val m = tc.join(pc, Seq("cls"), "left").join(tp, Seq("cls"), "left")
      .select(col("cls"), col("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_tp"), lit(0L)).as("n_tp"))
    val precision = when(col("n_pred") === 0, lit(0.0))
      .otherwise(col("n_tp").cast("double") / col("n_pred"))
    val recall = when(col("n_true") === 0, lit(0.0))
      .otherwise(col("n_tp").cast("double") / col("n_true"))
    m.withColumn("precision", precision).withColumn("recall", recall)
      .withColumn("f1",
        when(col("precision") + col("recall") === 0, lit(0.0))
          .otherwise(lit(2) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))
  }

  // --- e38_stream_knn: STREAMING vector retrieval — the online-serving
  // shape of the v-family (queries arrive continuously; the corpus is
  // the static side): query vectors ride a micro-batched stream
  // (maxFilesPerTrigger=1 forces a genuinely multi-batch run), each
  // batch broadcast-scores its queries against the corpus with the
  // same exact-integer cosine kernel as v1, and lands its top-10 per
  // query under out/batch=N with per-batch OVERWRITE — idempotent
  // under at-least-once replay (e36's sink recipe). Each query lives
  // in exactly one batch and top-k is per query, so the union of
  // landed batches is batching-independent; the gate hash-compares it
  // against the one-shot oracle. Scale: per batch ONE broadcast of the
  // batch's queries (never the corpus) over the corpus scan — the
  // standard high-QPS retrieval topology; swap the scan for the IVF
  // index read (v5) when the corpus outgrows brute force. ---
  val e38StreamKnn = QueryDef.sql(
    "e38_stream_knn",
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 15),
       |pr AS (SELECT qid, c.vec_id AS cid, qe, c.embedding AS ce FROM q, embeddings c WHERE c.vec_id <> qid),
       |u AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM pr),
       |$sqlDots
       |$sqlTopk""".stripMargin) { (s, d) =>
    val root = graft.Scratch.dir("e38-sknn")
    val feed = s"$root/feed"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    T.embeddings(s, d).filter(col("vec_id") < 15)
      .select(col("vec_id").as("qid"), col("embedding"))
      .repartition(3).write.parquet(feed)
    val stream = s.readStream
      .schema("qid BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = batch.sparkSession
        val qs = batch.withColumn("qeq", quantize("embedding"))
          .select(col("qid"), col("qeq"))
        val cand = T.embeddings(bs, d).withColumn("ceq", quantize("embedding"))
          .select(col("vec_id").as("cid"), col("ceq"))
        scoreTopk(cand.crossJoin(broadcast(qs)).filter(col("cid") =!= col("qid")))
          .write.mode("overwrite").parquet(s"$out/batch=$batchId")
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    T.parquet(s, Seq(s"$out/batch=*"), basePath = Some(out))
      .select(col("qid"), col("cid"), col("cosine"), col("rank"))
  }

  // --- v23_filtered_adaptive: FILTERED vector search with the strategy
  // every production vector store has to pick per query (and most pick
  // wrong at one end): under a SELECTIVE metadata predicate, PRE-filter
  // then score survivors exactly (the candidate set is already small —
  // an ANN index would only lose recall); under a LOOSE predicate,
  // search the ANN structure and POST-filter candidates (pre-filtering
  // would rebuild the index per query / scan the corpus). The switch is
  // exact arithmetic — predicate rows × 2 ≤ corpus rows — off counts
  // both engines share, so the DECISION itself rides the hash gate (a
  // flipped strategy produces the other path's rows and mismatches).
  // The loose path's recall@10 vs exact filtered brute force carries a
  // require()d 0.9 floor (v12's measure-don't-guess discipline). Scale:
  // prefilter cost is O(survivors × queries) — chosen ONLY when
  // survivors are small; postfilter reuses v2's multi-table LSH
  // (bucket-equality shuffle keys, candidates-only rescoring), and the
  // label filter prunes candidates BEFORE vectors are joined back. ---
  val v23FilteredAdaptive: QueryDef = {
    def sqlPath(p: String): String =
      s"""${p}pairs AS (SELECT c.qid, c.cid, eq.embedding AS qe, ec.embedding AS ce
         |  FROM ${p}cand c
         |  JOIN embeddings eq ON eq.vec_id = c.qid
         |  JOIN embeddings ec ON ec.vec_id = c.cid),
         |${p}u AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM ${p}pairs),
         |${p}dots AS (SELECT qid, cid,
         |    sum($sqlQuantU * $sqlQuantV) AS dot,
         |    sum($sqlQuantU * $sqlQuantU) AS nx,
         |    sum($sqlQuantV * $sqlQuantV) AS ny
         |  FROM ${p}u u GROUP BY qid, cid),
         |${p}top AS (SELECT qid, cid, cosine, rank FROM (
         |  SELECT qid, cid,
         |    (CAST(dot AS DOUBLE) / 1e12) /
         |      (sqrt(CAST(nx AS DOUBLE) / 1e12) * sqrt(CAST(ny AS DOUBLE) / 1e12)) AS cosine,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      (CAST(dot AS DOUBLE) / 1e12) /
         |        (sqrt(CAST(nx AS DOUBLE) / 1e12) * sqrt(CAST(ny AS DOUBLE) / 1e12)) DESC,
         |      cid) AS rank
         |  FROM ${p}dots) t WHERE rank <= 10)""".stripMargin
    QueryDef.sql(
      "v23_filtered_adaptive",
      s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS total,
         |    CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nrare
         |  FROM embeddings),
         |rcand AS (SELECT q.vec_id AS qid, c.vec_id AS cid
         |  FROM (SELECT vec_id FROM embeddings WHERE vec_id < 8) q,
         |       (SELECT vec_id FROM embeddings WHERE label = 0) c
         |  WHERE c.vec_id <> q.vec_id),
         |${sqlPath("r")},
         |$sqlMultiBuckets,
         |lq AS (SELECT vec_id AS qid, tbl, bucket FROM buckets WHERE vec_id < 8),
         |lcand AS (SELECT DISTINCT lq.qid, b.vec_id AS cid
         |  FROM lq JOIN buckets b ON lq.tbl = b.tbl AND lq.bucket = b.bucket
         |  JOIN embeddings e ON e.vec_id = b.vec_id
         |  WHERE b.vec_id <> lq.qid AND e.label <> 0),
         |${sqlPath("l")}
         |SELECT t.pred,
         |  CASE WHEN (CASE WHEN t.pred = 'rare' THEN n.nrare
         |             ELSE n.total - n.nrare END) * 2 <= n.total
         |    THEN 'prefilter_exact' ELSE 'ann_postfilter' END AS strategy,
         |  t.qid, t.cid, t.cosine, t.rank
         |FROM (SELECT 'rare' AS pred, * FROM rtop
         |      UNION ALL SELECT 'loose' AS pred, * FROM ltop) t, n""".stripMargin) {
      (s, d) =>
      val emb = T.embeddings(s, d).withColumn("q", quantize("embedding"))
      val total = emb.count()
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("q").as("qeq"))
      def path(predName: String, pred: Column): DataFrame = {
        val nPred = emb.filter(pred).count()
        val strategy =
          if (nPred * 2 <= total) "prefilter_exact" else "ann_postfilter"
        val top = strategy match {
          case "prefilter_exact" =>
            // survivors are small BY THE DECISION — exact and index-free
            val surv = emb.filter(pred)
              .select(col("vec_id").as("cid"), col("q").as("ceq"))
            scoreTopk(surv.crossJoin(broadcast(qs))
              .filter(col("cid") =!= col("qid")), 10)
          case _ =>
            // LSH candidates, predicate applied BEFORE vectors rejoin
            val melted = emb.select(col("vec_id"), col("label"),
              posexplode(ArrayLshBuckets.buckets(col("q"),
                signMatrix(0 until nTables * tablePlanes), tablePlanes))
                .as(Seq("tbl", "bucket")))
            val qSide = melted.filter(col("vec_id") < 8)
              .select(col("vec_id").as("qid"), col("tbl"), col("bucket"))
            val cand = melted.filter(pred)
              .select(col("vec_id").as("cid"), col("tbl"), col("bucket"))
              .join(broadcast(qSide), Seq("tbl", "bucket"))
              .filter(col("cid") =!= col("qid"))
              .select(col("qid"), col("cid")).distinct()
            val vecs = emb.select(col("vec_id"), col("q"))
            scoreTopk(cand
              .join(vecs.select(col("vec_id").as("qid"), col("q").as("qeq")), Seq("qid"))
              .join(vecs.select(col("vec_id").as("cid"), col("q").as("ceq")), Seq("cid")), 10)
        }
        top.withColumn("pred", lit(predName))
          .withColumn("strategy", lit(strategy))
          .select(col("pred"), col("strategy"), col("qid"), col("cid"),
            col("cosine"), col("rank"))
      }
      val rare = path("rare", col("label") === 0)
      val loose = path("loose", col("label") =!= 0)
      // recall floor on the ANN path: exact filtered brute force as truth
      val exactLoose = scoreTopk(
        emb.filter(col("label") =!= 0)
          .select(col("vec_id").as("cid"), col("q").as("ceq"))
          .crossJoin(broadcast(qs))
          .filter(col("cid") =!= col("qid")), 10)
        .select(col("qid"), col("cid"))
      val hits = exactLoose
        .join(loose.select(col("qid"), col("cid"), lit(1).as("hit")),
          Seq("qid", "cid"), "left")
        .groupBy(col("qid")).agg(count(col("hit")).as("hits"))
        .collect().map(_.getLong(1)) // 8 rows — driver-sized
      val recall = hits.sum.toDouble / (hits.length * 10.0)
      require(recall >= 0.9,
        f"loose-path recall@10 $recall%.3f fell below the 0.9 floor")
      rare.unionByName(loose)
    }
  }

  // --- v24_txn_vector_forget: TRANSACTIONAL VECTOR STORE WITH ATOMIC
  // ERASURE — the GDPR path for embeddings, composed from pieces the
  // engine already trusts: the IVF cell assignment IS the Versioned
  // table's partition layout (a probe's members are a partition-pruned
  // read, never a corpus scan), a vec_id bloom index is maintained in
  // the SAME Txn as every commit (k48's discipline), and a forget
  // request erases the vectors from the store AND the index in ONE
  // transaction (VersionedBloom.deleteIndexed) — no observable state,
  // crash windows included, where a forgotten subject's vector is
  // still retrievable or still probed. The gate proves the lifecycle:
  // subject 7 is retrievable through the index pre-delete (require: 1
  // row), gone post-delete (require: 0 rows, versions in lockstep),
  // and the post-delete ANN query — answered through cell-partition
  // pruning (require: opened cells < table partitions once the store
  // has >4 cells) — ranks top-10 neighbors that the oracle recomputes
  // over the surviving corpus: a ghost vector left in any cell
  // partition, or a dropped survivor, hash-mismatches. Centroids are
  // the deterministic %97 sample, and forget ids avoid the centroid
  // lattice (a centroid-contributing vector's erasure additionally
  // requires a quantizer rebuild — out of scope here, documented).
  // Scale: the delete rewrites only the forgotten vectors' cells; the
  // query opens nprobe cells of the 100 TB store. ---
  val v24TxnVectorForget = QueryDef.sql(
    "v24_txn_vector_forget",
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS ce
       |  FROM embeddings WHERE vec_id % 97 = 0),
       |apairs AS (SELECT e.vec_id AS qid, c.cent_id AS cid,
       |    e.embedding AS qe, c.ce FROM embeddings e, cents c),
       |au AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM apairs),
       |adots AS (SELECT qid, cid,
       |    sum($sqlQuantU * $sqlQuantV) AS dot,
       |    sum($sqlQuantU * $sqlQuantU) AS nx,
       |    sum($sqlQuantV * $sqlQuantV) AS ny
       |  FROM au u GROUP BY qid, cid),
       |aranked AS (SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY
       |      (CAST(dot AS DOUBLE) / 1e12) /
       |        (sqrt(CAST(nx AS DOUBLE) / 1e12) * sqrt(CAST(ny AS DOUBLE) / 1e12)) DESC,
       |      cid) AS rank
       |  FROM adots),
       |cells AS (SELECT qid AS vec_id, cid AS cell FROM aranked WHERE rank = 1),
       |forgotten AS (SELECT vec_id FROM embeddings
       |  WHERE vec_id % 101 = 7 AND vec_id % 97 <> 0),
       |survivors AS (SELECT * FROM cells
       |  WHERE vec_id NOT IN (SELECT vec_id FROM forgotten)),
       |probes AS (SELECT qid, cid AS cell FROM aranked
       |  WHERE qid IN (1, 2) AND rank <= 2),
       |cand AS (SELECT DISTINCT p.qid, cl.vec_id AS cid
       |         FROM probes p JOIN survivors cl ON p.cell = cl.cell
       |         WHERE cl.vec_id <> p.qid),
       |pairs AS (SELECT c.qid, c.cid, eq.embedding AS qe, ec.embedding AS ce
       |          FROM cand c
       |          JOIN embeddings eq ON eq.vec_id = c.qid
       |          JOIN embeddings ec ON ec.vec_id = c.cid),
       |u AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM pairs),
       |$sqlDots
       |$sqlTopk""".stripMargin) { (s, d) =>
    import graft.operators.{Versioned, VersionedBloom}
    val root = graft.Scratch.dir("v24-vforget")
    val tbl = s"$root/vecs"; val idx = s"$root/bloom"
    val emb = T.embeddings(s, d).withColumn("q", quantize("embedding"))
    val cents = emb.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("cid"), col("q").as("ceq"))
    val assigned = rankAgainstCentroids(
        emb.select(col("vec_id").as("qid"), col("q").as("qeq")), cents)
      .filter(col("rank") === 1)
      .select(col("qid").as("vec_id"),
        col("cid").cast("string").as("cell"), col("qeq").as("q"))
    // shared-fixture discipline (e44/k53, VERDICT r12 #3): the
    // pre-erasure cell-partitioned store + bloom index are a pure
    // function of the fixture — landed once per dataset content; the
    // transactional erasure (the operator under test) and the probes
    // run on per-run shallow clones
    val fixRoot = graft.Scratch.cachedArtifact(s, "v24-vstore-base-v1",
      Seq(s"$d/embeddings.parquet")) { r =>
      VersionedBloom.commitIndexed(s, s"$r/txn1", s"$r/vecs", s"$r/bloom",
        assigned, "cell", Seq("vec_id"), "vec_id")
      ()
    }
    Versioned.shallowClone(s, s"$fixRoot/vecs", tbl)
    Versioned.shallowClone(s, s"$fixRoot/bloom", idx)
    // pre-delete: subject 7's vector is retrievable through the index
    require(VersionedBloom.lookup(s, tbl, idx, "vec_id", Seq(7L)).count() == 1L,
      "subject 7 must be retrievable before the forget")
    val forget = emb
      .filter(col("vec_id") % 101 === 7 && col("vec_id") % 97 =!= 0)
      .select(col("vec_id"))
    VersionedBloom.deleteIndexed(s, s"$root/txn2", tbl, idx, forget,
      Seq("vec_id"), "vec_id")
    // post-delete: the same probe finds nothing, and the store and its
    // index moved in lockstep (one transaction, two tables)
    require(VersionedBloom.lookup(s, tbl, idx, "vec_id", Seq(7L)).count() == 0L,
      "forgotten subject must not be retrievable")
    require(Versioned.latestVersion(s, tbl) == 2L
        && Versioned.latestVersion(s, idx) == 2L,
      "store and index versions must move in lockstep")
    // ANN query THROUGH the cell-partitioned store: resolve nprobe=2
    // nearest cells per query, open only those partitions
    val probes = rankAgainstCentroids(
        emb.filter(col("vec_id").isin(1L, 2L))
          .select(col("vec_id").as("qid"), col("q").as("qeq")), cents)
      .filter(col("rank") <= 2)
      .select(col("qid"), col("qeq"), col("cid").cast("string").as("cell"))
    val probeCells: Set[String] = probes.select(col("cell")).distinct()
      .collect().map(_.getString(0)).toSet
    val refs = Versioned.manifestRefs(s, tbl, Versioned.latestVersion(s, tbl))
    val cand = refs.filter { case (p, _) => probeCells(p) }
    require(cand.nonEmpty, "probe cells must exist in the store")
    if (refs.size > 4)
      require(cand.size < refs.size,
        s"cell pruning must be real: ${cand.size} of ${refs.size} cells opened")
    val members = Versioned.readRefs(s, tbl, cand).drop("__p")
    scoreTopk(members
      .select(col("cell"), col("vec_id").as("cid"), col("q").as("ceq"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .dropDuplicates("qid", "cid"), 10)
  }

  val all: Seq[QueryDef] = Seq(
    e38StreamKnn, v24TxnVectorForget,
    v1KnnBruteforce, v2AnnLsh, v3EmbeddingNeardup, v5AnnIvf, v6RandomProjection,
    v8MmrRerank, v9PqCodes, v10PqAdc, v11Sq8Knn, v12AnnRecall, v13Ivfpq,
    v14BinaryHamming, v15Mips, v16FilteredKnn, v17HybridRrf, v18AnnTombstone,
    v19RangeSearch, v20KnnGraph, v21LateInteraction, v22Hnsw,
    v23FilteredAdaptive, v25HnswInsert, c6KnnClassifier,
    c7ClassifierEval)
}
