package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Cluster-safe scratch-space provider for every staging site in the
  * engine (iterative-round restaging, stream checkpoints, versioned-table
  * fixtures). Replaces driver-local `Files.createTempDirectory`, which is
  * only correct when the driver's local disk IS the Spark write path: on a
  * real cluster with an HDFS/object-store `fs.defaultFS`, a local mkdir
  * gives no uniqueness or cleanup guarantee for the path the executors
  * actually write.
  *
  * Contract:
  *   - root comes from `spark.graft.scratch.root` (any Hadoop-visible
  *     scheme: `hdfs://…`, `s3a://…`, `file:/…`). When unset, falls back
  *     to the driver's `java.io.tmpdir` ONLY in `local[*]` mode — on a
  *     cluster master an unset root fails loudly instead of silently
  *     staging to the driver's disk.
  *   - every allocation is run-scoped and unique:
  *     `<root>/graft-scratch/<applicationId>/<tag>-<uuid>`. The
  *     applicationId level means two concurrent apps sharing a root never
  *     collide; the uuid level means two allocations in one app never do.
  *   - directories are created through the path's own `FileSystem`, so
  *     the mkdir happens where the writes will land, not on the driver.
  *   - cleanup: the whole `<root>/graft-scratch/<applicationId>` subtree
  *     is deleted once, at application end (a listener registered on
  *     first use). Per-query eager deletion would be unsound here —
  *     returned DataFrames read the staged parquet lazily, so the files
  *     must outlive the query function. Sites that DO fully materialize
  *     can free early with [[cleanup]].
  */
object Scratch {

  val RootKey = "spark.graft.scratch.root"
  private val Namespace = "graft-scratch"

  /** appIds whose end-of-app cleanup listener is already registered. */
  private val registered = ConcurrentHashMap.newKeySet[String]()

  /** Allocate a fresh run-scoped scratch directory for the thread's
    * active session. `tag` is a human-readable label that shows up in
    * the path (debuggability), not a uniqueness mechanism. */
  def dir(tag: String): String = dir(SparkSession.active, tag)

  def dir(spark: SparkSession, tag: String): String = {
    val p = new Path(runRoot(spark), s"${sanitize(tag)}-${java.util.UUID.randomUUID().toString.take(13)}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    registerCleanup(spark)
    fs.makeQualified(p).toString
  }

  /** Byte-copy a landed fixture directory into run scratch — the clone
    * step a gate uses to MUTATE a [[cachedArtifact]] base per run
    * without touching the shared copy (the plain-directory analog of
    * Versioned.shallowClone, for tables whose operator rewrites data
    * files in place). Driver-side FileUtil walk by design: fixture
    * bases are gate-sized (partitioned copies of the benchmark tables,
    * k-row stats/manifest dirs), never the 100 TB data path. */
  def copyDir(spark: SparkSession, from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(from)
    val dst = new Path(to)
    org.apache.hadoop.fs.FileUtil.copy(
      src.getFileSystem(conf), src, dst.getFileSystem(conf), dst, false, conf)
  }

  /** The run-scoped root for this application:
    * `<root>/graft-scratch/<applicationId>`. */
  def runRoot(spark: SparkSession): Path =
    new Path(new Path(configuredRoot(spark), Namespace), spark.sparkContext.applicationId)

  /** Deterministic CROSS-RUN cache location for landed artifacts (the
    * shared graph mirrors, entity-label tables, …):
    * `<root>/graft-cache/<name>` → `(qualified path, already landed)`,
    * where landed means the artifact's `_SUCCESS` marker exists —
    * probed through the path's OWN FileSystem, so the check and the
    * Spark write agree on a cluster (a driver-local `java.io.File`
    * probe would check the driver's disk while the schemeless write
    * resolves against `fs.defaultFS`). Not run-scoped and never
    * auto-cleaned: landed artifacts are shared across runs by design. */
  def cache(spark: SparkSession, name: String): (String, Boolean) = {
    val p = new Path(new Path(configuredRoot(spark), "graft-cache"), sanitize(name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs.makeQualified(p).toString, fs.exists(new Path(p, "_SUCCESS")))
  }

  /** Content fingerprint of input paths (file names + sizes + mtimes,
    * probed through each path's OWN FileSystem): folded into cache
    * keys so regenerated fixture data at the SAME path misses the
    * cache and rebuilds instead of serving a stale artifact into a
    * confusing oracle-hash failure. Missing paths fingerprint as
    * "absent" (the build itself will fail loudly, not the probe). The
    * key is a SHA-256 digest: two input sets that share a 32-bit hash
    * would otherwise share an artifact. */
  def fingerprint(spark: SparkSession, inputs: Seq[String]): String = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val sig = inputs.map { in =>
      val p = new Path(in)
      try {
        val fs = p.getFileSystem(hconf)
        fs.listStatus(p)
          .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
          .sorted.mkString(",")
      } catch { case _: java.io.IOException => "absent" }
    }.mkString("|")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest((inputs.mkString(";") + "#" + sig).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  /** Cross-run CACHED ARTIFACT — the shared-fixture discipline the k54/
    * k64 pair established, as one reusable helper: `build` lands the
    * artifact UNDER the returned root once per (name × input content),
    * and every later call in any run reuses it. Rules the call sites
    * were each re-implementing:
    *   - the cache key carries [[fingerprint]](inputs), so regenerated
    *     fixture data rebuilds instead of serving stale state;
    *   - "landed" is the root `_SUCCESS` marker, planted HERE after
    *     `build` returns — multi-table artifacts (a Txn landing four
    *     tables) have no single write that drops one automatically;
    *   - a half-landed root (a previous process died — or a bench
    *     watchdog cancelled the gate — mid-build: files exist, no
    *     marker) is WIPED before rebuilding; retrying a Txn against
    *     leftover versions would conflict forever on expectedVersion=0.
    * Heavy gates share fixtures through this instead of re-standing
    * private committed state per run: the gate's claim is about the
    * OPERATOR, not fixture freshness, and per-run write amplification
    * is exactly what blew the round-12 driver budget on a degraded
    * box. */
  def cachedArtifact(spark: SparkSession, name: String, inputs: Seq[String])(
      build: String => Unit): String = {
    val (root, landed) = cache(spark, s"$name-${fingerprint(spark, inputs)}")
    if (!landed) {
      cleanup(spark, root)
      build(root)
      val marker = new Path(root, "_SUCCESS")
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(marker, true).close()
    }
    root
  }

  /** Release every piece of in-memory run state a query (or a whole
    * pass) may have parked in the session: SQL-cached frames AND the
    * block-manager RDDs [[stageFrame]]'s local mode checkpoints
    * (ContextCleaner only reclaims those on GC — a long-lived harness
    * sweeping between queries must not wait for one). The hygiene
    * contract (RegistrySpec): a query followed by this call leaves the
    * session empty. Safe once the query's RESULT is materialized;
    * released checkpoint leaves cannot recompute, so never call it
    * while a returned-but-unmaterialized frame is still held. */
  def releaseRunState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Best-effort eager delete for sites that have fully materialized
    * their results and can free staging before application end. */
  def cleanup(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    } catch { case _: java.io.IOException => () } // best-effort by contract
  }

  private def configuredRoot(spark: SparkSession): Path = {
    val conf = spark.conf.getOption(RootKey)
      .orElse(spark.sparkContext.getConf.getOption(RootKey))
    conf match {
      case Some(r) if r.nonEmpty => new Path(r)
      case _ =>
        val master = spark.sparkContext.master
        if (master.startsWith("local")) new Path(System.getProperty("java.io.tmpdir"))
        else throw new IllegalStateException(
          s"$RootKey is not set and master '$master' is not local: staging would " +
            "silently land on the driver's local disk while Spark writes resolve " +
            "against fs.defaultFS. Set spark.graft.scratch.root to a cluster-visible " +
            "path (hdfs://…, s3a://…).")
    }
  }

  /** One listener per application: drop the whole run subtree when the
    * app ends. Idempotent across sessions sharing a SparkContext. */
  private def registerCleanup(spark: SparkSession): Unit = {
    val appId = spark.sparkContext.applicationId
    if (registered.add(appId)) {
      val root = runRoot(spark)
      val hconf = spark.sparkContext.hadoopConfiguration
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          try {
            val fs: FileSystem = root.getFileSystem(hconf)
            fs.delete(root, true)
          } catch { case _: java.io.IOException => () }
        }
      })
    }
  }

  private def sanitize(tag: String): String =
    tag.replaceAll("[^A-Za-z0-9._-]", "-")

  val StageModeKey = "spark.graft.stage.mode"

  private def stageMode(spark: SparkSession): String =
    spark.conf.getOption(StageModeKey)
      .orElse(spark.sparkContext.getConf.getOption(StageModeKey))
      .getOrElse("local")

  /** Materialize one iterative round of `df` and return a frame whose
    * PLAN is cut at the materialized data. Two modes
    * (`spark.graft.stage.mode`):
    *
    *   - `local` (default): eager `localCheckpoint` returned as a
    *     flat LogicalRDD leaf with size stats stamped from the
    *     checkpointed blocks' actual footprint
    *     ([[org.apache.spark.sql.graftbridge.materializedLeaf]] — see
    *     its doc for why the two obvious alternatives, persist+count
    *     and stock localCheckpoint, were measured failing). Round data
    *     lands in the block manager; the read side is a block fetch
    *     instead of a directory listing + footer decode + scan plan.
    *     Measured round 13 (Fee microbench, 8-round tiny chain):
    *     1,644 ms parquet vs 175 ms localCheckpoint. The leaf keeps
    *     plans constant-size across rounds and the stamped stats keep
    *     downstream broadcast decisions adaptive, the two properties
    *     the parquet round trip provided.
    *   - `parquet`: the durable write+read round trip — set it when
    *     round frames exceed cluster memory budgets (checkpointed
    *     rounds hold block-manager memory and cannot recompute from
    *     lineage, so an executor loss fails the query: on a multi-node
    *     cluster that durability is worth the file-system fee) or when
    *     a staged round must be inspectable on shared storage.
    *
    * Both modes run the same plan over the same rows; staging mode
    * cannot change results (every downstream aggregate over staged
    * frames is exact — min/count/bit_or/decimal — and every ordering is
    * explicit), only where the bytes park between rounds.
    *
    * Every stage is PLAN-LINTED before it executes
    * ([[graft.plans.PlanLint.assertStagedScales]]): the registry-wide
    * lint sees only returned frames, and round 10 proved a scale-killer
    * can hide behind a staged write. A deliberately bounded single-task
    * fold must declare its bound — `boundedRows > 0` skips the
    * partition-less-window rule and instead verifies that the staged
    * row count honors the declared bound (an Observation riding the
    * parquet write; the materializing count itself in local mode —
    * neither adds a second computation of `df`). */
  private[graft] def stageFrame(
      spark: SparkSession,
      df: org.apache.spark.sql.DataFrame,
      path: String,
      boundedRows: Long = 0L): org.apache.spark.sql.DataFrame = {
    if (stageMode(spark) == "local") {
      if (boundedRows <= 0L) graft.plans.PlanLint.assertStagedScales(df)
      val leaf = org.apache.spark.sql.graftbridge.materializedLeaf(df)
      if (boundedRows > 0L) {
        val n = leaf.count() // one cheap scan of the checkpointed blocks
        require(n <= boundedRows,
          s"stage($path) declared boundedRows=$boundedRows but staged $n rows — " +
            "the single-task fold this bound was meant to cap is unbounded")
      }
      leaf
    } else {
      if (boundedRows <= 0L) {
        graft.plans.PlanLint.assertStagedScales(df)
        df.write.mode("overwrite").parquet(path)
      } else {
        val obs = org.apache.spark.sql.Observation()
        df.observe(obs, org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("rows"))
          .write.mode("overwrite").parquet(path)
        val n = obs.get("rows").asInstanceOf[Long]
        require(n <= boundedRows,
          s"stage($path) declared boundedRows=$boundedRows but wrote $n rows — " +
            "the single-task fold this bound was meant to cap is unbounded")
      }
      Tables.parquet(spark, path)
    }
  }

  /** Stage `df` once ([[stageFrame]]), run `body` over the staged frame,
    * then free exactly what this call staged, whether `body` returns or
    * throws: the leaf's own checkpointed RDD in `local` mode (never
    * [[releaseRunState]], which would drop other queries' state), the
    * staged directory in `parquet` mode. No scratch directory is made in
    * `local` mode. `body` must finish every use of the staged frame
    * before it returns — e.g. a write that has committed. */
  private[graft] def withStaged[T](spark: SparkSession, df: org.apache.spark.sql.DataFrame,
      tag: String)(body: org.apache.spark.sql.DataFrame => T): T =
    if (stageMode(spark) == "local") {
      val staged = stageFrame(spark, df, tag)
      try body(staged)
      finally org.apache.spark.sql.graftbridge.releaseLeaf(staged)
    } else {
      val d = dir(spark, tag)
      try body(stageFrame(spark, df, d))
      finally cleanup(spark, d)
    }

  /** Eager round-staging for iterative operators: round k supersedes
    * round k−`window`, which is freed as soon as the new round has
    * landed. Bounds scratch growth to `window` round tables per chain
    * instead of one per iteration — over a multi-pass whole-registry
    * run the difference is every iterative query's full round history
    * on disk. (In `local` stage mode, eviction drops the reference and
    * the ContextCleaner unpersists the checkpoint blocks once GC'd;
    * round frames are node-sized, so the in-flight window is small
    * either way.)
    *
    * `window` = 1 when only the latest round is referenced (BFS labels,
    * Katz scores, truss peels); 2 when the loop still reads the previous
    * round after staging the next (Bellman-Ford's improvement probe).
    * Frames that stay referenced across rounds (a nodes table, MS-BFS
    * frontier levels consumed by the final expansion) must NOT go
    * through a chain — stage them plainly and free them explicitly (or
    * let app-end cleanup take them). */
  final class RoundChain(spark: SparkSession, window: Int = 1) {
    private val live = scala.collection.mutable.Queue.empty[String]

    /** Stage `df` (see [[Scratch.stageFrame]]) and drop any chain entry
      * older than `window` rounds. */
    def stage(
        df: org.apache.spark.sql.DataFrame,
        path: String,
        boundedRows: Long = 0L): org.apache.spark.sql.DataFrame = {
      val out = stageFrame(spark, df, path, boundedRows)
      if (stageMode(spark) != "local") {
        live.enqueue(path)
        while (live.size > window) cleanup(spark, live.dequeue())
      }
      out
    }
  }
}
