package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Versioned snapshot table with time-travel reads — the table-format
  * layer the reference's overwrite-style sinks lack: every commit
  * produces a new queryable VERSION, historical versions stay readable
  * (audits, reproducible training runs, incremental diff), and storage
  * is shared across versions at file granularity.
  *
  * Design (Iceberg/Delta-flavored, minimal):
  *   - data lives in generation directories `gen/__gen=G/__p=<part>/`,
  *     written once and never mutated;
  *   - a manifest parquet per version (`manifest/v=N`, rows
  *     `(pval, gen)`) pins which generation serves each partition in
  *     that version — unaffected partitions carry their prior entry
  *     forward, so a commit writes ONLY the partitions its delta
  *     touches (O(delta), never O(table));
  *   - the manifest write IS the commit point: its `_SUCCESS` marker
  *     appears atomically, a crash anywhere earlier leaves an orphan
  *     generation no manifest references (invisible; retry overwrites
  *     it in place), so readers always see a complete version;
  *   - `readAsOf(v)` opens exactly the directories manifest `v` lists —
  *     cost O(version footprint), with partition pruning intact because
  *     each partition is its own directory.
  *
  * At 100 TB this is the production shape: commits touch affected
  * partitions only, time travel is a manifest lookup (k rows), and
  * `expire` reclaims generations no retained manifest references.
  * The real partition column is duplicated into the string dir key
  * `__p` (types survive in the data files; directory-name type
  * inference never bites).
  */
object Versioned {

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(path: String) = s"$path/manifest"
  private def manifestPath(path: String, v: Long) = s"${manifestDir(path)}/v=$v"
  private[graft] def genRoot(path: String) = s"$path/gen"
  private[graft] def partDir(path: String, pval: String, gen: Long) =
    s"${genRoot(path)}/__gen=$gen/__p=$pval"
  private def sourceMarker(path: String) = new Path(path, "__source")
  private def clonesDir(path: String) = new Path(path, "__clones")

  /** Shallow-clone source pointer, if this root is a clone: the source
    * table path recorded by [[shallowClone]]. */
  private[graft] def sourcePath(spark: SparkSession, path: String): Option[String] =
    sourceRef(spark, path).map(_._1)

  /** Shallow-clone source pointer WITH the clone's base generation
    * bound: `(source path, max source generation at clone time)`. Only
    * refs with `gen <= bound` may chain-resolve to the source — the
    * source keeps committing after the clone point, so its later
    * generation numbers COLLIDE with clone-local ones (both count up
    * from the same base); without the bound, a lost clone-local dir
    * would silently serve the source's different-content generation.
    * Legacy single-line markers (no recorded bound) parse as bound
    * `Long.MaxValue`, i.e. the old unbounded behavior. */
  private[graft] def sourceRef(spark: SparkSession, path: String): Option[(String, Long)] = {
    val fs = fsOf(spark, path)
    val m = sourceMarker(path)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      val text =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      text.split('\n').map(_.trim) match {
        case Array(src, bound) => Some((src, bound.toLong))
        case Array(src) => Some((src, Long.MaxValue))
        case other => Some((other.head, other(1).toLong))
      }
    }
  }

  /** CLONE REGISTRY — what makes retention clone-aware. [[shallowClone]]
    * drops a marker under `<src>/__clones/` naming the clone and its
    * base bound, so the SOURCE knows who still resolves into its
    * generation directories. [[expire]] on the source then PINS every
    * generation a live clone still references instead of silently
    * corrupting it (the caveat Delta shares but this engine — owning
    * both sides — can close). A registration goes stale when the clone
    * is deleted from disk or [[materialize]]d to independence; stale
    * entries are reaped on the next listing. Registration is one level
    * deep: a clone-of-a-clone registers with ITS source — deep chains
    * should materialize intermediate hops before expiring them. */
  private def cloneMarkerName(dst: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dst.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Live clones registered under `src` as (clonePath, baseBound).
    * A registration whose clone no longer exists (its `__source` marker
    * gone or re-pointed) is reaped here. */
  private[graft] def registeredClones(
      spark: SparkSession, src: String): Seq[(String, Long)] = {
    val fs = fsOf(spark, src)
    val dir = clonesDir(src)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { st =>
      val in = fs.open(st.getPath)
      val text =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      text.split('\n').map(_.trim) match {
        case Array(dst, bound) =>
          val alive =
            try sourceRef(spark, dst).exists(_._1 == src)
            catch { case _: java.io.IOException => false }
          if (alive) Some((dst, bound.toLong))
          else { fs.delete(st.getPath, false); None } // dropped clone: reap
        case _ => None
      }
    }
  }

  private[graft] def unregisterClone(
      spark: SparkSession, src: String, dst: String): Unit = {
    fsOf(spark, src).delete(new Path(clonesDir(src), cloneMarkerName(dst)), false)
    ()
  }

  /** The (pval, gen) refs of THIS table's generations that live clones
    * still serve: every retained clone manifest's refs at or below the
    * clone's base bound whose directory is not clone-local. [[expire]]
    * treats these as live. */
  private def clonePinnedRefs(
      spark: SparkSession, path: String): Set[(String, Long)] =
    registeredClones(spark, path).flatMap { case (dst, bound) =>
      val cfs = fsOf(spark, dst)
      retainedVersions(spark, dst)
        .flatMap(v => manifestRefs(spark, dst, v)).distinct
        .filter(_._2 <= bound)
        .filterNot { case (p, g) => cfs.exists(new Path(partDir(dst, p, g))) }
    }.toSet

  /** Resolve the directory serving `(pval, gen)` for `path`: the local
    * generation dir when it exists, else (for shallow clones, and only
    * for generations at or below the clone's recorded base bound) the
    * same `(pval, gen)` up the source chain. Returns the local dir when
    * nothing resolves — the caller's read fails loudly / fsck counts it
    * missing. The bound is what makes local-first sound: clone-local
    * generations are numbered ABOVE the base bound, so a clone-local
    * dir that goes missing (corruption, manual cleanup, botched
    * restore) can never be shadowed by one of the source's LATER
    * same-numbered generations — it fails loudly instead. */
  private[graft] def resolvePartDir(
      spark: SparkSession, path: String, pval: String, gen: Long): String = {
    val local = partDir(path, pval, gen)
    if (fsOf(spark, path).exists(new Path(local))) local
    else sourceRef(spark, path) match {
      case Some((src, bound)) if gen <= bound => resolvePartDir(spark, src, pval, gen)
      case _ => local
    }
  }

  /** Read the data of manifest entries `refs`, with the `__p` partition
    * key as a string column (`__gen` dropped). Groups resolved dirs by
    * their owning gen-root so partition-directory inference (which needs
    * one `basePath` per read) survives the clone's split ownership; the
    * groups union back losslessly (identical schemas). */
  private[graft] def readRefs(
      spark: SparkSession, path: String, refs: Seq[(String, Long)]): DataFrame = {
    val byRoot: Map[String, Seq[String]] = refs
      .map { case (p, g) =>
        val dir = resolvePartDir(spark, path, p, g)
        // dir = <root>/__gen=G/__p=P — owning root is two levels up
        val root = dir.substring(0, dir.lastIndexOf("/__gen="))
        root -> dir
      }
      .groupBy(_._1).map { case (r, ds) => r -> ds.map(_._2) }
    byRoot.toSeq.sortBy(_._1).map { case (root, dirs) =>
      Tables.parquet(spark, dirs, basePath = Some(root))
        .drop("__gen")
        .withColumn("__p", col("__p").cast("string"))
    }.reduce(_ unionByName _)
  }

  /** Retained versions (committed manifests still on disk), ascending. */
  // ---- driver-side manifest I/O -------------------------------------
  // A manifest is k rows of metadata; production table formats read and
  // write their log on the COORDINATOR, not through cluster jobs (Delta
  // reads _delta_log driver-side, Iceberg its manifest lists). Routing
  // these k-row files through spark.read/df.write cost 1–2 scheduler
  // round-trips (~100 ms each on an idle cluster) per commit, per
  // time-travel resolution, and per replay-stamp check — measured as a
  // double-digit share of every transactional gate. Parquet stays the
  // format (schema `pval STRING, gen BIGINT[, stamp BIGINT]`), so
  // manifests written by either path read by either path, and
  // spark.read.parquet still opens one for debugging.

  /** Write manifest version `v` = `entries` (+ constant `stamp`) as a
    * single parquet file plus the `_SUCCESS` commit marker, entirely
    * driver-side. Overwrite-idempotent (crash retry rewrites in place);
    * `_SUCCESS` creation remains the atomic commit point. */
  private def writeManifest(
      spark: SparkSession, path: String, v: Long,
      entries: Seq[(String, Long)], stamp: Option[Long]): Long = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.MessageTypeParser
    val dirStr = manifestPath(path, v)
    val dir = new Path(dirStr)
    val fs = fsOf(spark, dirStr)
    fs.delete(dir, true)
    fs.mkdirs(dir)
    val schema = MessageTypeParser.parseMessageType(
      if (stamp.isDefined)
        "message manifest { required binary pval (UTF8); required int64 gen; optional int64 stamp; }"
      else
        "message manifest { required binary pval (UTF8); required int64 gen; }")
    val conf =
      new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new Path(dir, "part-00000.parquet"), conf))
      .withConf(conf).withType(schema)
      .build()
    try entries.foreach { case (p, g) =>
      val grp = new SimpleGroup(schema)
      grp.add("pval", p)
      grp.add("gen", g)
      stamp.foreach(t => grp.add("stamp", t))
      w.write(grp)
    } finally w.close()
    fs.create(new Path(dir, "_SUCCESS"), true).close() // commit point
    v
  }

  /** Read one manifest directory driver-side: (pval, gen, stamp?). */
  private def readManifestRows(
      spark: SparkSession, dirStr: String): Seq[(String, Long, Option[Long])] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val fs = fsOf(spark, dirStr)
    val conf = spark.sparkContext.hadoopConfiguration
    val out = Seq.newBuilder[(String, Long, Option[Long])]
    fs.listStatus(new Path(dirStr)).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        val r = ParquetReader.builder(new GroupReadSupport(), f)
          .withConf(conf).build()
        try {
          var g: Group = r.read()
          while (g != null) {
            val hasStamp = g.getType.containsField("stamp") &&
              g.getFieldRepetitionCount("stamp") > 0
            out += ((g.getString("pval", 0), g.getLong("gen", 0),
              if (hasStamp) Some(g.getLong("stamp", 0)) else None))
            g = r.read()
          }
        } finally r.close()
      }
    out.result()
  }

  private[graft] def retainedVersions(spark: SparkSession, path: String): Seq[Long] = {
    val fs = fsOf(spark, path)
    val dir = new Path(manifestDir(path))
    if (!fs.exists(dir)) Nil
    else
      fs.listStatus(dir).toSeq
        .map(_.getPath)
        .filter(p => p.getName.startsWith("v=") && fs.exists(new Path(p, "_SUCCESS")))
        .map(_.getName.stripPrefix("v=").toLong)
        .sorted
  }

  /** Latest committed version (0 = table absent). A manifest counts iff
    * its `_SUCCESS` marker exists — uncommitted crash leftovers don't. */
  def latestVersion(spark: SparkSession, path: String): Long = {
    val fs = fsOf(spark, path)
    val dir = new Path(manifestDir(path))
    if (!fs.exists(dir)) 0L
    else
      fs.listStatus(dir).toSeq
        .map(_.getPath)
        .filter(p => p.getName.startsWith("v=") && fs.exists(new Path(p, "_SUCCESS")))
        .map(_.getName.stripPrefix("v=").toLong)
        .foldLeft(0L)(math.max)
  }

  /** Manifest-integrity audit (fsck): one row summarizing the health of
    * the version store — retained version count, distinct generation
    * directories the manifests reference, MISSING references (a
    * manifest points at a directory that no longer exists: readers of
    * that version will fail — the corruption that silent manual cleanup
    * or a botched restore causes), and ORPHAN directories (on disk but
    * referenced by no retained manifest: space [[expire]] should have
    * reclaimed, or debris from an interrupted commit before its marker).
    * Metadata-only: walks manifests (driver-sized by design) and ONE
    * directory listing — never the data. */
  def fsck(spark: SparkSession, path: String): (Long, Long, Long, Long) = {
    val fs = fsOf(spark, path)
    val retained = retainedVersions(spark, path)
    val refs: Set[(String, Long)] =
      retained.flatMap(v => manifestRefs(spark, path, v)).toSet
    val root = new Path(genRoot(path))
    val onDisk: Set[(String, Long)] =
      if (!fs.exists(root)) Set.empty
      else fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { g =>
        val gen = g.getPath.getName.stripPrefix("__gen=").toLong
        fs.listStatus(g.getPath).toSeq.filter(_.isDirectory)
          .map(p => (p.getPath.getName.stripPrefix("__p="), gen))
      }.toSet
    // a ref absent locally may still resolve up a shallow clone's source
    // chain — only refs that resolve NOWHERE are corruption (the
    // resolved path's OWN fs probes it: the chain may cross schemes)
    val missing = (refs -- onDisk).count { case (p, g) =>
      val r = new Path(resolvePartDir(spark, path, p, g))
      !r.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(r)
    }
    (retained.size.toLong, refs.size.toLong,
      missing.toLong, (onDisk -- refs).size.toLong)
  }

  private[graft] def manifestRefs(spark: SparkSession, path: String, v: Long): Seq[(String, Long)] =
    // k rows: one per partition — driver-side read by design
    readManifestRows(spark, manifestPath(path, v)).map(r => (r._1, r._2))

  /** Commit `delta` as the next version: merge-by-key into each affected
    * partition, carry every other partition's manifest entry forward.
    * Returns the committed version number. Crash-safe at every point
    * (see object doc) and idempotently retryable.
    *
    * `stamp` is an optional CALLER-PROVIDED logical timestamp recorded
    * in the manifest (event time, ingest watermark, run sequence — the
    * caller's clock, so replays and backfills stay deterministic;
    * deliberately NOT wall clock). [[readAsOfStamp]] resolves `AS OF
    * stamp` reads against it. Stamps must be committed non-decreasing;
    * unstamped commits (the default) simply don't participate. */
  def commit(
      spark: SparkSession,
      path: String,
      delta: DataFrame,
      partCol: String,
      keys: Seq[String],
      stamp: Option[Long] = None): Long = {
    val cur = latestVersion(spark, path)
    commitAt(spark, path, delta, partCol, keys, stamp, cur + 1,
      if (cur == 0) Nil else manifestRefs(spark, path, cur))
  }

  private def reservationDir(path: String) = s"${manifestDir(path)}/reservations"

  /** Claim the next version slot via the create-exclusive reservation
    * protocol (shared with [[commitCas]]; [[Txn]] uses it to lock each
    * table's slot during 2-phase prepare). The claim serializes against
    * every commitCas/Txn writer; plain [[commit]] callers bypass it by
    * contract (single-writer tables). */
  private[operators] def reserveVersion(spark: SparkSession, path: String): Long = {
    val fs = fsOf(spark, path)
    val rDir = new Path(reservationDir(path))
    fs.mkdirs(rDir)
    var next = -1L
    while (next < 0) {
      val maxReserved = fs.listStatus(rDir).toSeq
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v=") => n.stripPrefix("v=").toLong }
        .foldLeft(0L)(math.max)
      val candidate = math.max(latestVersion(spark, path), maxReserved) + 1
      if (Publish.claimExclusive(fs, new Path(rDir, s"v=$candidate")))
        next = candidate
    }
    next
  }

  /** Can version slot `v` still land? True iff the slot is CLAIMED (a
    * reservation file exists) or already COMMITTED (its manifest's
    * `_SUCCESS` exists). A slot that is neither was RELEASED — by a Txn
    * rollback or a commitCas failure path — and, while any higher
    * reservation is outstanding, [[reserveVersion]] can never re-issue
    * it (candidates always sit above maxReserved), so the gap is
    * PERMANENT: waiters blocked on it may commit across, carrying the
    * highest committed manifest forward as prior. Check order matters:
    * reservation FIRST, then manifest — a reservation vanishes either
    * by release (manifest never appears) or by post-commit reaping
    * (manifest already durable before the reap), so reading
    * "no reservation, then no manifest" proves the release case with
    * no race window. */
  private[operators] def slotLive(spark: SparkSession, path: String, v: Long): Boolean = {
    val fs = fsOf(spark, path)
    fs.exists(new Path(reservationDir(path), s"v=$v")) ||
      fs.exists(new Path(manifestPath(path, v), "_SUCCESS"))
  }

  /** Release a claimed-but-uncommitted version slot (Txn rollback). */
  private[operators] def releaseVersionClaim(spark: SparkSession, path: String, v: Long): Unit = {
    val fs = fsOf(spark, path)
    try fs.delete(new Path(reservationDir(path), s"v=$v"), false)
    catch { case _: java.io.IOException => () }
  }

  /** Reap reservations at or below a committed version (bounded dir). */
  private[operators] def reapSpentReservations(spark: SparkSession, path: String, upTo: Long): Unit = {
    val fs = fsOf(spark, path)
    val rDir = new Path(reservationDir(path))
    if (fs.exists(rDir)) fs.listStatus(rDir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v=") && n.stripPrefix("v=").toLong <= upTo)
        fs.delete(st.getPath, false)
    }
  }

  /** Multi-writer commit with OPTIMISTIC concurrency (Delta-style):
    * the version number is claimed via a create-exclusive reservation
    * (the same CAS primitive as [[Publish]]'s run ids — a NameNode
    * atomic create on HDFS, conditional put on object stores, O_EXCL
    * on `file:`), then the committer WAITS until every lower version
    * has landed before writing its manifest — so each manifest always
    * carries its true predecessor's refs and concurrent writers
    * serialize into consecutive versions with no lost updates (the
    * race [[commit]] alone would lose: two writers both computing
    * `cur+1` and clobbering one generation). A writer that crashes
    * between reserving and committing stalls its successors until
    * `waitMs` — they then fail LOUDLY with the stale reservation named
    * (delete it to resume) rather than committing past the gap, which
    * could silently drop the slow writer's update if it landed later. */
  def commitCas(
      spark: SparkSession,
      path: String,
      delta: DataFrame,
      partCol: String,
      keys: Seq[String],
      stamp: Option[Long] = None,
      waitMs: Long = 60000L): Long = {
    val fs = fsOf(spark, path)
    val rDir = new Path(reservationDir(path))
    val next = reserveVersion(spark, path)
    val deadline = System.currentTimeMillis() + waitMs
    // wait only on LIVE lower slots (claimed or committed). A slot that
    // is neither was released — Txn rollback or a peer's failure path —
    // and can never be re-issued while our own v=next claim exists
    // ([[slotLive]]'s argument), so waiting on it would wedge the table
    // forever; commit across it instead, carrying the highest committed
    // manifest forward.
    var cur = latestVersion(spark, path)
    def liveGap(): Boolean =
      ((cur + 1) until next).exists(g => slotLive(spark, path, g))
    while (cur < next - 1 && liveGap()) {
      if (System.currentTimeMillis() >= deadline) {
        // release OUR claim before failing — otherwise every timed-out
        // attempt would itself become a stale gap stalling successors
        fs.delete(new Path(rDir, s"v=$next"), false)
        throw new IllegalArgumentException(
          s"a version below $next of $path is reserved but uncommitted after " +
            s"${waitMs}ms — crashed writer? delete its file under " +
            s"${reservationDir(path)} and retry (committing past the gap " +
            s"could lose its update)")
      }
      Thread.sleep(50L)
      cur = latestVersion(spark, path)
    }
    cur = latestVersion(spark, path)
    // release the claimed slot on ANY in-process commit failure (bad
    // delta, analysis error, write failure) — a leaked v=N reservation
    // stalls every subsequent writer for waitMs. A hard crash still
    // leaks; that's the documented delete-and-retry path above.
    val v =
      try commitAt(spark, path, delta, partCol, keys, stamp, next,
        if (cur == 0) Nil else manifestRefs(spark, path, cur))
      catch {
        case e: Throwable =>
          try fs.delete(new Path(rDir, s"v=$next"), false)
          catch { case _: java.io.IOException => () }
          throw e
      }
    // reservations at or below a committed version are spent — reap them
    // so the k-file reservation dir stays bounded by in-flight writers
    fs.listStatus(rDir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v=") && n.stripPrefix("v=").toLong < next)
        fs.delete(st.getPath, false)
    }
    v
  }

  private[operators] def commitAt(
      spark: SparkSession,
      path: String,
      delta: DataFrame,
      partCol: String,
      keys: Seq[String],
      stamp: Option[Long],
      next: Long,
      prior: Seq[(String, Long)],
      affectedHint: Option[Seq[String]] = None): Long = {
    val tagged = delta.withColumn("__p", col(partCol).cast("string"))
    // distinct partition values of the delta: bounded by the partition
    // domain (the same driver-side affected-set Upsert's partitioned
    // path uses), never by |delta|. A caller that already knows the set
    // (Txn's partitioned staged deltas) passes it and skips the job.
    val affected: Seq[String] = affectedHint.getOrElse(
      tagged.select(col("__p")).distinct().collect().map(_.getString(0)).toSeq)
    val affectedSet = affected.toSet

    val affectedRefs = prior.filter { case (p, _) => affectedSet(p) }
    val merged =
      if (affectedRefs.isEmpty) tagged
      else Upsert.merge(readRefs(spark, path, affectedRefs), tagged, keys)
    // ONE job writes every affected partition under the new generation
    merged.write.mode(SaveMode.Overwrite).partitionBy("__p")
      .parquet(s"${genRoot(path)}/__gen=$next")

    val carried = prior.filterNot { case (p, _) => affectedSet(p) }
    val entries = carried ++ affected.map(_ -> next)
    // tiny (one row per partition); the _SUCCESS of this write commits.
    // The stamp rides as a constant column — absent column in old
    // manifests = unstamped (stamp-tolerant readers below).
    writeManifest(spark, path, next, entries, stamp)
  }

  /** Constraint-CHECKED commit — Delta's CHECK / NOT NULL enforcement
    * at the write path: every named predicate must hold on EVERY delta
    * row and the delta's key set must be unique, or the commit is
    * REFUSED with a per-constraint violation report and the table is
    * untouched (no new version, no orphan generation — the check runs
    * before any write starts). Enforcement beats the audit-after
    * (dq1's expectation suite): a violating batch never becomes a
    * version other readers can see. Cost: ONE aggregate pass over the
    * delta for all predicates + one key-grouped count for uniqueness —
    * both delta-sized, never table-sized.
    *
    * Returns Right(version) on success, Left((constraint, violations))
    * on refusal. NULL predicate results count as violations (a CHECK
    * that can't prove itself true fails, as in SQL standards' WITH
    * CHECK OPTION — not the permissive CHECK default, because a data
    * pipeline wants loud nulls). */
  def commitChecked(
      spark: SparkSession,
      path: String,
      delta: DataFrame,
      partCol: String,
      keys: Seq[String],
      checks: Seq[(String, org.apache.spark.sql.Column)],
      stamp: Option[Long] = None): Either[Seq[(String, Long)], Long] = {
    val predAggs = checks.map { case (name, pred) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(name)
    }
    val predViolations: Seq[(String, Long)] =
      if (checks.isEmpty) Nil
      else {
        val row = delta.agg(predAggs.head, predAggs.tail: _*).collect()(0)
        checks.map { case (name, _) =>
          val i = row.fieldIndex(name)
          name -> (if (row.isNullAt(i)) 0L else row.getLong(i)) // empty delta
        }
      }
    val dupKeys = delta
      .groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .count() // number of non-unique key groups
    val violated = predViolations.filter(_._2 > 0) ++
      (if (dupKeys > 0) Seq("unique_key" -> dupKeys) else Nil)
    if (violated.nonEmpty) Left(violated)
    else Right(commit(spark, path, delta, partCol, keys, stamp))
  }

  /** STREAMING subscription to this table's commits — the change-feed
    * read (Delta CDF's upsert-only shape): every [[commit]] lands its
    * affected partitions as NEW files under a fresh generation
    * directory, and Structured Streaming's file source discovers
    * exactly those, so each micro-batch carries the POST-IMAGE rows of
    * the partitions that commit rewrote (keyed last-wins by `__gen`
    * reconstructs any point of the table — compacted-topic semantics;
    * no before-images). `__gen`/`__p` ride along as columns from the
    * directory layout. Consumers should drop rows whose (`__p`,
    * `__gen`) pair is not referenced by a retained manifest if crash
    * debris must never surface (an orphan generation is invisible to
    * readers but its files exist — the e34 gate demonstrates the
    * manifest-filtered fold). `schema` is the DATA schema (without
    * `__gen`/`__p`). */
  def followChanges(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("basePath", genRoot(path))
      .parquet(s"${genRoot(path)}/*/*")

  /** PER-KEY CHANGE HISTORY derived from the CHANGE FEED's post-images
    * — "what happened to THIS key?" (the k45 audit) in O(Σ deltas),
    * never O(versions × table): every commit already landed exactly its
    * affected partitions' POST-IMAGE rows under `__gen=<version>`, so
    * the union of generation files IS the per-version state feed of
    * every key that ever sat in a rewritten partition. The AS-OF
    * alternative (read each retained version in full, window over the
    * union) re-reads every partition once per version it is merely
    * CARRIED through — at 1000 versions that is a 1000× table scan for
    * a history whose information lives in the deltas. This plan reads
    * each generation file exactly once.
    *
    * Orphan generations (crash debris with no committed manifest) are
    * excluded by the manifest-derived (partition, gen) event set —
    * driver-sized (versions × partitions), broadcast as a semi-join so
    * the scan itself stays Σ-delta-rows. Returns (keyCols…, version,
    * payloadCols…) at every version where the key's payload CHANGED
    * (null-safe compare; first appearance counts): partition-level
    * granularity means a key rides along in rewrites that didn't touch
    * it, and those rows are dropped by the change filter.
    *
    * DELETES emit TOMBSTONES — (keyCols…, version, all-NULL payload) at
    * the version the key disappeared: a key present in a partition's
    * image at one event but absent from that partition's NEXT event
    * (a [[deleteKeys]]/[[deleteKeysAt]] rewrite, or the whole partition
    * leaving the manifest — emptied or [[dropPartitions]]'d) reads as
    * deleted, never as "still the last payload" — the audit-trail lie
    * a GDPR pipeline cannot afford. A key re-inserted after a
    * tombstone re-emits even when the payload is unchanged. Caveat: a
    * key whose payload is entirely NULL is indistinguishable from its
    * tombstone. History is as deep as the retained manifests —
    * [[expire]] truncates it, as with any change feed. */
  def keyHistory(
      spark: SparkSession,
      path: String,
      keyCols: Seq[String],
      payloadCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val versions = retainedVersions(spark, path)
    val refsByV: Map[Long, Seq[(String, Long)]] =
      versions.map(v => v -> manifestRefs(spark, path, v)).toMap
    // (partition, gen) pairs where gen was COMMITTED as that version:
    // refs with g == v are the partitions version v actually rewrote
    val rewriteEvents: Seq[(String, Long)] = versions.flatMap { v =>
      refsByV(v).collect { case (p, g) if g == v => (p, v) }
    }.distinct
    // partitions that DISAPPEARED between consecutive retained
    // manifests (emptied by a delete, or dropPartitions): every key
    // alive in them tombstones at the disappearing version
    val dropEvents: Seq[(String, Long)] = versions.sliding(2).toSeq.collect {
      case Seq(a, b) =>
        val after = refsByV(b).map(_._1).toSet
        refsByV(a).map(_._1).filterNot(after).map(p => (p, b))
    }.flatten.distinct
    // per partition: for each rewrite event, the NEXT event gen (rewrite
    // or disappearance) — a key missing from its partition's next event
    // was deleted there. Driver-sized: versions × partitions.
    val evByP: Map[String, Seq[Long]] = (rewriteEvents ++ dropEvents)
      .groupBy(_._1).map { case (p, es) => p -> es.map(_._2).distinct.sorted }
    val nextRows: Seq[(String, Long, Option[Long])] = rewriteEvents.map {
      case (p, g) => (p, g, evByP(p).find(_ > g))
    }
    import spark.implicits._
    val nextDf = nextRows.toDF("__pe", "__ge", "__nx")
    val feed = Tables.parquet(spark, Seq(s"${genRoot(path)}/*/*"), basePath = Some(genRoot(path)))
      .withColumn("__p", col("__p").cast("string"))
      .withColumn("__gen", col("__gen").cast("long"))
      .join(broadcast(nextDf),
        col("__p") === col("__pe") && col("__gen") === col("__ge"))
      .drop("__pe", "__ge")
    val kCols = keyCols.map(col)
    // tombstone detection per (key, partition), ONE scan of the feed:
    // the key's next row in THIS partition skips (or never reaches) the
    // partition's next event → the key was absent from that event's
    // image. Each such row EXPANDS into itself plus a tombstone copy
    // (version = the skipped event, payload nulled) via a conditional
    // explode — never a second read of the generation files (the
    // O(Σ deltas) scan bound is this operator's whole point).
    val wp = Window.partitionBy((kCols :+ col("__p")).toIndexedSeq: _*)
      .orderBy(col("__gen"))
    // window result lands as a plain column first — a Generate operator
    // cannot host window expressions
    val tombCond = col("__nx").isNotNull &&
      (col("__leadg").isNull || col("__leadg") > col("__nx"))
    val expanded = feed
      .withColumn("__leadg", lead(col("__gen"), 1).over(wp))
      .withColumn("__tomb", explode(
        when(tombCond, array(lit(false), lit(true))).otherwise(array(lit(false)))))
      .select((kCols
        :+ when(col("__tomb"), col("__nx")).otherwise(col("__gen")).as("__v"))
        ++ payloadCols.map(c =>
          when(col("__tomb"), lit(null).cast(feed.schema(c).dataType))
            .otherwise(col(c)).as(c))
        :+ col("__tomb").as("__del"): _*)
    // a key "deleted" from one partition but present at the same
    // version in another MOVED partitions, not died — suppress that
    // tombstone (its same-version value row sorts right after it)
    val w = Window.partitionBy(kCols.toIndexedSeq: _*)
      .orderBy(col("__v"), col("__del").desc)
    val survivors = expanded
      .withColumn("__shadow",
        col("__del") && lead(col("__v"), 1).over(w) === col("__v"))
      .filter(!coalesce(col("__shadow"), lit(false)))
    val changed = (payloadCols
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduceLeft(_ || _)
      || (col("__del") =!= lag(col("__del"), 1).over(w))
      || lag(lit(1), 1).over(w).isNull)
    survivors
      .withColumn("__chg", changed)
      .filter(col("__chg"))
      .select((kCols :+ col("__v").as("version")) ++ payloadCols.map(col): _*)
  }

  /** Row-level DELETE as a NEW VERSION — `DELETE FROM … WHERE key IN
    * (…)` with time travel: the partitions containing any of `keys`
    * are rewritten WITHOUT those rows under the next generation
    * (merge-on-write, localized like [[commit]]'s upsert path: one
    * key-probe scan discovers the affected partitions — pair it with
    * [[BloomIndex]]/[[ZoneMap]] pruning at scale — then the REWRITE is
    * O(affected partitions), never O(table)); untouched partitions
    * carry their manifest refs
    * forward, and a partition whose last row is deleted drops out of
    * the manifest entirely ([[dropPartitions]] semantics). History is
    * untouched: older versions still read the deleted rows until
    * [[expire]] reclaims them — for history-destroying governance
    * deletes, use [[Forget.scrubVersioned]]. A later [[commit]] of a
    * deleted key simply re-inserts it (versions are full states, not
    * tombstone chains — no delete/upsert ordering ambiguity). Returns
    * the new version (the current one if no key matched). */
  def deleteKeys(
      spark: SparkSession,
      path: String,
      keys: DataFrame,
      keyCols: Seq[String]): Long = {
    val cur = latestVersion(spark, path)
    require(cur > 0, s"no committed version at $path")
    deleteKeysAt(spark, path, keys, keyCols, None, cur + 1,
      manifestRefs(spark, path, cur), mintIfEmpty = false)
  }

  /** The delete core with an EXPLICIT version slot and prior refs —
    * [[deleteKeys]] resolves them from the head; [[Txn]] passes its
    * reserved slot (and the gap-skip-aware prior) so a delete can ride
    * a cross-table transaction. `mintIfEmpty=true` writes a pure
    * carry-forward manifest even when no key matched (a transaction's
    * version map must be real at every table); false preserves
    * deleteKeys' no-op contract (returns `next - 1`, nothing minted).
    * `allowEmptyTable=true` lets a delete that removes the LAST
    * surviving rows complete by writing a zero-ref EMPTY manifest (the
    * table reads as zero rows at that version — [[readAsOf]] borrows
    * the schema from the nearest ref-bearing retained version) instead
    * of refusing; only [[Txn]]'s post-`_COMMIT` apply passes it,
    * because a committed transaction must complete no matter what a
    * concurrent lower-slot delete raced away. */
  private[operators] def deleteKeysAt(
      spark: SparkSession,
      path: String,
      keys: DataFrame,
      keyCols: Seq[String],
      stamp: Option[Long],
      next: Long,
      prior: Seq[(String, Long)],
      mintIfEmpty: Boolean,
      allowEmptyTable: Boolean = false): Long = {
    val state = readRefs(spark, path, prior)
    val rm = keys.select(keyCols.map(col).toIndexedSeq: _*).distinct()
    val hit = state.join(rm, keyCols, "left_semi")
    // partition domain is driver-sized by design (commit's discipline)
    val affected: Seq[String] =
      hit.select(col("__p")).distinct().collect().map(_.getString(0)).toSeq
    if (affected.isEmpty && !mintIfEmpty) return next - 1
    val affectedSet = affected.toSet
    val survivors: Set[String] =
      if (affected.isEmpty) Set.empty
      else {
        val affectedRefs = prior.filter { case (p, _) => affectedSet(p) }
        val rewritten = readRefs(spark, path, affectedRefs)
          .join(rm, keyCols, "left_anti")
        rewritten.write.mode(SaveMode.Overwrite).partitionBy("__p")
          .parquet(s"${genRoot(path)}/__gen=$next")
        // partitions whose every row was deleted write no directory —
        // they leave the manifest (a ref to a missing dir would corrupt)
        rewritten.select(col("__p")).distinct()
          .collect().map(_.getString(0)).toSet
      }
    val carried = prior.filterNot { case (p, _) => affectedSet(p) }
    val entries = carried ++ affected.filter(survivors).map(_ -> next)
    require(entries.nonEmpty || allowEmptyTable,
      s"deleteKeys would empty $path — refuse (drop the table instead)")
    // entries may be EMPTY here (allowEmptyTable): the zero-row manifest
    // is the explicit empty-table state — committed like any other
    writeManifest(spark, path, next, entries, stamp)
  }

  /** REPLACE the delta's partitions VERBATIM as the next version — no
    * key merge: each partition present in `delta` is rewritten to
    * exactly the delta's rows for it (INSERT OVERWRITE PARTITION with
    * time travel); untouched partitions carry forward. The delta is
    * `repartition`-ed by the partition key before the write, so every
    * replaced partition lands as ONE file per partition — the layout
    * control [[compactPartitions]] is built on (commitAt's merge path
    * writes one file per task instead, fragmenting wide shuffles into
    * many small files). */
  private[operators] def replacePartitionsAt(
      spark: SparkSession,
      path: String,
      delta: DataFrame,
      partCol: String,
      stamp: Option[Long],
      next: Long,
      prior: Seq[(String, Long)],
      affectedHint: Option[Seq[String]] = None): Long = {
    val tagged = delta.withColumn("__p", col(partCol).cast("string"))
    val affected: Seq[String] = affectedHint.getOrElse(
      tagged.select(col("__p")).distinct().collect().map(_.getString(0)).toSeq)
    val affectedSet = affected.toSet
    tagged.repartition(col("__p"))
      .write.mode(SaveMode.Overwrite).partitionBy("__p")
      .parquet(s"${genRoot(path)}/__gen=$next")
    val carried = prior.filterNot { case (p, _) => affectedSet(p) }
    val entries = carried ++ affected.map(_ -> next)
    writeManifest(spark, path, next, entries, stamp)
  }

  /** Data-file census of version `v` (default latest): (partitions,
    * data files) summed over the manifest's resolved directories —
    * the small-file fragmentation readout [[compactPartitions]]'s
    * gate proves against. Metadata-only (one listing per referenced
    * partition directory). */
  def dataFileCount(spark: SparkSession, path: String, version: Long = -1L): (Long, Long) = {
    val v = if (version < 0) latestVersion(spark, path) else version
    require(v > 0, s"no committed version at $path")
    val conf = spark.sparkContext.hadoopConfiguration
    val refs = manifestRefs(spark, path, v)
    val files = refs.map { case (p, g) =>
      val dir = new Path(resolvePartDir(spark, path, p, g))
      dir.getFileSystem(conf).listStatus(dir)
        .count(st => st.isFile && !st.getPath.getName.startsWith("_")
          && !st.getPath.getName.startsWith(".")).toLong
    }.sum
    (refs.size.toLong, files)
  }

  /** COMPACTION as a transaction — re-land every fragmented partition
    * (currently served by `minFiles`-or-more data files) as a fresh
    * one-file-per-partition generation, AND bump the freshness tag
    * (`tv`) of those partitions' rows in every transactional secondary
    * index ([[VersionedBloom]]/[[VersionedZone]]) in the SAME [[Txn]].
    * Without the co-maintenance the indexes would go conservatively
    * stale: their `tv` no longer matches the compacted partitions'
    * manifest generation, so every lookup treats those partitions as
    * unconditional candidates — correct, but pruning is dead exactly
    * where the table is hottest. Index CONTENT is untouched (compaction
    * preserves rows bit-for-bit; only the layout changes), so the index
    * delta is a k-row tv rewrite, never a register recompute.
    *
    * The base version rides as `expectedVersion` — a concurrent commit
    * aborts the compaction (re-run it) rather than racing the rewrite.
    * Returns the committed (table/index → version) map, or empty when
    * nothing is fragmented. At 100 TB: the rewrite is one column-
    * untouched pass over the fragmented partitions only; history stays
    * readable and [[expire]] reclaims the superseded small generations. */
  def compactPartitions(
      spark: SparkSession,
      txnDir: String,
      path: String,
      partCol: String,
      minFiles: Int = 2,
      indexPaths: Seq[String] = Nil): Map[String, Long] = {
    require(minFiles >= 2, "minFiles < 2 would rewrite already-compact partitions")
    val base = latestVersion(spark, path)
    require(base > 0, s"no committed version at $path")
    val conf = spark.sparkContext.hadoopConfiguration
    val refs = manifestRefs(spark, path, base)
    val fragmented = refs.filter { case (p, g) =>
      val dir = new Path(resolvePartDir(spark, path, p, g))
      dir.getFileSystem(conf).listStatus(dir)
        .count(st => st.isFile && !st.getPath.getName.startsWith("_")
          && !st.getPath.getName.startsWith(".")) >= minFiles
    }
    if (fragmented.isEmpty) return Map.empty
    val fragSet = fragmented.map(_._1).toSet
    val content = readRefs(spark, path, fragmented).drop("__p")
    val idxWrites = indexPaths.map { idx =>
      val bumped = readAsOf(spark, idx)
        .filter(col("pval").isin(fragSet.toSeq: _*))
        .withColumn("tv", lit(base + 1))
      Txn.Write(idx, bumped, "pval", Seq("pval"))
    }
    Txn.run(spark, txnDir,
      Txn.Write(path, content, partCol, keys = Nil,
        expectedVersion = Some(base), op = "replace") +: idxWrites)
  }

  /** Combined upsert + delete as ONE NEW VERSION — the atomic form of
    * `deleteKeys(rm); commit(delta)`, which lands TWO versions and lets
    * concurrent readers observe the intermediate delete-only state (and
    * a crash between them leaves deletes applied but updates lost).
    * Here the affected partitions — those holding a removed key OR
    * receiving a delta row — are rewritten once with both effects, and
    * a single manifest write commits the result, so readers see either
    * the old head or the fully merged head, never a half-merge.
    * Precedence: `delta` wins — a key in both `removeKeys` and `delta`
    * ends up with the delta row (remove-then-upsert order). Returns the
    * new version (the current one if nothing was affected). */
  def commitMerge(
      spark: SparkSession,
      path: String,
      delta: DataFrame,
      removeKeys: DataFrame,
      partCol: String,
      keys: Seq[String],
      stamp: Option[Long] = None): Long = {
    val cur = latestVersion(spark, path)
    require(cur > 0, s"no committed version at $path")
    val prior = manifestRefs(spark, path, cur)
    val state = readRefs(spark, path, prior)
    val rm = removeKeys.select(keys.map(col).toIndexedSeq: _*).distinct()
    val tagged = delta.withColumn("__p", col(partCol).cast("string"))
    // both affected sets are partition-domain-sized (commit's discipline)
    val upsertParts = tagged.select(col("__p")).distinct()
      .collect().map(_.getString(0)).toSeq
    val hitParts = state.join(rm, keys, "left_semi")
      .select(col("__p")).distinct().collect().map(_.getString(0)).toSeq
    val affected = (upsertParts ++ hitParts).distinct
    if (affected.isEmpty) return cur
    val affectedSet = affected.toSet
    val next = cur + 1
    val affectedRefs = prior.filter { case (p, _) => affectedSet(p) }
    val merged =
      if (affectedRefs.isEmpty) tagged
      else Upsert.merge(
        readRefs(spark, path, affectedRefs).join(rm, keys, "left_anti"),
        tagged, keys)
    merged.write.mode(SaveMode.Overwrite).partitionBy("__p")
      .parquet(s"${genRoot(path)}/__gen=$next")
    // a partition whose every row was removed drops out of the manifest
    val survivors: Set[String] = merged.select(col("__p")).distinct()
      .collect().map(_.getString(0)).toSet
    val carried = prior.filterNot { case (p, _) => affectedSet(p) }
    val entries = carried ++ affected.filter(survivors).map(_ -> next)
    require(entries.nonEmpty,
      s"commitMerge would empty $path — refuse (drop the table instead)")
    writeManifest(spark, path, next, entries, stamp)
  }

  /** Drop whole partitions as a NEW VERSION — `ALTER TABLE … DROP
    * PARTITION` with time travel: the next manifest simply carries
    * forward every surviving partition's ref and omits the dropped
    * ones. METADATA-ONLY (no data touched — at 100 TB dropping a year
    * of history is a k-row manifest write); older versions still read
    * the dropped partitions until [[expire]] reclaims their
    * generations, which is exactly the retention semantics TTL
    * deletion wants (and [[Forget.scrubVersioned]] is the cousin for
    * when history must forget too). Returns the new version. */
  def dropPartitions(
      spark: SparkSession, path: String, drop: String => Boolean): Long = {
    val cur = latestVersion(spark, path)
    require(cur > 0, s"no committed version at $path")
    val prior = manifestRefs(spark, path, cur)
    val kept = prior.filterNot { case (p, _) => drop(p) }
    require(kept.nonEmpty,
      s"dropPartitions would empty $path — refuse (drop the table instead)")
    writeManifest(spark, path, cur + 1, kept, None)
  }

  /** The logical stamp version `v` was committed with, if any. */
  def stampOf(spark: SparkSession, path: String, v: Long): Option[Long] =
    readManifestRows(spark, manifestPath(path, v)).headOption.flatMap(_._3)

  /** The maximum commit stamp over every retained version — the
    * replay-check primitive the streaming sinks (e42–e48 discipline)
    * fold per micro-batch: "has any version committed with stamp ≥ s?"
    * Probing [[stampOf]] the latest version alone silently lies when
    * the head is an unstamped maintenance commit (compaction); this
    * folds every retained manifest, driver-side, zero jobs. */
  def maxStamp(spark: SparkSession, path: String): Option[Long] =
    retainedVersions(spark, path)
      .flatMap(v => readManifestRows(spark, manifestPath(path, v))
        .headOption.flatMap(_._3))
      .maxOption

  /** Read the table AS OF logical stamp `s`: the newest retained version
    * whose commit stamp is ≤ `s` (Delta's `TIMESTAMP AS OF`, but on the
    * caller's deterministic clock — see [[commit]]'s stamp doc).
    * Unstamped versions don't participate. Metadata cost: one k-row
    * manifest read per retained version — version counts are retention-
    * bounded, and at 100 TB this is the cheap path (no data touched
    * until the one chosen version is read). */
  def readAsOfStamp(spark: SparkSession, path: String, s: Long): DataFrame = {
    val candidates = retainedVersions(spark, path)
      .flatMap(v => stampOf(spark, path, v).filter(_ <= s).map(_ => v))
    require(candidates.nonEmpty,
      s"no retained version of $path carries a stamp <= $s")
    readAsOf(spark, path, candidates.max)
  }

  /** Read the table exactly as of version `v` (defaults to latest).
    * A zero-ref EMPTY version (a committed transaction's delete that
    * removed the last rows — see [[deleteKeysAt]]'s `allowEmptyTable`)
    * reads as zero rows, with the schema borrowed from the nearest
    * ref-bearing retained version (preferring earlier — the state the
    * delete emptied). */
  def readAsOf(spark: SparkSession, path: String, version: Long = -1L): DataFrame = {
    val v = if (version < 0) latestVersion(spark, path) else version
    require(v > 0, s"no committed version at $path")
    val fs = fsOf(spark, path)
    require(fs.exists(new Path(manifestPath(path, v), "_SUCCESS")),
      s"version $v was never committed at $path")
    val refs = manifestRefs(spark, path, v)
    if (refs.nonEmpty) readRefs(spark, path, refs).drop("__p")
    else {
      val donor = retainedVersions(spark, path).filter(_ != v)
        .sortBy(dv => (if (dv < v) 0 else 1, math.abs(dv - v)))
        .find(dv => manifestRefs(spark, path, dv).nonEmpty)
      require(donor.nonEmpty,
        s"version $v of $path is empty and no retained version carries a schema")
      readRefs(spark, path, manifestRefs(spark, path, donor.get))
        .drop("__p").limit(0)
    }
  }

  /** The post-commit view of `delta`'s AFFECTED partitions: merge of
    * the partitions' AS-OF-`base` state with the delta (the delta alone
    * at base 0). This is the frame every secondary-index delta
    * aggregates over; the index siblings each re-derived it privately,
    * so a multi-index commit paid the merge once per index —
    * [[VersionedBitmap.commitTripleIndexed]] computes it HERE once and
    * shares it. Same base-pinning contract as the index deltas: commit
    * callers must pass `base` as the table write's `expectedVersion`. */
  def mergedAffected(
      spark: SparkSession,
      tablePath: String,
      delta: DataFrame,
      partCol: String,
      keys: Seq[String],
      base: Long): DataFrame = {
    val affected = delta.select(col(partCol)).distinct().collect()
      .map(_.get(0)).toSeq // partition domain — driver-sized by design
    if (base == 0) delta
    else Upsert.merge(
      readAsOf(spark, tablePath, base).filter(col(partCol).isin(affected: _*)),
      delta, keys)
  }

  /** Shallow (zero-copy) clone: `dst` becomes an independently-evolving
    * versioned table whose initial version serves the SAME generation
    * directories as `src` at `version` (default: latest) — no data is
    * copied, only the k-row manifest, so cloning a 100 TB table is a
    * metadata operation (Delta/Iceberg's CLONE SHALLOW). Subsequent
    * [[commit]]s on the clone localize only the partitions they touch
    * (copy-on-write at partition granularity); untouched partitions keep
    * serving from the source's files. The clone's first version number
    * is the MAX generation its base manifest references, so clone-local
    * generations (numbered `version+1` upward by [[commit]]) can never
    * collide with a cloned source generation — that invariant is what
    * makes [[resolvePartDir]]'s local-first rule sound.
    *
    * Crash story: the `__source` pointer lands before the manifest and is
    * inert without one (a dangling pointer file is debris, not a table);
    * the manifest's `_SUCCESS` is the commit point, as everywhere.
    *
    * Retention: clones REGISTER under the source (`__clones/` marker),
    * and the source's [[expire]] pins every generation a live clone
    * still resolves — so source-side retention can no longer corrupt
    * clones. The pin releases when the clone [[materialize]]s to full
    * independence, expires away its sharing versions, or is deleted
    * from disk. Remaining caveat: `Forget.scrubVersioned` refuses to
    * run on a clone that still shares directories (scrubbing in place
    * would mutate the source's files), and a source-side scrub rewrites
    * shared directories in place — clones observe the scrub, which is
    * the right-to-be-forgotten semantics shared storage implies.
    */
  def shallowClone(
      spark: SparkSession, src: String, dst: String, version: Long = -1L): Long = {
    val v = if (version < 0) latestVersion(spark, src) else version
    require(v > 0, s"no committed version to clone at $src")
    // one FileSystem PER path: src and dst may live on different
    // schemes (hdfs:// source, s3a:// clone) — probing src's manifest
    // through dst's fs throws "Wrong FS" or misresolves
    require(fsOf(spark, src).exists(new Path(manifestPath(src, v), "_SUCCESS")),
      s"version $v was never committed at $src")
    require(latestVersion(spark, dst) == 0L,
      s"clone target $dst already has committed versions")
    val refs = manifestRefs(spark, src, v)
    require(refs.nonEmpty, s"version $v of $src references no partitions")

    val v0 = refs.map(_._2).max
    // marker = source path + the base generation bound (second line) —
    // resolvePartDir only chains refs with gen <= v0 to the source
    val fs = fsOf(spark, dst)
    val out = fs.create(sourceMarker(dst), true)
    try out.write(s"$src\n$v0".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // register under the SOURCE (its own fs — cross-scheme clones) so
    // source-side expire pins the generations this clone references
    val srcFs = fsOf(spark, src)
    srcFs.mkdirs(clonesDir(src))
    val reg = srcFs.create(new Path(clonesDir(src), cloneMarkerName(dst)), true)
    try reg.write(s"$dst\n$v0".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally reg.close()

    writeManifest(spark, dst, v0, refs, None)
  }

  /** Localize every partition of the LATEST version that still serves
    * from a shallow clone's source chain: byte-copy those directories
    * into a new local generation and commit a manifest where every entry
    * is local. Returns the new version (or the current one if nothing is
    * shared). Older retained clone versions keep referencing source
    * directories — expire them down if the goal is full independence.
    * Crash-safe: copies land under an uncommitted generation (invisible
    * without the manifest), re-running overwrites them. */
  def materialize(spark: SparkSession, path: String): Long = {
    val cur = latestVersion(spark, path)
    require(cur > 0, s"no committed version at $path")
    val fs = fsOf(spark, path)
    val refs = manifestRefs(spark, path, cur)
    val (local, shared) = refs.partition { case (p, g) =>
      fs.exists(new Path(partDir(path, p, g)))
    }
    if (shared.isEmpty) return cur
    val next = cur + 1
    val conf = spark.sparkContext.hadoopConfiguration
    shared.foreach { case (p, g) =>
      val from = new Path(resolvePartDir(spark, path, p, g))
      // `from` resolved up the source chain — its fs may differ from the
      // clone's (cross-scheme clone); copy with one handle per end
      val srcFs = from.getFileSystem(conf)
      require(srcFs.exists(from), s"unresolvable ref ($p, $g) at $path")
      val to = new Path(partDir(path, p, next))
      fs.delete(to, true) // idempotent re-run after a crash window
      org.apache.hadoop.fs.FileUtil.copy(srcFs, from, fs, to, false, conf)
    }
    val entries = local ++ shared.map { case (p, _) => (p, next) }
    writeManifest(spark, path, next, entries, None)
    // fully independent now? release the source-side retention pin so
    // the source's expire stops holding generations for this clone.
    // (Older retained clone versions may still share — only a clone
    // whose EVERY retained ref is local unregisters.)
    sourceRef(spark, path).foreach { case (src, _) =>
      val stillShared = retainedVersions(spark, path).exists { v =>
        manifestRefs(spark, path, v).exists { case (p, g) =>
          !fs.exists(new Path(partDir(path, p, g)))
        }
      }
      if (!stillShared) unregisterClone(spark, src, path)
    }
    next
  }

  /** What [[expire]] WOULD reclaim at `keep` — the dry run every
    * retention change deserves before it deletes history: (versions
    * that would lose their manifests, generation partition dirs that
    * would be reclaimed, dirs that survive because a retained version
    * still references them). Metadata-only (manifest reads + one
    * directory listing), same resolution as expire itself — so the
    * report IS expire's plan, not an estimate. */
  def expireDryRun(
      spark: SparkSession, path: String, keep: Int): (Seq[Long], Long, Long) = {
    require(keep >= 1)
    val fs = fsOf(spark, path)
    val latest = latestVersion(spark, path)
    if (latest == 0) return (Nil, 0L, 0L)
    val retained = ((latest - keep + 1) max 1L) to latest
    val droppedVersions = retainedVersions(spark, path).filter(_ < retained.head)
    val live: Set[(String, Long)] = retained
      .filter(v => fs.exists(new Path(manifestPath(path, v), "_SUCCESS")))
      .flatMap(v => manifestRefs(spark, path, v)).toSet ++
      clonePinnedRefs(spark, path) // same pins expire honors
    val gRoot = new Path(genRoot(path))
    var reclaim = 0L
    var kept = 0L
    if (fs.exists(gRoot)) fs.listStatus(gRoot).foreach { gSt =>
      val gName = gSt.getPath.getName
      if (gName.startsWith("__gen=")) {
        val g = gName.stripPrefix("__gen=").toLong
        fs.listStatus(gSt.getPath)
          .filter(_.getPath.getName.startsWith("__p="))
          .filterNot(p => p.getPath.getName.endsWith("__new") ||
            p.getPath.getName.endsWith("__old"))
          .foreach { pSt =>
            val p = pSt.getPath.getName.stripPrefix("__p=")
            if (live((p, g))) kept += 1 else reclaim += 1
          }
      }
    }
    (droppedVersions, reclaim, kept)
  }

  /** Drop all but the last `keep` versions and every generation
    * directory no retained manifest references. Readers of retained
    * versions are unaffected (their files are never touched).
    * CLONE-AWARE: generations a registered live clone still resolves
    * from this table are PINNED (treated as live) even when no retained
    * manifest here references them — expire on a cloned source can no
    * longer corrupt its clones. Pins clear when the clone is
    * [[materialize]]d to independence or deleted from disk. */
  def expire(spark: SparkSession, path: String, keep: Int): Unit = {
    require(keep >= 1)
    val fs = fsOf(spark, path)
    val latest = latestVersion(spark, path)
    if (latest == 0) return
    val retained = ((latest - keep + 1) max 1L) to latest
    val live: Set[(String, Long)] = retained
      .filter(v => fs.exists(new Path(manifestPath(path, v), "_SUCCESS")))
      .flatMap(v => manifestRefs(spark, path, v)).toSet ++
      clonePinnedRefs(spark, path)

    val mDir = new Path(manifestDir(path))
    fs.listStatus(mDir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v=") && n.stripPrefix("v=").toLong < retained.head)
        fs.delete(st.getPath, true)
    }
    val gRoot = new Path(genRoot(path))
    if (fs.exists(gRoot)) fs.listStatus(gRoot).foreach { gSt =>
      val gName = gSt.getPath.getName
      if (gName.startsWith("__gen=")) {
        val g = gName.stripPrefix("__gen=").toLong
        fs.listStatus(gSt.getPath)
          .filter(_.getPath.getName.startsWith("__p="))
          // `__p=x__new` / `__p=x__old` are Forget.scrubVersioned swap
          // residue from a crash window; between the two renames the
          // `__new` copy can be the partition's ONLY copy, so expire must
          // never reclaim them — the next scrub heals, then expire can.
          .filterNot(p => p.getPath.getName.endsWith("__new") ||
            p.getPath.getName.endsWith("__old"))
          .foreach { pSt =>
            val p = pSt.getPath.getName.stripPrefix("__p=")
            if (!live((p, g))) fs.delete(pSt.getPath, true)
          }
        // the generation root also holds Spark's _SUCCESS marker — the
        // generation is disposable once no partition dir remains
        if (!fs.listStatus(gSt.getPath).exists(_.getPath.getName.startsWith("__p=")))
          fs.delete(gSt.getPath, true)
      }
    }
    // a CLONE that just expired away its last source-sharing versions
    // releases its source-side retention pin
    sourceRef(spark, path).foreach { case (src, _) =>
      val stillShared = retainedVersions(spark, path).exists { v =>
        manifestRefs(spark, path, v).exists { case (p, g) =>
          !fs.exists(new Path(partDir(path, p, g)))
        }
      }
      if (!stillShared) unregisterClone(spark, src, path)
    }
  }

  /** Order-independent per-partition content fingerprints for a
    * partitioned parquet directory read as `df` with partition column
    * `pcol`: (pval, rows, xh) where xh = bit-XOR of xxhash64 over every
    * data column (name-sorted, so projection order can't drift). One
    * partial-aggregated scan; XOR commutes, so the fingerprint is
    * partitioning- and task-order-independent. */
  private def partFingerprints(df: DataFrame, pcol: String): DataFrame = {
    val dataCols = df.columns.filterNot(_ == pcol).sorted
    df.select(col(pcol), xxhash64(dataCols.map(col): _*).as("h"))
      .groupBy(col(pcol))
      .agg(count(lit(1)).as("rows"), expr("bit_xor(h)").as("xh"))
  }

  /** SNAPSHOT EXPORT — the cold-archive / cross-cluster portability
    * path: write version `version` (default latest) of the table at
    * `path` into `dest` as one SELF-CONTAINED bundle readable by any
    * parquet consumer, no manifest protocol required:
    *
    *   dest/data/__p=<pval>/   byte-copied partition directories
    *   dest/meta/              (pval, rows, xh, src_version) checksums
    *
    * Data moves by BYTE COPY of the write-once generation directories
    * (never re-encoded — a 100 TB export is pure I/O, zero shuffle),
    * and the checksum manifest is computed by ONE partial-aggregated
    * scan of the copied bytes, so it attests what actually landed at
    * `dest`, not what the source held. [[importSnapshot]] re-derives
    * the same fingerprints at the far end — a bit flipped in transit
    * (distcp, tape, object-store migration) fails the import loudly.
    * Returns (exported version, total rows). */
  def exportSnapshot(
      spark: SparkSession, path: String, dest: String, version: Long = -1L): (Long, Long) = {
    val v = if (version < 0) latestVersion(spark, path) else version
    require(v > 0, s"no committed version at $path")
    val srcFs = fsOf(spark, path)
    require(srcFs.exists(new Path(manifestPath(path, v), "_SUCCESS")),
      s"version $v was never committed at $path")
    val dstFs = fsOf(spark, dest)
    val conf = spark.sparkContext.hadoopConfiguration
    manifestRefs(spark, path, v).foreach { case (p, g) =>
      val from = new Path(resolvePartDir(spark, path, p, g))
      org.apache.hadoop.fs.FileUtil.copy(
        srcFs, from, dstFs, new Path(s"$dest/data/__p=$p"), false, true, conf)
    }
    // partition-directory inference would type a numeric-looking __p as
    // IntegerType, drifting the meta schema from Versioned's string-pval
    // convention — pin it back to string before fingerprinting
    val copied = Tables.parquet(spark, s"$dest/data")
      .withColumn("__p", col("__p").cast("string"))
    val meta = partFingerprints(copied, "__p")
      .withColumn("src_version", lit(v))
    meta.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dest/meta")
    val total = Tables.parquet(spark, s"$dest/meta")
      .agg(sum(col("rows"))).collect()(0).getLong(0) // 1 row — driver-sized
    (v, total)
  }

  /** SNAPSHOT IMPORT — re-admit an [[exportSnapshot]] bundle at `src`
    * as version 1 of a FRESH versioned table at `dst`, verifying every
    * partition's row count and content fingerprint against the bundle's
    * checksum manifest BEFORE any manifest lands (a corrupted bundle
    * fails loudly with the offending partitions named; the target stays
    * an empty non-table). Data moves by byte copy into generation 1;
    * the imported table then versions forward independently (commits
    * number generations 2 upward — no collision with the import).
    * Returns the committed version (always 1). */
  def importSnapshot(spark: SparkSession, src: String, dst: String): Long = {
    require(latestVersion(spark, dst) == 0L,
      s"import target $dst already has committed versions")
    // cast __p on BOTH sides: older bundles' meta may carry an inferred
    // numeric __p, and the data read re-infers from the directory names —
    // string is Versioned's pval convention everywhere else
    val expected = Tables.parquet(spark, s"$src/meta")
      .select(col("__p").cast("string"), col("rows"), col("xh"))
      .collect() // k rows: one per partition — driver-sized by design
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val actual = partFingerprints(
        Tables.parquet(spark, s"$src/data")
          .withColumn("__p", col("__p").cast("string")), "__p")
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val bad = (expected.keySet ++ actual.keySet).filter(p =>
      expected.get(p) != actual.get(p))
    require(bad.isEmpty,
      s"snapshot bundle at $src failed verification for partitions: ${bad.toSeq.sorted.mkString(", ")}")
    val srcFs = fsOf(spark, src)
    val dstFs = fsOf(spark, dst)
    val conf = spark.sparkContext.hadoopConfiguration
    val pvals = expected.keySet.toSeq.sorted
    pvals.foreach { p =>
      org.apache.hadoop.fs.FileUtil.copy(
        srcFs, new Path(s"$src/data/__p=$p"),
        dstFs, new Path(partDir(dst, p, 1L)), false, true, conf)
    }
    writeManifest(spark, dst, 1L, pvals.map(p => (p, 1L)), None)
  }
}
