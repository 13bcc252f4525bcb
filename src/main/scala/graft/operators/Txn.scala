package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** CROSS-TABLE atomic transactions over [[Versioned]] tables — the
  * multi-table guarantee single-table manifest formats punt on (Delta
  * and Iceberg commit one table at a time; a ledger and its summary
  * can drift forever in the crash window between two commits). Classic
  * presumed-abort two-phase commit with the transaction directory as
  * the coordinator log:
  *
  *   PREPARE  every table's next version slot is LOCKED via the same
  *            create-exclusive reservation commitCas uses (concurrent
  *            writers queue behind it), the delta is staged durably
  *            under the txn dir, and an intent record (table, keys,
  *            reserved version, staged path) is written.
  *   COMMIT   one create-exclusive `_COMMIT` marker — THE atomic
  *            decision point. Before it exists the transaction is
  *            presumed aborted; after, its outcome is commit at every
  *            table, no matter what crashes.
  *   APPLY    each intent lands through Versioned's ordinary commit
  *            machinery at its RESERVED version. Idempotent: an intent
  *            whose manifest version already exists is skipped, so
  *            [[recover]] can re-drive apply after any crash.
  *
  * [[recover]] is the whole crash story: `_COMMIT` present → roll
  * FORWARD (finish the unapplied intents); absent → roll BACK (release
  * the reservations, drop the staged deltas — nothing ever became
  * visible). Readers wanting a cross-table-consistent snapshot read
  * each table AS OF the versions [[versions]] reports for a completed
  * transaction.
  *
  * Scale shape: prepare stages each delta once (delta-sized I/O);
  * apply is Versioned's O(delta) partition-localized commit; the
  * coordinator log is a handful of driver-written marker files. Locks
  * are held from prepare to apply — keep transactions short, as on any
  * MVCC store.
  */
object Txn {

  /** One table write inside a transaction. `stamp` rides into the
    * table's manifest (Versioned's caller-clock logical timestamp) —
    * a streaming sink stamps batchId so replays are detectable from
    * the committed state itself (e42's exactly-once discipline).
    * `expectedVersion` is OPTIMISTIC concurrency control (Delta's
    * snapshot-conflict check): the version this write's delta was
    * COMPUTED FROM — if anyone committed or reserved past it by
    * prepare time, the whole transaction aborts with
    * [[TxnConflictException]] instead of silently stacking a write
    * derived from a stale snapshot (lost-update prevention; re-read
    * and retry is the caller's loop).
    *
    * `op` selects the write's semantics at apply time: "upsert" (the
    * default — `delta` merges by `keys` into affected partitions) or
    * "delete" (`delta` is a KEY frame; matching rows are removed,
    * emptied partitions leave the manifest, `partCol` is unused) —
    * the atomic cross-table erasure a GDPR pipeline needs (ledger AND
    * its secondary index forget a subject in one decision point; see
    * [[VersionedBloom.deleteIndexed]]). A delete that matches nothing
    * still mints its reserved version as a carry-forward manifest, so
    * [[versions]] stays a real cross-table snapshot. "replace" rewrites
    * the delta's partitions VERBATIM (no key merge, one file per
    * partition — [[Versioned.compactPartitions]]'s layout primitive;
    * `keys` is unused). */
  final case class Write(table: String, delta: DataFrame, partCol: String,
      keys: Seq[String], stamp: Option[Long] = None,
      expectedVersion: Option[Long] = None, op: String = "upsert") {
    require(op == "upsert" || op == "delete" || op == "replace",
      s"unknown txn write op: $op")
  }

  /** A write's base snapshot went stale before the transaction could
    * lock its slot — the caller should re-derive the delta from the
    * current version and retry. */
  final class TxnConflictException(msg: String) extends RuntimeException(msg)

  private def commitMarker(dir: String) = new Path(dir, "_COMMIT")
  private def doneMarker(dir: String) = new Path(dir, "_DONE")
  private def abortMarker(dir: String) = new Path(dir, "_ABORTED")
  private def intentPath(dir: String, i: Int) = new Path(dir, s"intent-$i")
  private def deltaPath(dir: String, i: Int) = s"$dir/delta-$i"

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private final case class Intent(
      table: String, partCol: String, keys: Seq[String], version: Long,
      delta: String, stamp: Option[Long], op: String,
      affected: Option[Seq[String]] = None)

  /** Decode an intent's `affected=` value (URL-encoded, comma-joined
    * partition values; empty value = empty set, absent line = unknown —
    * pre-affected-set coordinator logs fall back to the distinct job).
    * Dropping empty tokens is unambiguous ONLY because prepare refuses
    * deltas whose partition value is NULL or the empty string (see the
    * degenerate-pval guard in prepareAll) — without that refusal the
    * encoding conflates "empty set" with "the set containing ''", and
    * the hint would silently diverge from commitAt's distinct-collect
    * fallback for exactly those rows. */
  private def parseAffected(v: Option[String]): Option[Seq[String]] =
    v.map(_.split(",").toSeq.filter(_.nonEmpty)
      .map(java.net.URLDecoder.decode(_, "UTF-8")))

  // intent record: one field per line (paths/columns never hold \n);
  // table + version lead so even a truncated record still identifies
  // the reservation rollback must release. Written TWICE per write:
  // a minimal (table, version) record the instant the slot is claimed
  // — so a failure anywhere in staging still releases the lock — then
  // the full record once the delta is durably staged.
  private def writeIntent(
      spark: SparkSession, dir: String, i: Int, fields: String, overwrite: Boolean): Unit = {
    val fs = fsOf(spark, dir)
    val out = fs.create(intentPath(dir, i), overwrite)
    try out.write(fields.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readIntentFields(spark: SparkSession, dir: String): Seq[Map[String, String]] = {
    val fs = fsOf(spark, dir)
    fs.listStatus(new Path(dir)).toSeq
      .filter(_.getPath.getName.startsWith("intent-"))
      .sortBy(_.getPath.getName.stripPrefix("intent-").toInt)
      .map { st =>
        val buf = new Array[Byte](st.getLen.toInt)
        val in = fs.open(st.getPath)
        try in.readFully(0, buf) finally in.close()
        new String(buf, java.nio.charset.StandardCharsets.UTF_8)
          .linesIterator.filter(_.contains("="))
          .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
      }
  }

  private def readIntents(spark: SparkSession, dir: String): Seq[Intent] =
    readIntentFields(spark, dir).map { kv =>
      Intent(kv("table"), kv("partCol"),
        kv("keys").split(",").toSeq.filter(_.nonEmpty), kv("version").toLong,
        kv("delta"), kv.get("stamp").map(_.toLong),
        kv.getOrElse("op", "upsert"), // pre-op coordinator logs are upserts
        parseAffected(kv.get("affected")))
    }

  /** Run `writes` as one atomic transaction coordinated through
    * `dir` (a fresh directory, e.g. `Scratch.dir("txn")`). Returns the
    * committed (table → version) map. Tables must be distinct. On any
    * prepare failure the transaction rolls back (reservations
    * released); once the `_COMMIT` marker lands, the outcome is commit
    * everywhere — a crash mid-apply is finished by [[recover]]. */
  def run(spark: SparkSession, dir: String, writes: Seq[Write]): Map[String, Long] = {
    val prepared = prepareAll(spark, dir, writes)
    val fs = fsOf(spark, dir)
    // COMMIT POINT — create-exclusive marker; fails if dir was reused
    if (!Publish.claimExclusive(fs, commitMarker(dir))) {
      rollback(spark, dir)
      throw new IllegalStateException(s"$dir already holds a _COMMIT marker — " +
        "transaction directories are single-use")
    }
    applyIntents(spark, dir, prepared)
    prepared.map(in => in.table -> in.version).toMap
  }

  // PREPARE — lock slots in sorted-table order (deadlock-free against
  // any other transaction locking the same tables); any failure rolls
  // the whole prepare back before rethrowing
  private def prepareAll(
      spark: SparkSession, dir: String, writes: Seq[Write]): Seq[Intent] = {
    require(writes.map(_.table).distinct.size == writes.size,
      "one write per table per transaction")
    val fs = fsOf(spark, dir)
    fs.mkdirs(new Path(dir))
    try writes.sortBy(_.table).zipWithIndex.map { case (w, i) =>
      val v = Versioned.reserveVersion(spark, w.table)
      // lock recorded BEFORE staging: if the delta fails to
      // materialize, rollback still finds and releases this slot
      writeIntent(spark, dir, i, s"table=${w.table}\nversion=$v\n", overwrite = false)
      w.expectedVersion.foreach { exp =>
        if (v != exp + 1)
          throw new TxnConflictException(
            s"write-write conflict on ${w.table}: delta was derived from " +
              s"v=$exp but the next free slot is v=$v — another transaction " +
              "committed or reserved in between; re-read and retry")
      }
      val dp = deltaPath(dir, i)
      // upsert/replace deltas: the affected-partition set rides the
      // staging write itself (an Observation over collect_set(__p) —
      // zero extra jobs, zero extra files) and is recorded in the
      // intent, so apply never runs the distinct-collect job commitAt
      // would otherwise need. (Partitioning the staged delta instead
      // was measured SLOWER: a wide commit fans the stage into
      // partitions × tasks small files.) Delete deltas are key frames
      // with no partition column — staged flat, no affected set.
      val affectedLine =
        if (w.op == "delete") { w.delta.write.parquet(dp); "" }
        else {
          import org.apache.spark.sql.functions.{col => c, collect_set, count, lit, when}
          val obs = org.apache.spark.sql.Observation()
          w.delta
            .withColumn("__p", c(w.partCol).cast("string"))
            // degenerate-pval guard, riding the same staging write:
            // collect_set silently DROPS a NULL pval and the comma
            // encoding cannot represent the empty string, so a delta
            // row carrying either would make the affected hint diverge
            // from commitAt's distinct-collect fallback — the new
            // generation's manifest would carry the prior entry for
            // that partition forward while its delta rows vanish
            // (silent row loss). Such rows are a caller bug everywhere
            // downstream too (Versioned partitions by the value);
            // refuse them HERE, before the _COMMIT decision point,
            // while refusing still means presumed abort.
            .observe(obs,
              collect_set(c("__p")).as("ps"),
              count(when(c("__p").isNull || c("__p") === "", lit(1))).as("bad"))
            .write.parquet(dp)
          if (obs.get("bad").asInstanceOf[Long] > 0L)
            throw new IllegalArgumentException(
              s"transaction write on ${w.table}: delta contains rows whose " +
                s"partition column ${w.partCol} is NULL or empty-string — " +
                "unrepresentable in the affected-partition hint and unsupported " +
                "by the partition layout; fix the delta's partition values")
          val ps = obs.get("ps").asInstanceOf[scala.collection.Seq[String]]
          "affected=" + ps.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(",") + "\n"
        }
      if (w.op == "delete") {
        // the would-empty-the-table refusal fires BEFORE the _COMMIT
        // decision point: emptying a table is almost always a caller
        // bug, so it bounces while bouncing is still allowed (presumed
        // abort). One early-out survivor probe against the base the
        // slot now locks. A concurrent lower-slot delete erasing the
        // last survivors between this check and apply remains possible
        // — apply then resolves it by minting an explicit empty-table
        // version (allowEmptyTable below) so the committed outcome
        // always completes.
        val cur = Versioned.latestVersion(spark, w.table)
        if (cur > 0) {
          val rm = Tables.parquet(spark, dp)
            .select(w.keys.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
            .distinct()
          val survives = Versioned
            .readRefs(spark, w.table, Versioned.manifestRefs(spark, w.table, cur))
            .join(rm, w.keys, "left_anti")
            .limit(1).count() > 0
          if (!survives)
            throw new IllegalArgumentException(
              s"transaction delete would empty ${w.table} — refused at " +
                "prepare (drop the table instead)")
        }
      }
      writeIntent(spark, dir, i,
        s"table=${w.table}\nversion=$v\npartCol=${w.partCol}\n" +
          s"keys=${w.keys.mkString(",")}\ndelta=$dp\nop=${w.op}\n" +
          affectedLine +
          w.stamp.fold("")(t => s"stamp=$t\n"), overwrite = true)
      Intent(w.table, w.partCol, w.keys, v, dp, w.stamp, w.op,
        parseAffected(if (affectedLine.isEmpty) None
          else Some(affectedLine.stripPrefix("affected=").trim)))
    }
    catch { case e: Throwable => rollback(spark, dir); throw e }
  }

  /** CRASH SIMULATION (tests + restart gates): run the full prepare
    * phase — slots locked, deltas staged, intents durable — then stop
    * dead, exactly as a coordinator that died before its `_COMMIT`
    * decision point would. The directory is left for [[recover]] /
    * [[recoverAll]] to roll back; until the janitor runs, the locked
    * slots stall every writer of the same tables, which is precisely
    * the wedge the restart-time sweep exists to clear. */
  private[graft] def crashAfterPrepare(
      spark: SparkSession, dir: String, writes: Seq[Write]): Unit = {
    prepareAll(spark, dir, writes)
    ()
  }

  /** Finish or discard an interrupted transaction: `_COMMIT` present →
    * roll forward (apply every intent not yet at its version) and
    * return "forward"; absent → roll back (release reservations, drop
    * staged state) and return "rolledback"; `_DONE` or `_ABORTED`
    * already present — or the directory gone entirely (reaped by a
    * prior [[recoverAll]] sweep) → "noop". Safe to call repeatedly and
    * on directories of CRASHED coordinators only — it re-drives their
    * decision. */
  def recover(spark: SparkSession, dir: String): String = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(new Path(dir))) "noop"
    else if (fs.exists(doneMarker(dir)) || fs.exists(abortMarker(dir))) "noop"
    else if (fs.exists(commitMarker(dir))) {
      applyIntents(spark, dir, readIntents(spark, dir)); "forward"
    } else { rollback(spark, dir); "rolledback" }
  }

  /** Run `writes` under a coordinator directory the library allocates
    * and REGISTERS beneath the well-known `root` — so a crashed
    * coordinator is discoverable by [[recoverAll]] with no surviving
    * caller holding the dir handle (the janitor gap plain [[run]]
    * leaves: its single-use dir is known only to the crashed process).
    * Returns the committed (table → version) map. */
  def runManaged(spark: SparkSession, root: String, writes: Seq[Write]): Map[String, Long] = {
    val fs = fsOf(spark, root)
    fs.mkdirs(new Path(root))
    run(spark, s"$root/txn-${java.util.UUID.randomUUID()}", writes)
  }

  /** Sub-directory completed coordinators are reaped into: one listing
    * entry no matter how many transactions ever ran under the root, so
    * the per-sweep cost is bounded by IN-FLIGHT dirs, not history. */
  private def doneRoot(root: String) = new Path(root, "_done")

  /** JANITOR — sweep every coordinator directory under `root`,
    * finishing or discarding whatever a crash left behind: roll FORWARD
    * past `_COMMIT`, roll BACK otherwise, skip completed dirs. Returns
    * dir → outcome ("forward" / "rolledback" / "noop" / "skipped" /
    * "live"). ONLY directories that are recognizably coordinators —
    * holding a `_COMMIT`/`_DONE`/`_ABORTED` marker or at least one
    * `intent-*` record — are touched; anything else under the root (a
    * table, a checkpoint, a feed a caller parked beside its txns) is
    * reported "skipped", NEVER rolled back — rollback deletes a
    * directory's contents, which on a non-coordinator would be data
    * loss, not recovery.
    *
    * TERMINAL-STATE REAPING (on by default): a coordinator that is
    * already decided and fully applied or aborted (`_DONE`/`_ABORTED`
    * present) is MOVED under `<root>/_done/` — one rename, then no
    * later sweep ever lists or probes it again. Without this, a
    * per-micro-batch sweep (e42/e43/e44's discipline) pays one listing
    * entry plus marker probes per completed transaction FOREVER; with
    * it the sweep cost is bounded by in-flight coordinators (each
    * completed dir is touched exactly once more, by the sweep that
    * reaps it). Reaped dirs still report "noop"; [[recover]] on a
    * reaped path also reports "noop". Callers that read
    * [[versions]] from a coordinator dir should do so before the next
    * sweep (or under `reapCompleted = false`).
    *
    * LIVENESS GUARD: rolling back a coordinator that is still LIVE in
    * another process destroys its prepare mid-flight, so a non-terminal
    * dir whose newest file is younger than `liveLeaseMs` is reported
    * "live" and left untouched. The default 0 keeps restart semantics
    * (the process sweeping its OWN root at startup knows no coordinator
    * is live — waiting a lease there only delays recovery); pass a
    * lease (e.g. 60000) for shared-root or periodic sweeps where a
    * peer may be mid-prepare. */
  def recoverAll(
      spark: SparkSession,
      root: String,
      liveLeaseMs: Long = 0L,
      reapCompleted: Boolean = true): Map[String, String] = {
    val fs = fsOf(spark, root)
    if (!fs.exists(new Path(root))) Map.empty
    else fs.listStatus(new Path(root)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName != "_done")
      .map { st =>
        val dir = st.getPath.toString
        val children = fs.listStatus(st.getPath).toSeq
        val terminal = fs.exists(doneMarker(dir)) || fs.exists(abortMarker(dir))
        val isCoordinator = terminal || fs.exists(commitMarker(dir)) ||
          children.exists(_.getPath.getName.startsWith("intent-"))
        val outcome =
          if (!isCoordinator) "skipped"
          else if (terminal) {
            if (reapCompleted) {
              fs.mkdirs(doneRoot(root))
              fs.rename(st.getPath, new Path(doneRoot(root), st.getPath.getName))
            }
            "noop"
          } else if (liveLeaseMs > 0 && children.nonEmpty &&
              children.map(_.getModificationTime).max >
                System.currentTimeMillis() - liveLeaseMs)
            "live" // possibly mid-prepare in a peer — not ours to decide yet
          else recover(spark, dir)
        dir -> outcome
      }
      .toMap
  }

  /** The (table → version) map a completed transaction committed —
    * the cross-table-consistent snapshot readers should AS-OF. */
  def versions(spark: SparkSession, dir: String): Map[String, Long] =
    readIntents(spark, dir).map(in => in.table -> in.version).toMap

  private def applyIntents(
      spark: SparkSession, dir: String, intents: Seq[Intent],
      waitMs: Long = 60000L): Unit = {
    val fs = fsOf(spark, dir)
    intents.foreach { in =>
      // a concurrent transaction may hold a LIVE slot below ours — wait
      // for it to land (commitCas's discipline), then fail LOUDLY if it
      // never does: applying past a live slot could lose its update. A
      // DEAD gap is different: a slot that is neither claimed nor
      // committed was RELEASED (a peer's rollback or commitCas failure)
      // and — while our own reservation at in.version exists —
      // reserveVersion can never re-issue it, so waiting on it would
      // wedge the table forever and void the "after _COMMIT the outcome
      // is commit" guarantee. Commit ACROSS dead gaps, carrying the
      // highest committed manifest forward as prior.
      val deadline = System.currentTimeMillis() + waitMs
      var cur = Versioned.latestVersion(spark, in.table)
      def liveGap(): Boolean =
        ((cur + 1) until in.version).exists(g => Versioned.slotLive(spark, in.table, g))
      while (cur < in.version - 1 && liveGap()
          && System.currentTimeMillis() < deadline) {
        Thread.sleep(50L)
        cur = Versioned.latestVersion(spark, in.table)
      }
      cur = Versioned.latestVersion(spark, in.table)
      if (cur < in.version - 1 && liveGap())
        throw new IllegalStateException(
          s"cannot apply txn intent v=${in.version} on ${in.table}: table is at " +
            s"v=$cur after ${waitMs}ms — a lower reserved version is uncommitted " +
            "(crashed writer? commit or release it, then re-run Txn.recover)")
      // idempotent apply: the reserved version already committed means
      // a prior attempt landed this intent — skip, never double-commit
      if (cur < in.version) {
        val prior =
          if (cur == 0) Nil
          else Versioned.manifestRefs(spark, in.table, cur)
        // allowEmptyTable: the prepare-time would-empty refusal can be
        // raced by a concurrent lower-slot delete erasing the last
        // survivors between prepare and apply — but after _COMMIT the
        // outcome IS commit, so the apply resolves the race by minting
        // an explicit EMPTY-table version (zero-ref manifest) instead
        // of throwing forever out of every recover() (the permanent
        // wedge that would void the commit guarantee). Readers of the
        // empty version get zero rows; a later commit repopulates.
        if (in.op == "delete")
          Versioned.deleteKeysAt(spark, in.table, Tables.parquet(spark, in.delta),
            in.keys, in.stamp, in.version, prior, mintIfEmpty = true,
            allowEmptyTable = true)
        else {
          // affected partitions from the intent record (captured by an
          // Observation during prepare's staging write; None = an old
          // coordinator log — fall back to commitAt's distinct-collect)
          val hint = in.affected
          if (in.op == "replace")
            Versioned.replacePartitionsAt(spark, in.table,
              Tables.parquet(spark, in.delta), in.partCol, in.stamp, in.version,
              prior, affectedHint = hint)
          else
            Versioned.commitAt(spark, in.table, Tables.parquet(spark, in.delta),
              in.partCol, in.keys, in.stamp, in.version, prior,
              affectedHint = hint)
        }
      }
      Versioned.reapSpentReservations(spark, in.table, in.version)
    }
    val out = fs.create(doneMarker(dir), true)
    out.close()
  }

  private def rollback(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    // tolerant parse: a crash mid-intent-write leaves a truncated record;
    // table+version lead the format so its reservation still releases
    readIntentFields(spark, dir).foreach { kv =>
      for (t <- kv.get("table"); v <- kv.get("version"))
        Versioned.releaseVersionClaim(spark, t, v.toLong)
    }
    // staged deltas + intents die with the txn dir; keep the marker so
    // a later recover() call reports the outcome instead of re-rolling
    fs.listStatus(new Path(dir)).foreach { st =>
      if (st.getPath.getName != "_ABORTED") fs.delete(st.getPath, true)
    }
    val out = fs.create(abortMarker(dir), true)
    out.close()
  }
}
