package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.Tables

/** Atomic MULTI-TABLE publish: a run's table snapshots become visible
  * together or not at all — the parquet analog of the reference's
  * one-transaction-per-run visibility
  * (/root/reference/src/etl-square-payments.ts runs every sink inside a
  * single DB transaction), generalized across tables.
  *
  * Layout: each run stages every table under `runs/run=N/<table>/`;
  * the COMMIT POINT is one zero-byte marker `commits/run=N` created
  * with overwrite=false after every table's parquet (with its own
  * `_SUCCESS`) is durable. Readers resolve `latestCommitted` and open
  * that run's directories only — a crash anywhere before the marker
  * leaves a partial run no reader ever sees; the interrupted publisher
  * simply retries (allocating a fresh id — ids are never reused, the
  * orphan stage is invisible and reclaimed by [[expire]]).
  *
  * CONCURRENT WRITERS are safe: run ids are allocated by a
  * create-exclusive CAS on `reservations/run=N` (`fs.create(...,
  * overwrite=false)` — atomic on HDFS, a conditional put on object
  * stores), so two simultaneous publishers can never stage into the
  * same run directory: the loser observes the existing reservation and
  * retries at the next id. Commits linearize by run id; both runs land
  * durably. Concurrent readers are always consistent because published
  * runs are immutable.
  *
  * At 100 TB: staging cost is the writes themselves (each table lands
  * once, fully parallel), the commit is one filesystem create, readers
  * pay zero coordination, and old runs remain for time travel/audit
  * until [[expire]] reclaims them.
  */
object Publish {

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def runDir(root: String, run: Long) = s"$root/runs/run=$run"
  private def marker(root: String, run: Long) = new Path(s"$root/commits/run=$run")

  /** All committed (marker present) runs still on disk, ascending. */
  private[graft] def committedRuns(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsOf(spark, root)
    val dir = new Path(s"$root/commits")
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("run=") => n.stripPrefix("run=").toLong }
      .sorted
  }

  /** Latest run whose commit marker exists (0 = nothing published). */
  def latestCommitted(spark: SparkSession, root: String): Long = {
    val fs = fsOf(spark, root)
    val dir = new Path(s"$root/commits")
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("run=") => n.stripPrefix("run=").toLong }
      .foldLeft(0L)(math.max)
  }

  private def reservationDir(root: String) = s"$root/reservations"
  private def reservation(root: String, run: Long) =
    new Path(s"${reservationDir(root)}/run=$run")

  /** Allocate the next run id via create-exclusive CAS: the first
    * candidate past every committed AND reserved id, claimed with
    * `fs.create(overwrite=false)`; on a lost race the loser advances and
    * retries. The winner owns `runs/run=N` exclusively from here on. */
  private[graft] def reserveRun(spark: SparkSession, root: String): Long = {
    val fs = fsOf(spark, root)
    val rDir = new Path(reservationDir(root))
    fs.mkdirs(rDir)
    val maxReserved = fs.listStatus(rDir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("run=") => n.stripPrefix("run=").toLong }
      .foldLeft(0L)(math.max)
    var candidate = math.max(latestCommitted(spark, root), maxReserved) + 1
    while (!claimExclusive(fs, reservation(root, candidate))) candidate += 1
    candidate
  }

  /** Atomically claim `p`: true iff THIS caller created it. HDFS-like
    * filesystems get exclusivity from `create(overwrite=false)` (a
    * NameNode CAS; object stores map it to a conditional put). The local
    * filesystem's create is check-then-act — NOT atomic — so `file:`
    * goes through O_EXCL (`Files.createFile`), which the race spec
    * exercises with two simultaneous publishers. */
  private[operators] def claimExclusive(
      fs: org.apache.hadoop.fs.FileSystem, p: Path): Boolean =
    if (fs.getScheme == "file")
      try {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    else
      try { fs.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }

  /** Stage every table of the next run durably WITHOUT committing.
    * Exposed separately so crash windows are testable; production
    * callers use [[publish]]. Returns the staged (CAS-reserved) run id —
    * exclusive to this caller, so concurrent stagers never collide. */
  def stageRun(
      spark: SparkSession, root: String, tables: Map[String, DataFrame]): Long = {
    require(tables.nonEmpty, "nothing to publish")
    val run = reserveRun(spark, root)
    tables.foreach { case (name, df) =>
      df.write.mode(SaveMode.Overwrite).parquet(s"${runDir(root, run)}/$name")
    }
    run
  }

  /** Make a staged run visible: one atomic marker create. A second
    * committer of the same run fails loudly (exclusive create). */
  def commitRun(spark: SparkSession, root: String, run: Long): Unit = {
    val fs = fsOf(spark, root)
    fs.mkdirs(new Path(s"$root/commits"))
    if (!claimExclusive(fs, marker(root, run)))
      throw new java.io.IOException(s"run $run at $root already committed")
  }

  /** Stage + commit: all tables become visible together. */
  def publish(
      spark: SparkSession, root: String, tables: Map[String, DataFrame]): Long = {
    val run = stageRun(spark, root, tables)
    commitRun(spark, root, run)
    run
  }

  /** Write-Audit-Publish: stage every table durably, AUDIT the staged
    * parquet read back from the run directory (auditing the input
    * lineage would certify different bytes than readers will see — the
    * staged files are the contract), and commit only if the audit
    * passes. A refused run leaves the live view untouched; its
    * reservation and stage are invisible orphans reclaimed by
    * [[expire]] — exactly the crash-before-marker shape, so no new
    * recovery path exists. Returns Some(run) iff committed.
    *
    * At 100 TB the audit is one extra scan of the freshly-written run
    * (its files are page-cache-warm), and it runs BEFORE visibility —
    * the alternative (audit after publish, roll back on failure)
    * briefly exposes bad data to every reader, which is the failure
    * mode WAP exists to remove. */
  def publishAudited(
      spark: SparkSession, root: String, tables: Map[String, DataFrame])(
      audit: Map[String, DataFrame] => Boolean): Option[Long] = {
    val run = stageRun(spark, root, tables)
    val staged = tables.keys.map { n =>
      n -> Tables.parquet(spark, s"${runDir(root, run)}/$n")
    }.toMap
    if (audit(staged)) { commitRun(spark, root, run); Some(run) } else None
  }

  /** Read `table` as of `run` (default: latest committed). Throws if
    * nothing was ever committed. */
  def read(
      spark: SparkSession, root: String, table: String, run: Long = -1L): DataFrame = {
    val r = if (run > 0) run else latestCommitted(spark, root)
    require(r > 0, s"no committed run under $root")
    Tables.parquet(spark, s"${runDir(root, r)}/$table")
  }

  /** Drop runs older than `keepLast` committed runs (markers last, so a
    * crash mid-expire never orphans a still-referenced run). */
  def expire(spark: SparkSession, root: String, keepLast: Int): Unit = {
    val fs = fsOf(spark, root)
    val latest = latestCommitted(spark, root)
    val cutoff = latest - keepLast.toLong + 1
    (1L until cutoff).foreach { r =>
      fs.delete(new Path(runDir(root, r)), true)
      fs.delete(marker(root, r), false)
      fs.delete(reservation(root, r), false)
    }
  }
}
