package graft.state

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** Offline SST-pool reclamation for checkpoints written by
  * [[RocksDbStateStoreProvider]] — the fourth state-ops tool, closing the
  * loop [[StateFsck]] opens: fsck COUNTS orphaned pool SSTs (snapshots
  * reference immutable `.sst` files in a content-addressed
  * per-store pool; snapshot retention eventually strands the files only
  * dropped snapshots referenced), and only the provider's age-gated
  * in-process GC ever deletes them — which never runs for a stopped or
  * decommissioned query. StateGc reclaims them offline:
  *
  *  - per (operator, partition, store), every RETAINED snapshot zip's
  *    manifest is read (v1 and v2 names alike) and the union of referenced
  *    pool files is kept;
  *  - pool files referenced by NO retained snapshot are orphans: reported
  *    in dry-run mode (the default), deleted under `--apply`;
  *  - if ANY retained zip fails to stream, the store's reference set is
  *    unknown — the store is SKIPPED with the reason recorded, never
  *    swept on a guess (run fsck, repair, then gc).
  *
  * Likewise distributed (one task per store by default), metadata +
  * streaming-read only. Run it against checkpoints of STOPPED queries, or
  * trust the in-provider age gate for live ones — deleting a pool file
  * concurrently with a writer that is mid-upload of a snapshot referencing
  * it is the race the age gate exists to prevent.
  *
  * Exit contract (`main`): nonzero if any store was skipped (unknown
  * references) or any `--apply` delete failed — wired for cron like fsck;
  * a clean dry-run exits zero.
  */
object StateGc extends Logging {

  /** One store's reclamation result (`removed*` are zero in dry-run). */
  case class GcReport(
      operatorId: Long,
      partition: Int,
      store: String,
      poolFiles: Int,
      poolBytes: Long,
      referencedFiles: Int,
      orphanFiles: Int,
      orphanBytes: Long,
      removedFiles: Int,
      removedBytes: Long,
      skipped: String)

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    require(pos.length == 1,
      "usage: StateGc [--apply] [--force] [--parallelism=N] <checkpointDir>")
    val parallelism = flags.collectFirst {
      case f if f.startsWith("--parallelism=") => f.stripPrefix("--parallelism=").toInt
    }.getOrElse(0)
    val spark = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    val report = run(spark, pos(0), apply = flags.contains("--apply"),
      parallelism = parallelism, force = flags.contains("--force"))
    report.show(1000, truncate = false)
    val skipped = report.filter("skipped != ''").count()
    if (skipped > 0) {
      logError(s"gc: $skipped store(s) skipped or incomplete " +
        "(unknown references or failed deletes)")
      sys.exit(1)
    }
  }

  /** Sweep every store under `ckptDir`. `apply = false` (default) reports
    * without deleting; `apply = true` deletes the orphans. `parallelism`
    * caps the task count; 0 = one task per store. */
  def run(spark: SparkSession, ckptDir: String, apply: Boolean = false,
      parallelism: Int = 0, force: Boolean = false): DataFrame = {
    // dry-run is read-only and safe on a live checkpoint; only the
    // deleting mode needs the quiescence guard
    if (apply) CheckpointGuard.assertQuiescent(spark, ckptDir, "StateGc --apply", force)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(ckptDir)
    val fs = root.getFileSystem(hadoopConf)
    val stores = SnapshotManager.listStores(fs, new Path(root, "state"))
    require(stores.nonEmpty, s"no state stores under $ckptDir/state")

    val serConf = new SerializableConfiguration(hadoopConf)
    val slices =
      if (parallelism > 0) math.min(parallelism, stores.size) else stores.size
    val reports = spark.sparkContext
      .parallelize(stores, slices)
      .map { case (op, part, name, dir) =>
        sweepStore(serConf.value, new Path(dir), op, part, name, apply)
      }
      .collect()
    logInfo(s"gc${if (apply) "" else " (dry-run)"}: " +
      s"${reports.map(_.orphanFiles).sum} orphan files / " +
      s"${reports.map(_.orphanBytes).sum} B across ${reports.length} stores; " +
      s"removed ${reports.map(_.removedFiles).sum} files / " +
      s"${reports.map(_.removedBytes).sum} B")
    import spark.implicits._
    reports.toSeq.toDF()
  }

  /** Sweep one store directory (runs on an executor). */
  private def sweepStore(
      hadoopConf: Configuration,
      baseDir: Path,
      op: Long,
      part: Int,
      name: String,
      apply: Boolean): GcReport = {
    val fs = baseDir.getFileSystem(hadoopConf)
    val mgr = new SnapshotManager(baseDir, hadoopConf)
    val poolFiles = mgr.poolFiles()
    if (poolFiles.isEmpty) {
      return GcReport(op, part, name, 0, 0L, 0, 0, 0L, 0, 0L, "")
    }
    val poolBytes = poolFiles.map(_.getLen).sum

    // union of every retained snapshot's manifest references; a zip that
    // cannot stream makes the reference set unknown -> skip the store
    val referenced = mgr.poolRefs(mgr.listing().snapshots) match {
      case scala.util.Success(refs) => refs
      case scala.util.Failure(e) =>
        return GcReport(op, part, name, poolFiles.size, poolBytes, 0, 0, 0L, 0, 0L, e.getMessage)
    }

    val orphans = mgr.orphans(referenced, poolFiles)
    var removedN = 0
    var removedB = 0L
    var failedDeletes = 0
    if (apply) orphans.foreach { f =>
      if (Try(fs.delete(f.getPath, false)).getOrElse(false)) {
        removedN += 1
        removedB += f.getLen
      } else {
        // a swallowed delete failure would make a cron-wired gc report
        // success while the leak persists — surface it in `skipped` so
        // main's exit contract fires
        failedDeletes += 1
      }
    }
    val note = if (failedDeletes > 0) s"$failedDeletes orphan delete(s) failed" else ""
    GcReport(op, part, name, poolFiles.size, poolBytes, referenced.size,
      orphans.size, orphans.map(_.getLen).sum, removedN, removedB, note)
  }
}
