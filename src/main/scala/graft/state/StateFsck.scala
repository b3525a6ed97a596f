package graft.state

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** Offline checkpoint integrity verifier ("fsck") for state written by
  * [[RocksDbStateStoreProvider]] — the third leg of the state-ops toolset:
  * [[StateRepartition]] migrates a checkpoint, the provider's
  * `SupportsFineGrainedReplay` surface inspects it, `StateFsck` answers the
  * question an operator asks BEFORE trusting either: *can the last
  * committed batch actually be recovered from the durable files, and are
  * those files internally sound?*
  *
  * What a 100 TB deployment loses silently — a changelog deleted by an
  * over-eager retention script, an SST pool file swept by a foreign
  * lifecycle rule, a half-copied checkpoint clone — surfaces today only
  * when the stream restarts and falls back (v1) or dies (v2). Fsck makes
  * it a standing pre-flight/cron check instead of a restart-time surprise.
  *
  * Per (operator, partition, store) it verifies, using only file I/O (no
  * RocksDB instances, no Spark query machinery):
  *
  *  1. **recovery coverage** — the last committed batch's state version is
  *     reconstructible: a full snapshot at the version, or a snapshot base
  *     plus an unbroken changelog chain up to it, found by the chain walk
  *     the provider's recovery runs ([[SnapshotManager.chains]]: v1 by
  *     version number, v2 by each delta's lineage header);
  *  2. **snapshot soundness** — every retained snapshot zip streams
  *     end-to-end (CRC-checked by the zip reader), and every pool SST its
  *     manifest references exists with the byte length its
  *     content-address name promises;
  *  3. **chain soundness** — every changelog on the recovery chain parses
  *     record-by-record to EOF (truncation/corruption fails the frame
  *     reads), not just its header.
  *
  * The walk is DISTRIBUTED: store directories fan out over the cluster
  * (one task per store, the same unit of parallelism the provider itself
  * uses), so fsck of a 10k-store checkpoint costs one short Spark job, not
  * a driver-side crawl. Zip/pool reads are metadata + streaming reads —
  * no state is materialized anywhere.
  *
  * Exit contract (`main`): nonzero iff any store is uncovered or has
  * integrity errors — wired for cron. `run` returns the per-store report
  * as a DataFrame for programmatic use.
  */
object StateFsck extends Logging {

  /** One store's verification result. `issues` is a human-readable
    * summary of everything counted to its left (empty = clean).
    * `orphanPoolFiles`/`orphanPoolBytes` are INFORMATIONAL (not part of
    * `clean`): pool SSTs referenced by no retained snapshot — either GC
    * debt awaiting the age-gated sweep or bytes a retention script should
    * reclaim; a growing number is the leak signal to alert on. When any
    * retained snapshot zip fails to stream, its reference list is unknown,
    * so orphan counts are suppressed to 0 for the store (the zipError
    * already fails `clean`) instead of reporting phantom orphans. */
  case class StoreReport(
      operatorId: Long,
      partition: Int,
      store: String,
      snapshots: Int,
      deltas: Int,
      requiredVersion: Long,
      covered: Boolean,
      chainLength: Int,
      zipErrors: Int,
      missingPoolRefs: Int,
      badPoolSizes: Int,
      deltaErrors: Int,
      orphanPoolFiles: Int,
      orphanPoolBytes: Long,
      issues: String) {
    def clean: Boolean =
      covered && zipErrors == 0 && missingPoolRefs == 0 && badPoolSizes == 0 && deltaErrors == 0
  }

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    require(pos.length == 1,
      "usage: StateFsck [--deep] [--parallelism=N] <checkpointDir>")
    val parallelism = flags.collectFirst {
      case f if f.startsWith("--parallelism=") => f.stripPrefix("--parallelism=").toInt
    }.getOrElse(0)
    val spark = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    val report = run(spark, pos(0), deep = flags.contains("--deep"),
      parallelism = parallelism)
    report.show(1000, truncate = false)
    val bad = report.filter("NOT (covered AND zipErrors = 0 AND missingPoolRefs = 0 " +
      "AND badPoolSizes = 0 AND deltaErrors = 0)").count()
    if (bad > 0) {
      logError(s"fsck: $bad store(s) failed verification")
      sys.exit(1)
    }
  }

  /** Verify every store under `ckptDir` against its last committed batch.
    * Returns one row per (operator, partition, store). `deep = true` also
    * re-hashes every referenced pool SST against its content-address name
    * (md5) — catches same-length bitrot the metadata check cannot; costs
    * one full read of the referenced pool bytes, so it is the
    * weekly-audit mode, not the pre-flight mode. `parallelism` caps the
    * task count; 0 (default) = one task per store, so a 10k-store fsck
    * spreads over the whole cluster. */
  def run(spark: SparkSession, ckptDir: String, deep: Boolean = false,
      parallelism: Int = 0): DataFrame = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(ckptDir)
    val fs = root.getFileSystem(hadoopConf)

    val commits = listNumeric(fs, new Path(root, "commits"))
    require(commits.nonEmpty, s"no committed batches under $ckptDir/commits — nothing to verify")
    val required = commits.max + 1

    val stores = SnapshotManager.listStores(fs, new Path(root, "state"))
    require(stores.nonEmpty, s"no state stores under $ckptDir/state")

    val serConf = new SerializableConfiguration(hadoopConf)
    val slices =
      if (parallelism > 0) math.min(parallelism, stores.size) else stores.size
    val reports = spark.sparkContext
      .parallelize(stores, slices)
      .map { case (op, part, name, dir) =>
        verifyStore(serConf.value, new Path(dir), op, part, name, required, deep)
      }
      .collect()
    import spark.implicits._
    reports.toSeq.toDF()
  }

  /** Batch-log style directories: numeric file names are entries. */
  private def listNumeric(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)

  /** Verify one store directory (runs on an executor). Each counter is
    * bumped where its problem is recorded, never re-derived from the
    * wording of `issues`. */
  private def verifyStore(
      hadoopConf: Configuration,
      baseDir: Path,
      op: Long,
      part: Int,
      name: String,
      required: Long,
      deep: Boolean): StoreReport = {
    val mgr = new SnapshotManager(baseDir, hadoopConf)
    val files = mgr.listing()
    val issues = scala.collection.mutable.ArrayBuffer.empty[String]
    var zipErrors, missingRefs, badSizes, deltaErrors = 0

    // v2 checkpoints suffix every durable name with the commit id
    val plain = (required, Option.empty[String])
    val ids = files.idsAt(required)
    val top = if (ids.nonEmpty && !files.snapshots(plain) && !files.deltas(plain))
      (required, Some(ids.max)) else plain

    // ---- 1. recovery coverage: the provider's own chain walk, newest base
    val chain = Try(mgr.chains(top, files.snapshots, files).next())
    chain.failed.foreach { e =>
      issues += (top._2 match {
        case Some(id) => s"v2 lineage walk from ($required, $id) broke: ${e.getMessage}"
        case None => s"version $required unrecoverable: snapshots at " +
          s"[${files.snapshots.map(_._1).toSeq.sorted.mkString(",")}], " +
          s"deltas at [${files.deltas.map(_._1).toSeq.sorted.mkString(",")}]"
      })
    }

    // ---- 2. every retained snapshot zip streams clean, and each pool SST
    // its manifest references exists with the length its name promises.
    // A zip that cannot stream leaves the store's pool references unknown.
    def checkPoolRef(remote: String, zip: String): Unit = mgr.poolStatus(remote) match {
      case None =>
        missingRefs += 1
        issues += s"pool ref missing: $remote (snapshot $zip)"
      case Some(st) =>
        SnapshotManager.parsePoolName(remote).foreach { case (md5, len) =>
          val problem =
            if (len != st.getLen) Some(s"pool ref size mismatch: $remote is ${st.getLen} B, name promises $len B")
            else if (!deep) None
            else Try(mgr.poolMd5(remote)) match {
              case scala.util.Failure(e) => Some(s"pool ref corrupt: $remote unreadable: ${e.getMessage}")
              case scala.util.Success(got) if got != md5 =>
                Some(s"pool ref corrupt: $remote content md5 $got, name promises $md5")
              case _ => None
            }
          problem.foreach { p => badSizes += 1; issues += p }
        }
    }

    var refsKnown = true
    val referenced = files.snapshots.toSeq.sortBy(_._1).flatMap { case (v, id) =>
      val zip = mgr.snapshotFile(v, id).getName
      Try(mgr.manifest(v, id)()) match {
        case scala.util.Success(refs) =>
          refs.foreach { case (_, remote) => checkPoolRef(remote, zip) }
          refs.map(_._2)
        case scala.util.Failure(e) =>
          zipErrors += 1
          refsKnown = false
          issues += s"snapshot $zip unreadable: ${e.getMessage}"
          Nil
      }
    }.toSet

    // ---- 3. full-read the recovery chain's changelogs
    chain.foreach(_.deltas.foreach { case (v, id) =>
      Try {
        val in = mgr.openDelta(v, id)
        try {
          val it = Changelog.read(in)
          while (it.hasNext) it.next()
        } finally Try(in.close())
      }.failed.foreach { e =>
        deltaErrors += 1
        issues += s"changelog $v${id.fold("")("_" + _)} unreadable: ${e.getMessage}"
      }
    })

    // ---- 4. orphan accounting: pool SSTs no retained snapshot references
    // (suppressed when a zip's references are unknown: its zipError already
    // fails `clean`, and its pool files would show up as phantom orphans)
    val orphans = if (refsKnown) mgr.orphans(referenced) else Nil
    StoreReport(op, part, name, files.snapshots.map(_._1).size, files.deltas.map(_._1).size,
      required, chain.isSuccess, chain.fold(_ => 0, _.deltas.size), zipErrors, missingRefs,
      badSizes, deltaErrors, orphans.size, orphans.map(_.getLen).sum, issues.mkString("; "))
  }
}
