package graft.operators

import scala.util.{Success, Try}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Offline debris reclamation for the persisted-artifact root
  * (`spark.graft.index.root`) — the index-side twin of
  * [[graft.state.StateGc]], closing the loop [[IndexFsck]] opens: fsck
  * REPORTS orphan `.tmp-*` staging dirs and marker-less crashed publishes
  * ([[Similarity.publishLayout]] refuses to reuse either and demands
  * manual removal), and nothing ever deletes them — a decommissioned or
  * crashed build leaves its staging debris forever. IndexGc reclaims
  * exactly the two UNAMBIGUOUS debris classes:
  *
  *  - `.tmp-*` staging dirs: crashed or in-flight publishes. Age-gated —
  *    a dir whose newest file is younger than
  *    `spark.graft.indexops.quiesceMs` (default 60 s) may be another
  *    JVM's build mid-write and is SKIPPED (`--force` overrides), the
  *    same advisory-recency discipline as
  *    [[graft.state.CheckpointGuard]];
  *  - marker-less layouts: a recognized table directory without its
  *    publish `_SUCCESS` marker. `publishLayout` delivers the marker
  *    atomically with the rename, so a marker-less dest is a crashed
  *    publish (or tampering) that blocks every future rebuild of that
  *    slug with "remove it and retrain" — this is the tool that removes
  *    it. Likewise age-gated.
  *
  * What it deliberately does NOT touch: COMPLETE layouts — including
  * superseded generations (the pre-fold corpus + delta segments after a
  * `pipe_lsh_fold`, shard layouts after a merge, the pre-compact table
  * after a takedown). Whether an old generation is still a rollback
  * target is an operator policy decision, and a serve job may legally
  * target any complete generation — deleting one on a guess is the
  * failure mode [[graft.state.StateGc]]'s "never sweep on unknown
  * references" rule exists to prevent. Foreign (unrecognized) dirs are
  * likewise reported by fsck and left alone here.
  *
  * Exit contract (`main`): nonzero if any `--apply` delete failed —
  * wired for cron like fsck/StateGc; a clean dry-run exits zero.
  */
object IndexGc extends Logging {

  val QuiesceConf = "spark.graft.indexops.quiesceMs"

  /** [[Similarity.publishLayout]] staging-dir name suffix: `.tmp-` + 8 hex
    * chars of a UUID, at the END of the name. */
  private[operators] val StagingSuffix =
    java.util.regex.Pattern.compile("\\.tmp-[0-9a-f]{8}$")

  /** One debris entry. `action` ∈ would-delete | deleted | skipped-fresh |
    * delete-failed. */
  case class GcEntry(layout: String, kind: String, bytes: Long,
      ageMs: Long, action: String)

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    val unknown = flags.filterNot(Set("--apply", "--force"))
    require(unknown.isEmpty && pos.length == 1,
      s"usage: IndexGc [--apply] [--force] <indexRoot>" +
        (if (unknown.nonEmpty) s" — unknown flag(s): ${unknown.mkString(", ")}" else ""))
    val spark = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    val report = run(spark, pos(0), apply = flags.contains("--apply"),
      force = flags.contains("--force"))
    report.show(1000, truncate = false)
    val failed = report.filter(col("action") === "delete-failed").count()
    if (failed > 0) {
      logError(s"index gc: $failed delete(s) failed — debris remains")
      sys.exit(1)
    }
  }

  /** Scan `indexRoot` for debris. `apply = false` (default) reports
    * without deleting. The quiesce window comes from [[QuiesceConf]]
    * (ms, default 60 000); `force` ignores it. */
  def run(spark: SparkSession, indexRoot: String, apply: Boolean = false,
      force: Boolean = false): DataFrame = {
    import spark.implicits._
    val root = new Path(indexRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"index root $indexRoot does not exist")
    val quiesceMs =
      spark.conf.getOption(QuiesceConf).map(_.toLong).getOrElse(60000L)
    val now = System.currentTimeMillis()
    val entries = fs.listStatus(root).filter(_.isDirectory).toSeq
    val report = entries.flatMap { st =>
      val name = st.getPath.getName
      debrisKind(fs, st) match {
        case None => None
        case Some(kind) =>
          val bytes = Try(fs.getContentSummary(st.getPath).getLength).getOrElse(0L)
          val age = now - newestMtime(fs, st.getPath)
          val action =
            if (age < quiesceMs && !force) "skipped-fresh"
            else if (!apply) "would-delete"
            else Try(fs.delete(st.getPath, true)) match {
              case Success(true) => "deleted"
              case _ => "delete-failed"
            }
          Some(GcEntry(name, kind, bytes, age, action))
      }
    }
    report.toDF()
  }

  /** `Some(kind)` when the dir is reclaimable debris; None = leave alone.
    * Mirrors [[IndexFsck]]'s table-presence family recognition: a dir
    * with a known table but no publish marker is a crashed publish; a
    * dir with NO known table is foreign and never touched. */
  private def debrisKind(fs: FileSystem, st: FileStatus): Option[String] = {
    val p = st.getPath
    // suffix-anchored: publishLayout staging dirs END in ".tmp-<8 hex>".
    // A substring test would claim a COMPLETE layout whose corpus slug
    // happens to contain ".tmp-" (slugs keep dots and dashes) — report
    // tools may shrug that off, a deleter may not
    if (IndexGc.StagingSuffix.matcher(p.getName).find()) return Some("build-tmp")
    val markers = Seq("codes", "sigs", "fps", "merges")
    markers.find(t => fs.exists(new Path(p, t))) match {
      case Some(t) if !fs.exists(new Path(p, s"$t/_SUCCESS")) =>
        Some("stale-partial")
      case _ => None
    }
  }

  /** Newest modification time under `p` (metadata walk only): the age
    * signal for "is some other JVM still writing here". */
  private def newestMtime(fs: FileSystem, p: Path): Long = {
    def walk(s: FileStatus): Long =
      if (!s.isDirectory) s.getModificationTime
      else (s.getModificationTime +:
        Try(fs.listStatus(s.getPath).toSeq).getOrElse(Nil).map(walk)).max
    walk(fs.getFileStatus(p))
  }
}
