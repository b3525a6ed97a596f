package graft.state

import java.io.{BufferedOutputStream, DataOutputStream, File, FileInputStream, FileNotFoundException, FileOutputStream, IOException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.zip.{CRC32, ZipEntry, ZipInputStream, ZipOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.spark.internal.Logging

import scala.util.{Try, Using}
import scala.util.control.NonFatal

/** The durable layout of one state store instance (operator × partition ×
  * store name), and its only owner: file names, the snapshot format, the
  * rule for rebuilding a version, the publish path and the garbage rules
  * all live here. The provider, [[StateFsck]], [[StateGc]] and
  * [[StateRepartition]] go through this class.
  *
  * Durability is a changelog delta per committed version
  * (`state.delta.<v>`, see [[Changelog]]) plus a snapshot every
  * `minDeltasForSnapshot` versions (`state.snapshot.<v>`, a zip of the
  * RocksDB files). A version is rebuilt from the newest snapshot below it
  * and the deltas above that snapshot ([[chains]]); a chain may also start
  * from the empty store at version 0. Under checkpoint format v2 every name
  * carries the commit's unique ID and each delta names its parent commit
  * in a lineage header. Every file goes through a temporary name and a
  * rename ([[publish]]), so a crashed commit never leaves a half-written
  * file under a final name.
  *
  * ==Snapshots and the SST pool==
  *
  * RocksDB SST files are immutable, and between two snapshots most of a
  * large DB's bytes sit in SSTs that did not change. [[upload]] stores each
  * `.sst` once in a content-addressed pool (`<baseDir>/sst/<md5>-<len>.sst`)
  * and writes only a reference list into the snapshot zip (entry
  * [[SnapshotManager.SstRefsEntry]], one `localName TAB poolName` line per
  * SST) beside the small mutable files (MANIFEST/CURRENT/OPTIONS), stored
  * inline. Content addressing makes dedup correct by construction: a task
  * retry or a restored lineage that regenerates an SST name with different
  * bytes lands under a different pool name, while the same file hard-linked
  * into consecutive RocksDB checkpoints uploads once. A per-manager
  * `(name, length, mtime) -> md5` cache skips re-hashing, and a known-remote
  * set skips the existence check after the first sighting. [[download]]
  * restores any inline entry, so the self-contained zips of older
  * checkpoints restore too; [[cleanup]] drops pool files no retained
  * snapshot references (age-gated, so an SST uploaded ahead of its
  * manifest's publish is never swept mid-commit).
  */
final class SnapshotManager(baseDir: Path, hadoopConf: Configuration) extends Logging {
  import SnapshotManager._

  private lazy val fs: FileSystem = baseDir.getFileSystem(hadoopConf)

  private def poolDir: Path = new Path(baseDir, PoolDirName)

  /** (name, length, mtime) -> md5 for SSTs this manager has hashed; valid
    * because a live RocksDB instance never rewrites an SST name in place. */
  private val hashCache = scala.collection.concurrent.TrieMap.empty[(String, Long, Long), String]
  /** Pool files this manager has uploaded or seen — skips the exists() RPC. */
  private val knownRemote = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Lifetime observability counters for this store instance: bytes
    * actually shipped (zips, deltas, new pool SSTs) vs SST bytes the
    * content-address dedup skipped, surfaced as provider custom metrics,
    * and the snapshot downloads started. */
  val bytesUploaded = new java.util.concurrent.atomic.AtomicLong()
  val bytesDeduped = new java.util.concurrent.atomic.AtomicLong()
  val downloads = new java.util.concurrent.atomic.AtomicLong()

  def ensureBaseDir(): Unit = mkdirs(baseDir)

  /** On `file:` the directory is made with java.nio: Hadoop's `mkdirs`
    * forks a `chmod` process per directory when libhadoop is absent. */
  private def mkdirs(dir: Path): Unit = fs match {
    case lfs: LocalFileSystem => Files.createDirectories(lfs.pathToFile(dir).toPath)
    case _ => fs.mkdirs(dir)
  }

  // ------------------------------------------------------------------
  // Names
  // ------------------------------------------------------------------

  /** Checkpoint-format v2 suffixes every durable file with the commit's
    * unique ID — `state.snapshot.<v>_<id>` — so two commits of the same
    * version (task retry, speculation) coexist and recovery picks exactly
    * the one the commit log recorded. v1 names (`ckptId = None`) carry the
    * version alone. */
  private def suffixed(version: Long, ckptId: Option[String]): String =
    ckptId.fold(version.toString)(id => s"${version}_$id")

  def snapshotFile(version: Long, ckptId: Option[String] = None): Path =
    new Path(baseDir, SnapshotPrefix + suffixed(version, ckptId))
  def deltaFile(version: Long, ckptId: Option[String] = None): Path =
    new Path(baseDir, DeltaPrefix + suffixed(version, ckptId))
  private def poolFile(name: String): Path = new Path(poolDir, name)

  /** The durable commits in the store dir, read with one listing. */
  def listing(): Listing = {
    val names =
      if (!fs.exists(baseDir)) Nil else fs.listStatus(baseDir).toSeq.map(_.getPath.getName)
    def commits(prefix: String): Set[Commit] = names.flatMap { n =>
      if (!n.startsWith(prefix)) None
      else {
        val (v, id) = n.stripPrefix(prefix).span(_ != '_')
        Try(v.toLong).toOption.map(_ -> Option(id.drop(1)).filter(_.nonEmpty))
      }
    }.toSet
    Listing(commits(SnapshotPrefix), commits(DeltaPrefix))
  }

  // ------------------------------------------------------------------
  // The chain walk
  // ------------------------------------------------------------------

  /** The one rule for rebuilding a version: the recovery chains of commit
    * `top`, newest base first. The walk steps down one delta at a time — to
    * `version - 1` under checkpoint format v1 (the delta must be listed), to
    * the commit named by the delta's lineage header under v2 — and yields a
    * [[Chain]] at every commit `isBase` accepts and at version 0, the empty
    * store. It ends at version 0 or at the first delta it cannot step
    * through; that error is thrown only if no chain came before it. */
  def chains(top: Commit, isBase: Commit => Boolean, files: Listing): Iterator[Chain] = {
    var yielded = false
    // each commit of the walk with the commits above it; one step per pull
    Iterator.iterate(Option((top, List.empty[Commit]))) {
      case Some((c, above)) if c._1 > 0 =>
        try Some((parentOf(c, files), c :: above))
        catch { case NonFatal(_) if yielded => None }
      case _ => None
    }.takeWhile(_.isDefined).flatten.collect {
      case (c, above) if c._1 <= 0 || isBase(c) => yielded = true; Chain(c, above)
    }
  }

  /** The commit delta `c` was built on. */
  private def parentOf(c: Commit, files: Listing): Commit = c match {
    case (v, None) =>
      if (!files.deltas((v, None)))
        throw new FileNotFoundException(s"changelog ${deltaFile(v).getName} missing")
      (v - 1, None)
    case (v, Some(id)) =>
      (v - 1, Some(Using.resource(fs.open(deltaFile(v, Some(id))))(Changelog.readHeader)))
  }

  // ------------------------------------------------------------------
  // Readers
  // ------------------------------------------------------------------

  /** Open delta `(version, ckptId)` at its record stream: a v2 delta's
    * lineage header is consumed here. */
  def openDelta(version: Long, ckptId: Option[String] = None): InputStream = {
    val in = fs.open(deltaFile(version, ckptId))
    if (ckptId.isDefined) {
      try Changelog.readHeader(in)
      catch { case NonFatal(e) => in.close(); throw e }
    }
    in
  }

  /** The one reader of the snapshot format: streams zip `(version, ckptId)`
    * to its end — the zip reader checks every entry's CRC, including what
    * `entry` leaves unread — hands each inline entry to `entry`, and
    * returns the pool manifest's `(localName, poolName)` pairs (none for a
    * self-contained zip). */
  def manifest(version: Long, ckptId: Option[String] = None)(
      entry: (String, InputStream) => Unit = (_, _) => ()): Seq[(String, String)] =
    Using.resource(new ZipInputStream(fs.open(snapshotFile(version, ckptId)))) { in =>
      var refs = Seq.empty[(String, String)]
      var e = in.getNextEntry
      while (e != null) {
        if (e.getName == SstRefsEntry) {
          refs = new String(in.readAllBytes(), UTF_8).split("\n").toSeq.filter(_.nonEmpty)
            .map { line => val Array(local, pooled) = line.split("\t", 2); (local, pooled) }
        } else entry(e.getName, in)
        in.closeEntry()
        e = in.getNextEntry
      }
      refs
    }

  /** Unzip `state.snapshot.<version>[_<id>]` into `destDir` (must exist,
    * empty): inline entries directly, pool-referenced SSTs under their
    * original local names. */
  def download(version: Long, destDir: File, ckptId: Option[String] = None): Unit = {
    downloads.incrementAndGet()
    // the base name only: no path traversal out of destDir
    def local(name: String) = new File(destDir, new File(name).getName)
    val refs = manifest(version, ckptId) { (name, in) =>
      Using.resource(new FileOutputStream(local(name)))(in.transferTo)
    }
    refs.foreach { case (name, pooled) =>
      Using.resources(fs.open(poolFile(pooled)), new FileOutputStream(local(name))) { (in, out) =>
        in.transferTo(out)
      }
    }
  }

  // ------------------------------------------------------------------
  // Writers
  // ------------------------------------------------------------------

  /** Publish a local changelog file as `state.delta.<version>[_<id>]`. On
    * `file:` checkpoints this bypasses Hadoop's forking `create` (see
    * [[publish]]). */
  def uploadDelta(local: File, version: Long, ckptId: Option[String] = None): Unit = {
    bytesUploaded.addAndGet(local.length())
    publish(deltaFile(version, ckptId), replace = true)(copyFrom(local))
  }

  /** Zip `localDir`'s RocksDB files into `state.snapshot.<version>[_<id>]`:
    * `.sst` files go to the pool (skipping content already there) and the
    * zip carries their reference list — see the class doc. RocksDB info
    * logs (`LOG`, `LOG.old.*`) are left out, as the reference did
    * (`:438-443`). */
  def upload(localDir: File, version: Long, ckptId: Option[String] = None): Unit = {
    val files = Option(localDir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith("LOG"))
    val (ssts, inline) = files.partition(_.getName.endsWith(".sst"))
    val pooled = ssts.sortBy(_.getName).map(f => (f, uploadToPool(f))).toSeq
    val target = snapshotFile(version, ckptId)
    publish(target, replace = true) { out =>
      val zip = new ZipWriter(out)
      try {
        inline.foreach { f =>
          bytesUploaded.addAndGet(f.length())
          zip.putNextEntry(new ZipEntry(f.getName))
          copyFrom(f)(zip)
          zip.closeEntry()
        }
        zip.putNextEntry(new ZipEntry(SstRefsEntry))
        zip.write(pooled.map { case (f, (r, _)) => s"${f.getName}\t$r" }.mkString("\n").getBytes(UTF_8))
        zip.closeEntry()
        zip.finish()
      } finally zip.endDeflater()
    }
    // Post-publish audit: from here the manifest is visible to cleanup's
    // retained-refs scan, so a pool file that re-materializes now STAYS.
    // Any reference that vanished between its dedup check and the publish
    // above (concurrent age-gated GC) is re-uploaded from the still-local
    // bytes — a published snapshot never points at a missing pool file.
    pooled.foreach { case (f, (remote, wasDedup)) =>
      if (!Try(fs.exists(poolFile(remote))).getOrElse(false)) {
        logWarning(s"Pool SST $remote vanished before $target published; re-uploading")
        knownRemote.remove(remote)
        pushToPool(f, remote)
        // the earlier dedup credit described a hit that did not hold —
        // retract it so uploaded+deduped still sums to bytes considered
        // once per file (a vanished FRESH upload keeps both counts: two
        // physical uploads genuinely shipped)
        if (wasDedup) bytesDeduped.addAndGet(-f.length())
        bytesUploaded.addAndGet(f.length())
        knownRemote.add(remote)
      }
    }
  }

  /** md5 of a local file, via the per-manager cache. */
  private def md5Of(f: File): String =
    hashCache.getOrElseUpdate((f.getName, f.length(), f.lastModified()),
      Using.resource(new FileInputStream(f))(md5Hex))

  /** Upload `f` to the SST pool under its content address unless already
    * there; returns the pool file name and whether it was a dedup hit.
    *
    * The dedup-hit path must not TRUST `knownRemote`/`exists`: a concurrent
    * pool GC (maintenance thread, or a sibling provider sharing the baseDir)
    * can delete an aged, momentarily-unreferenced pool SST between the check
    * here and the manifest publish. So a hit counts only if the mtime
    * refresh demonstrably LANDED (`getFileStatus` after `setTimes` — the
    * refresh is what re-arms cleanup's age gate); any failure falls through
    * to a fresh upload. [[upload]] additionally re-verifies every referenced
    * pool name after the manifest publishes, closing the residual window
    * where the file vanishes after a successful refresh. */
  private def uploadToPool(f: File): (String, Boolean) = {
    val remoteName = poolName(md5Of(f), f.length())
    val target = poolFile(remoteName)
    val dedupHit = (knownRemote.contains(remoteName) || Try(fs.exists(target)).getOrElse(false)) && {
      val refreshed = Try {
        fs.setTimes(target, System.currentTimeMillis(), -1)
        fs.getFileStatus(target) // throws if the file vanished under us
      }.isSuccess
      if (!refreshed) knownRemote.remove(remoteName)
      refreshed
    }
    if (dedupHit) {
      bytesDeduped.addAndGet(f.length())
    } else {
      pushToPool(f, remoteName)
      bytesUploaded.addAndGet(f.length())
    }
    knownRemote.add(remoteName)
    (remoteName, dedupHit)
  }

  /** Raw pool write, no dedup check. A pool name is its content, so a
    * sibling that published the same name first is as good as this copy. */
  private def pushToPool(f: File, remoteName: String): Unit = {
    mkdirs(poolDir)
    publish(poolFile(remoteName), replace = false)(copyFrom(f))
  }

  /** The one publish path: `write` fills a temp file beside `target`, which
    * is then renamed into place. On `file:` both the file and its `.crc`
    * are written with java.nio — Hadoop's `create` forks a `chmod` for the
    * file and one for its `.crc` when libhadoop is absent — the `.crc` in
    * ChecksumFileSystem's own format, so `fs.open` still verifies the file.
    * The `.crc` moves first: a file visible under its final name carries its
    * own checksum. Other schemes use Hadoop's create + rename; there an
    * existing `target` is replaced, or kept when `replace` is false. */
  private def publish(target: Path, replace: Boolean)(write: OutputStream => Unit): Unit = {
    val tmp = new Path(target.getParent, s".${target.getName}.${System.nanoTime()}.tmp")
    fs match {
      case lfs: LocalFileSystem =>
        val tmpFile = lfs.pathToFile(tmp)
        val tmpCrc = new File(tmpFile.getParentFile, tmpFile.getName + ".crc.tmp")
        try {
          Using.resource(new ChecksummedOutput(
            new BufferedOutputStream(new FileOutputStream(tmpFile), 64 * 1024),
            new FileOutputStream(tmpCrc), lfs.getBytesPerSum))(write)
          val move = StandardCopyOption.ATOMIC_MOVE
          Files.move(tmpCrc.toPath, lfs.pathToFile(lfs.getChecksumFile(target)).toPath, move)
          Files.move(tmpFile.toPath, lfs.pathToFile(target).toPath, move)
        } catch {
          case NonFatal(e) =>
            tmpFile.delete()
            tmpCrc.delete()
            throw new IOException(s"Failed to publish $target", e)
        }
      case _ =>
        Using.resource(fs.create(tmp, true))(write)
        if (replace && fs.exists(target)) fs.delete(target, false)
        if (!fs.rename(tmp, target)) {
          Try(fs.delete(tmp, false))
          if (replace || !fs.exists(target)) throw new IOException(s"Failed to publish $target")
        }
    }
  }

  // ------------------------------------------------------------------
  // Garbage
  // ------------------------------------------------------------------

  /** Pool entries by name (directories too, so a sweep reports what it
    * cannot delete); `.crc` and temp files are not pool entries. */
  def poolFiles(): Seq[FileStatus] =
    Try(fs.listStatus(poolDir).toSeq).getOrElse(Nil).filter { st =>
      val n = st.getPath.getName
      !n.startsWith(".") && n.endsWith(".sst")
    }

  /** The pool names the snapshots `snaps` reference. Fails when a manifest
    * cannot be read: with one reference list unknown, any pool file may be
    * live, so no caller may sweep on the result. */
  def poolRefs(snaps: Iterable[Commit]): Try[Set[String]] = Try {
    snaps.flatMap { case (v, id) =>
      try manifest(v, id)().map(_._2)
      catch {
        case NonFatal(e) =>
          throw new IOException(s"snapshot ${snapshotFile(v, id).getName} unreadable: ${e.getMessage}", e)
      }
    }.toSet
  }

  /** The orphan rule: the pool files outside `referenced`. */
  def orphans(referenced: Set[String], pool: Seq[FileStatus] = poolFiles()): Seq[FileStatus] =
    pool.filterNot(st => referenced(st.getPath.getName))

  /** Status of pool file `name`, if it exists. */
  def poolStatus(name: String): Option[FileStatus] = Try(fs.getFileStatus(poolFile(name))).toOption

  /** md5 of pool file `name`'s content. */
  def poolMd5(name: String): String = Using.resource(fs.open(poolFile(name)))(md5Hex)

  /** Delete durable files no longer needed to recover any version >=
    * `maxVersion - retain + 1` (reference `cleanup`, `:573-592`, extended
    * for changelog chains): keep the newest snapshot at or below the cutoff
    * as the replay base, every delta above it, and everything above the
    * cutoff. Returns the cutoff. */
  def cleanup(retain: Int): Option[Long] = {
    val files = listing()
    if (files.versions.isEmpty) return None
    val cutoff = files.versions.max - math.max(retain, 1) + 1
    val base = files.snapshots.map(_._1).filter(_ <= cutoff).maxOption.getOrElse(0L)
    def drop(p: Path): Unit =
      Try(fs.delete(p, false)).failed.foreach { e =>
        logWarning(s"Failed to delete expired state file $p: $e")
      }
    files.snapshots.filter(_._1 < base).foreach { case (v, id) => drop(snapshotFile(v, id)) }
    files.deltas.filter(_._1 <= base).foreach { case (v, id) => drop(deltaFile(v, id)) }
    // Pool GC: reading each retained manifest is one small-zip open per
    // retained snapshot — retained counts are small (minVersionsToRetain),
    // never O(state). Age-gated like tmp reclaim: an SST uploaded ahead of
    // its manifest's publish (the upload order in `upload`) is at most
    // minutes old and is never swept.
    val staleBefore = System.currentTimeMillis() - 10 * 60 * 1000L
    val pool = poolFiles()
    if (pool.nonEmpty) {
      poolRefs(files.snapshots.filter(_._1 >= base)).foreach { refs =>
        orphans(refs, pool).filter(_.getModificationTime < staleBefore).foreach { st =>
          knownRemote.remove(st.getPath.getName)
          drop(st.getPath)
        }
      }
    }
    // reclaim temp files orphaned by a crash between create and rename;
    // age-gate so an in-flight commit's temp file is never touched
    Try {
      fs.listStatus(baseDir).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith(".state.") && name.endsWith(".tmp") &&
          st.getModificationTime < staleBefore) drop(st.getPath)
      }
    }
    Some(cutoff)
  }
}

object SnapshotManager {
  /** Zip entry carrying the pool references of a snapshot. The name cannot
    * collide with RocksDB files (they never contain this literal). */
  val SstRefsEntry = "__graft_sst_refs__"

  private val SnapshotPrefix = "state.snapshot."
  private val DeltaPrefix = "state.delta."
  private val PoolDirName = "sst"

  /** One durable commit: its version and, under checkpoint format v2, its
    * unique ID. */
  type Commit = (Long, Option[String])

  /** A replay plan: the snapshot to download (version 0 = the empty store)
    * and the deltas above it, ascending. */
  final case class Chain(base: Commit, deltas: List[Commit])

  /** The durable commits of one store dir. */
  final case class Listing(snapshots: Set[Commit], deltas: Set[Commit]) {
    def versions: Set[Long] = (snapshots ++ deltas).map(_._1)
    /** Commit IDs of the durable files at `version` (v2 names only). */
    def idsAt(version: Long): Seq[String] =
      (snapshots ++ deltas).toSeq.collect { case (`version`, Some(id)) => id }
  }

  /** Every store dir under a checkpoint's `state/` root, as
    * `(operator, partition, storeName, dir)`: `state/<op>/<part>` itself
    * (single-store operators, named "default") and its named
    * subdirectories (join stores), excluding the SST pool and metadata. */
  def listStores(fs: FileSystem, stateRoot: Path): Seq[(Long, Int, String, String)] = {
    if (!fs.exists(stateRoot)) return Nil
    def hasStateFiles(d: Path): Boolean =
      Try(fs.listStatus(d).exists { st =>
        val n = st.getPath.getName
        n.startsWith(SnapshotPrefix) || n.startsWith(DeltaPrefix)
      }).getOrElse(false)
    def subdirs(dir: Path): Seq[Path] =
      fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
    for {
      opDir <- subdirs(stateRoot) if opDir.getName.forall(_.isDigit)
      partDir <- subdirs(opDir) if partDir.getName.forall(_.isDigit)
      (name, dir) <- {
        val direct = if (hasStateFiles(partDir)) Seq(("default", partDir)) else Nil
        direct ++ subdirs(partDir).filter { d =>
          !d.getName.startsWith("_") && d.getName != PoolDirName && hasStateFiles(d)
        }.map(d => (d.getName, d))
      }
    } yield (opDir.getName.toLong, partDir.getName.toInt, name, dir.toString)
  }

  private def poolName(md5: String, length: Long): String = s"$md5-$length.sst"

  /** `(md5, length)` of a `<md5>-<len>.sst` pool name. */
  def parsePoolName(name: String): Option[(String, Long)] = {
    val stem = name.stripSuffix(".sst")
    val dash = stem.lastIndexOf('-')
    if (dash < 0) None else Try(stem.substring(dash + 1).toLong).toOption.map(stem.substring(0, dash) -> _)
  }

  private def md5Hex(in: InputStream): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](256 * 1024)
    var n = in.read(buf)
    while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def copyFrom(f: File)(out: OutputStream): Unit =
    Using.resource(new FileInputStream(f))(_.transferTo(out))

  /** A zip writer that leaves its target open, for [[publish]] to close,
    * yet frees its Deflater's native memory (about 256 KB) at once instead
    * of leaving it to the GC's Cleaner. */
  private final class ZipWriter(out: OutputStream) extends ZipOutputStream(out) {
    def endDeflater(): Unit = `def`.end()
  }

  /** Header of a ChecksumFileSystem `.crc` side file. */
  private val ChecksumMagic: Array[Byte] = Array('c', 'r', 'c', 0).map(_.toByte)

  /** Passes bytes on to `out` and writes their ChecksumFileSystem `.crc` to
    * `crcOut`: magic, bytes-per-sum, then one CRC32 per `bytesPerSum`
    * chunk. */
  private final class ChecksummedOutput(out: OutputStream, crcOut: OutputStream, bytesPerSum: Int)
      extends OutputStream {
    private val sums = new DataOutputStream(new BufferedOutputStream(crcOut))
    sums.write(ChecksumMagic)
    sums.writeInt(bytesPerSum)
    private val crc = new CRC32()
    private var inChunk = 0

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      var o = off
      while (o < off + len) {
        val n = math.min(off + len - o, bytesPerSum - inChunk)
        crc.update(b, o, n)
        inChunk += n
        o += n
        if (inChunk == bytesPerSum) endChunk()
      }
    }
    private def endChunk(): Unit = {
      sums.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }
    override def close(): Unit =
      try { if (inChunk > 0) endChunk(); sums.close() } finally out.close()
  }
}
