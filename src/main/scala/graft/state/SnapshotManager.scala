package graft.state

import java.io.{BufferedOutputStream, DataOutputStream, File, FileInputStream, FileOutputStream}
import java.util.zip.{CRC32, ZipEntry, ZipInputStream, ZipOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.internal.Logging

import scala.util.{Try, Using}

/** Durable snapshot I/O for one state store instance (operator × partition ×
  * store name).
  *
  * Snapshot format follows the reference (`RocksDbStateStoreProvider.scala:
  * 448-462, 517-566, 597-619`): one ZIP per committed version named
  * `state.snapshot.<version>` under the store's checkpoint directory on an
  * HDFS-compatible filesystem, containing the raw RocksDB files. Uploads go
  * through a temporary file + rename so a crashed commit never leaves a
  * half-written snapshot under the final name.
  *
  * At 100 TB the full-snapshot-per-batch model is O(state) upload per commit;
  * that matches the reference's contract and keeps recovery trivial
  * (download + unzip = exact DB). Changelog checkpointing (deltas between
  * cadence snapshots) bounds the per-batch upload; INCREMENTAL snapshots
  * (below) bound the cadence upload itself.
  *
  * ==Incremental (SST-skip) snapshots==
  *
  * RocksDB SST files are immutable, and between two cadence snapshots most
  * of a large DB's bytes sit in SSTs that did not change — re-uploading
  * them is the dominant checkpoint cost at scale (the Flink/RocksDB
  * incremental-checkpoint observation). With `incremental = true`,
  * [[upload]] stores each `.sst` ONCE in a shared content-addressed pool
  * (`<baseDir>/sst/<md5>-<len>.sst`) and writes only a reference list into
  * the snapshot zip (entry [[SnapshotManager.SstRefsEntry]], one
  * `localName TAB remoteName` line per SST) alongside the small mutable
  * files (MANIFEST/CURRENT/OPTIONS) stored inline as before. Content
  * addressing makes dedup correct by construction — sibling commits,
  * task retries, and restored lineages that regenerate an SST name with
  * different bytes land under different pool names, while identical
  * content (the common case: the same file hard-linked into consecutive
  * RocksDB checkpoints) uploads exactly once. A per-manager
  * `(name, length, mtime) -> md5` cache skips re-hashing SSTs already seen
  * by this provider instance, and a known-remote set skips the per-file
  * existence RPC after the first sighting. [[download]] restores both
  * formats (inline entries and referenced SSTs), so mixed histories read
  * back transparently; [[cleanup]] drops pool files referenced by no
  * retained snapshot (age-gated, like tmp reclaim, so a pool file uploaded
  * ahead of its manifest's publish is never swept mid-commit).
  */
final class SnapshotManager(baseDir: Path, hadoopConf: Configuration) extends Logging {
  import SnapshotManager.SstRefsEntry

  private lazy val fs: FileSystem = baseDir.getFileSystem(hadoopConf)

  private def sstPoolDir: Path = new Path(baseDir, "sst")

  /** (name, length, mtime) -> md5 for SSTs this manager has hashed; valid
    * because a live RocksDB instance never rewrites an SST name in place. */
  private val hashCache = scala.collection.concurrent.TrieMap.empty[(String, Long, Long), String]
  /** Pool files this manager has uploaded or seen — skips the exists() RPC. */
  private val knownRemote = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Lifetime observability counters for this store instance: bytes
    * actually shipped (zips, deltas, new pool SSTs) vs SST bytes the
    * content-address dedup skipped — the measured value of incremental
    * snapshots, surfaced as provider custom metrics. */
  val bytesUploaded = new java.util.concurrent.atomic.AtomicLong()
  val bytesDeduped = new java.util.concurrent.atomic.AtomicLong()

  /** On `file:` the directory is made with java.nio: Hadoop's `mkdirs`
    * forks a `chmod` process per directory when libhadoop is absent. */
  def ensureBaseDir(): Unit = fs match {
    case lfs: LocalFileSystem => java.nio.file.Files.createDirectories(lfs.pathToFile(baseDir).toPath)
    case _ => fs.mkdirs(baseDir)
  }

  /** Checkpoint-format v2 (state store checkpoint IDs) suffixes every
    * durable file with the commit's unique ID — `state.snapshot.<v>_<id>` —
    * so two commits of the same version (task retry, speculation) coexist
    * and recovery picks exactly the one the commit log recorded. v1 names
    * (`ckptId = None`) are unchanged. */
  private def suffixed(version: Long, ckptId: Option[String]): String =
    ckptId.fold(version.toString)(id => s"${version}_$id")

  def snapshotFile(version: Long, ckptId: Option[String] = None): Path =
    new Path(baseDir, s"state.snapshot.${suffixed(version, ckptId)}")
  def deltaFile(version: Long, ckptId: Option[String] = None): Path =
    new Path(baseDir, s"state.delta.${suffixed(version, ckptId)}")

  def snapshotExists(version: Long, ckptId: Option[String]): Boolean =
    fs.exists(snapshotFile(version, ckptId))

  private def parseVersion(name: String, prefix: String): Option[Long] =
    if (!name.startsWith(prefix)) None
    else Try(name.stripPrefix(prefix).takeWhile(_ != '_').toLong).toOption

  private def listByPrefix(prefix: String): Seq[Long] = {
    if (!fs.exists(baseDir)) return Nil
    fs.listStatus(baseDir).toSeq.flatMap(st => parseVersion(st.getPath.getName, prefix))
  }

  /** Commit IDs of the durable files at `version` (v2 names only). */
  def idsAt(version: Long, snapshot: Boolean): Seq[String] = {
    if (!fs.exists(baseDir)) return Nil
    val prefix = (if (snapshot) "state.snapshot." else "state.delta.") + version + "_"
    fs.listStatus(baseDir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))
  }

  /** Versions with a durable full snapshot present (reference
    * `fetchVersions`, `:597-613`). */
  def listVersions(): Seq[Long] = listByPrefix("state.snapshot.")

  /** Versions with a durable changelog delta present. */
  def listDeltaVersions(): Seq[Long] = listByPrefix("state.delta.")

  /** Publish a local changelog file as `state.delta.<version>[_<id>]` (same
    * tmp+rename atomicity as snapshots). */
  def uploadDelta(local: File, version: Long, ckptId: Option[String] = None): Unit = {
    bytesUploaded.addAndGet(local.length())
    val target = deltaFile(version, ckptId)
    val tmp = new Path(baseDir, s".state.delta.$version.${System.nanoTime()}.tmp")
    fs match {
      case lfs: LocalFileSystem => publishLocal(lfs, local, tmp, target)
      case _ => publishViaHadoop(local, tmp, target)
    }
  }

  /** Hadoop's `create` on a `file:` checkpoint forks a `chmod` process for
    * the file and one for its `.crc` when libhadoop is absent — two process
    * spawns per store per commit. This writes both files with java.nio
    * instead, the `.crc` in ChecksumFileSystem's own format (magic,
    * bytes-per-sum, one CRC32 per chunk), so `fs.open` still verifies the
    * delta. The `.crc` is published first: a delta visible under its final
    * name carries its own checksum. */
  private def publishLocal(lfs: LocalFileSystem, local: File, tmp: Path, target: Path): Unit = {
    val bytesPerSum = lfs.getBytesPerSum
    val tmpFile = lfs.pathToFile(tmp)
    val tmpCrc = new File(tmpFile.getParentFile, tmpFile.getName + ".crc.tmp")
    try {
      Using.resources(
        new FileInputStream(local),
        new FileOutputStream(tmpFile),
        new DataOutputStream(new BufferedOutputStream(new FileOutputStream(tmpCrc)))
      ) { (in, out, sums) =>
        sums.write(SnapshotManager.ChecksumMagic)
        sums.writeInt(bytesPerSum)
        val crc = new CRC32()
        val buf = new Array[Byte](bytesPerSum * 128)
        var n = in.readNBytes(buf, 0, buf.length)
        while (n > 0) {
          out.write(buf, 0, n)
          var off = 0
          while (off < n) {
            val len = math.min(bytesPerSum, n - off)
            crc.reset()
            crc.update(buf, off, len)
            sums.writeInt(crc.getValue.toInt)
            off += len
          }
          n = in.readNBytes(buf, 0, buf.length)
        }
      }
      val move = java.nio.file.StandardCopyOption.ATOMIC_MOVE
      java.nio.file.Files.move(tmpCrc.toPath, lfs.pathToFile(lfs.getChecksumFile(target)).toPath, move)
      java.nio.file.Files.move(tmpFile.toPath, lfs.pathToFile(target).toPath, move)
    } catch {
      case e: java.io.IOException =>
        tmpFile.delete()
        tmpCrc.delete()
        throw new java.io.IOException(s"Failed to publish delta $target", e)
    }
  }

  private def publishViaHadoop(local: File, tmp: Path, target: Path): Unit = {
    val out = fs.create(tmp, true)
    try {
      val in = new FileInputStream(local)
      try {
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    } finally out.close()
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"Failed to publish delta $target")
    }
  }

  def openDelta(version: Long, ckptId: Option[String] = None): java.io.InputStream =
    fs.open(deltaFile(version, ckptId))

  /** md5 of a local file, via the per-manager cache. */
  private def md5Of(f: File): String =
    hashCache.getOrElseUpdate((f.getName, f.length(), f.lastModified()), {
      val md = java.security.MessageDigest.getInstance("MD5")
      val in = new FileInputStream(f)
      try {
        val buf = new Array[Byte](256 * 1024)
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      md.digest().map("%02x".format(_)).mkString
    })

  /** Upload `f` to the SST pool under its content address unless already
    * there; returns the pool file name. Same tmp+rename atomicity.
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
    val remoteName = s"${md5Of(f)}-${f.length()}.sst"
    val target = new Path(sstPoolDir, remoteName)
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

  /** Raw pool write (tmp + rename), no dedup check. */
  private def pushToPool(f: File, remoteName: String): Unit = {
    val target = new Path(sstPoolDir, remoteName)
    fs.mkdirs(sstPoolDir)
    val tmp = new Path(sstPoolDir, s".$remoteName.${System.nanoTime()}.tmp")
    val out = fs.create(tmp, true)
    try {
      val in = new FileInputStream(f)
      try {
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    } finally out.close()
    // a concurrent sibling may have published the same content first;
    // content addressing makes either copy equally correct
    if (!fs.rename(tmp, target) && !fs.exists(target)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"Failed to publish pool SST $target")
    }
    Try(fs.delete(tmp, false)) // no-op when the rename won
  }

  /** Zip `localDir`'s RocksDB files into `state.snapshot.<version>[_<id>]`.
    * RocksDB info logs (`LOG`, `LOG.old.*`) are excluded — dead weight the
    * reference also stripped before upload (`:438-443`). With
    * `incremental = true`, immutable `.sst` files go to the shared
    * content-addressed pool (skipping bytes already uploaded) and the zip
    * carries only their reference list — see the class doc. */
  def upload(localDir: File, version: Long, ckptId: Option[String] = None,
      incremental: Boolean = false): Unit = {
    val target = snapshotFile(version, ckptId)
    val tmp = new Path(baseDir, s".state.snapshot.$version.${System.nanoTime()}.tmp")
    var sstRefs: Seq[(File, String, Boolean)] = Nil
    val out = new ZipOutputStream(fs.create(tmp, true))
    try {
      val files = Option(localDir.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isFile && !f.getName.startsWith("LOG"))
      val buf = new Array[Byte](64 * 1024)
      val (ssts, inline) =
        if (incremental) files.partition(_.getName.endsWith(".sst"))
        else (Array.empty[File], files)
      inline.foreach { f =>
        bytesUploaded.addAndGet(f.length())
        out.putNextEntry(new ZipEntry(f.getName))
        val in = new FileInputStream(f)
        try {
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        out.closeEntry()
      }
      if (incremental) {
        sstRefs = ssts.sortBy(_.getName).map { f =>
          val (r, wasDedup) = uploadToPool(f)
          (f, r, wasDedup)
        }.toSeq
        val refs = sstRefs.map { case (f, r, _) => s"${f.getName}\t$r" }.mkString("\n")
        out.putNextEntry(new ZipEntry(SstRefsEntry))
        out.write(refs.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.closeEntry()
      }
    } finally out.close()
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"Failed to publish snapshot $target")
    }
    // Post-publish audit: from here the manifest is visible to cleanup's
    // retained-refs scan, so a pool file that re-materializes now STAYS.
    // Any reference that vanished between its dedup check and the rename
    // above (concurrent age-gated GC) is re-uploaded from the still-local
    // bytes — a published snapshot never points at a missing pool file.
    sstRefs.foreach { case (f, remote, wasDedup) =>
      if (!Try(fs.exists(new Path(sstPoolDir, remote))).getOrElse(false)) {
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

  /** Unzip `state.snapshot.<version>[_<id>]` into `destDir` (must exist,
    * empty). Restores inline entries directly and fetches any
    * pool-referenced SSTs under their original local names, so full and
    * incremental snapshots (and histories mixing both) read back the same. */
  def download(version: Long, destDir: File, ckptId: Option[String] = None): Unit = {
    var refs: Seq[(String, String)] = Nil
    val in = new ZipInputStream(fs.open(snapshotFile(version, ckptId)))
    try {
      val buf = new Array[Byte](64 * 1024)
      var entry: ZipEntry = in.getNextEntry
      while (entry != null) {
        if (entry.getName == SstRefsEntry) {
          val bos = new java.io.ByteArrayOutputStream()
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) bos.write(buf, 0, n); n = in.read(buf) }
          refs = new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
            .split("\n").toSeq.filter(_.nonEmpty)
            .map { line =>
              val Array(local, remote) = line.split("\t", 2)
              (local, remote)
            }
        } else {
          val target = new File(destDir, new File(entry.getName).getName) // no path traversal
          val out = new FileOutputStream(target)
          try {
            var n = in.read(buf)
            while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
          } finally out.close()
        }
        in.closeEntry()
        entry = in.getNextEntry
      }
    } finally in.close()
    refs.foreach { case (local, remote) =>
      val pin = fs.open(new Path(sstPoolDir, remote))
      try {
        val out = new FileOutputStream(new File(destDir, new File(local).getName))
        try {
          val buf = new Array[Byte](64 * 1024)
          var n = pin.read(buf)
          while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = pin.read(buf) }
        } finally out.close()
      } finally pin.close()
    }
  }

  /** Pool names referenced by a snapshot file (empty for full zips). */
  private def refsOf(p: Path): Seq[String] = {
    val in = new ZipInputStream(fs.open(p))
    try {
      val buf = new Array[Byte](64 * 1024)
      var entry: ZipEntry = in.getNextEntry
      while (entry != null) {
        if (entry.getName == SstRefsEntry) {
          val bos = new java.io.ByteArrayOutputStream()
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) bos.write(buf, 0, n); n = in.read(buf) }
          return new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
            .split("\n").toSeq.filter(_.nonEmpty).map(_.split("\t", 2)(1))
        }
        in.closeEntry()
        entry = in.getNextEntry
      }
      Nil
    } finally in.close()
  }

  /** Delete durable files no longer needed to recover any version >=
    * `maxVersion - retain + 1` (reference `cleanup`, `:573-592`, extended
    * for changelog chains): keep the newest full snapshot at or below the
    * cutoff as the replay base, every delta above it, and everything above
    * the cutoff. Returns the cutoff. */
  def cleanup(retain: Int): Option[Long] = {
    if (!fs.exists(baseDir)) return None
    // list actual paths: v2 names carry an id suffix and cannot be
    // reconstructed from the version number alone
    val listed = fs.listStatus(baseDir).toSeq.map(_.getPath)
    val snaps = listed.flatMap(p => parseVersion(p.getName, "state.snapshot.").map(_ -> p))
    val deltas = listed.flatMap(p => parseVersion(p.getName, "state.delta.").map(_ -> p))
    val all = (snaps ++ deltas).map(_._1)
    if (all.isEmpty) return None
    val cutoff = all.max - math.max(retain, 1) + 1
    val base = snaps.map(_._1).filter(_ <= cutoff).maxOption
    def drop(p: Path): Unit =
      Try(fs.delete(p, false)).failed.foreach { e =>
        logWarning(s"Failed to delete expired state file $p: $e")
      }
    base.foreach { b =>
      snaps.filter(_._1 < b).foreach(e => drop(e._2))
      deltas.filter(_._1 <= b).foreach(e => drop(e._2))
    }
    // Pool GC: a content-addressed SST is garbage once no RETAINED snapshot
    // references it. Reading each retained manifest's ref entry is one
    // small-zip open per retained snapshot — retained counts are small
    // (minVersionsToRetain), never O(state). Age-gated like tmp reclaim:
    // an SST uploaded ahead of its manifest's publish (the upload order in
    // `upload`) is at most minutes old and is never swept.
    if (Try(fs.exists(sstPoolDir)).getOrElse(false)) {
      val retainedSnaps = base match {
        case Some(b) => snaps.filter(_._1 >= b).map(_._2)
        case None => snaps.map(_._2)
      }
      val referenced = retainedSnaps.flatMap(p => Try(refsOf(p)).getOrElse(Nil)).toSet
      val poolStaleBefore = System.currentTimeMillis() - 10 * 60 * 1000L
      Try {
        fs.listStatus(sstPoolDir).foreach { st =>
          val name = st.getPath.getName
          if (!name.startsWith(".") && !referenced.contains(name) &&
            st.getModificationTime < poolStaleBefore) {
            knownRemote.remove(name)
            drop(st.getPath)
          }
        }
      }
    }
    // reclaim upload temp files orphaned by a crash between create and
    // rename; age-gate so an in-flight commit's tmp is never touched
    val staleBefore = System.currentTimeMillis() - 10 * 60 * 1000L
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
  /** Zip entry carrying the pool references of an incremental snapshot.
    * The name cannot collide with RocksDB files (they never contain '/'
    * prefixes or this literal). */
  val SstRefsEntry = "__graft_sst_refs__"

  /** Header of a ChecksumFileSystem `.crc` side file. */
  private val ChecksumMagic: Array[Byte] = Array('c', 'r', 'c', 0).map(_.toByte)
}
