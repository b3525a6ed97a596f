package graft.state

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** Incremental (SST-skip) snapshot contract of [[SnapshotManager]]:
  * immutable `.sst` files upload once to the content-addressed pool, later
  * snapshots ship references, both formats restore byte-identically, and
  * pool GC drops exactly the files no retained snapshot references.
  * Provider-level coverage rides the existing suites ([[RocksDbStateStoreSuite]]
  * et al.), since every snapshot is incremental.
  */
class SnapshotIncrementalSuite extends AnyFunSuite {

  private def tmpDir(prefix: String): File = graft.Staging.tempDir(prefix).toFile

  private def write(dir: File, name: String, content: String): Unit = {
    val f = new File(dir, name)
    Files.write(f.toPath, content.getBytes("UTF-8"))
    ()
  }

  private def readAll(dir: File): Map[String, String] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).filter(_.isFile)
      .map(f => f.getName -> new String(Files.readAllBytes(f.toPath), "UTF-8")).toMap

  private def newMgr(base: File): SnapshotManager =
    new SnapshotManager(new Path(base.toURI.toString), new Configuration())

  private def poolFiles(base: File): Seq[String] =
    Option(new File(base, "sst").listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getName).toSeq

  test("incremental upload dedups unchanged SSTs; download restores byte-identically") {
    val remote = tmpDir("snap-remote-")
    val mgr = newMgr(remote)
    mgr.ensureBaseDir()

    val v1 = tmpDir("snap-local1-")
    write(v1, "000001.sst", "sst-one" * 100)
    write(v1, "000002.sst", "sst-two" * 100)
    write(v1, "MANIFEST-000003", "manifest-v1")
    write(v1, "CURRENT", "MANIFEST-000003")
    write(v1, "LOG", "info log, must be excluded")
    mgr.upload(v1, 1)
    assert(poolFiles(remote).size === 2, "two SSTs pooled at v1")

    // v2: one SST unchanged (same content), one compacted away, one new,
    // mutable files rewritten
    val v2 = tmpDir("snap-local2-")
    write(v2, "000001.sst", "sst-one" * 100)
    write(v2, "000004.sst", "sst-four" * 100)
    write(v2, "MANIFEST-000005", "manifest-v2")
    write(v2, "CURRENT", "MANIFEST-000005")
    mgr.upload(v2, 2)
    assert(poolFiles(remote).size === 3, "v2 added only the new SST to the pool")

    val r1 = tmpDir("snap-restore1-")
    mgr.download(1, r1)
    assert(readAll(r1) === readAll(v1) - "LOG", "v1 restores exactly (minus LOG)")
    val r2 = tmpDir("snap-restore2-")
    mgr.download(2, r2)
    assert(readAll(r2) === readAll(v2), "v2 restores exactly")
  }

  test("same content under different local names pools once (content addressing)") {
    val remote = tmpDir("snap-remote-")
    val mgr = newMgr(remote)
    mgr.ensureBaseDir()
    val v1 = tmpDir("snap-local-")
    write(v1, "000007.sst", "identical-bytes" * 50)
    write(v1, "000008.sst", "identical-bytes" * 50)
    write(v1, "CURRENT", "c")
    mgr.upload(v1, 1)
    assert(poolFiles(remote).size === 1, "identical content dedups across names")
    val r = tmpDir("snap-restore-")
    mgr.download(1, r)
    assert(readAll(r) === readAll(v1), "both names restore from the one pool file")
  }

  test("mixed history: full zip and incremental snapshots restore through one reader") {
    val remote = tmpDir("snap-remote-")
    val mgr = newMgr(remote)
    mgr.ensureBaseDir()
    val v1 = tmpDir("snap-local1-")
    write(v1, "000001.sst", "full-zip-sst")
    write(v1, "CURRENT", "c1")
    // a self-contained zip, every file inline, as older checkpoints hold
    val full = new ZipOutputStream(new FileOutputStream(new File(remote, "state.snapshot.1")))
    try v1.listFiles().foreach { f =>
      full.putNextEntry(new ZipEntry(f.getName))
      full.write(Files.readAllBytes(f.toPath))
      full.closeEntry()
    } finally full.close()
    assert(poolFiles(remote).isEmpty, "full zip uses no pool")
    val v2 = tmpDir("snap-local2-")
    write(v2, "000001.sst", "full-zip-sst")
    write(v2, "CURRENT", "c2")
    mgr.upload(v2, 2)
    val r1 = tmpDir("snap-restore1-")
    mgr.download(1, r1)
    assert(readAll(r1) === readAll(v1))
    val r2 = tmpDir("snap-restore2-")
    mgr.download(2, r2)
    assert(readAll(r2) === readAll(v2))
  }

  test("cleanup GCs pool files no retained snapshot references (age-gated)") {
    val remote = tmpDir("snap-remote-")
    val mgr = newMgr(remote)
    mgr.ensureBaseDir()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new Configuration())

    val v1 = tmpDir("snap-local1-")
    write(v1, "000001.sst", "only-in-v1" * 20)
    write(v1, "CURRENT", "c1")
    mgr.upload(v1, 1)
    (2 to 4).foreach { v =>
      val d = tmpDir(s"snap-local$v-")
      write(d, "000009.sst", "survivor" * 20)
      write(d, "CURRENT", s"c$v")
      mgr.upload(d, v)
    }
    assert(poolFiles(remote).size === 2)

    // age the pool files past cleanup's 10-minute gate
    val old = System.currentTimeMillis() - 60 * 60 * 1000L
    poolFiles(remote).foreach { n =>
      fs.setTimes(new Path(new Path(remote.toURI.toString), s"sst/$n"), old, -1)
    }
    // retain 2 -> cutoff 3, base = newest snapshot <= 3; v1's manifest drops
    mgr.cleanup(retain = 2)
    assert(poolFiles(remote).size === 1, "the SST referenced only by v1 is GC'd")
    val r = tmpDir("snap-restore-")
    mgr.download(4, r)
    assert(readAll(r).contains("000009.sst"), "retained snapshots still restore")

    // a fresh-looking (recent mtime) unreferenced pool file survives the sweep
    val v5 = tmpDir("snap-local5-")
    write(v5, "000010.sst", "fresh-upload" * 20)
    write(v5, "CURRENT", "c5")
    mgr.upload(v5, 5)
    val mgr2 = newMgr(remote) // no knownRemote cache — same decisions from listing
    // drop v5's manifest so its SST becomes unreferenced but is minutes old
    fs.delete(new Path(new Path(remote.toURI.toString), "state.snapshot.5"), false)
    mgr2.cleanup(retain = 2)
    assert(poolFiles(remote).exists(_ => true) &&
      poolFiles(remote).size === 2, "recent unreferenced SST is age-protected")
  }

  test("pool GC invalidates the uploader's known-remote cache (re-upload works)") {
    val remote = tmpDir("snap-remote-")
    val mgr = newMgr(remote)
    mgr.ensureBaseDir()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new Configuration())
    val v1 = tmpDir("snap-local1-")
    write(v1, "000001.sst", "cycled" * 20)
    write(v1, "CURRENT", "c1")
    mgr.upload(v1, 1)
    // orphan the pool file (manifest gone), age it, sweep it via the SAME mgr
    fs.delete(new Path(new Path(remote.toURI.toString), "state.snapshot.1"), false)
    val old = System.currentTimeMillis() - 60 * 60 * 1000L
    poolFiles(remote).foreach { n =>
      fs.setTimes(new Path(new Path(remote.toURI.toString), s"sst/$n"), old, -1)
    }
    // cleanup needs at least one remaining durable file to compute a cutoff
    val v2 = tmpDir("snap-local2-")
    write(v2, "CURRENT", "c2")
    mgr.upload(v2, 2)
    mgr.cleanup(retain = 1)
    assert(poolFiles(remote).isEmpty, "orphaned SST swept")
    // same mgr re-uploads the same content: knownRemote must not short-circuit
    val v3 = tmpDir("snap-local3-")
    write(v3, "000001.sst", "cycled" * 20)
    write(v3, "CURRENT", "c3")
    mgr.upload(v3, 3)
    assert(poolFiles(remote).size === 1, "content re-pooled after GC")
    val r = tmpDir("snap-restore-")
    mgr.download(3, r)
    assert(readAll(r) === readAll(v3))
  }

  test("dedup hit verifies the pool file still exists; a vanished SST re-uploads") {
    val remote = tmpDir("snap-remote-")
    val mgr = newMgr(remote)
    mgr.ensureBaseDir()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new Configuration())
    val v1 = tmpDir("snap-local1-")
    write(v1, "000001.sst", "raced" * 20)
    write(v1, "CURRENT", "c1")
    mgr.upload(v1, 1)
    // simulate a concurrent pool GC racing the next commit: the pool file
    // disappears while this mgr's knownRemote cache still claims it exists
    poolFiles(remote).foreach { n =>
      fs.delete(new Path(new Path(remote.toURI.toString), s"sst/$n"), false)
    }
    assert(poolFiles(remote).isEmpty)
    val v2 = tmpDir("snap-local2-")
    write(v2, "000001.sst", "raced" * 20) // same content -> warm dedup path
    write(v2, "CURRENT", "c2")
    mgr.upload(v2, 2)
    assert(poolFiles(remote).size === 1,
      "the stale dedup hit fell through to a fresh pool upload")
    val r = tmpDir("snap-restore-")
    mgr.download(2, r)
    assert(readAll(r) === readAll(v2),
      "the published snapshot references a live pool file")
  }

  test("provider end-to-end: incremental cadence snapshots recover across providers") {
    import StateStoreTestHelper._
    val ckpt = newCheckpointDir()
    val conf = storeConf(Map(
      RocksDbConf.CHANGELOG -> "false")) // snapshot per commit -> pool exercised hard
    val p = newProvider(ckpt, conf)
    try {
      var v = 0L
      var lastMetrics: Map[String, Long] = Map.empty
      (1 to 6).foreach { i =>
        val store = p.getStore(v, None)
        put(store, s"k$i", i)
        v = store.commit()
        lastMetrics = store.metrics.customMetrics.map { case (m, x) => m.name -> x }
      }
      assert(lastMetrics("snapshotBytesUploaded") > 0,
        "upload counter tracks shipped bytes")
      assert(lastMetrics("snapshotBytesDeduped") > 0,
        "unchanged SSTs across consecutive checkpoints register as deduped")
    } finally p.close()
    val pool = new File(new File(new File(ckpt), "0"), "0/sst")
    assert(Try(pool.listFiles().nonEmpty).getOrElse(false),
      "per-commit snapshots populated the SST pool")
    assert(getData(ckpt, 6, conf) === (1 to 6).map(i => s"k$i" -> i).toMap,
      "a fresh provider restores the newest version from pool-referenced SSTs")
    assert(getData(ckpt, 3, conf).keySet === Set("k1", "k2", "k3"),
      "older incremental snapshots restore too")
  }
}
