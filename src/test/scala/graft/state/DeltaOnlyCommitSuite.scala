package graft.state

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, LocalFileSystem, Path}
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import StateStoreTestHelper._

/** Commit publishes only the changelog delta: no memtable flush, so a
  * committed store's writes live in its memtables and the RocksDB WAL until
  * a memtable fills or a cadence snapshot flushes. These tests pin that the
  * unflushed state is still exact on every path that reads a local dir
  * (WAL replay after close, a snapshot taken from live memtables), that the
  * WAL does not reserve disk it does not use, and that deltas published on a
  * `file:` checkpoint carry a checksum Hadoop verifies.
  */
class DeltaOnlyCommitSuite extends AnyFunSuite {

  private def sstBytes(store: org.apache.spark.sql.execution.streaming.state.StateStore): Long =
    store.metrics.customMetrics(RocksDbStateStoreProvider.MetricSstSize)

  test("a write commit leaves the batch in memtables: no SST files") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      val store = provider.getStore(0, None)
      (0 until 50).foreach(i => put(store, s"k$i", i))
      store.commit()
      assert(sstBytes(store) === 0L, "commit must not flush memtables to SST files")
      assert(getData(ckpt, 1) === (0 until 50).map(i => s"k$i" -> i).toMap)
    } finally provider.close()
  }

  test("close and reopen of an unflushed dir replays the WAL: puts, removes, strict-TTL deadlines") {
    withFakeClock { clock =>
      val ckpt = newCheckpointDir()
      val conf = storeConf(extra = Map(
        RocksDbConf.STATE_EXPIRY_SECS -> "10", RocksDbConf.STRICT_EXPIRE -> "true"))
      val provider = newProvider(ckpt, conf)
      try {
        val s0 = provider.getStore(0, None)
        Seq("a" -> 1, "b" -> 2, "c" -> 3).foreach { case (k, v) => put(s0, k, v) }
        s0.commit()
        clock.advanceSecs(6)
        val s1 = provider.getStore(1, None) // adopts s0's handle
        put(s1, "d", 4)
        assert(get(s1, "a") === Some(1)) // access refreshes a's deadline
        remove(s1, "b")
        s1.commit()
        assert(sstBytes(s1) === 0L)
        val opensBefore = provider.dbOpens.get()
        s1.asInstanceOf[provider.RocksDbStateStore].ensureClosed()
        // c's deadline (t0) is past, a's (t0+6) and d's (t0+6) are not: a
        // lost deadline would read as live, a lost put or remove as a
        // wrong key set
        clock.advanceSecs(6)
        val reloaded = provider.getReadStore(2, None)
        try {
          assert(provider.dbOpens.get() === opensBefore + 1,
            "the reload must open the moved dir physically (the WAL-replay path)")
          assert(readAll(reloaded) === Map("a" -> 1, "d" -> 4))
        } finally reloaded.release()
      } finally provider.close()
    }
  }

  test("a maintenance snapshot right after an unflushed commit restores exactly") {
    val ckpt = newCheckpointDir()
    val conf = storeConf(extra = Map(SQLConf.STATE_STORE_MIN_DELTAS_FOR_SNAPSHOT.key -> "3"))
    val provider = newProvider(ckpt, conf)
    var model = Map.empty[String, Int]
    try {
      (0 until 3).foreach { v =>
        val store = provider.getStore(v, None)
        put(store, s"k$v", v); model += s"k$v" -> v
        put(store, "shared", v); model += "shared" -> v
        if (v == 2) { remove(store, "k0"); model -= "k0" }
        store.commit()
        assert(sstBytes(store) === 0L)
      }
      provider.doMaintenance() // cadence snapshot of version 3 from live memtables
    } finally provider.close()
    assert(snapshotFiles(ckpt) === Seq(3L))
    // with the deltas gone, the snapshot alone must hold version 3
    val storeDir = new File(new File(new File(ckpt), "0"), "0")
    storeDir.listFiles().filter(_.getName.contains("state.delta.")).foreach(_.delete())
    assert(getData(ckpt, 3, conf) === model)
  }

  test("local dir disk use stays small across unflushed commits (no WAL preallocation)") {
    val ckpt = newCheckpointDir()
    val provider = newProvider(ckpt)
    try {
      (0 until 20).foreach { v =>
        val store = provider.getStore(v, None)
        (0 until 20).foreach(i => put(store, s"k$v-$i", i))
        store.commit()
      }
      // allocated blocks, not apparent size: a preallocated WAL is sparse
      // in size but not in blocks
      import scala.sys.process._
      val kb = Seq("du", "-sk", provider.tempRoot.getAbsolutePath).!!.trim.split("\\s+")(0).toLong
      assert(kb < 8 * 1024, s"provider temp dir allocates $kb KB after 20 commits")
    } finally provider.close()
  }

  test("a delta on a file: checkpoint carries a Hadoop-verified .crc") {
    val base = new Path(Files.createTempDirectory("graft-delta-crc-").toUri)
    val hadoopConf = new Configuration()
    val fs = base.getFileSystem(hadoopConf).asInstanceOf[LocalFileSystem]
    val baseDir = fs.pathToFile(base)
    val sm = new SnapshotManager(base, hadoopConf)
    sm.ensureBaseDir()
    val rnd = new scala.util.Random(7)
    def writeDelta(n: Int): (File, Seq[(Seq[Byte], Seq[Byte])]) = {
      val f = new File(baseDir, s"local-$n.chlog")
      val w = new Changelog.Writer(f)
      // incompressible values: the delta spans many 512-byte checksum chunks
      val recs = (0 until n).map { i =>
        (s"key$i".getBytes.toSeq, Array.fill(37)(rnd.nextInt().toByte).toSeq)
      }
      recs.foreach { case (k, v) => w.put("default", k.toArray, v.toArray) }
      w.close()
      (f, recs)
    }
    def readBack(): Seq[(Seq[Byte], Seq[Byte])] =
      Changelog.read(sm.openDelta(1)).map(r => (r.key.toSeq, r.value.toSeq)).toList
    val target = fs.pathToFile(sm.deltaFile(1)).toPath
    try {
      val (f1, recs1) = writeDelta(200)
      sm.uploadDelta(f1, 1)
      val crc = fs.pathToFile(fs.getChecksumFile(sm.deltaFile(1))).toPath
      assert(Files.exists(crc), "the delta must publish with its .crc side file")
      assert(readBack() === recs1)
      // the same bytes through Hadoop's own writer give the same .crc
      val viaHadoop = new Path(base, "via-hadoop")
      val out = fs.create(viaHadoop)
      try out.write(Files.readAllBytes(f1.toPath)) finally out.close()
      assert(Files.readAllBytes(crc).toSeq ===
        Files.readAllBytes(fs.pathToFile(fs.getChecksumFile(viaHadoop)).toPath).toSeq)
      assert(!baseDir.list().exists(_.endsWith(".tmp")), "the upload left a temp file")

      // re-publishing the same version replaces both files consistently
      val (f2, recs2) = writeDelta(150)
      sm.uploadDelta(f2, 1)
      assert(readBack() === recs2)

      // a flipped byte fails checksum verification on replay
      val bytes = Files.readAllBytes(target)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
      Files.write(target, bytes)
      intercept[ChecksumException](readBack())
    } finally RocksDbStateStoreProvider.deleteRecursively(baseDir)
  }
}
