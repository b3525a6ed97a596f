package graft.state

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[StateFsck]] verifies exactly what the provider's recovery needs: a
  * healthy checkpoint reads clean; each class of durable-file damage —
  * missing changelog, vanished pool SST, truncated delta — is reported in
  * its own counter, per store, without opening RocksDB. */
class StateFsckSuite extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-state-fsck")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.streaming.stateStore.providerClass",
      classOf[RocksDbStateStoreProvider].getName)
    .config("spark.ui.enabled", "false")
    .config(CheckpointGuard.QuiesceConf, "0") // suites stop their own queries
    .getOrCreate()

  override def beforeAll(): Unit = { spark; () }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def reportRows(df: DataFrame): Seq[Row] = df.collect().toSeq
  private def clean(r: Row): Boolean =
    r.getAs[Boolean]("covered") && r.getAs[Int]("zipErrors") == 0 &&
      r.getAs[Int]("missingPoolRefs") == 0 && r.getAs[Int]("badPoolSizes") == 0 &&
      r.getAs[Int]("deltaErrors") == 0

  test("healthy dedup->agg checkpoint: every store covered and sound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val df = input.toDF().toDF("k", "v")
      .dropDuplicates("k", "v")
      .groupBy($"k").agg(org.apache.spark.sql.functions.sum($"v").as("total"))
    val ckpt = graft.Staging.tempDir("graft-fsck-ckpt-").toString
    input.addData(("a", 1), ("b", 2))
    val q1 = df.writeStream.format("memory").queryName("fsck_h1")
      .outputMode(OutputMode.Complete()).option("checkpointLocation", ckpt).start()
    try q1.processAllAvailable() finally q1.stop()
    input.addData(("a", 3), ("c", 4))
    val q2 = df.writeStream.format("memory").queryName("fsck_h2")
      .outputMode(OutputMode.Complete()).option("checkpointLocation", ckpt).start()
    try q2.processAllAvailable() finally q2.stop()

    val rows = reportRows(StateFsck.run(spark, ckpt))
    // 2 operators (agg, dedup) x 2 partitions
    assert(rows.size === 4, rows.mkString("\n"))
    rows.foreach { r =>
      assert(clean(r), s"store should be clean: $r")
      assert(r.getAs[Long]("requiredVersion") === 2L)
    }
  }

  /** Synthesize a minimal checkpoint: one store, snapshot v1 (incremental,
    * one SST in the pool) + changelog v2 — full control over which durable
    * file each test damages. */
  private def synthCheckpoint(): (String, Path, SnapshotManager) = {
    val ckpt = graft.Staging.tempDir("graft-fsck-synth-").toString
    Files.createDirectories(Paths.get(ckpt, "commits"))
    Files.write(Paths.get(ckpt, "commits", "0"), "v1\n{}".getBytes("UTF-8"))
    Files.write(Paths.get(ckpt, "commits", "1"), "v1\n{}".getBytes("UTF-8"))
    val storeDir = new Path(s"$ckpt/state/0/0")
    val mgr = new SnapshotManager(storeDir, new Configuration())
    mgr.ensureBaseDir()
    // local "RocksDB dir": one immutable SST + a mutable manifest file
    val local = graft.Staging.tempDir("graft-fsck-db-").toFile
    Files.write(local.toPath.resolve("000007.sst"), ("sst-bytes-" * 100).getBytes("UTF-8"))
    Files.write(local.toPath.resolve("MANIFEST-000001"), "manifest".getBytes("UTF-8"))
    mgr.upload(local, 1)
    // changelog for version 2 (v1 format: headerless)
    val deltaLocal = Files.createTempFile(
      graft.Staging.tempDir("graft-fsck-tmp-"), "graft-fsck-delta-", ".tmp").toFile
    val w = new Changelog.Writer(deltaLocal)
    w.put("default", Array[Byte](1, 2, 3), Array[Byte](4, 5))
    w.put("default", Array[Byte](9), Array[Byte](8, 7, 6))
    w.remove("default", Array[Byte](1, 2, 3))
    w.close()
    mgr.uploadDelta(deltaLocal, 2)
    (ckpt, storeDir, mgr)
  }

  test("synthesized v1 checkpoint: snapshot + delta chain verifies clean") {
    val (ckpt, _, _) = synthCheckpoint()
    val rows = reportRows(StateFsck.run(spark, ckpt))
    assert(rows.size === 1)
    val r = rows.head
    assert(clean(r), r.toString)
    assert(r.getAs[Long]("requiredVersion") === 2L)
    assert(r.getAs[Int]("chainLength") === 1)
    assert(r.getAs[Int]("snapshots") === 1 && r.getAs[Int]("deltas") === 1)
  }

  test("fan-out: >64 stores run as one task per store (no 64-slice cap)") {
    // 70 minimal stores: one full snapshot each, no pool, no deltas
    val ckpt = graft.Staging.tempDir("graft-fsck-fanout-").toString
    Files.createDirectories(Paths.get(ckpt, "commits"))
    Files.write(Paths.get(ckpt, "commits", "0"), "v1\n{}".getBytes("UTF-8"))
    (0 until 70).foreach { p =>
      val mgr = new SnapshotManager(new Path(s"$ckpt/state/0/$p"), new Configuration())
      mgr.ensureBaseDir()
      val local = graft.Staging.tempDir("graft-fsck-fanout-db-").toFile
      Files.write(local.toPath.resolve("MANIFEST-000001"), s"m$p".getBytes("UTF-8"))
      mgr.upload(local, 1)
    }
    val taskCounts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        taskCounts.add(s.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = reportRows(StateFsck.run(spark, ckpt))
      assert(rows.size === 70)
      rows.foreach(r => assert(clean(r), r.toString))
      // listener events are async: poll for the fan-out stage
      def await(n: Int, what: String): Unit = {
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!taskCounts.contains(n) && System.nanoTime() < deadline) Thread.sleep(50)
        assert(taskCounts.contains(n), s"expected a $n-task $what stage, saw $taskCounts")
      }
      await(70, "one-task-per-store fsck")
      // an explicit cap really caps: the capped run's stage has 8 tasks
      val capped = reportRows(StateFsck.run(spark, ckpt, parallelism = 8))
      assert(capped.size === 70)
      await(8, "capped fsck")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a vanished pool SST is reported as a missing ref") {
    val (ckpt, storeDir, _) = synthCheckpoint()
    val pool = Paths.get(storeDir.toString, "sst")
    val sst = Files.list(pool).filter(_.toString.endsWith(".sst")).iterator().next()
    Files.delete(sst)
    val r = reportRows(StateFsck.run(spark, ckpt)).head
    assert(!clean(r))
    assert(r.getAs[Int]("missingPoolRefs") === 1, r.toString)
    assert(r.getAs[Boolean]("covered"), "coverage is about file presence, not pool integrity")
  }

  test("a pool SST with the wrong byte length is reported") {
    val (ckpt, storeDir, _) = synthCheckpoint()
    val pool = Paths.get(storeDir.toString, "sst")
    val sst = Files.list(pool).filter(_.toString.endsWith(".sst")).iterator().next()
    // the .crc sidecar would flag the rewrite first; remove it so the check
    // exercised is fsck's own length-vs-name comparison
    Files.deleteIfExists(pool.resolve("." + sst.getFileName.toString + ".crc"))
    Files.write(sst, "short".getBytes("UTF-8"))
    val r = reportRows(StateFsck.run(spark, ckpt)).head
    assert(!clean(r))
    assert(r.getAs[Int]("badPoolSizes") === 1, r.toString)
  }

  test("a deleted required changelog makes the store uncovered") {
    val (ckpt, storeDir, _) = synthCheckpoint()
    Files.delete(Paths.get(storeDir.toString, "state.delta.2"))
    val r = reportRows(StateFsck.run(spark, ckpt)).head
    assert(!r.getAs[Boolean]("covered"), r.toString)
    assert(r.getAs[String]("issues").contains("unrecoverable"))
  }

  test("a truncated changelog on the chain is a delta error") {
    val (ckpt, storeDir, _) = synthCheckpoint()
    val delta = Paths.get(storeDir.toString, "state.delta.2")
    val bytes = Files.readAllBytes(delta)
    Files.write(delta, bytes.dropRight(6), StandardOpenOption.TRUNCATE_EXISTING)
    val r = reportRows(StateFsck.run(spark, ckpt)).head
    assert(!clean(r))
    assert(r.getAs[Int]("deltaErrors") === 1, r.toString)
  }

  test("an unreferenced pool SST is reported as orphan bytes, not an error") {
    val (ckpt, storeDir, _) = synthCheckpoint()
    val pool = Paths.get(storeDir.toString, "sst")
    Files.write(pool.resolve("deadbeef00000000deadbeef00000000-64.sst"),
      new Array[Byte](64))
    val r = reportRows(StateFsck.run(spark, ckpt)).head
    assert(clean(r), "orphans are GC debt, not corruption — the store stays clean")
    assert(r.getAs[Int]("orphanPoolFiles") === 1, r.toString)
    assert(r.getAs[Long]("orphanPoolBytes") === 64L, r.toString)
  }

  test("deep mode re-hashes pool SSTs: same-length bitrot caught only by --deep") {
    val (ckpt, storeDir, _) = synthCheckpoint()
    val pool = Paths.get(storeDir.toString, "sst")
    val sst = Files.list(pool).filter(_.toString.endsWith(".sst")).iterator().next()
    Files.deleteIfExists(pool.resolve("." + sst.getFileName.toString + ".crc"))
    val bytes = Files.readAllBytes(sst)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x55).toByte // same length
    Files.write(sst, bytes, StandardOpenOption.TRUNCATE_EXISTING)
    assert(clean(reportRows(StateFsck.run(spark, ckpt)).head),
      "metadata-only fsck cannot see same-length bitrot")
    val rDeep = reportRows(StateFsck.run(spark, ckpt, deep = true)).head
    assert(!clean(rDeep))
    assert(rDeep.getAs[Int]("badPoolSizes") === 1, rDeep.toString)
    assert(rDeep.getAs[String]("issues").contains("pool ref corrupt"))
  }

  /** v2 (checkpoint IDs): snapshot and delta names carry commit ids; the
    * recovery walk follows each delta's lineage header, not version
    * arithmetic. */
  private def synthV2Checkpoint(): (String, Path, SnapshotManager) = {
    val ckpt = graft.Staging.tempDir("graft-fsck-v2-").toString
    Files.createDirectories(Paths.get(ckpt, "commits"))
    Files.write(Paths.get(ckpt, "commits", "0"), "v1\n{}".getBytes("UTF-8"))
    Files.write(Paths.get(ckpt, "commits", "1"), "v1\n{}".getBytes("UTF-8"))
    val storeDir = new Path(s"$ckpt/state/0/0")
    val mgr = new SnapshotManager(storeDir, new Configuration())
    mgr.ensureBaseDir()
    val local = graft.Staging.tempDir("graft-fsck-v2db-").toFile
    Files.write(local.toPath.resolve("000009.sst"), ("v2-sst-" * 64).getBytes("UTF-8"))
    Files.write(local.toPath.resolve("CURRENT"), "MANIFEST-000001".getBytes("UTF-8"))
    mgr.upload(local, 1, Some("aaa111"))
    val deltaLocal = Files.createTempFile(
      graft.Staging.tempDir("graft-fsck-tmp-"), "graft-fsck-v2delta-", ".tmp").toFile
    val w = new Changelog.Writer(deltaLocal, lineage = Some("aaa111"))
    w.put("default", Array[Byte](1), Array[Byte](2))
    w.close()
    mgr.uploadDelta(deltaLocal, 2, Some("bbb222"))
    (ckpt, storeDir, mgr)
  }

  test("v2 checkpoint: the lineage walk covers snapshot+delta and breaks loudly") {
    val (ckpt, storeDir, _) = synthV2Checkpoint()
    val r = reportRows(StateFsck.run(spark, ckpt)).head
    assert(clean(r), r.toString)
    assert(r.getAs[Int]("chainLength") === 1)
    // remove the base snapshot the walk lands on -> uncovered
    Files.delete(Paths.get(storeDir.toString, "state.snapshot.1_aaa111"))
    val r2 = reportRows(StateFsck.run(spark, ckpt)).head
    assert(!r2.getAs[Boolean]("covered"), r2.toString)
    assert(r2.getAs[String]("issues").contains("lineage walk"))
  }

  test("fsck's covered+clean agrees with provider recovery under seeded damage (v1 and v2)") {
    import StateStoreTestHelper._
    val top = 5L
    val expected = (1 to top.toInt).map(i => s"k$i" -> i).toMap + ("a" -> top.toInt)
    def versionsOf(dir: java.nio.file.Path, prefix: String): Set[Long] = {
      val names = Files.list(dir).iterator()
      var out = Set.empty[Long]
      while (names.hasNext) {
        val n = names.next().getFileName.toString
        if (n.startsWith(prefix)) out += n.stripPrefix(prefix).takeWhile(_.isDigit).toLong
      }
      out
    }
    /** Versions 1..5 committed through the real provider with maintenance
      * after each commit: a cadence snapshot lands at 3 and cleanup drops
      * the deltas under it, so version 5 recovers from snapshot 3 plus
      * deltas 4 and 5 and from nothing else. Returns the checkpoint root,
      * the store dir and version 5's commit ID (v2). */
    def build(conf: org.apache.spark.sql.execution.streaming.state.StateStoreConf)
        : (String, java.nio.file.Path, Option[String]) = {
      val root = graft.Staging.tempDir("graft-fsck-agree-").toString
      Files.createDirectories(Paths.get(root, "commits"))
      (0L until top).foreach { b =>
        Files.write(Paths.get(root, "commits", b.toString), "v1\n{}".getBytes("UTF-8"))
      }
      val p = newProvider(s"$root/state", conf)
      var id: Option[String] = None
      try (1 to top.toInt).foreach { v =>
        val s = p.getStore(v - 1, id)
        put(s, "a", v)
        put(s, s"k$v", v)
        s.commit()
        id = s.getStateStoreCheckpointInfo().stateStoreCkptId
        p.doMaintenance()
      } finally p.close()
      val dir = Paths.get(root, "state", "0", "0")
      assert(versionsOf(dir, "state.snapshot.") === Set(3L) &&
        versionsOf(dir, "state.delta.") === Set(4L, 5L), "fixture: snapshot 3 + deltas 4, 5")
      (root, dir, id)
    }
    /** A seeded choice among the files of `dir` whose name `wanted` accepts. */
    def pick(dir: java.nio.file.Path, rnd: scala.util.Random)(wanted: String => Boolean): java.nio.file.Path = {
      val all = Files.list(dir).iterator()
      var found = Vector.empty[java.nio.file.Path]
      while (all.hasNext) {
        val f = all.next()
        if (wanted(f.getFileName.toString)) found :+= f
      }
      assert(found.nonEmpty, s"fixture has no such file in $dir")
      found.sortBy(_.toString)(Ordering.String)(rnd.nextInt(found.size))
    }
    type Damage = (java.nio.file.Path, scala.util.Random) => Unit
    def damages(v2: Boolean): Seq[(String, Damage)] = Seq[(String, Damage)](
      "none" -> ((_, _) => ()),
      "delete a chain delta" -> ((dir, rnd) => Files.delete(pick(dir, rnd)(_.startsWith("state.delta.")))),
      "corrupt the base zip" -> { (dir, rnd) =>
        val zip = pick(dir, rnd)(_.startsWith("state.snapshot."))
        val bytes = Files.readAllBytes(zip)
        val i = rnd.nextInt(bytes.length)
        bytes(i) = (bytes(i) ^ 0x5a).toByte
        Files.write(zip, bytes, StandardOpenOption.TRUNCATE_EXISTING)
      },
      // the only snapshot references every pool file
      "delete a referenced pool SST" ->
        ((dir, rnd) => Files.delete(pick(dir.resolve("sst"), rnd)(!_.startsWith("."))))
    ) ++ (if (!v2) Nil else Seq[(String, Damage)](
      "corrupt a lineage header" -> { (dir, rnd) =>
        val delta = pick(dir, rnd)(_.startsWith("state.delta."))
        val bytes = Files.readAllBytes(delta)
        // [magic: 4B][parent id length: 2B][parent id]: change one character
        val i = 6 + rnd.nextInt(((bytes(4) & 0xff) << 8) | (bytes(5) & 0xff))
        bytes(i) = (if (bytes(i) == 'f'.toByte) '0' else 'f').toByte
        Files.write(delta, bytes, StandardOpenOption.TRUNCATE_EXISTING)
        // the header, not the checksum, is what this damage breaks
        Files.delete(delta.resolveSibling("." + delta.getFileName + ".crc"))
      }))

    for {
      v2 <- Seq(false, true)
      (what, damage) <- damages(v2)
      seed <- if (what == "none") Seq(1) else Seq(1, 2)
    } {
      val conf = storeConf(Map(
        org.apache.spark.sql.internal.SQLConf.STATE_STORE_MIN_DELTAS_FOR_SNAPSHOT.key -> "3",
        "spark.sql.streaming.stateStore.checkpointFormatVersion" -> (if (v2) "2" else "1")),
        minBatchesToRetain = 2)
      val (root, dir, id) = build(conf)
      damage(dir, new scala.util.Random(seed))
      val fsckOk = clean(reportRows(StateFsck.run(spark, root)).head)
      // v1 falls back to an older version (other rows), v2 throws
      val p = newProvider(s"$root/state", conf)
      val (recovered, downloads) =
        try (scala.util.Try {
          val s = p.getStore(top, id)
          try readAll(s) finally s.abort()
        }.toOption.contains(expected), p.snapshots.downloads.get())
        finally p.close()
      val label = s"${if (v2) "v2" else "v1"}, $what, seed $seed"
      assert(fsckOk === recovered, s"$label: fsck clean=$fsckOk, provider recovered=$recovered")
      assert(recovered === (what == "none"), s"$label: recovered=$recovered")
      // v1's fallback tries versions 5, 4 and 3, all over base 3: a base
      // that failed once is not downloaded again
      if (!v2) assert(downloads === 1L, s"$label: snapshot downloads")
    }
  }

  test("StateCompact squashes the delta chain: fsck chainLength drops to 0, resume equality holds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val df = input.toDF().toDF("k", "v")
      .dropDuplicates("k", "v")
      .groupBy($"k").agg(org.apache.spark.sql.functions.sum($"v").as("total"))
    val oldCkpt = graft.Staging.tempDir("graft-compact-ckpt-").toString
    def runBatch(name: String, ckpt: String): Unit = {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete()).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    input.addData(("a", 1), ("b", 2))
    runBatch("compact_p1", oldCkpt)
    input.addData(("a", 3), ("c", 4))
    runBatch("compact_p2", oldCkpt)

    // changelog checkpointing (default on) leaves a delta chain to replay
    val before = reportRows(StateFsck.run(spark, oldCkpt))
    assert(before.forall(clean), before.mkString("\n"))
    assert(before.exists(_.getAs[Int]("chainLength") > 0),
      "fixture must actually have a delta chain to squash")

    val newCkpt = graft.Staging.tempDir("graft-compact-out-").toString + "/moved"
    val summary = StateCompact.run(spark, oldCkpt, newCkpt).collect()
    assert(summary.nonEmpty)
    assert(summary.forall(_.getAs[Long]("version") === 2L))
    assert(summary.forall(_.getAs[Int]("newPartitions") === 2),
      "compaction keeps the partition count")

    val after = reportRows(StateFsck.run(spark, newCkpt))
    assert(after.forall(clean), after.mkString("\n"))
    assert(after.forall(_.getAs[Int]("chainLength") === 0),
      s"every store must recover from one full snapshot: $after")
    assert(after.forall(_.getAs[Int]("deltas") === 0))

    // resumed answer equals the uninterrupted run
    input.addData(("a", 4), ("d", 9))
    runBatch("compact_resumed", newCkpt)
    val got = spark.table("compact_resumed")
      .as[(String, Long)].collect().toSet
    assert(got === Set(("a", 8L), ("b", 2L), ("c", 4L), ("d", 9L)))
  }

  test("Changelog.read: EOF mid-record is loud, EOF at a boundary is clean") {
    val f = Files.createTempFile(
      graft.Staging.tempDir("graft-fsck-tmp-"), "graft-fsck-chlog-", ".delta").toFile
    val w = new Changelog.Writer(f)
    w.put("default", Array[Byte](1, 2), Array[Byte](3, 4, 5))
    w.put("default", Array[Byte](6), Array[Byte](7))
    w.close()
    // close and abort both free the writer's native zlib state (an ended
    // Deflater rejects every further call)
    intercept[NullPointerException](w.deflater.getTotalIn)
    val aborted = new Changelog.Writer(Files.createTempFile(
      graft.Staging.tempDir("graft-fsck-tmp-"), "graft-fsck-chlog-", ".delta").toFile)
    aborted.put("default", Array[Byte](1), Array[Byte](2))
    aborted.abortAndDelete()
    intercept[NullPointerException](aborted.deflater.getTotalIn)
    assert(!aborted.file.exists())
    // clean read: two records, iterator ends quietly
    assert(Changelog.readFile(f).size === 2)
    // truncate mid-record: the DEFLATE stream still inflates a prefix, and
    // the record framing must now fail LOUDLY instead of reporting EOF
    val bytes = Files.readAllBytes(f.toPath)
    val cut = f.toPath.resolveSibling(f.getName + ".cut")
    Files.write(cut, bytes.dropRight(4))
    val thrown = intercept[Exception] {
      val it = Changelog.read(new java.io.FileInputStream(cut.toFile))
      while (it.hasNext) it.next()
    }
    assert(thrown.getMessage != null)
  }

  test("a corrupted snapshot zip is a zip error") {
    val (ckpt, storeDir, _) = synthCheckpoint()
    val snap = Paths.get(storeDir.toString, "state.snapshot.1")
    val bytes = Files.readAllBytes(snap)
    // flip bytes inside the zip body (past the local header) to break a CRC
    val mid = bytes.length / 2
    bytes(mid) = (bytes(mid) ^ 0xFF).toByte
    bytes(mid + 1) = (bytes(mid + 1) ^ 0xFF).toByte
    Files.write(snap, bytes, StandardOpenOption.TRUNCATE_EXISTING)
    val r = reportRows(StateFsck.run(spark, ckpt)).head
    assert(!clean(r))
    assert(r.getAs[Int]("zipErrors") >= 1, r.toString)
  }
}
