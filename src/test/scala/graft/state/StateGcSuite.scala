package graft.state

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[StateGc]]: orphaned pool SSTs are reported (dry-run) and reclaimed
  * (`apply`), referenced files are NEVER touched, and an unreadable
  * snapshot zip makes the store skip — never sweep on a guess. */
class StateGcSuite extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-state-gc")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config(CheckpointGuard.QuiesceConf, "0") // suites stop their own queries
    .getOrCreate()

  override def beforeAll(): Unit = { spark; () }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** One store with an incremental snapshot (one referenced pool SST) plus
    * one orphan planted straight into the pool. Returns (ckpt, storeDir,
    * referencedName, orphanName). */
  private def synth(): (String, Path, String, String) = {
    val ckpt = graft.Staging.tempDir("graft-gc-synth-").toString
    Files.createDirectories(Paths.get(ckpt, "commits"))
    Files.write(Paths.get(ckpt, "commits", "0"), "v1\n{}".getBytes("UTF-8"))
    val storeDir = new Path(s"$ckpt/state/0/0")
    val mgr = new SnapshotManager(storeDir, new Configuration())
    mgr.ensureBaseDir()
    val local = graft.Staging.tempDir("graft-gc-db-").toFile
    Files.write(local.toPath.resolve("000007.sst"), ("sst-bytes-" * 100).getBytes("UTF-8"))
    Files.write(local.toPath.resolve("MANIFEST-000001"), "manifest".getBytes("UTF-8"))
    mgr.upload(local, 1)
    val pool = Paths.get(storeDir.toString, "sst")
    val referenced = Files.list(pool).iterator().next().getFileName.toString
    val orphanName = "ffffffffffffffffffffffffffffffff-11.sst"
    Files.write(pool.resolve(orphanName), "orphan-11-b".getBytes("UTF-8"))
    (ckpt, storeDir, referenced, orphanName)
  }

  test("dry-run reports the orphan and deletes nothing") {
    val (ckpt, storeDir, referenced, orphan) = synth()
    val rows = StateGc.run(spark, ckpt).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Int]("poolFiles") === 2)
    assert(r.getAs[Int]("referencedFiles") === 1)
    assert(r.getAs[Int]("orphanFiles") === 1)
    assert(r.getAs[Long]("orphanBytes") === 11L)
    assert(r.getAs[Int]("removedFiles") === 0)
    assert(r.getAs[String]("skipped") === "")
    val pool = Paths.get(storeDir.toString, "sst")
    assert(Files.exists(pool.resolve(referenced)))
    assert(Files.exists(pool.resolve(orphan)))
  }

  test("apply removes exactly the orphan; referenced file untouched; fsck goes clean-zero") {
    val (ckpt, storeDir, referenced, orphan) = synth()
    val rows = StateGc.run(spark, ckpt, apply = true).collect()
    val r = rows.head
    assert(r.getAs[Int]("removedFiles") === 1)
    assert(r.getAs[Long]("removedBytes") === 11L)
    val pool = Paths.get(storeDir.toString, "sst")
    assert(Files.exists(pool.resolve(referenced)), "referenced pool file must never be touched")
    assert(!Files.exists(pool.resolve(orphan)))
    // fsck's leak counter is what the sweep zeroes
    val fsck = StateFsck.run(spark, ckpt).collect().head
    assert(fsck.getAs[Int]("orphanPoolFiles") === 0)
    assert(fsck.getAs[Long]("orphanPoolBytes") === 0L)
    assert(fsck.getAs[Boolean]("covered"))
  }

  test("unreadable snapshot zip: store skipped, nothing deleted even under apply") {
    val (ckpt, storeDir, referenced, orphan) = synth()
    // truncate the zip mid-stream: central directory gone
    var zipPath: java.nio.file.Path = null
    Files.list(Paths.get(storeDir.toString)).forEach { p =>
      if (p.getFileName.toString.startsWith("state.snapshot.")) zipPath = p
    }
    val bytes = Files.readAllBytes(zipPath)
    Files.write(zipPath, bytes.take(bytes.length / 3).toArray,
      StandardOpenOption.TRUNCATE_EXISTING)
    val r = StateGc.run(spark, ckpt, apply = true).collect().head
    assert(r.getAs[String]("skipped").contains("unreadable"))
    assert(r.getAs[Int]("removedFiles") === 0)
    val pool = Paths.get(storeDir.toString, "sst")
    assert(Files.exists(pool.resolve(referenced)))
    assert(Files.exists(pool.resolve(orphan)), "skip must leave even true orphans in place")
  }

  test("apply with a failing delete surfaces the failure instead of reporting success") {
    val (ckpt, storeDir, _, orphan) = synth()
    // an undeletable orphan: a non-empty DIRECTORY named *.sst — the
    // non-recursive fs.delete the sweep uses throws on it (tests run as
    // root, so permission tricks can't force the failure)
    val pool = Paths.get(storeDir.toString, "sst")
    val stuck = pool.resolve("eeeeeeeeeeeeeeeeeeeeeeeeeeeeeeee-7.sst")
    Files.createDirectories(stuck)
    Files.write(stuck.resolve("child"), "x".getBytes("UTF-8"))
    val r = StateGc.run(spark, ckpt, apply = true).collect().head
    assert(r.getAs[Int]("orphanFiles") === 2)
    assert(r.getAs[Int]("removedFiles") === 1, "the deletable orphan still goes")
    assert(!Files.exists(pool.resolve(orphan)))
    assert(r.getAs[String]("skipped").contains("delete"),
      "a swallowed delete failure would make cron report success while the leak persists")
    assert(Files.exists(stuck))
  }
}
