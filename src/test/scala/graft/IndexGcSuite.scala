package graft

import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.{Dedup, IndexGc, Similarity}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.operators.IndexGc]]: reclaim exactly the unambiguous debris —
  * aged `.tmp-*` staging dirs and marker-less crashed publishes — and
  * nothing else. Complete layouts (including superseded generations),
  * foreign dirs, and debris inside the quiesce window must survive both
  * the dry run and `--apply`. */
class IndexGcSuite extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _
  private var root: String = _

  private def age(p: Path, ms: Long): Unit =
    Files.walk(p).iterator().asScala.toSeq.foreach(f =>
      Files.setLastModifiedTime(f, FileTime.fromMillis(System.currentTimeMillis() - ms)))

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      .appName("indexgc")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    root = graft.Staging.tempDir("graft-gc-root-").toString
    val s2 = spark.newSession()
    s2.conf.set(Similarity.IndexRootConf, root)
    Dedup.pipe_dedup_incremental_lsh(s2, sfDir).collect() // one complete layout
    // aged crashed-build staging dir
    val oldTmp = Paths.get(root, "lsh-sigs-dead.tmp-ab12cd34")
    Files.createDirectories(oldTmp.resolve("sigs"))
    Files.writeString(oldTmp.resolve("sigs/part-0.parquet"), "junk")
    age(oldTmp, 10 * 60 * 1000)
    // fresh staging dir — possibly another JVM mid-build
    val freshTmp = Paths.get(root, "lsh-sigs-live.tmp-ef56ab78")
    Files.createDirectories(freshTmp.resolve("sigs"))
    Files.writeString(freshTmp.resolve("sigs/part-0.parquet"), "junk")
    // aged marker-less layout: a crashed publish blocking its slug
    val stale = Paths.get(root, "lsh-sigs-stale")
    Files.createDirectories(stale.resolve("sigs"))
    Files.writeString(stale.resolve("sigs/part-0.parquet"), "junk")
    age(stale, 10 * 60 * 1000)
    // foreign dir: no known table — never touched, aged or not
    val foreign = Paths.get(root, "operator-notes")
    Files.createDirectories(foreign)
    Files.writeString(foreign.resolve("README"), "keep")
    age(foreign, 10 * 60 * 1000)
  }

  override def afterAll(): Unit = spark.stop()

  private val enc = org.apache.spark.sql.Encoders.product[IndexGc.GcEntry]

  private def report(apply: Boolean): Map[String, IndexGc.GcEntry] =
    IndexGc.run(spark, root, apply = apply).as(enc).collect()
      .map(e => e.layout -> e).toMap

  test("dry run labels debris without deleting; complete and foreign dirs unreported") {
    val rs = report(apply = false)
    assert(rs("lsh-sigs-dead.tmp-ab12cd34").kind === "build-tmp")
    assert(rs("lsh-sigs-dead.tmp-ab12cd34").action === "would-delete")
    assert(rs("lsh-sigs-stale").kind === "stale-partial")
    assert(rs("lsh-sigs-stale").action === "would-delete")
    assert(rs("lsh-sigs-live.tmp-ef56ab78").action === "skipped-fresh",
      "a staging dir inside the quiesce window may be a live build")
    assert(!rs.contains("operator-notes"), "foreign dirs are fsck's to report, not gc's")
    assert(!rs.keys.exists(_.startsWith(s"lsh-sigs-${Similarity.corpusSlug(sfDir)}")),
      "a complete layout is never debris")
    // dry run: everything still on disk
    assert(Files.exists(Paths.get(root, "lsh-sigs-dead.tmp-ab12cd34")))
    assert(Files.exists(Paths.get(root, "lsh-sigs-stale")))
  }

  test("--apply deletes aged debris only; fresh, complete and foreign dirs survive") {
    val rs = report(apply = true)
    assert(rs("lsh-sigs-dead.tmp-ab12cd34").action === "deleted")
    assert(rs("lsh-sigs-stale").action === "deleted")
    assert(!Files.exists(Paths.get(root, "lsh-sigs-dead.tmp-ab12cd34")))
    assert(!Files.exists(Paths.get(root, "lsh-sigs-stale")))
    assert(Files.exists(Paths.get(root, "lsh-sigs-live.tmp-ef56ab78")),
      "the fresh staging dir must survive --apply")
    assert(Files.exists(Paths.get(root, "operator-notes")))
    assert(Files.exists(
      Paths.get(root, s"lsh-sigs-${Similarity.corpusSlug(sfDir)}", "sigs", "_SUCCESS")),
      "the complete layout must survive --apply")
  }

  test("gc unblocks a crashed publish of the REAL slug: refuse, sweep, republish") {
    // a marker-less layout at the slug publishLayout would target blocks
    // every rebuild ("remove it and retrain") — gc is the removal tool,
    // so the full cycle must work end-to-end on a FRESH root
    val root2 = graft.Staging.tempDir("graft-gc-root2-").toString
    val slug = Similarity.corpusSlug(sfDir)
    val stale = Paths.get(root2, s"lsh-sigs-$slug")
    Files.createDirectories(stale.resolve("sigs"))
    Files.writeString(stale.resolve("sigs/part-0.parquet"), "junk")
    age(stale, 10 * 60 * 1000)
    val s2 = spark.newSession()
    s2.conf.set(Similarity.IndexRootConf, root2)
    val e = intercept[IllegalArgumentException] {
      Dedup.pipe_dedup_incremental_lsh(s2, sfDir).collect()
    }
    assert(e.getMessage.contains("incomplete"), s"wrong refusal: ${e.getMessage}")
    val rs = IndexGc.run(spark, root2, apply = true).as(enc).collect()
      .map(x => x.layout -> x).toMap
    assert(rs(s"lsh-sigs-$slug").action === "deleted")
    val s3 = spark.newSession()
    s3.conf.set(Similarity.IndexRootConf, root2)
    assert(Dedup.pipe_dedup_incremental_lsh(s3, sfDir).collect().nonEmpty,
      "the swept slug must publish cleanly")
    assert(Files.exists(Paths.get(root2, s"lsh-sigs-$slug", "sigs", "_SUCCESS")))
  }
}
