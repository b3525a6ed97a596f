package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import graft.operators.{Dedup, IndexFsck, Similarity, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.operators.IndexFsck]] against a real index root with synthesized
  * damage classes, mirroring `StateFsckSuite`: a healthy root verifies
  * clean across every layout family; each damage class (missing table,
  * unreadable parquet, crashed publish, key drift, dangling quantizer
  * refs, foreign directory) fails EXACTLY its layout with the right
  * counters; orphan build-tmp dirs report informationally; and the
  * nonzero-exit predicate matches the per-row `clean` flag. */
class IndexFsckSuite extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _
  private var root: String = _
  private var slug: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      .appName("indexfsck")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one healthy root with every layout family, shared by the tests
    root = graft.Staging.tempDir("graft-fsck-root-").toString
    slug = Similarity.corpusSlug(sfDir)
    val s2 = spark.newSession()
    s2.conf.set(Similarity.IndexRootConf, root)
    Similarity.sim_index_merge(s2, sfDir).collect() // base + 2 shards + merged
    Dedup.pipe_dedup_incremental_lsh(s2, sfDir).collect() // lsh-sigs
    Dedup.pipe_lsh_fold(s2, sfDir).collect() // + lsh-delta + lsh-fold
    Dedup.pipe_lsh_delete(s2, sfDir).collect() // + lsh-compact
    operators.Pipeline.pipe_dedup_incremental(s2, sfDir).collect() // fp-reps
    TextAnalysis.text_bpe_persist(s2, sfDir).collect() // bpe-merges
  }

  override def afterAll(): Unit = spark.stop()

  private val lrEnc = org.apache.spark.sql.Encoders.product[IndexFsck.LayoutReport]

  private def reports(r: String = root): Map[String, IndexFsck.LayoutReport] =
    IndexFsck.run(spark, r).as(lrEnc).collect()
      .map(lr => lr.layout -> lr).toMap

  /** Copy one layout into a fresh root (damage sandbox). */
  private def sandbox(layouts: String*): String = {
    val r = graft.Staging.tempDir("graft-fsck-dmg-").toString
    layouts.foreach { l =>
      val src = Paths.get(root, l)
      Files.walk(src).iterator().asScala.foreach { p =>
        val dst = Paths.get(r, l).resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else Files.copy(p, dst)
      }
    }
    r
  }

  private def rmTree(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.delete)

  test("healthy root: every layout family verifies clean") {
    val rs = reports()
    val expect = Map(
      s"ivfpq-$slug" -> "ivfpq",
      s"ivfpq-$slug-shard0" -> "ivfpq-shard",
      s"ivfpq-$slug-shard1" -> "ivfpq-shard",
      s"ivfpq-$slug-merged" -> "ivfpq",
      s"lsh-sigs-$slug" -> "lsh-sigs",
      // the lifecycle generations publish the same sigs-table shape, so
      // fsck classifies and verifies them with no special-casing
      s"lsh-delta-$slug" -> "lsh-sigs",
      s"lsh-fold-$slug" -> "lsh-sigs",
      s"lsh-compact-$slug" -> "lsh-sigs",
      s"fp-reps-$slug" -> "fp-reps",
      s"bpe-merges-$slug" -> "bpe-merges")
    expect.foreach { case (l, fam) =>
      val lr = rs.getOrElse(l, fail(s"no report row for $l"))
      assert(lr.family === fam)
      assert(lr.clean, s"$l not clean: ${lr.issues}")
    }
    assert(rs.values.forall(_.clean))
  }

  test("a deleted table directory is a missing table") {
    val r = sandbox(s"ivfpq-$slug-merged")
    rmTree(Paths.get(r, s"ivfpq-$slug-merged", "cells"))
    val lr = reports(r)(s"ivfpq-$slug-merged")
    assert(lr.missingTables === 1 && !lr.clean)
    assert(lr.issues.contains("cells missing"))
  }

  test("a truncated parquet part file is an unreadable table") {
    val r = sandbox(s"ivfpq-$slug-merged")
    val cells = Paths.get(r, s"ivfpq-$slug-merged", "cells")
    val part = Files.list(cells).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.write(part, Array.fill[Byte](7)(0x5a),
      StandardOpenOption.TRUNCATE_EXISTING)
    val lr = reports(r)(s"ivfpq-$slug-merged")
    assert(lr.unreadableTables === 1 && !lr.clean)
    assert(lr.issues.contains("cells unreadable"))
  }

  test("a missing publish marker is a crashed publish") {
    val r = sandbox(s"ivfpq-$slug-merged")
    Files.delete(Paths.get(r, s"ivfpq-$slug-merged", "codes", "_SUCCESS"))
    val lr = reports(r)(s"ivfpq-$slug-merged")
    assert(!lr.complete && !lr.clean)
    assert(lr.issues.contains("publish marker"))
  }

  test("cells/codes key drift and dangling quantizer refs are counted") {
    val r = sandbox(s"ivfpq-$slug-merged")
    val lay = s"$r/ivfpq-$slug-merged"
    // drop some vectors from codes only -> key mismatch; point one cells
    // row at a cell the centroids table does not define -> dangling ref.
    // Materialize each rewrite to a side dir BEFORE deleting the original
    // (the read is lazy; writing after rmTree would read deleted files).
    def rewrite(table: String)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val side = Files.createTempDirectory(s"fsck-$table-")
      Files.delete(side)
      f(spark.read.parquet(s"$lay/$table")).write.parquet(side.toString)
      rmTree(Paths.get(lay, table))
      Files.move(side, Paths.get(lay, table))
    }
    rewrite("codes")(_.filter(col("vec_id") % 10 =!= 0))
    rewrite("cells")(_.withColumn("cell",
      org.apache.spark.sql.functions.when(col("vec_id") === 1, 999999).otherwise(col("cell"))))
    val lr = reports(r)(s"ivfpq-$slug-merged")
    assert(lr.keyMismatches > 0, "dropped vec_ids must surface as key mismatches")
    assert(lr.danglingRefs > 0, "the bogus cell must surface as a dangling ref")
    assert(!lr.clean)
  }

  test("an orphan .tmp- build dir reports informationally and stays clean") {
    val r = sandbox(s"bpe-merges-$slug")
    val tmp = Paths.get(r, s"ivfpq-$slug.tmp-deadbeef")
    Files.createDirectories(tmp)
    Files.write(tmp.resolve("junk"), Array.fill[Byte](123)(1))
    val rs = reports(r)
    val lr = rs(s"ivfpq-$slug.tmp-deadbeef")
    assert(lr.family === "build-tmp" && lr.clean && lr.orphanBytes >= 123L)
    assert(rs(s"bpe-merges-$slug").clean)
  }

  test("a full layout with its centroids deleted is NOT a healthy shard") {
    val r = sandbox(s"ivfpq-$slug-merged")
    rmTree(Paths.get(r, s"ivfpq-$slug-merged", "centroids"))
    val lr = reports(r)(s"ivfpq-$slug-merged")
    assert(lr.family === "ivfpq",
      "the surviving codebook marks this a damaged FULL layout, not a shard")
    assert(lr.missingTables === 1 && !lr.clean)
  }

  test("uniform subspace truncation is caught against the codebook's count") {
    val r = sandbox(s"ivfpq-$slug")
    val p = Paths.get(r, s"ivfpq-$slug", "codes")
    val codes = spark.read.parquet(p.toString).cache()
    val mMax = codes.agg(org.apache.spark.sql.functions.max("m"))
      .collect()(0).getInt(0)
    assert(mMax >= 1, "fixture must have at least two subspaces")
    // drop the LAST subspace's rows for EVERY vector: cross-vector
    // agreement still holds, only the codebook knows the true count
    val cut = codes.filter(col("m") < mMax)
    val tmp2 = graft.Staging.tempDir("graft-fsck-cut-")
    cut.write.parquet(s"$tmp2/codes")
    codes.unpersist()
    rmTree(p)
    Files.walk(Paths.get(s"$tmp2/codes")).iterator().asScala.toSeq.foreach { f =>
      val dst = p.resolve(Paths.get(s"$tmp2/codes").relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else { Files.createDirectories(dst.getParent); Files.copy(f, dst) }
    }
    val lr = reports(r)(s"ivfpq-$slug")
    assert(lr.arityErrors > 0 && !lr.clean,
      s"uniform truncation must fail arity vs the codebook: ${lr.issues}")
  }

  test("a stale string-typed signature table is flagged, never passed as clean") {
    val r = graft.Staging.tempDir("graft-fsck-stalefmt-").toString
    val s = spark
    import s.implicits._
    Seq((1L, Seq("a b"), Seq(1L))).toDF("doc_id", "sh", "sig")
      .write.parquet(s"$r/lsh-sigs-old/sigs")
    val lr = reports(r)("lsh-sigs-old")
    assert(!lr.clean && lr.issues.contains("stale pre-hash-compaction"),
      s"stale format must be an integrity finding: ${lr.issues}")
  }

  test("a wrong-schema table costs its own report row, never the whole run") {
    val r = graft.Staging.tempDir("graft-fsck-alien-").toString
    val s = spark
    import s.implicits._
    // parses as parquet, carries a foreign schema (no doc_id/sh/sig) —
    // the column reference must not abort fsck of the rest of the root
    Seq(("x", 1)).toDF("alien", "n").write.parquet(s"$r/lsh-sigs-weird/sigs")
    Seq((1L, Seq(2L), Seq(3L))).toDF("doc_id", "sh", "sig")
      .write.parquet(s"$r/lsh-sigs-good/sigs")
    val rs = reports(r)
    assert(!rs("lsh-sigs-weird").clean)
    assert(rs("lsh-sigs-good").clean, s"healthy sibling: ${rs("lsh-sigs-good").issues}")
  }

  test("a foreign directory in the root is an unrecognized layout") {
    val r = sandbox(s"bpe-merges-$slug")
    Files.createDirectories(Paths.get(r, "not-an-index"))
    val lr = reports(r)("not-an-index")
    assert(lr.family === "unknown" && !lr.clean)
  }

  test("exit-contract predicate agrees with the per-row clean flag") {
    val r = sandbox(s"ivfpq-$slug-merged", s"bpe-merges-$slug")
    Files.delete(Paths.get(r, s"ivfpq-$slug-merged", "codes", "_SUCCESS"))
    Files.createDirectories(Paths.get(r, s"x.tmp-12ab34cd"))
    val df = IndexFsck.run(spark, r)
    val badByMain = df.filter(col("family") =!= "build-tmp" &&
      !(col("family") =!= "unknown" && col("complete") &&
        col("missingTables") === 0 && col("unreadableTables") === 0 &&
        col("keyMismatches") === 0 && col("arityErrors") === 0 &&
        col("danglingRefs") === 0)).count()
    val badByFlag = df.as(lrEnc).collect().count(!_.clean)
    assert(badByMain === badByFlag && badByMain === 1L)
  }
}
