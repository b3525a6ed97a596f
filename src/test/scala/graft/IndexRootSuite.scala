package graft

import java.nio.file.{Files, Paths}

import graft.operators.{Similarity, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `spark.graft.index.root`: the persisted IVF×PQ index and the BPE merge
  * table land under a DURABLE configured root (deterministic per-corpus
  * subdirectories, reused when already complete — the cross-JVM
  * train-once path), with results identical to the default
  * staging-memo path. */
class IndexRootSuite extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      .appName("indexroot")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = spark.stop()

  test("persisted IVF×PQ index lands under the configured root; search equals staged path") {
    val root = graft.Staging.tempDir("graft-index-root-").toString
    val s2 = spark.newSession()
    s2.conf.set(Similarity.IndexRootConf, root)
    val durable = Similarity.sim_index_persist(s2, sfDir).collect()
      .map(_.toSeq).toSet
    val layout = Paths.get(root, s"ivfpq-${Similarity.corpusSlug(sfDir)}")
    Seq("centroids", "cells", "codebook", "codes").foreach { t =>
      assert(Files.exists(layout.resolve(t).resolve("_SUCCESS")), s"$t written under the root")
    }
    val staged = Similarity.sim_index_persist(spark, sfDir).collect()
      .map(_.toSeq).toSet
    assert(durable === staged, "durable-root search equals the staging-memo search")
  }

  test("a complete layout under the root is reused, not retrained") {
    val root = graft.Staging.tempDir("graft-index-reuse-").toString
    val p = s"$root/ivfpq-x"
    Similarity.ensureIvfpqLayout(spark, sfDir, p)
    val marker = Paths.get(p, "codes", "_SUCCESS")
    val before = Files.getLastModifiedTime(marker)
    Similarity.ensureIvfpqLayout(spark, sfDir, p)
    assert(Files.getLastModifiedTime(marker) === before,
      "second ensure must not rewrite a complete layout")

    val bp = s"$root/bpe-x"
    TextAnalysis.ensureBpeMerges(spark, sfDir, bp)
    val bMarker = Paths.get(bp, "merges", "_SUCCESS")
    val bBefore = Files.getLastModifiedTime(bMarker)
    TextAnalysis.ensureBpeMerges(spark, sfDir, bp)
    assert(Files.getLastModifiedTime(bMarker) === bBefore)
  }

  test("shard + merged layouts land under the configured root; merged search equals staged path") {
    val root = graft.Staging.tempDir("graft-merge-root-").toString
    val s2 = spark.newSession()
    s2.conf.set(Similarity.IndexRootConf, root)
    val durable = Similarity.sim_index_merge(s2, sfDir).collect()
      .map(_.toSeq).toSet
    val slug = Similarity.corpusSlug(sfDir)
    Seq(s"ivfpq-$slug-shard0", s"ivfpq-$slug-shard1").foreach { sh =>
      Seq("cells", "codes").foreach { t =>
        assert(Files.exists(Paths.get(root, sh, t, "_SUCCESS")),
          s"shard layout $sh/$t written under the root")
      }
    }
    Seq("centroids", "cells", "codebook", "codes").foreach { t =>
      assert(Files.exists(Paths.get(root, s"ivfpq-$slug-merged", t, "_SUCCESS")),
        s"merged layout $t written under the root")
    }
    val staged = Similarity.sim_index_merge(spark, sfDir).collect()
      .map(_.toSeq).toSet
    assert(durable === staged, "durable-root merged search equals the staging-memo search")
  }

  test("merging shards with overlapping vec_ids refuses loudly, before any write") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val root = graft.Staging.tempDir("graft-overlap-root-").toString
    val s2 = spark.newSession()
    s2.conf.set(Similarity.IndexRootConf, root)
    // the shared quantizer + two OVERLAPPING shard layouts: vec_id % 2 == 0
    // and vec_id % 3 == 0 — every multiple of 6 is filed twice
    val base = Similarity.sim_index_persist(s2, sfDir) // ensures the layout
    val slug = Similarity.corpusSlug(sfDir)
    val basePath = s"$root/ivfpq-$slug"
    val dim = Tables.embeddingsDim(s2, sfDir)
    val shardPaths = Seq(2, 3).map { m =>
      val p = s"$root/ivfpq-$slug-ovl$m"
      Similarity.publishLayout(s2, p, "codes/_SUCCESS") { tmp =>
        val filed = Similarity.ivfpqFileFor(
          Tables.embeddings(s2, sfDir).filter(pmod(col("vec_id"), lit(m)) === 0),
          dim,
          s2.read.parquet(s"$basePath/centroids"),
          s2.read.parquet(s"$basePath/codebook"))
        filed.select(col("vec_id"), col("cell")).distinct().write.parquet(s"$tmp/cells")
        filed.select(col("vec_id"), col("m"), col("cid")).write.parquet(s"$tmp/codes")
      }
    }
    val dest = s"$root/ivfpq-$slug-ovl-merged"
    val e = intercept[Similarity.OverlappingShardsException] {
      Similarity.mergeShardLayouts(s2, basePath, shardPaths, dest)
    }
    assert(e.getMessage.contains("0")) // vec_id 0 is in both shards
    assert(!Files.exists(Paths.get(dest)),
      "a refused merge must not leave a partial destination layout")
    base // silence unused warning; persist path asserted by its own test
  }

  test("corpus LSH signature table lands under the root and is reused, not re-signed") {
    val root = graft.Staging.tempDir("graft-lsh-root-").toString
    val s2 = spark.newSession()
    s2.conf.set(Similarity.IndexRootConf, root)
    val first = operators.Dedup.pipe_dedup_incremental_lsh(s2, sfDir).collect()
      .map(_.toSeq).toSet
    val marker = Paths.get(root,
      s"lsh-sigs-${Similarity.corpusSlug(sfDir)}", "sigs", "_SUCCESS")
    assert(Files.exists(marker), "signature table written under the root")
    val before = Files.getLastModifiedTime(marker)
    // a separate session against the same root: the table must be REUSED
    val s3 = spark.newSession()
    s3.conf.set(Similarity.IndexRootConf, root)
    val again = operators.Dedup.pipe_dedup_incremental_lsh(s3, sfDir).collect()
      .map(_.toSeq).toSet
    assert(Files.getLastModifiedTime(marker) === before,
      "second invocation must not rewrite the persisted signatures")
    assert(first === again)
    val staged = operators.Dedup.pipe_dedup_incremental_lsh(spark, sfDir).collect()
      .map(_.toSeq).toSet
    assert(first === staged, "durable-root run equals the staging-memo run")
    // the artifact must be signature-sized, not a re-encoding of the corpus:
    // no string (or string-array) column may appear in the stored schema —
    // shingle sets are persisted as 60-bit hashes (WordShingleHashes)
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val sigSchema = s2.read.parquet(
      Paths.get(root, s"lsh-sigs-${Similarity.corpusSlug(sfDir)}", "sigs").toString).schema
    sigSchema.fields.foreach { f =>
      assert(f.dataType != StringType && f.dataType != ArrayType(StringType, true) &&
        f.dataType != ArrayType(StringType, false),
        s"signature table column ${f.name} stores text (${f.dataType.simpleString}) — " +
          "the persisted artifact would be O(corpus text)")
    }
  }

  test("LSH lifecycle: delta segment holds only the filed batch; takedown rows erased") {
    val root = graft.Staging.tempDir("graft-lsh-lc-root-").toString
    val s2 = spark.newSession()
    s2.conf.set(Similarity.IndexRootConf, root)
    val filed = operators.Dedup.pipe_lsh_file_batch(s2, sfDir).collect().map(_.toSeq).toSet
    // FILE is a segment write: the delta table carries exactly the filed
    // sources' rows, and the corpus table is not rewritten to admit them
    val slug = Similarity.corpusSlug(sfDir)
    val corpusMarker = Paths.get(root, s"lsh-sigs-$slug", "sigs", "_SUCCESS")
    assert(Files.exists(corpusMarker))
    val corpusMtime = Files.getLastModifiedTime(corpusMarker)
    val deltaIds = s2.read.parquet(Paths.get(root, s"lsh-delta-$slug", "sigs").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expectIds = Tables.documents(s2, sfDir)
      .filter("CAST(substring(source, 4) AS INT) >= 10 AND CAST(substring(source, 4) AS INT) < 15")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(deltaIds === expectIds, "delta segment = the filed batch, nothing else")
    // DELETE is a filtered rewrite: every taken-down corpus doc is gone
    // from the compacted table and from every emitted pair
    val erased = Tables.documents(s2, sfDir)
      .filter("CAST(substring(source, 4) AS INT) < 10 AND doc_id % 7 = 0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(erased.nonEmpty, "fixture must exercise a non-empty takedown set")
    val pairs = operators.Dedup.pipe_lsh_delete(s2, sfDir).collect()
    val remaining = s2.read.parquet(Paths.get(root, s"lsh-compact-$slug", "sigs").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(remaining.nonEmpty && remaining.intersect(erased).isEmpty,
      "compacted table must not contain any taken-down document")
    pairs.foreach { r =>
      assert(!erased.contains(r.getLong(0)) && !erased.contains(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) touches an erased document")
    }
    assert(Files.getLastModifiedTime(corpusMarker) === corpusMtime,
      "neither verb may rewrite the corpus signature table in place")
    // durable-root runs equal the staging-memo runs
    assert(filed === operators.Dedup.pipe_lsh_file_batch(spark, sfDir)
      .collect().map(_.toSeq).toSet)
  }

  test("folding segments with overlapping doc_ids refuses loudly, before any write") {
    val tmp = graft.Staging.tempDir("graft-lsh-fold-ovl-")
    val s = spark
    import s.implicits._
    // two synthetic segments sharing doc_id 3 — the re-filed-document case
    Seq((1L, Seq(11L), Seq(1L)), (3L, Seq(12L), Seq(2L)))
      .toDF("doc_id", "sh", "sig").write.parquet(s"$tmp/segA")
    Seq((3L, Seq(13L), Seq(3L)), (4L, Seq(14L), Seq(4L)))
      .toDF("doc_id", "sh", "sig").write.parquet(s"$tmp/segB")
    val dest = s"$tmp/folded"
    val e = intercept[operators.Dedup.OverlappingSegmentsException] {
      operators.Dedup.foldSegments(spark, Seq(s"$tmp/segA", s"$tmp/segB"), dest)
    }
    assert(e.getMessage.contains("3"), "the refusal names the duplicated doc_id")
    assert(!Files.exists(Paths.get(dest)),
      "a refused fold must not leave a partial destination layout")
    // a doc_id duplicated WITHIN one segment (fsck's duplicate-row damage
    // class) is the same served-twice corruption and must refuse too
    Seq((7L, Seq(15L), Seq(5L)), (7L, Seq(16L), Seq(6L)))
      .toDF("doc_id", "sh", "sig").write.parquet(s"$tmp/segC")
    val e2 = intercept[operators.Dedup.OverlappingSegmentsException] {
      operators.Dedup.foldSegments(spark, Seq(s"$tmp/segC"), s"$tmp/folded2")
    }
    assert(e2.getMessage.contains("7"))
  }

  test("a stale string-typed signature table refuses loudly at load") {
    val tmp = graft.Staging.tempDir("graft-lsh-stale-fmt-")
    val s = spark
    import s.implicits._
    // the pre-hash-compaction format: sh as strings — unionByName would
    // coerce the hashed batch side and silently zero every cross pair
    Seq((1L, Seq("a b c"), Seq(1L))).toDF("doc_id", "sh", "sig")
      .write.parquet(s"$tmp/sigs")
    val e = intercept[IllegalArgumentException] {
      operators.Dedup.readSigsTable(spark, s"$tmp/sigs")
    }
    assert(e.getMessage.contains("stale"), s"wrong refusal: ${e.getMessage}")
  }

  test("persisted BPE merges land under the configured root; encode equals staged path") {
    val root = graft.Staging.tempDir("graft-bpe-root-").toString
    val s2 = spark.newSession()
    s2.conf.set(Similarity.IndexRootConf, root)
    val durable = TextAnalysis.text_bpe_persist(s2, sfDir).collect()
      .map(_.toSeq).toSet
    val layout = Paths.get(root, s"bpe-merges-${Similarity.corpusSlug(sfDir)}")
    assert(Files.exists(layout.resolve("merges").resolve("_SUCCESS")))
    val staged = TextAnalysis.text_bpe_persist(spark, sfDir).collect()
      .map(_.toSeq).toSet
    assert(durable === staged)
  }
}
