package graft

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SubstrHashBlocks, SubstrHashes}
import graft.operators.Dedup

/** [[graft.functions.SubstrHashBlocks]] and the exact-substring pipeline
  * built on it ([[graft.operators.Dedup.duplicatedSpans]]):
  *  - the blocks hold exactly the `(pos, h)` multiset `substr_hashes`
  *    produces, each window in bucket `h mod B`, at most B blocks;
  *  - the duplicate finder and the span merge give the same spans as the
  *    window-count spelling they replaced (one row per window,
  *    `count(*) OVER (PARTITION BY h)`), at any shuffle width. */
class SubstrHashBlocksSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("substr-hash-blocks")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = spark.stop()

  private val L = 50

  /** (pos, h) pairs of each block array, with the block's bucket. */
  private def flatten(blocks: Seq[Row]): Seq[(Int, Int, Long)] =
    blocks.flatMap { b =>
      val hs = b.getSeq[Long](1)
      val ps = b.getSeq[Int](2)
      assert(hs.size === ps.size && hs.nonEmpty, "block arrays must be non-empty and aligned")
      assert(ps === ps.sorted, "positions ascend within a block")
      ps.zip(hs).map { case (p, h) => (b.getInt(0), p, h) }
    }

  private def assertSameMultiset(texts: Seq[String], winLen: Int, buckets: Int): Unit = {
    val s = spark; import s.implicits._
    val rows = texts.toDF("t")
      .select(col("t"), SubstrHashes.of(col("t"), winLen).as("a"),
        SubstrHashBlocks.of(col("t"), winLen, buckets).as("b"))
      .collect()
    rows.foreach { r =>
      val t = r.getString(0)
      if (t == null) {
        assert(r.isNullAt(1) && r.isNullAt(2), "NULL text yields NULL blocks")
      } else {
        val expected = r.getSeq[Row](1).map(w => (w.getInt(0), w.getLong(1))).sorted
        val blocks = r.getSeq[Row](2)
        val got = flatten(blocks)
        assert(got.map(g => (g._2, g._3)).sorted === expected,
          s"(pos, h) multiset differs for ${t.take(20)}... (B=$buckets)")
        got.foreach { case (b, _, h) => assert(b.toLong === h % buckets) }
        assert(blocks.size <= buckets)
        assert(blocks.map(_.getInt(0)).distinct.size === blocks.size, "one block per bucket")
      }
    }
  }

  test("blocks hold the substr_hashes (pos, h) multiset on adversarial inputs") {
    val cases = Seq(
      "café résumé naïve 你好世界 one two",  // multi-byte UTF-8
      "😀😁abcdef😂ghij",                  // surrogate pairs
      "the quick brown fox jumps over",    // ASCII
      "abc",                               // shorter than the window
      "abcde",                             // exactly the window
      "aaaaaaa",                           // repeated windows in one string
      "",
      null)
    Seq(1, 3, 8).foreach(b => assertSameMultiset(cases, 5, b))
  }

  test("blocks hold the substr_hashes (pos, h) multiset at the operator's window length") {
    assertSameMultiset(corpus.map(_._2), L, 7)
  }

  test("the finder returns exactly the windows whose hash occurs twice or more") {
    import SubstrHashBlocks.Block
    val blocks = Seq(
      Block(1L, Array(5L, 9L, 5L), Array(1, 2, 3)), // same-doc repeat of 5
      Block(2L, Array(9L, 7L), Array(4, 8)),        // 9 shared with doc 1
      Block(3L, Array(9L, 11L), Array(1, 2)),       // 9 a third time
      Block(4L, Array(13L), Array(6)))
    val got = SubstrHashBlocks.duplicated(blocks.iterator).toSeq.sorted
    assert(got === Seq((1L, 1), (1L, 2), (1L, 3), (2L, 4), (3L, 1)))
    assert(SubstrHashBlocks.duplicated(Iterator.empty).isEmpty)
  }

  /** The spelling the block pipeline replaced: one `(doc_id, pos, h)` row
    * per window and a window count over h, then the same span merge. */
  private def windowCountSpans(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs.filter(col("len") >= L)
      .select(col("doc_id"), explode(SubstrHashes.of(col("t"), L)).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("c") >= 2)
      .select(col("doc_id"), col("pos"))
      .withColumn("new_span",
        when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") > lag(col("pos"), 1).over(w) + L, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(w))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("sp_start"), (max(col("pos")) + (L - 1)).as("sp_end"))
  }

  /** Texts with windows shared by three documents, windows repeated inside
    * one document, multi-byte text, short texts, and a seeded random part
    * over a small vocabulary (many incidental shared windows). */
  private def corpus: Seq[(Long, String)] = {
    val shared = "every occurrence of this sentence is a duplicated span somewhere"
    val inner = "a phrase that repeats inside its own document twice"
    val wide = "größere Straße mit 😀 Zeichen und 你好 mehrfach geteilt über Dokumente"
    val fixed = Seq(
      s"first $shared then unique tail one",
      s"second doc opens differently and then $shared",
      s"$shared and closes",                          // third copy: triplicate
      s"$inner, filler text in the middle, $inner",    // same-doc repeat
      s"$inner $inner $inner",                          // touching repeats
      s"alpha $wide omega",
      s"beta $wide",
      "too short to hold a window",
      "x" * 50,                                         // exactly one window
      "y" * 120)                                        // one hash, 71 windows
    val vocab = Array("data", "spark", "row", "window", "hash", "sort")
    val r = new SplittableRandom(17)
    val random = (0 until 40).map { _ =>
      Array.fill(10 + r.nextInt(40))(vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    (fixed ++ random).zipWithIndex.map { case (t, i) => (i.toLong * 7 + 3, t) }
  }

  test("block spans equal the window-count spans at 1, 3 and 8 shuffle partitions") {
    Seq(1, 3, 8).foreach { parts =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      import s.implicits._
      val docs = corpus.toDF("doc_id", "t").withColumn("len", length(col("t")))
      val got = Dedup.duplicatedSpans(docs).collect().map(_.toString).sorted.toSeq
      val expected = windowCountSpans(docs).collect().map(_.toString).sorted.toSeq
      assert(expected.nonEmpty)
      assert(got === expected, s"spans differ at $parts shuffle partitions")
    }
  }
}
