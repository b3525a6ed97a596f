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

  /** The finder's output as `(doc, pos)` pairs, after checking that every
    * row holds positions, ascending. */
  private def found(blocks: Seq[SubstrHashBlocks.Block]): Seq[(Long, Int)] =
    SubstrHashBlocks.duplicated(blocks.iterator).toSeq.flatMap { hit =>
      assert(hit.pos.nonEmpty, "a row holds at least one position")
      assert(hit.pos.toSeq === hit.pos.toSeq.sorted.distinct, "positions ascend within a row")
      hit.pos.toSeq.map(p => (hit.doc_id, p))
    }.sorted

  test("the finder returns exactly the windows whose hash occurs twice or more") {
    import SubstrHashBlocks.Block
    val blocks = Seq(
      Block(1L, Array(5L, 9L, 5L), Array(1, 2, 3)), // same-doc repeat of 5
      Block(2L, Array(9L, 7L), Array(4, 8)),        // 9 shared with doc 1
      Block(3L, Array(9L, 11L), Array(1, 2)),       // 9 a third time
      Block(4L, Array(13L), Array(6)))
    assert(found(blocks) === Seq((1L, 1), (1L, 2), (1L, 3), (2L, 4), (3L, 1)))
    assert(SubstrHashBlocks.duplicated(Iterator.empty).isEmpty)
  }

  test("the finder's count table: one residue mod B, h = 0, one row per block") {
    import SubstrHashBlocks.Block
    // every hash ≡ 3 (mod 64), as in the partition of bucket 3 at B = 64:
    // low bits alone would put them all in a few slots
    val r = new SplittableRandom(5)
    val hs = Array.fill(20000)(r.nextLong(5000) * 64 + 3) // singles and repeats
    val blocks = hs.grouped(100).zipWithIndex.map { case (h, d) =>
      Block(d.toLong, h, Array.tabulate(h.length)(_ * 3 + 1))
    }.toSeq
    val counts = hs.groupBy(identity).map { case (h, xs) => h -> xs.length }
    val expected = blocks.flatMap(b => b.h.indices.filter(j => counts(b.h(j)) >= 2)
      .map(j => (b.doc_id, b.pos(j)))).sorted
    assert(expected.nonEmpty && expected.size < hs.length)
    assert(found(blocks) === expected)
    // and with a known set of repeats among the same residue class
    val dup = blocks.take(3).map(b => b.copy(doc_id = b.doc_id + 1000))
    val withDup = found(blocks ++ dup)
    assert(withDup.count(_._1 >= 1000) === 300, "every window of a copied block is duplicated")
    // the zero hash is a key like any other
    assert(found(Seq(Block(1L, Array(0L, 4L), Array(1, 2)), Block(2L, Array(0L), Array(7)))) ===
      Seq((1L, 1), (2L, 7)))
    assert(found(Seq(Block(1L, Array(0L, 4L), Array(1, 2)))).isEmpty, "one zero is not a repeat")
    intercept[IllegalArgumentException](found(Seq(Block(1L, Array(-1L), Array(1)))))
    // one output row per block that holds a duplicated window
    val rows = SubstrHashBlocks.duplicated(Iterator(
      Block(1L, Array(8L, 8L), Array(1, 2)), Block(1L, Array(9L, 9L, 10L), Array(3, 4, 5)),
      Block(2L, Array(11L), Array(1)))).toSeq
    assert(rows.map(h => (h.doc_id, h.pos.toSeq)) === Seq((1L, Seq(1, 2)), (1L, Seq(3, 4))))
  }

  test("the span kernel: a gap of L merges, L + 1 splits, rows of one document merge") {
    import SubstrHashBlocks.{Hits, Span}
    def spans(hits: Hits*): Seq[Span] = SubstrHashBlocks.spans(L)(hits.iterator).toSeq
    assert(spans(Hits(1L, Array(10, 10 + L))) === Seq(Span(1L, 1L, 10, 10 + 2 * L - 1)))
    assert(spans(Hits(1L, Array(10, 11 + L))) ===
      Seq(Span(1L, 1L, 10, 10 + L - 1), Span(1L, 2L, 11 + L, 11 + 2 * L - 1)))
    // a same-document repeat whose windows fell into two buckets: the
    // rows' positions interleave and are merged before the walk
    assert(spans(Hits(7L, Array(1, 3, 100)), Hits(7L, Array(2, 151)), Hits(8L, Array(5))) === Seq(
      Span(7L, 1L, 1, 3 + L - 1), Span(7L, 2L, 100, 100 + L - 1), Span(7L, 3L, 151, 151 + L - 1),
      Span(8L, 1L, 5, 5 + L - 1)))
    assert(spans().isEmpty)
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
