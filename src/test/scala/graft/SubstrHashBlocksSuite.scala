package graft

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{NormSpace, SubstrHashBlocks, SubstrHashes}
import graft.operators.Dedup

/** [[graft.functions.SubstrHashBlocks]] and the exact-substring pipeline
  * built on it ([[graft.operators.Dedup.exactSubstr]]):
  *  - the blocks hold exactly the `(pos, h)` multiset `substr_hashes`
  *    produces, each window in bucket `h mod B`, at most B blocks, and one
  *    marker per row;
  *  - the duplicate finder and the per-document kernel give the same rows
  *    as the window-count spelling they replaced (one row per window,
  *    `count(*) OVER (PARTITION BY h)`), at any shuffle width, and as a
  *    from-scratch recompute on NULL, short, multi-byte and repeated-id
  *    documents. */
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
      assert(b.isNullAt(3) && b.isNullAt(4), "a block carries no n_chars or text")
      ps.zip(hs).map { case (p, h) => (b.getInt(0), p, h) }
    }

  private def assertSameMultiset(texts: Seq[String], winLen: Int, buckets: Int): Unit = {
    val s = spark; import s.implicits._
    Seq(false, true).foreach { withText =>
      val rows = texts.toDF("t")
        .select(col("t"), SubstrHashes.of(col("t"), winLen).as("a"),
          SubstrHashBlocks.of(col("t"), winLen, buckets, withText).as("b"))
        .collect()
      rows.foreach { r =>
        val t = r.getString(0)
        val all = r.getSeq[Row](2)
        val marker = all.last
        assert(marker.isNullAt(0) && marker.getSeq[Long](1).isEmpty &&
          marker.getSeq[Int](2).isEmpty, "the marker comes last: no bucket, empty arrays")
        if (t == null) {
          assert(r.isNullAt(1) && all.size === 1, "NULL text yields its marker alone")
          assert(marker.isNullAt(3) && marker.isNullAt(4), "with NULL n_chars and text")
        } else {
          assert(marker.getInt(3) === t.codePointCount(0, t.length))
          assert(Option(marker.getString(4)) === Option.when(withText)(t))
          val expected = r.getSeq[Row](1).map(w => (w.getInt(0), w.getLong(1))).sorted
          val blocks = all.init
          val got = flatten(blocks)
          assert(got.map(g => (g._2, g._3)).sorted === expected,
            s"(pos, h) multiset differs for ${t.take(20)}... (B=$buckets)")
          got.foreach { case (b, _, h) => assert(b.toLong === h % buckets) }
          assert(blocks.size <= buckets)
          assert(blocks.map(_.getInt(0)).distinct.size === blocks.size, "one block per bucket")
        }
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
    // markers (empty arrays) pass through first, untouched, and count no hash
    val markers = Seq(Block(1L, Array(), Array(), Some(3), "abc"), Block(9L, Array(), Array()))
    val out = SubstrHashBlocks.duplicated((blocks.take(2) ++ markers).iterator).toSeq
    assert(out.take(2).map(m => (m.doc_id, m.pos.isEmpty, m.n_chars, m.t)) ===
      Seq((1L, true, Some(3), "abc"), (9L, true, None, null)))
    assert(out.drop(2).map(h => (h.doc_id, h.pos.toSeq)) === Seq((1L, Seq(1, 2, 3)), (2L, Seq(4))))
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
    import SubstrHashBlocks.{Hits, Stats}
    def marker(doc: Long, n: Int): Hits = Hits(doc, Array(), Some(n))
    def stats(rows: Hits*): Seq[Stats] = SubstrHashBlocks.stats(L)(rows.iterator).toSeq
    assert(stats(marker(1L, 300), Hits(1L, Array(10, 10 + L))) ===
      Seq(Stats(1L, Some(300L), 1L, 2L * L, 10L)))
    assert(stats(Hits(1L, Array(10, 11 + L)), marker(1L, 300)) ===
      Seq(Stats(1L, Some(300L), 2L, 2L * L, 10L)))
    // a same-document repeat whose windows fell into two buckets: the
    // rows' positions interleave and are merged before the walk; a
    // document without hits and a NULL text get zeros
    assert(stats(Hits(7L, Array(1, 3, 100)), marker(7L, 250), Hits(7L, Array(2, 151)),
        Hits(8L, Array(5)), marker(8L, 60), marker(9L, 40), Hits(10L, Array(), None)) === Seq(
      Stats(7L, Some(250L), 3L, (3L + L - 1) + L + L, 1L),
      Stats(8L, Some(60L), 1L, L.toLong, 5L),
      Stats(9L, Some(40L), 0L, 0L, 0L),
      Stats(10L, None, 0L, 0L, 0L)))
    // two markers of one doc_id: one row each, with the doc_id's spans
    assert(stats(marker(4L, 120), Hits(4L, Array(2)), marker(4L, 70)).map(_.n_chars) ===
      Seq(Some(120L), Some(70L)))
    assert(stats().isEmpty)
    // the clean kernel cuts the same spans by codepoint, clamped to each text
    val t = "😀" * 60 + "b" * 60
    val cut = SubstrHashBlocks.clean(L)(Iterator(
      Hits(3L, Array(), Some(120), t), Hits(3L, Array(2, 61)), Hits(3L, Array(), Some(10), "c" * 10),
      Hits(5L, Array(), None, null))).toSeq
    assert(cut.map(c => (c.doc_id, c.text_clean, c.n_chars_clean)) === Seq(
      (3L, "😀" + "😀" * 9 + "b" * 10, 20L), (3L, "c", 1L), (5L, "", 0L)))
  }

  /** The spelling the block pipeline replaced: normalized texts, one
    * `(doc_id, pos, h)` row per window and a window count over h, lag/sum
    * span windows, and `dedup_exact_substr`'s per-document aggregate and
    * left join. */
  private def windowCountStats(raw: DataFrame): DataFrame = {
    val docs = raw.select(col("doc_id"), NormSpace.of(col("text")).as("t"))
      .withColumn("len", length(col("t")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = docs.filter(col("len") >= L)
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
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("sp_end") - col("sp_start") + 1).as("dup_chars"),
        min(col("sp_start")).cast("long").as("first_span_start"))
    docs.select(col("doc_id"), col("len").cast("long").as("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_chars"), lit(0L)).cast("long").as("dup_chars"),
        coalesce(col("first_span_start"), lit(0L)).as("first_span_start"))
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
      val docs = corpus.toDF("doc_id", "text")
      val got = Dedup.exactSubstr(docs, withText = false)(SubstrHashBlocks.stats)
        .collect().map(_.toString).sorted.toSeq
      val expected = windowCountStats(docs).collect().map(_.toString).sorted.toSeq
      assert(expected.size === corpus.size && expected.exists(!_.endsWith(",0,0,0]")))
      assert(got === expected, s"rows differ at $parts shuffle partitions")
    }
  }

  /** Both queries' rows recomputed from scratch, as `CorpusOpsSuite` does
    * for the fixture (window TEXT counts, not hashes), extended to what the
    * fixture lacks: codepoint windows, NULL texts and repeated doc_ids
    * (each row's windows count; a doc_id's spans merge the positions of all
    * its rows and apply to each of them, cut as far as each text goes). */
  private def recompute(docs: Seq[(Long, String)]): (Seq[String], Seq[String]) = {
    def norm(t: String): String =
      t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse.replaceAll("\\s+", " ")
    val cps = docs.map { case (id, t) => (id, Option(t).map(norm(_).codePoints().toArray)) }
    def windows(c: Array[Int]): Seq[(Int, String)] =
      (1 to c.length - L + 1).map(p => p -> new String(c, p - 1, L))
    val occ = cps.flatMap(_._2).flatMap(windows).groupBy(_._2).map { case (w, xs) => w -> xs.size }
    val spans = cps.groupBy(_._1).map { case (id, rows) =>
      val dup = rows.flatMap(_._2).flatMap(windows).filter(w => occ(w._2) >= 2).map(_._1).sorted
      var sp = Vector.empty[(Int, Int)]
      dup.foreach { p =>
        sp match {
          case init :+ ((s0, e0)) if p <= e0 + 1 => sp = init :+ (s0, math.max(e0, p + L - 1))
          case _ => sp = sp :+ (p, p + L - 1)
        }
      }
      id -> sp
    }
    val stats = cps.map { case (id, c) =>
      val sp = spans(id)
      Row(id, c.map(a => java.lang.Long.valueOf(a.length)).orNull, sp.size.toLong,
        sp.map { case (s0, e0) => (e0 - s0 + 1).toLong }.sum,
        sp.headOption.map(_._1.toLong).getOrElse(0L)).toString
    }
    val clean = cps.map { case (id, c) =>
      val kept = c.getOrElse(Array.empty[Int]).zipWithIndex
        .filterNot { case (_, i) => spans(id).exists { case (s0, e0) => i + 1 >= s0 && i + 1 <= e0 } }
        .map(_._1)
      Row(id, new String(kept, 0, kept.length), kept.length.toLong).toString
    }
    (stats.sorted, clean.sorted)
  }

  test("edge documents: NULL, short, multi-byte windows and a repeated doc_id equal a recompute") {
    val longer = "ein geteilter Satz mit 😀 und 你好 über die Grenze eines Fensters hinweg"
    val edge = Seq(
      1001L -> null,
      1002L -> "short",
      1003L -> "",
      1004L -> s"  vorne\t$longer  hinten ",  // tabs and edge spaces normalize first
      1005L -> s"$longer 😀😀 schluss",
      1006L -> s"kopf $longer",                 // doc_id 1006 three times: the second
      1006L -> s"kurz 😀 $longer".take(30),     // row is shorter than the first's span
      1006L -> null,
      1007L -> s"$longer eins",                 // doc_id 1007 twice, both rows with
      1007L -> s"zwei $longer zwei")            // duplicated windows
    val docs = corpus ++ edge
    val (statsExp, cleanExp) = recompute(docs)
    assert(statsExp.count(_.startsWith("[1006,")) === 3)
    Seq(1, 3).foreach { parts =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      import s.implicits._
      val df = docs.toDF("doc_id", "text")
      val stats = Dedup.exactSubstr(df, withText = false)(SubstrHashBlocks.stats)
      assert(stats.collect().map(_.toString).sorted.toSeq === statsExp, s"stats at $parts")
      val clean = Dedup.exactSubstr(df, withText = true)(SubstrHashBlocks.clean)
      assert(clean.collect().map(_.toString).sorted.toSeq === cleanExp, s"clean at $parts")
    }
  }
}
