package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The window fingerprints of [[SubstrHashes]], packed for a shuffle, and
  * one marker for the document itself:
  * {{{
  *   array<struct<bucket:int, h:array<bigint>, pos:array<int>,
  *                n_chars:int, t:string>>
  * }}}
  * A block is one non-empty bucket, `bucket = h mod buckets`, carrying
  * that bucket's hashes and their 1-based window positions as two
  * primitive arrays (positions ascending); its `n_chars` and `t` are NULL.
  * A document of n windows becomes at most `buckets` blocks instead of n
  * rows, so the exact-substring dedup ships a few packed blocks per
  * document rather than one Spark row per window.
  *
  * The marker comes last: NULL `bucket`, empty arrays, the string's length
  * in codepoints as `n_chars`, and the string itself as `t` when
  * `withText` is set (else NULL). A NULL string yields its marker alone,
  * with NULL `n_chars`, so every input row reaches the per-document
  * kernel ([[stats]], [[clean]]) that emits its output row.
  *
  * The hashes come from [[SubstrHashes.windowHashes]], the walk
  * `substr_hashes` runs, so the `(pos, h)` multiset of the blocks is the
  * same as `substr_hashes(s, winLen)` by construction (codepoint-aware
  * windows, [[H60]] fingerprints).
  */
case class SubstrHashBlocks(child: Expression, winLen: Int, buckets: Int, withText: Boolean)
    extends UnaryExpression {

  require(winLen >= 1, s"winLen must be positive, got $winLen")
  require(buckets >= 1, s"buckets must be positive, got $buckets")

  override def dataType: DataType = SubstrHashBlocks.OutType
  override def nullable: Boolean = false
  override def prettyName: String = "substr_hash_blocks"
  override def stateful: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.catalogString}")
  }

  @transient private lazy val h60 = new H60

  override def eval(input: InternalRow): Any = SubstrHashBlocks.compute(
    child.eval(input).asInstanceOf[UTF8String], winLen, buckets, withText, h60)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val h = H60.state(ctx)
    ev.copy(code = code"""${c.code}
      |${classOf[ArrayData].getName} ${ev.value} = graft.functions.SubstrHashBlocks.compute(
      |  ${c.isNull} ? null : ${c.value}, $winLen, $buckets, $withText, $h);""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SubstrHashBlocks =
    copy(child = newChild)
}

object SubstrHashBlocks {
  val OutType: ArrayType = ArrayType(
    new StructType().add("bucket", IntegerType, nullable = true)
      .add("h", ArrayType(LongType, containsNull = false), nullable = false)
      .add("pos", ArrayType(IntegerType, containsNull = false), nullable = false)
      .add("n_chars", IntegerType, nullable = true)
      .add("t", StringType, nullable = true),
    containsNull = false)

  private val NoHashes = UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
  private val NoPositions = UnsafeArrayData.fromPrimitiveArray(new Array[Int](0))

  /** JVM entry point shared by interpreted eval and generated code: a
    * counting pass sizes each bucket, a second pass writes every window
    * straight into its bucket's arrays, and the marker goes last. `t` may
    * be null. */
  def compute(t: UTF8String, winLen: Int, buckets: Int, withText: Boolean, h60: H60): ArrayData = {
    if (t == null) return new GenericArrayData(Array[Any](
      new GenericInternalRow(Array[Any](null, NoHashes, NoPositions, null, null)): InternalRow))
    val hs = SubstrHashes.windowHashes(t, winLen, h60)
    val sizes = new Array[Int](buckets)
    var i = 0
    while (i < hs.length) { sizes((hs(i) % buckets).toInt) += 1; i += 1 }
    val bh = new Array[UnsafeArrayData](buckets)
    val bp = new Array[UnsafeArrayData](buckets)
    var nonEmpty = 0
    var b = 0
    while (b < buckets) {
      if (sizes(b) > 0) {
        bh(b) = UnsafeArrayData.createFreshArray(sizes(b), 8)
        bp(b) = UnsafeArrayData.createFreshArray(sizes(b), 4)
        nonEmpty += 1
      }
      b += 1
    }
    val fill = new Array[Int](buckets)
    i = 0
    while (i < hs.length) {
      val k = (hs(i) % buckets).toInt
      bh(k).setLong(fill(k), hs(i))
      bp(k).setInt(fill(k), i + 1)
      fill(k) += 1
      i += 1
    }
    val out = new Array[Any](nonEmpty + 1)
    var o = 0
    b = 0
    while (b < buckets) {
      if (sizes(b) > 0) {
        out(o) = new GenericInternalRow(Array[Any](b, bh(b), bp(b), null, null)): InternalRow
        o += 1
      }
      b += 1
    }
    // a string of n >= winLen codepoints has n - winLen + 1 windows
    val nChars = if (hs.length > 0) hs.length + winLen - 1 else t.numChars()
    out(o) = new GenericInternalRow(Array[Any](
      null, NoHashes, NoPositions, nChars, if (withText) t else null)): InternalRow
    new GenericArrayData(out)
  }

  /** `substr_hash_blocks(s, winLen, buckets, withText)` as a Column. */
  def of(s: Column, winLen: Int, buckets: Int, withText: Boolean): Column =
    ColumnBridge.column(SubstrHashBlocks(ColumnBridge.expression(s), winLen, buckets, withText))

  /** One row after the explode: a document's windows of one bucket, or
    * (empty `h`) the document's marker with its `n_chars` and `t`. */
  final case class Block(doc_id: Long, h: Array[Long], pos: Array[Int],
      n_chars: Option[Int] = None, t: String = null)

  /** The finder's output row: the duplicated window positions of one
    * block, ascending, or (empty `pos`) a marker passed through. */
  final case class Hits(doc_id: Long, pos: Array[Int],
      n_chars: Option[Int] = None, t: String = null)

  /** [[stats]]'s row: `dedup_exact_substr`'s output. */
  final case class Stats(doc_id: Long, n_chars: Option[Long], n_dup_spans: Long,
      dup_chars: Long, first_span_start: Long)

  /** [[clean]]'s row: `dedup_substr_clean`'s output. */
  final case class Clean(doc_id: Long, text_clean: String, n_chars_clean: Long)

  /** The duplicated windows among the blocks of `rows`, one [[Hits]] per
    * block that holds any: the positions of its windows whose hash occurs
    * at least twice among the blocks. Exact for the whole corpus when every
    * block of a bucket is in `rows` (the caller partitions by bucket): a
    * partition's count of a hash is then its global count. Markers pass
    * through as they arrive, ahead of every hit, and are not held.
    *
    * One open-addressing count table (linear probing, at least 1.5 slots
    * per window, so at most 2/3 full) counts the partition's hashes to
    * "once" or "twice or more"; a second walk over the blocks keeps the
    * positions whose hash counted twice. A slot is one `long`: 0 when
    * empty, else `h + 1` with the sign bit set once `h` is seen again
    * (hashes are [[H60]] values, below 2^60). Every hash of a partition
    * has the same residue mod B, so the slot is the top bits of a
    * multiplicative mix of the hash, not its low bits. Memory is the
    * blocks' 12 bytes per window plus the table's 12 to 24, all primitive
    * arrays and held for the whole partition: nothing spills. */
  def duplicated(rows: Iterator[Block]): Iterator[Hits] = {
    val held = ArrayBuffer.empty[Block]
    val markers = rows.flatMap { r =>
      if (r.h.isEmpty) Some(Hits(r.doc_id, r.pos, r.n_chars, r.t))
      else { held += r; None }
    }
    markers ++ hitsOf(held)
  }

  private def hitsOf(held: ArrayBuffer[Block]): Iterator[Hits] = {
    var total = 0L
    held.foreach(total += _.h.length)
    val need = total + total / 2 + 1
    require(need <= (1 << 30), s"$total windows in one partition; raise the shuffle partitions")
    val bits = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(need - 1))
    val shift = 64 - bits
    val mask = (1 << bits) - 1
    val table = new Array[Long](1 << bits)
    def slot(h: Long): Int = {
      var k = ((h * 0x9E3779B97F4A7C15L) >>> shift).toInt
      while (table(k) != 0 && (table(k) & Long.MaxValue) != h + 1) k = (k + 1) & mask
      k
    }
    held.foreach { blk =>
      val hs = blk.h
      var j = 0
      while (j < hs.length) {
        require(hs(j) >>> 60 == 0, s"not a 60-bit hash: ${hs(j)}")
        val k = slot(hs(j))
        table(k) = if (table(k) == 0) hs(j) + 1 else table(k) | Long.MinValue
        j += 1
      }
    }
    var buf = new Array[Int](64)
    held.iterator.flatMap { blk =>
      val hs = blk.h
      if (buf.length < hs.length) buf = new Array[Int](hs.length)
      var n = 0
      var j = 0
      while (j < hs.length) {
        if (table(slot(hs(j))) < 0) { buf(n) = blk.pos(j); n += 1 }
        j += 1
      }
      if (n == 0) None else Some(Hits(blk.doc_id, java.util.Arrays.copyOf(buf, n)))
    }
  }

  /** The maximal duplicated spans of one document, 1-based inclusive
    * `[starts(i), ends(i)]` in position order, from its duplicated window
    * positions (any order, repeats allowed): a new span starts when a
    * position exceeds the previous one by more than `winLen`, so windows
    * that overlap or touch merge; a span ends at its last window's last
    * character. */
  final class Spans(val starts: Array[Int], val ends: Array[Int]) {
    def count: Int = starts.length
    def chars: Long = {
      var c = 0L
      var i = 0
      while (i < count) { c += ends(i) - starts(i) + 1; i += 1 }
      c
    }

    /** `t` without the spans' codepoints; a span past `t`'s end (another
      * row of the same `doc_id` was longer) is cut as far as `t` goes. */
    def cut(t: String): String = {
      val len = t.codePointCount(0, t.length)
      val sb = new java.lang.StringBuilder(t.length)
      var cp = 1 // the codepoint position of char index `at`
      var at = 0
      var i = 0
      while (i < count && starts(i) <= len) {
        val s = t.offsetByCodePoints(at, starts(i) - cp)
        sb.append(t, at, s)
        val e = math.min(ends(i), len)
        at = t.offsetByCodePoints(s, e - starts(i) + 1)
        cp = e + 1
        i += 1
      }
      sb.append(t, at, t.length).toString
    }
  }

  object Spans {
    /** The spans of window positions `pos` (sorted here, in place). */
    def of(pos: Array[Int], winLen: Int): Spans = {
      java.util.Arrays.sort(pos)
      val starts = new Array[Int](pos.length)
      val ends = new Array[Int](pos.length)
      var n = 0
      var i = 0
      while (i < pos.length) {
        // pos(i) > previous position + winLen  <=>  pos(i) > ends(n - 1) + 1
        if (n > 0 && pos(i) <= ends(n - 1) + 1) ends(n - 1) = pos(i) + winLen - 1
        else { starts(n) = pos(i); ends(n) = pos(i) + winLen - 1; n += 1 }
        i += 1
      }
      new Spans(java.util.Arrays.copyOf(starts, n), java.util.Arrays.copyOf(ends, n))
    }
  }

  /** The per-document kernel: `rows` arrive grouped by `doc_id` (the
    * caller sorts by it within the partition); each document's hit
    * positions are gathered and merged into [[Spans]], and `finish` turns
    * each of its markers, one per input row, into an output row with those
    * spans. Memory is one document's rows. */
  private def perDocument[O](winLen: Int, rows: Iterator[Hits])(finish: (Hits, Spans) => O): Iterator[O] = {
    val in = rows.buffered
    new Iterator[Iterator[O]] {
      def hasNext: Boolean = in.hasNext
      def next(): Iterator[O] = {
        val doc = in.head.doc_id
        val markers = ArrayBuffer.empty[Hits]
        val parts = ArrayBuffer.empty[Array[Int]]
        var n = 0
        while (in.hasNext && in.head.doc_id == doc) {
          val r = in.next()
          if (r.pos.isEmpty) markers += r
          else { parts += r.pos; n += r.pos.length }
        }
        val pos = new Array[Int](n)
        n = 0
        parts.foreach { p => System.arraycopy(p, 0, pos, n, p.length); n += p.length }
        val spans = Spans.of(pos, winLen)
        markers.iterator.map(finish(_, spans))
      }
    }.flatten
  }

  /** `dedup_exact_substr`'s row per marker: the span count, the duplicated
    * characters and the first span's start (zeros without spans). */
  def stats(winLen: Int)(rows: Iterator[Hits]): Iterator[Stats] =
    perDocument(winLen, rows) { (m, sp) =>
      Stats(m.doc_id, m.n_chars.map(_.toLong), sp.count, sp.chars,
        if (sp.count == 0) 0L else sp.starts(0).toLong)
    }

  /** `dedup_substr_clean`'s row per marker: its text with the spans cut
    * out (empty for a NULL text) and the kept length in codepoints. */
  def clean(winLen: Int)(rows: Iterator[Hits]): Iterator[Clean] =
    perDocument(winLen, rows) { (m, sp) =>
      val kept = if (m.t == null) "" else sp.cut(m.t)
      Clean(m.doc_id, kept, kept.codePointCount(0, kept.length).toLong)
    }
}
