package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The window fingerprints of [[SubstrHashes]], packed for a shuffle: one
  * struct per non-empty bucket, `bucket = h mod buckets`, carrying that
  * bucket's hashes and their 1-based window positions as two primitive
  * arrays (positions ascending):
  * {{{
  *   array<struct<bucket:int, h:array<bigint>, pos:array<int>>>
  * }}}
  * A document of n windows becomes at most `buckets` rows instead of n, so
  * the exact-substring dedup ships a few packed blocks per
  * document rather than one Spark row per window.
  *
  * The hashes come from [[SubstrHashes.windowHashes]], the walk
  * `substr_hashes` runs, so the `(pos, h)` multiset of the blocks is the
  * same as `substr_hashes(s, winLen)` by construction (codepoint-aware
  * windows, [[H60]] fingerprints). A string shorter than `winLen` yields an
  * empty array; a NULL string yields NULL.
  */
case class SubstrHashBlocks(child: Expression, winLen: Int, buckets: Int)
    extends UnaryExpression {

  require(winLen >= 1, s"winLen must be positive, got $winLen")
  require(buckets >= 1, s"buckets must be positive, got $buckets")

  override def dataType: DataType = SubstrHashBlocks.OutType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "substr_hash_blocks"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    SubstrHashBlocks.compute(input.asInstanceOf[UTF8String], winLen, buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.SubstrHashBlocks.compute($t, $winLen, $buckets);")

  override protected def withNewChildInternal(newChild: Expression): SubstrHashBlocks =
    copy(child = newChild)
}

object SubstrHashBlocks {
  val OutType: ArrayType = ArrayType(
    new StructType().add("bucket", IntegerType, nullable = false)
      .add("h", ArrayType(LongType, containsNull = false), nullable = false)
      .add("pos", ArrayType(IntegerType, containsNull = false), nullable = false),
    containsNull = false)

  /** JVM entry point shared by interpreted eval and generated code: a
    * counting pass sizes each bucket, a second pass writes every window
    * straight into its bucket's arrays. */
  def compute(t: UTF8String, winLen: Int, buckets: Int): ArrayData = {
    val hs = SubstrHashes.windowHashes(t, winLen)
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
    val out = new Array[Any](nonEmpty)
    var o = 0
    b = 0
    while (b < buckets) {
      if (sizes(b) > 0) {
        out(o) = new GenericInternalRow(Array[Any](b, bh(b), bp(b))): InternalRow
        o += 1
      }
      b += 1
    }
    new GenericArrayData(out)
  }

  /** `substr_hash_blocks(s, winLen, buckets)` as a Column. */
  def of(s: Column, winLen: Int, buckets: Int): Column =
    ColumnBridge.column(SubstrHashBlocks(ColumnBridge.expression(s), winLen, buckets))

  /** One block row after the explode: a document's windows of one bucket. */
  final case class Block(doc_id: Long, h: Array[Long], pos: Array[Int])

  /** The finder's output row: the duplicated window positions of one
    * block, ascending. */
  final case class Hits(doc_id: Long, pos: Array[Int])

  /** A merged duplicated span of one document: `span_id` counts from 1 in
    * position order, `[sp_start, sp_end]` is 1-based inclusive. */
  final case class Span(doc_id: Long, span_id: Long, sp_start: Int, sp_end: Int)

  /** The duplicated windows among `blocks`, one [[Hits]] per block that
    * holds any: the positions of its windows whose hash occurs at least
    * twice among `blocks`. Exact for the whole corpus when every block of
    * a bucket is in `blocks` (the caller partitions by bucket): a
    * partition's count of a hash is then its global count.
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
  def duplicated(blocks: Iterator[Block]): Iterator[Hits] = {
    val held = ArrayBuffer.empty[Block]
    var total = 0L
    blocks.foreach { blk => held += blk; total += blk.h.length }
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

  /** The maximal duplicated spans of each document in `hits`, whose rows
    * hold at least one position each and must arrive grouped by document
    * (the caller sorts by `doc_id` within the partition). Per document the
    * position arrays are gathered and sorted, and a new span starts when a
    * position exceeds the previous one by more than `winLen`, so windows
    * that overlap or touch merge; a span ends at its last window's last
    * character. Memory is one document's positions. */
  def spans(winLen: Int)(hits: Iterator[Hits]): Iterator[Span] = {
    val in = hits.buffered
    new Iterator[Iterator[Span]] {
      def hasNext: Boolean = in.hasNext
      def next(): Iterator[Span] = {
        val doc = in.head.doc_id
        val parts = ArrayBuffer.empty[Array[Int]]
        var n = 0
        while (in.hasNext && in.head.doc_id == doc) {
          val p = in.next().pos
          parts += p
          n += p.length
        }
        val pos = new Array[Int](n)
        n = 0
        parts.foreach { p => System.arraycopy(p, 0, pos, n, p.length); n += p.length }
        java.util.Arrays.sort(pos)
        val out = ArrayBuffer.empty[Span]
        var start = pos(0)
        var prev = pos(0)
        var i = 1
        while (i < pos.length) {
          if (pos(i) > prev + winLen) {
            out += Span(doc, out.size + 1L, start, prev + winLen - 1)
            start = pos(i)
          }
          prev = pos(i)
          i += 1
        }
        out += Span(doc, out.size + 1L, start, prev + winLen - 1)
        out.iterator
      }
    }.flatten
  }
}
