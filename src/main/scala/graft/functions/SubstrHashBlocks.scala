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
  * the exact-substring dedup ships and sorts a few packed blocks per
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

  /** The `(doc_id, pos)` of every window whose hash occurs at least twice
    * among `blocks`. Exact for the whole corpus when every block of a
    * bucket is in `blocks` (the caller partitions by bucket): a partition's
    * count of a hash is then its global count.
    *
    * The partition's hashes are copied into one `long[]` and sorted, the
    * values seen twice or more are compacted into a sorted `long[]`, and
    * each window is a binary search in it. Memory is about 20 bytes per
    * window (the blocks' 8 + 4, the sorted copy's 8), all primitive arrays
    * and held for the whole partition: nothing spills. */
  def duplicated(blocks: Iterator[Block]): Iterator[(Long, Int)] = {
    val held = ArrayBuffer.empty[Block]
    var total = 0
    blocks.foreach { blk => held += blk; total += blk.h.length }
    val sorted = new Array[Long](total)
    var n = 0
    held.foreach { blk =>
      System.arraycopy(blk.h, 0, sorted, n, blk.h.length)
      n += blk.h.length
    }
    java.util.Arrays.sort(sorted)
    // compact in place: every value that occurs more than once, once
    var nd = 0
    var i = 1
    while (i < total) {
      if (sorted(i) == sorted(i - 1) && (nd == 0 || sorted(nd - 1) != sorted(i))) {
        sorted(nd) = sorted(i)
        nd += 1
      }
      i += 1
    }
    held.iterator.flatMap { blk =>
      blk.h.indices.iterator
        .filter(j => java.util.Arrays.binarySearch(sorted, 0, nd, blk.h(j)) >= 0)
        .map(j => (blk.doc_id, blk.pos(j)))
    }
  }
}
