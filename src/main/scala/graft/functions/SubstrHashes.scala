package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** All stride-1 window fingerprints of a string in ONE native pass:
  * `[(pos, h60(substring(s, pos, winLen))) | pos <- 1 .. len-winLen+1]`,
  * where h60 is the shared cross-engine fingerprint
  * `conv(substring(md5(x), 1, 15), 16, 10)` (= the first 60 bits of the md5
  * digest as an unsigned BIGINT).
  *
  * The SQL spelling of the same pipeline —
  * `transform(sequence(1, len-49), i -> struct(i, conv(substring(md5(
  * substring(t, i, 50)), 1, 15), 16, 10)))` — evaluates the lambda
  * INTERPRETED per element (closure dispatch, a UTF8String copy, an md5 hex
  * STRING, and a base-16 parse per window): measured ~73 µs/window —
  * 300× the cost of the digest itself — which made the exact-substring
  * dedup family the slowest batch queries in the suite. Here the loop body
  * is plain JVM code: one digest of the window's bytes in place ([[H60]]),
  * the 60-bit value read directly from the digest bytes (first 8 bytes
  * big-endian, logical-shift-right 4 = the first 15 hex nibbles — exactly
  * what `conv(substr(hex, 1, 15), 16, 10)` parses), no hex string, no
  * per-window allocation beyond the result row.
  *
  * Substring semantics are SQL's (`UTF8String.substringSQL`, 1-based,
  * codepoint-aware), so the result is bit-identical to the interpreted
  * pipeline on any input, not just ASCII.
  */
case class SubstrHashes(child: Expression, winLen: Int) extends UnaryExpression {

  require(winLen >= 1, s"winLen must be positive, got $winLen")

  override def dataType: DataType = SubstrHashes.OutType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "substr_hashes"
  override def stateful: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.catalogString}")
  }

  @transient private lazy val h60 = new H60

  override def nullSafeEval(input: Any): Any =
    SubstrHashes.compute(input.asInstanceOf[UTF8String], winLen, h60)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = H60.state(ctx)
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.SubstrHashes.compute($t, $winLen, $h);")
  }

  override protected def withNewChildInternal(newChild: Expression): SubstrHashes =
    copy(child = newChild)
}

object SubstrHashes {
  val OutType: ArrayType = ArrayType(
    new StructType().add("pos", IntegerType, nullable = false)
      .add("h", LongType, nullable = false),
    containsNull = false)

  private val NoHashes = new Array[Long](0)

  /** JVM entry point shared by interpreted eval and generated code. */
  def compute(t: UTF8String, winLen: Int, h60: H60): ArrayData = {
    val hs = windowHashes(t, winLen, h60)
    val out = new Array[Any](hs.length)
    var i = 0
    while (i < hs.length) {
      out(i) = new GenericInternalRow(Array[Any](i + 1, hs(i))): InternalRow
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The window walk every substring kernel shares ([[compute]] and
    * [[SubstrHashBlocks]]): the h60 of window `pos` at index `pos - 1`,
    * empty when the string is shorter than `winLen`.
    *
    * Windows are hashed straight out of the string's byte image. Window
    * `pos` covers codepoints [pos-1, pos-1+winLen); its UTF-8 bytes are
    * the contiguous slice between those codepoints' byte offsets, so one
    * O(len) offset scan (identity on ASCII) replaces a per-window
    * `substringSQL` walk (O(len) per window, O(len²) per document), and
    * the slice is hashed with zero copies. The digested bytes are EXACTLY
    * the bytes `substringSQL(...).getBytes` produces — same md5,
    * bit-identical h60. */
  private[functions] def windowHashes(t: UTF8String, winLen: Int, h60: H60): Array[Long] = {
    val n = t.numChars()
    val count = n - winLen + 1
    if (count <= 0) return NoHashes
    val out = new Array[Long](count)
    val (bytes, base) = H60.bytesOf(t)
    if (t.numBytes == n) {
      // ASCII fast path: codepoint index == byte index
      var i = 0
      while (i < count) {
        out(i) = h60.of(bytes, base + i, winLen)
        i += 1
      }
    } else {
      // general path: byte offset of each codepoint, one linear scan
      // (identical traversal to UTF8String.substring's, done once)
      val offsets = new Array[Int](n + 1)
      var i = 0
      var b = base
      while (i < n) {
        offsets(i) = b
        b += UTF8String.numBytesForFirstByte(bytes(b))
        i += 1
      }
      offsets(n) = base + t.numBytes
      i = 0
      while (i < count) {
        val start = offsets(i)
        out(i) = h60.of(bytes, start, offsets(i + winLen) - start)
        i += 1
      }
    }
    out
  }

  /** `substr_hashes(s, winLen)` as a Column. */
  def of(s: Column, winLen: Int): Column =
    ColumnBridge.column(SubstrHashes(ColumnBridge.expression(s), winLen))
}
