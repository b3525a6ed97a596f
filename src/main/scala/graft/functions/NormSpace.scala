package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The engine's whitespace normalization in ONE pass over the UTF-8 bytes,
  * equal byte for byte to the Spark expression it replaces:
  * {{{
  *   regexp_replace(trim(s), '\\s+', ' ')
  * }}}
  * `trim` strips U+0020 only, and Java's `\s` is `[ \t\n\x0B\f\r]`: every
  * character either side matches is one ASCII byte, and no byte of a
  * multi-byte UTF-8 sequence is below 0x80, so a byte walk sees exactly the
  * characters the regex sees. The kernel drops leading and trailing 0x20
  * bytes, then writes each run of whitespace bytes as one 0x20. Other
  * spaces (U+00A0, U+3000, ...) are kept, as the regex keeps them. The
  * input is taken to be valid UTF-8, as every Spark string built from
  * text is; the regex decodes to a Java string and back, the kernel reads
  * the bytes in place and allocates only its output. A NULL string yields
  * NULL.
  */
case class NormSpace(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "norm_space"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    NormSpace.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NormSpace.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): NormSpace =
    copy(child = newChild)
}

object NormSpace {
  private final val Space: Byte = 0x20

  /** `[ \t\n\x0B\f\r]`: 0x20 and 0x09-0x0D. */
  @inline private[functions] def isSpace(b: Byte): Boolean = b == Space || (b >= 0x09 && b <= 0x0d)

  /** JVM entry point shared by interpreted eval and generated code. */
  def compute(t: UTF8String): UTF8String = {
    val base = t.getBaseObject
    val off = t.getBaseOffset
    var s = 0
    var e = t.numBytes
    while (s < e && Platform.getByte(base, off + s) == Space) s += 1
    while (e > s && Platform.getByte(base, off + e - 1) == Space) e -= 1
    val out = new Array[Byte](e - s)
    var o = 0
    var inRun = false
    var i = s
    while (i < e) {
      val b = Platform.getByte(base, off + i)
      if (!isSpace(b)) { out(o) = b; o += 1; inRun = false }
      else if (!inRun) { out(o) = Space; o += 1; inRun = true }
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** `norm_space(s)` as a Column. */
  def of(s: Column): Column = ColumnBridge.column(NormSpace(ColumnBridge.expression(s)))
}
