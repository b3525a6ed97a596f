package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 60-bit SimHash of a text's tokens in ONE native pass — the compiled
  * equivalent of the SQL fold [[graft.operators.Dedup.dedup_simhash]]'s
  * oracle runs over `toks = split(trim(text), '\\s+')`:
  * {{{
  *   aggregate(zip_with(aggregate(transform(toks, t -> h60(t)), ...60-int
  *   counters..., zip_with per token), ...), bit assembly)
  * }}}
  * Each token is digested once in place ([[H60]], the engine-wide
  * fingerprint discipline) and the 60 counters are one int array — same
  * per-token hash, same majority rule (`counter > 0` sets the bit),
  * bit-identical fingerprint.
  *
  * The tokens are taken from the text's UTF-8 bytes without a regex or a
  * token copy: `trim` strips 0x20 at both ends, and the rest splits at
  * every run of [[NormSpace]]'s whitespace bytes, so a leading or trailing
  * run (of other whitespace than 0x20) gives an empty token and an empty
  * trimmed string gives the one token `""`. Every character
  * `\s` matches is one ASCII byte and no byte of a multi-byte UTF-8
  * sequence is below 0x80, so the byte walk splits where the regex does;
  * the string is taken to be valid UTF-8, as for [[NormSpace]]. A null
  * text yields null, like any unary expression.
  */
case class SimHashBits(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_bits"
  override def stateful: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${t.catalogString}")
  }

  @transient private lazy val h60 = new H60

  override def nullSafeEval(input: Any): Any =
    SimHashBits.compute(input.asInstanceOf[UTF8String], h60)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = H60.state(ctx)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.SimHashBits.compute($c, $h);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

object SimHashBits {
  /** The fingerprint of the tokens of `split(trim(t), '\\s+')`. */
  def compute(t: UTF8String, h60: H60): Long = {
    val (bytes, base) = H60.bytesOf(t)
    var s = base
    var e = base + t.numBytes
    while (s < e && bytes(s) == ' ') s += 1
    while (e > s && bytes(e - 1) == ' ') e -= 1
    val counters = new Array[Int](60)
    var start = s // of the current token
    var inRun = false
    var i = s
    while (i < e) {
      if (NormSpace.isSpace(bytes(i))) {
        if (!inRun) { vote(counters, h60.of(bytes, start, i - start)); inRun = true }
      } else if (inRun) { start = i; inRun = false }
      i += 1
    }
    if (inRun) start = e
    vote(counters, h60.of(bytes, start, e - start))
    var out = 0L
    var b = 0
    while (b < 60) {
      if (counters(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  private def vote(counters: Array[Int], h: Long): Unit = {
    var b = 0
    while (b < 60) {
      if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
      b += 1
    }
  }

  /** `simhash_bits(text)` as a Column. */
  def of(text: Column): Column =
    ColumnBridge.column(SimHashBits(ColumnBridge.expression(text)))
}
