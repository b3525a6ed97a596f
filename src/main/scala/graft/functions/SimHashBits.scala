package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 60-bit SimHash of a token array in ONE native pass — the compiled
  * equivalent of the SQL fold [[graft.operators.Dedup.dedup_simhash]] ran
  * through round 16:
  * {{{
  *   aggregate(zip_with(aggregate(transform(toks, t -> h60(t)), ...60-int
  *   counters..., zip_with per token), ...), bit assembly)
  * }}}
  * The interpreted chain allocated a fresh 60-element counter array per
  * TOKEN (zip_with), evaluated the md5→conv lambda per token in boxed
  * interpreted mode, and re-walked 60 lambda frames per token. Here each
  * token is digested once into a reused thread-local MessageDigest
  * ([[H60.ofDigest]], the engine-wide fingerprint discipline) and the 60
  * counters are one reused int array — same per-token hash, same majority
  * rule (`counter > 0` sets the bit), bit-identical fingerprint. The
  * equivalence suite pins the kernel against the interpreted pipeline on
  * the fixture corpus and adversarial token lists.
  *
  * A null token votes 0 on every bit, as in the fold: there its hash is
  * null, `(h >> b) & 1 = 1` is null, and the `CASE` falls to its `ELSE -1`
  * branch for all 60 counters. The fingerprint stays non-null; only a
  * null ARRAY yields null, like any unary expression. (`split()` output,
  * the only input the operators pass, holds no null tokens.)
  */
case class SimHashBits(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_bits"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimHashBits.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHashBits.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

object SimHashBits {
  private val digests = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** JVM entry point shared by interpreted eval and generated code. */
  def compute(toks: ArrayData): Long = {
    val n = toks.numElements()
    val counters = new Array[Int](60)
    val md = digests.get()
    var i = 0
    while (i < n) {
      val h =
        if (toks.isNullAt(i)) 0L
        else { md.reset(); H60.ofDigest(md.digest(toks.getUTF8String(i).getBytes)) }
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (counters(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  /** `simhash_bits(toks)` as a Column. */
  def of(toks: Column): Column =
    ColumnBridge.column(SimHashBits(ColumnBridge.expression(toks)))
}
