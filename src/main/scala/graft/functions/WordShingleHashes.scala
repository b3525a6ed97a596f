package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct 60-bit hashes of the word k-shingles of a text — the
  * signature-table representation of a shingle set: ~8 bytes per shingle
  * instead of the shingle STRING (~3x the document's own text across all
  * k-grams), so persisted LSH artifacts and the exact-Jaccard verify
  * shuffles are signature-sized, not corpus-sized.
  *
  * The hash is the repo-wide engine-portable discipline (the same one the
  * inverted-index postings use, `Dedup.h60S`): the first 15 hex chars of
  * `md5(shingle)` parsed base-16 — 60 bits, always non-negative in a signed
  * 64-bit long. DuckDB states the identical set with
  * `list_distinct(list_transform(sh, s ->
  * CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))`.
  *
  * Tokenization and the short-text case mirror [[WordShingles]] exactly
  * (ASCII-space `trim`, `split('\s+', -1)`, `< k` tokens → the trimmed text
  * as the single shingle); distinctness is on the HASH VALUE, which equals
  * hash-of-distinct-strings as a set (a 60-bit collision merges the same
  * two shingles in both engines, so outputs stay bit-identical by
  * construction). The MinHash base hash (top 28 bits of the md5) is the
  * top 28 of these 60 bits — `h60 >>> 32` — so signatures computed from
  * this column are bit-identical to signatures computed from the strings.
  *
  * Single compiled pass per row: shingle bytes are md5'd as they are
  * built — the string array is never materialized.
  */
case class WordShingleHashes(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_shingle_hashes"
  override def stateful: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${t.catalogString}")
  }

  @transient private lazy val ws: Pattern = Pattern.compile("\\s+")

  @transient private lazy val h60 = new H60

  /** First 15 hex chars of the md5 of `s`'s UTF-8 bytes ([[H60]]). */
  private def h60Of(s: String): Long = {
    val b = s.getBytes("UTF-8")
    h60.of(b, 0, b.length)
  }

  def compute(input: UTF8String): ArrayData = {
    val trimmed = input.trim() // ASCII-space trim, same as SQL trim()
    val t = trimmed.toString
    // Spark's split(str, regex) runs with limit -1 (keep trailing empties)
    val toks = ws.split(t, -1)
    if (toks.length < k)
      return new GenericArrayData(Array[Any](h60.of(trimmed)))
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(h60Of(sb.toString))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next().longValue(); o += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // stays inside whole-stage codegen: the generated code calls this
    // expression instance's compiled kernel directly
    val ref = ctx.addReferenceObj("shingleHashes", this, classOf[WordShingleHashes].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)
}

object WordShingleHashes {
  def of(text: Column, k: Int): Column =
    ColumnBridge.column(WordShingleHashes(ColumnBridge.expression(text), k))
}
