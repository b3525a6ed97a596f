package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** MinHash signature of a shingle set, as a native Catalyst expression: for
  * each of the `as.length` hash functions j, the minimum over all shingles s
  * of `(as(j) * h(s) + bs(j)) % p`, where `h(s)` is the first 7 hex chars of
  * `md5(s)` parsed base-16 (28 bits, so `a * h < 2^57` — no 64-bit overflow).
  *
  * Accepts either `array<string>` (raw shingles — the md5 runs here) or
  * `array<bigint>` (pre-hashed 60-bit shingle hashes from
  * [[WordShingleHashes]], where h(s) is the stored value's top 28 bits,
  * `h60 >>> 32` — bit-identical to hashing the string, since the 60-bit
  * hash IS the first 15 hex chars of the same md5). The hashed form is what
  * the persisted signature tables store: signing a batch from its hashed
  * shingle sets never rebuilds shingle strings.
  *
  * Replaces an interpreted higher-order `aggregate`/`zip_with` fold (one
  * lambda closure + one array allocation per shingle per fold step) with a
  * single compiled pass per row — the same arithmetic, so the DuckDB oracle
  * mirroring the fold is unchanged bit-for-bit.
  *
  * Semantics mirror the SQL formulation exactly:
  *  - empty shingle array → the init vector (all `p`);
  *  - a null shingle hashes to null and `least(m, null) = m` in the SQL
  *    fold, so null elements leave the minima untouched — here: skipped;
  *  - null input array → null signature.
  */
case class MinHashSig(child: Expression, as: Seq[Long], bs: Seq[Long], p: Long)
  extends UnaryExpression {

  require(as.length == bs.length, "coefficient arrays must have equal length")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def stateful: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> or array<bigint> input, got ${t.catalogString}")
  }

  private lazy val hashedInput: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == LongType

  @transient private lazy val aArr: Array[Long] = as.toArray
  @transient private lazy val bArr: Array[Long] = bs.toArray

  @transient private lazy val h60 = new H60

  def compute(input: ArrayData): ArrayData = {
    val k = aArr.length
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, p)
    val n = input.numElements()
    var i = 0
    while (i < n) {
      if (!input.isNullAt(i)) {
        val h = if (hashedInput) {
          // 60-bit stored hash: the first 15 md5 hex chars; its top 28
          // bits ARE the first 7 hex chars — the string-path base hash
          input.getLong(i) >>> 32
        } else {
          // first 7 hex chars of the md5 = the top 28 of its 60 bits
          h60.of(input.getUTF8String(i)) >>> 32
        }
        var j = 0
        while (j < k) {
          val v = (aArr(j) * h + bArr(j)) % p
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // stays inside whole-stage codegen: the generated code calls this
    // expression instance's compiled kernel directly
    val ref = ctx.addReferenceObj("minhash", this, classOf[MinHashSig].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  /** The canonical permutation family: `numHashes` affine maps drawn from
    * `Random(seed)` — `a` odd < 2^29, `b` < 2^28 — over the prime 2^31-1.
    * Deterministic across JVMs (scala.util.Random is a fixed LCG), and
    * embedded as literals in the DuckDB oracle so both engines run the
    * identical arithmetic. */
  val Prime: Long = 2147483647L

  def coefficients(numHashes: Int, seed: Long): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(seed)
    (Seq.fill(numHashes)(rnd.nextInt(1 << 28).toLong * 2 + 1),
      Seq.fill(numHashes)(rnd.nextInt(1 << 28).toLong))
  }

  def of(shingles: Column, as: Seq[Long], bs: Seq[Long], p: Long): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(shingles), as, bs, p))
}
