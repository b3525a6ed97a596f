package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Index-ordered double dot product of two numeric arrays, as a native
  * codegen'd Catalyst expression.
  *
  * Replaces the `aggregate(zip_with(a, b, (x, y) -> x * y), 0d, +)` pattern
  * used by the embedding operators: higher-order functions are evaluated
  * interpreted (a lambda closure and an array allocation per element), which
  * made the 64-dim cosine kernels the dominant cost of every ANN/dedup query.
  * This expression participates in whole-stage codegen and compiles to a
  * tight primitive loop.
  *
  * Semantics are exactly the HOF pipeline's: each element is widened to
  * double, products are accumulated in index order (bit-reproducible across
  * engines — the DuckDB oracle sums the same products in the same order),
  * and a null input or null element yields null.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(_: NumericType, _), ArrayType(_: NumericType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two arrays of numeric elements, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (ta, tb) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      sum += toDouble(a, ta, i) * toDouble(b, tb, i)
      i += 1
    }
    sum
  }

  private def toDouble(arr: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case IntegerType => arr.getInt(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case ShortType => arr.getShort(i).toDouble
    case ByteType => arr.getByte(i).toDouble
    case d: DecimalType => arr.getDecimal(i, d.precision, d.scale).toDouble
  }

  private def getter(t: DataType, arr: String, i: String): String = t match {
    case FloatType => s"$arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case IntegerType => s"$arr.getInt($i)"
    case LongType => s"$arr.getLong($i)"
    case ShortType => s"$arr.getShort($i)"
    case ByteType => s"$arr.getByte($i)"
    case d: DecimalType => s"$arr.getDecimal($i, ${d.precision}, ${d.scale}).toDouble()"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $sum += ((double) ${getter(elemType(left), a, i)}) * ((double) ${getter(elemType(right), b, i)});
         |}
         |if (!${ev.isNull}) { ${ev.value} = $sum; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** `dot(a, b)` as a Column for the DataFrame API. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Squared L2 norm: `dot(a, a)`. */
  def norm2(a: Column): Column = dot(a, a)
}
