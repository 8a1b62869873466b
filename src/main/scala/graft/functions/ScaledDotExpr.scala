package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Exact dot product of a float32 vector and a double vector at the
  * inference oracle's scale: Σ floor(double(x_i)·c_i·1e12) as BIGINT over
  * the positions both arrays have, a term whose x or c is NULL adding
  * nothing; NULL when no term is left. These are the integers the
  * oracle's grouped `SUM(CAST(floor((x * c) * 1.0e12) AS BIGINT))` adds,
  * and integer sums are exact and order-free, so the result equals it
  * bit for bit. One loop instead of `zip_with` + `aggregate` lambdas; the
  * scoring kernel calls it inside a `transform` lambda, where expressions
  * are evaluated, not generated, so it has no codegen of its own.
  */
case class ScaledDotExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"scaled_dot expects (array<float>, array<double>), got (${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "scaled_dot"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val c = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), c.numElements())
    var acc = 0L
    var terms = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !c.isNullAt(i)) {
        acc += ScaledDotExpr.term(x.getFloat(i), c.getDouble(i))
        terms += 1
      }
      i += 1
    }
    if (terms == 0) null else acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ScaledDotExpr {
  /** One term of the sum: floor((x·c)·1e12), the oracle's operation order. */
  def term(x: Float, c: Double): Long = math.floor(x.toDouble * c * 1.0e12).toLong
}
