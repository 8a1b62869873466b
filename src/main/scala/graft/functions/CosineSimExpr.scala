package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two float32 vectors in
  * ONE fused pass — dot product and both squared norms accumulate in the
  * same loop, `dot / (sqrt(na) * sqrt(nb))`.
  *
  * Why a dedicated expression when [[DotProductExpr]] exists: the HOF form
  * needs three array traversals (dot + each side's norm) and, for the
  * probe side, either a pre-materialized norm column carried through the
  * join or a recomputation per candidate pair. The fused loop reads each
  * element exactly once, allocates nothing, and stays inside whole-stage
  * codegen — on a brute-force scan this is the hot inner loop at any
  * corpus size.
  *
  * Numerics: double accumulators, sequential left-to-right adds, and the
  * exact final op order `dot / (sqrt(na) * sqrt(nb))` — bit-identical to
  * the relational chain `aggregate(zip_with(...)) / (sqrt(aggregate(...))
  * * sqrt(aggregate(...)))` and to the DuckDB `list_reduce` oracle form,
  * so fused and unfused queries hash-match. Length mismatch → NULL
  * (matching zip_with's null-poisoned fold); zero-norm vectors follow IEEE
  * division (±Inf/NaN), same as the relational form.
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override def nullable: Boolean = true

  // NULL elements poison the result (the HOF fold's acc+NULL=NULL), so
  // fused and unfused stay bit-identical on every input, not just clean ones.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = x.numElements()
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val xv = x.getFloat(i).toDouble
        val yv = y.getFloat(i).toDouble
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xv = (double) $a.getFloat($i);
         |    double $yv = (double) $b.getFloat($i);
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
