package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst GENERATOR (table function): sliding word n-grams over a
  * token array — `ngrams(tokens, n)` emits one (pos, gram) row per window
  * position, consumed through `LATERAL VIEW` / generator-select like
  * `explode`. This completes the extension-point taxonomy the library
  * demonstrates: scalar `Expression` (dot_product / cosine_sim /
  * sorted_intersect_count), `TypedImperativeAggregate` (KLL,
  * Misra-Gries), `LogicalPlan`+Strategy+`SparkPlan` (native as-of),
  * `Rule[LogicalPlan]` (range/overlap bin rewrites), and now `Generator`.
  *
  * Why a generator instead of the lead()-window construction the oracles
  * use: the window form shuffles the whole token stream to the (doc)
  * grain and sorts it just to see adjacent tokens, and it needs one
  * extra lead() column per extra gram position. The generator emits
  * n-grams inside the scan's own pipeline — NO shuffle, NO sort, any n —
  * and Catalyst plans it as the same `Generate` node as explode, so
  * column pruning below it still works. At 100 TB the difference is a
  * full-corpus exchange versus none.
  *
  * Contract: `n` must be a foldable positive integer; arrays shorter than
  * `n` emit nothing; a NULL array emits nothing (LATERAL VIEW semantics,
  * use OUTER to keep the row). Null ELEMENTS are skipped by the
  * space-join (`concatWs` semantics) — the tokenizer never produces them.
  * Evaluation is `CodegenFallback`: generators run outside whole-stage
  * codegen in Spark's Generate exec anyway, so a hand-written doGenCode
  * would buy nothing.
  */
case class NGramsGenerator(child: Expression, n: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, n)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n.foldable && n.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"ngrams expects (array<string>, foldable int), got " +
        s"(${child.dataType.simpleString}, ${n.dataType.simpleString})")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("gram", StringType, nullable = false)))

  private lazy val k: Int = n.eval(null).asInstanceOf[Int]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null || k <= 0 || arr.numElements() < k) return Iterator.empty
    val sep = UTF8String.fromString(" ")
    val m = arr.numElements()
    (0 to m - k).iterator.map { i =>
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      InternalRow(i, UTF8String.concatWs(sep, parts: _*))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), n = newChildren(1))
}
