package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, classic}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.functions._
import graft.plans.{AsOfJoinStrategy, OverlapBinJoinRule, RangeBinJoinRule}

/** Every graft Catalyst extension, declared once in the companion's list
  * and installed two ways:
  *
  *  - `--conf spark.sql.extensions=graft.GraftExtensions` — the public
  *    `SparkSessionExtensions` seam. It applies at session build time, also
  *    to sessions graft code never touches (thrift server, connect,
  *    notebooks), and puts the rules in the operator-optimization batch.
  *  - [[GraftExtensions.ensure]] — check-then-install on a live session,
  *    called by every query that needs an extension. Graft's own sessions
  *    ([[GraftSession]]) are built without the conf, so this is how the
  *    graded runs and the test suite get them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => GraftExtensions.strategy())
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r()))
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  private def binary(name: String, cls: Class[_], args: String)(
      make: (Expression, Expression) => Expression): (FunctionIdentifier, ExpressionInfo, Builder) =
    function(name, cls, { exprs =>
      require(exprs.length == 2, s"$name expects 2 arguments ($args), got ${exprs.length}")
      make(exprs(0), exprs(1))
    })

  private def function(name: String, cls: Class[_], build: Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** SQL functions: (identifier, info, builder with its arity check). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    binary("dot_product", classOf[DotProductExpr], "array<float>, array<float>")(DotProductExpr(_, _)),
    binary("scaled_dot", classOf[ScaledDotExpr], "array<float>, array<double>")(ScaledDotExpr(_, _)),
    binary("cosine_sim", classOf[CosineSimExpr], "array<float>, array<float>")(CosineSimExpr(_, _)),
    binary("sorted_intersect_count", classOf[SortedIntersectCountExpr],
      "same-type string or bigint arrays")(SortedIntersectCountExpr(_, _)),
    binary("ngrams", classOf[NGramsGenerator], "array<string>, int")(NGramsGenerator(_, _)),
    function("kll_quantiles", classOf[KllQuantilesAgg], KllQuantilesAgg.builder),
    function("mg_heavy_hitters", classOf[MisraGriesAgg], MisraGriesAgg.builder))

  /** Plans [[graft.plans.AsOfJoinPlan]] as the single-pass merge exec. */
  private def strategy(): SparkStrategy = new AsOfJoinStrategy

  /** Range-join then interval-overlap auto-binning, in that order, so the
    * one-sided rule wins the point-range shape both can express. Each is
    * a no-op unless its `binWidth` conf is set. */
  private val rules: Seq[() => Rule[LogicalPlan]] =
    Seq(() => new RangeBinJoinRule, () => new OverlapBinJoinRule)

  /** Installs whatever `spark` lacks: functions through its registry, the
    * strategy through `experimental.extraStrategies` and the rules through
    * `experimental.extraOptimizations`. What the `spark.sql.extensions`
    * seam or an earlier call installed is left as it is, so every query
    * can call this. Rules installed here run in the "User Provided
    * Optimizers" batch, after the operator-optimization batch. */
  def ensure(spark: SparkSession): Unit = synchronized {
    val s = spark.asInstanceOf[classic.SparkSession]
    val registry = s.sessionState.functionRegistry
    for ((id, info, build) <- functions if !registry.functionExists(id))
      registry.registerFunction(id, info, build)
    val exp = s.experimental
    val st = strategy()
    if (!s.sessionState.planner.strategies.exists(_.getClass == st.getClass))
      exp.extraStrategies = exp.extraStrategies :+ st
    val installed = s.sessionState.optimizer.extendedOperatorOptimizationRules ++
      exp.extraOptimizations
    for (rule <- rules.map(_()) if !installed.exists(_.getClass == rule.getClass))
      exp.extraOptimizations = exp.extraOptimizations :+ rule
  }
}
