package graft

import org.apache.spark.sql.{Row, classic}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOfJoinStrategy, OverlapBinJoinRule, RangeBinJoinRule}

/** GraftExtensions' one list, two ways in: a session built with the
  * extension gets every function, the as-of strategy and both binning
  * rules at build time, WITHOUT any imperative call; a session built
  * without it (the graded recipe, which the suite's session uses) gets
  * them from `GraftExtensions.ensure`, which every query that needs one
  * calls.
  */
class ExtensionsSpec extends AnyFunSuite {
  import TestSpark._

  private def classicOf(s: org.apache.spark.sql.SparkSession) =
    s.asInstanceOf[classic.SparkSession]

  /** A session built with the extension over the suite's running
    * SparkContext (which the builder picks up). Spark reads the extension
    * conf from the context's conf, so an existing context takes the
    * extension object itself. `create()` gives the session its own
    * SharedState (no memo-cached query runs here) and makes it the active
    * and default session, which goes back to the suite's session at once. */
  private lazy val withExt: classic.SparkSession = {
    val sc = spark.sparkContext
    val s = classic.SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .create()
    assert(s.sparkContext eq sc)
    classic.SparkSession.setActiveSession(classicOf(spark))
    classic.SparkSession.setDefaultSession(classicOf(spark))
    s
  }

  private val functionIds = Seq("dot_product", "cosine_sim", "sorted_intersect_count",
    "ngrams", "kll_quantiles", "mg_heavy_hitters").map(FunctionIdentifier(_))

  private def installed(s: classic.SparkSession) = (
    s.experimental.extraStrategies.map(_.getClass),
    s.experimental.extraOptimizations.map(_.getClass))

  private def sortedRows(s: org.apache.spark.sql.SparkSession, name: String): Seq[String] =
    SparkEntry.queries(name)(s, sf).collect().map((_: Row).toString).sorted.toSeq

  test("dot_product resolves from SQL via injectFunction alone") {
    // no GraftExtensions.ensure here — only the extension installs it
    val r = withExt.sql(
      """SELECT dot_product(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                   array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d"""
        .stripMargin).head
    assert(r.getDouble(0) == 4.0)
  }

  test("as-of join plans through the injected strategy, not extraStrategies") {
    val native = SparkEntry.queries("join_asof_native")(withExt, sf)
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfMergeJoin") || plan.contains("BroadcastAsOfJoin"))
    // ensure must have recognized the injected strategy and NOT fallen
    // back to the imperative experimental seam
    assert(!withExt.experimental.extraStrategies.exists(_.isInstanceOf[AsOfJoinStrategy]))
  }

  test("the suite session has no extension; ensure installs all of it") {
    assert(spark.sparkContext.getConf.getOption("spark.sql.extensions").isEmpty)
    val fresh = classicOf(spark.newSession())
    val registry = fresh.sessionState.functionRegistry
    functionIds.foreach(id => assert(!registry.functionExists(id), s"$id before ensure"))
    assert(installed(fresh) == ((Nil, Nil)))
    GraftExtensions.ensure(fresh)
    functionIds.foreach(id => assert(registry.functionExists(id), s"$id after ensure"))
    assert(installed(fresh) ==
      ((Seq(classOf[AsOfJoinStrategy]), Seq(classOf[RangeBinJoinRule], classOf[OverlapBinJoinRule]))))
    assert(fresh.sql("SELECT cosine_sim(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))")
      .head.getDouble(0) == 1.0)
  }

  test("a second ensure installs nothing more") {
    val fresh = classicOf(spark.newSession())
    GraftExtensions.ensure(fresh)
    val (strategies, rules) =
      (fresh.experimental.extraStrategies, fresh.experimental.extraOptimizations)
    GraftExtensions.ensure(fresh)
    assert(fresh.experimental.extraStrategies eq strategies)
    assert(fresh.experimental.extraOptimizations eq rules)
  }

  test("ensure on the extension session adds nothing to experimental") {
    GraftExtensions.ensure(withExt)
    assert(installed(withExt) == ((Nil, Nil)))
  }

  test("the auto joins and the native as-of join return equal rows on both seams") {
    for (name <- Seq("join_range_auto", "join_overlap_auto", "join_asof_native"))
      assert(sortedRows(withExt, name) == sortedRows(spark.newSession(), name), name)
  }
}
