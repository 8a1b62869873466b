package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.plans.RangeBinJoinRule — auto-binning of pure range joins. */
class RangeBinJoinSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    GraftExtensions.ensure(s)
    // the rewrite is opt-in: fires only with an explicit bin width
    s.conf.set("spark.graft.rangeBinJoin.binWidth", "8.0")
    s
  }
  import spark.implicits._

  private def executedPlan(df: DataFrame): String =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan.toString

  /** Disables BOTH bin-join rules for the body: the overlap rule treats a
    * point as a degenerate interval, so with a leaked overlap width (e.g.
    * one another suite left set in the shared session) it would
    * also rewrite these point-range joins and the NestedLoop expectations
    * here would test the wrong rule.
    */
  private def withRule[A](enabled: Boolean)(body: => A): A = {
    spark.conf.set("spark.graft.rangeBinJoin.enabled", enabled.toString)
    spark.conf.set("spark.graft.overlapBinJoin.enabled", enabled.toString)
    try body finally {
      spark.conf.set("spark.graft.rangeBinJoin.enabled", "true")
      spark.conf.unset("spark.graft.overlapBinJoin.enabled")
    }
  }

  private def points = Seq(
    (1L, 0.5), (2L, 3.9), (3L, 4.0), (4L, 100.0), (5L, 511.9),
    (6L, -3.2), (7L, 512.0)).toDF("pid", "v")
      .unionAll(Seq((8L, Option.empty[Double])).toDF("pid", "v"))

  private def intervals = Seq(
    (10L, 0.0, 4.0), (11L, 4.0, 8.0), (12L, 90.0, 200.0),
    (13L, -10.0, 0.0), (14L, 500.0, 600.0),
    (15L, 7.0, 2.0) // degenerate lo > hi: must match nothing
  ).toDF("iid", "lo", "hi")
      .unionAll(Seq((16L, Option.empty[Double], Option(5.0))).toDF("iid", "lo", "hi"))

  private def rangeJoin(p: DataFrame, i: DataFrame): DataFrame =
    p.join(i, col("v") >= col("lo") && col("v") < col("hi"))
      .select("pid", "iid").orderBy("pid", "iid")

  test("rewritten plan is NestedLoop-free and matches the rule-off result") {
    val on = rangeJoin(points, intervals)
    val planOn = executedPlan(on)
    assert(!planOn.contains("NestedLoopJoin"), s"rule did not fire:\n$planOn")
    assert(planOn.contains("Generate"), s"no bin explode in plan:\n$planOn")
    val expected = withRule(enabled = false) {
      val off = rangeJoin(points, intervals)
      assert(executedPlan(off).contains("NestedLoopJoin"))
      off.collect().toSeq
    }
    assert(on.collect().toSeq == expected)
    // nulls and the degenerate (lo > hi) interval excluded; negatives match
    val pairs = expected.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs == Seq((1L, 10L), (2L, 10L), (3L, 11L), (4L, 12L),
      (5L, 14L), (6L, 13L), (7L, 14L)))
  }

  test("bin width does not change the result") {
    val base = rangeJoin(points, intervals).collect().toSeq
    for (w <- Seq("0.7", "3.0", "64.0", "10000.0")) {
      spark.conf.set("spark.graft.rangeBinJoin.binWidth", w)
      try assert(rangeJoin(points, intervals).collect().toSeq == base, s"width $w")
      finally spark.conf.set("spark.graft.rangeBinJoin.binWidth", "8.0")
    }
  }

  test("no explicit bin width -> rule never fires (opt-in contract)") {
    spark.conf.unset("spark.graft.rangeBinJoin.binWidth")
    spark.conf.set("spark.graft.overlapBinJoin.enabled", "false")
    try {
      val plan = executedPlan(rangeJoin(points, intervals))
      assert(plan.contains("NestedLoopJoin") && !plan.contains("Generate"))
    } finally {
      spark.conf.set("spark.graft.rangeBinJoin.binWidth", "8.0")
      spark.conf.unset("spark.graft.overlapBinJoin.enabled")
    }
  }

  test("malformed conf values disable the rule instead of failing queries") {
    for ((k, v) <- Seq(("spark.graft.rangeBinJoin.binWidth", "8px"),
        ("spark.graft.rangeBinJoin.binWidth", "-2"),
        ("spark.graft.rangeBinJoin.enabled", "yes"))) {
      spark.conf.set(k, v)
      try {
        // unrelated query still runs AND the range join still executes
        assert(Tables.t(spark, TestSpark.sf, "region").count() == 5)
        rangeJoin(points, intervals).collect()
      } finally {
        spark.conf.set("spark.graft.rangeBinJoin.binWidth", "8.0")
        spark.conf.unset("spark.graft.rangeBinJoin.enabled")
      }
    }
  }

  test("mirrored orientation (intervals on the left) also rewrites") {
    val j = intervals.join(points, col("v") >= col("lo") && col("v") < col("hi"))
      .select("pid", "iid").orderBy("pid", "iid")
    assert(!executedPlan(j).contains("NestedLoopJoin"))
    assert(j.collect().toSeq ==
      rangeJoin(points, intervals).collect().toSeq)
  }

  test("joins with an equi conjunct are left alone") {
    val i2 = intervals.withColumn("k", col("iid") % 2)
    val p2 = points.withColumn("k", col("pid") % 2)
    val j = p2.join(i2, p2("k") === i2("k") && col("v") >= col("lo") && col("v") < col("hi"))
    val plan = executedPlan(j)
    assert(!plan.contains("Generate"), s"rule fired on an equi join:\n$plan")
    j.collect() // still executes
  }

  test("strict and inclusive bound variants agree with rule off") {
    val conds = Seq(
      col("v") > col("lo") && col("v") <= col("hi"),
      col("lo") <= col("v") && col("hi") > col("v"))
    for (c <- conds) {
      val on = points.join(intervals, c).select("pid", "iid").orderBy("pid", "iid")
      assert(!executedPlan(on).contains("NestedLoopJoin"))
      val off = withRule(enabled = false) {
        points.join(intervals, c).select("pid", "iid").orderBy("pid", "iid").collect().toSeq
      }
      assert(on.collect().toSeq == off)
    }
  }

  test("randomized equivalence: rule-on == rule-off over seeded data") {
    val rnd = new scala.util.Random(4242)
    for (round <- 1 to 3) {
      val pts = Seq.tabulate(200)(i =>
        (i.toLong, math.floor(rnd.between(-50.0, 450.0) * 100) / 100))
        .toDF("pid", "v")
      val ivs = Seq.tabulate(40) { i =>
        val a = math.floor(rnd.between(-60.0, 460.0) * 100) / 100
        val b = a + math.floor(rnd.between(-5.0, 120.0) * 100) / 100 // some degenerate
        (1000L + i, a, b)
      }.toDF("iid", "lo", "hi")
      val w = Seq("0.9", "7.0", "33.0")(round - 1)
      spark.conf.set("spark.graft.rangeBinJoin.binWidth", w)
      try {
        val on = rangeJoin(pts, ivs)
        assert(!executedPlan(on).contains("NestedLoopJoin"), s"round $round")
        val off = withRule(enabled = false)(rangeJoin(pts, ivs).collect().toSeq)
        assert(on.collect().toSeq == off, s"round $round width $w")
      } finally spark.conf.set("spark.graft.rangeBinJoin.binWidth", "8.0")
    }
  }

  test("extension-injected rule serves SQL text too") {
    points.createOrReplaceTempView("rb_points")
    intervals.createOrReplaceTempView("rb_intervals")
    val df = spark.sql(
      """SELECT pid, iid FROM rb_points JOIN rb_intervals
        |ON v >= lo AND v < hi ORDER BY pid, iid""".stripMargin)
    assert(!executedPlan(df).contains("NestedLoopJoin"))
    assert(df.collect().length == 7)
  }

  test("join_range_auto bins in a child session and leaves the caller's conf unset") {
    val fresh = TestSpark.spark.newSession()
    val q = SparkEntry.queries("join_range_auto")(fresh, TestSpark.sf)
    val plan = executedPlan(q)
    assert(!plan.contains("NestedLoopJoin"), s"rule did not fire:\n$plan")
    assert(q.count() > 0)
    for (k <- Seq("spark.graft.rangeBinJoin.binWidth", "spark.graft.overlapBinJoin.binWidth"))
      assert(fresh.conf.getOption(k).isEmpty, s"join_range_auto set $k on the caller's session")
    // same oracle as the hand-binned query
    assert(q.collect().toSeq ==
      SparkEntry.queries("join_range_binned")(fresh, TestSpark.sf).collect().toSeq)
  }
}
