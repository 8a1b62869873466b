package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.plans.OverlapBinJoinRule — auto-binning of interval-overlap
  * joins (the two-sided generalization of RangeBinJoinSpec's rule).
  */
class OverlapBinJoinSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    graft.plans.OverlapBinJoin.ensureRegistered(s)
    s
  }
  import spark.implicits._

  /** Width is scoped per test and UNSET afterwards: the session is shared
    * across suites, and a leaked overlap width would make this rule fire
    * on RangeBinJoinSpec's point-range joins too (a point is a degenerate
    * interval to this rule) and break that suite's plan-shape
    * expectations.
    */
  private def withWidth[A](w: String)(body: => A): A = {
    spark.conf.set("spark.graft.overlapBinJoin.binWidth", w)
    try body finally spark.conf.unset("spark.graft.overlapBinJoin.binWidth")
  }

  private def executedPlan(df: DataFrame): String =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan.toString

  private def withRule[A](enabled: Boolean)(body: => A): A = {
    spark.conf.set("spark.graft.overlapBinJoin.enabled", enabled.toString)
    try body finally spark.conf.unset("spark.graft.overlapBinJoin.enabled")
  }

  private def as = Seq(
    (1L, 0.0, 4.0), (2L, 3.5, 10.0), (3L, 100.0, 130.0),
    (4L, -20.0, -5.0), (5L, 500.0, 500.0), // zero-length point interval
    (6L, 9.0, 2.0) // degenerate lo > hi — matches nothing in THIS fixture
  ).toDF("aid", "a_lo", "a_hi")
      .unionAll(Seq((7L, Option.empty[Double], Option(5.0))).toDF("aid", "a_lo", "a_hi"))

  private def bs = Seq(
    (10L, 2.0, 3.0), (11L, 8.0, 64.0), (12L, 120.0, 125.0),
    (13L, -100.0, -19.0), (14L, 500.0, 501.0), (15L, 5.0, 6.0)
  ).toDF("bid", "b_lo", "b_hi")
      .unionAll(Seq((16L, Option(1.0), Option.empty[Double])).toDF("bid", "b_lo", "b_hi"))

  private def overlapJoin(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("aid", "bid").orderBy("aid", "bid")

  test("rewritten plan is NestedLoop-free, dedup-free, and matches rule-off") {
    withWidth("8.0") {
      val on = overlapJoin(as, bs)
      val planOn = executedPlan(on)
      assert(!planOn.contains("NestedLoopJoin"), s"rule did not fire:\n$planOn")
      assert(planOn.contains("Generate"), s"no bin explode in plan:\n$planOn")
      // the canonical-bin filter replaces a distinct: no aggregate in plan
      assert(!planOn.contains("HashAggregate"), s"unexpected dedup agg:\n$planOn")
      val expected = withRule(enabled = false) {
        val off = overlapJoin(as, bs)
        assert(executedPlan(off).contains("NestedLoopJoin"))
        off.collect().toSeq
      }
      assert(on.collect().toSeq == expected)
      val pairs = expected.map(r => (r.getLong(0), r.getLong(1)))
      // hand-checked: null bounds drop on both paths; A2 spans two bins
      assert(pairs == Seq((1L, 10L), (2L, 11L), (2L, 15L), (3L, 12L),
        (4L, 13L), (5L, 14L)))
    }
  }

  test("a pair overlapping MANY bins still appears exactly once") {
    val a1 = Seq((1L, 0.0, 1000.0)).toDF("aid", "a_lo", "a_hi")
    val b1 = Seq((2L, 500.0, 900.0)).toDF("bid", "b_lo", "b_hi")
    for (w <- Seq("0.5", "8.0", "333.0"))
      withWidth(w) {
        assert(overlapJoin(a1, b1).collect().length == 1, s"width $w")
      }
  }

  test("a DEGENERATE interval (lo > hi) that genuinely matches is kept") {
    // A=[5,3] vs B=[1,10]: 5<=10 && 1<=3 — the raw predicate is TRUE; the
    // rewrite must emit it exactly once (single-bin guard + canonical bin)
    val a1 = Seq((1L, 5.0, 3.0)).toDF("aid", "a_lo", "a_hi")
    val b1 = Seq((2L, 1.0, 10.0)).toDF("bid", "b_lo", "b_hi")
    for (w <- Seq("0.5", "2.0", "100.0"))
      withWidth(w) {
        assert(overlapJoin(a1, b1).collect().toSeq.map(r =>
          (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)), s"width $w")
      }
  }

  test("bin width does not change the result") {
    val base = withWidth("8.0")(overlapJoin(as, bs).collect().toSeq)
    for (w <- Seq("0.7", "3.0", "64.0", "10000.0"))
      withWidth(w) {
        assert(overlapJoin(as, bs).collect().toSeq == base, s"width $w")
      }
  }

  test("no explicit bin width -> rule never fires (opt-in contract)") {
    // clear any width another suite left set in the shared session
    spark.conf.unset("spark.graft.overlapBinJoin.binWidth")
    val plan = executedPlan(overlapJoin(as, bs))
    assert(plan.contains("NestedLoopJoin") && !plan.contains("Generate"))
  }

  test("malformed conf values disable the rule instead of failing queries") {
    for (v <- Seq("8px", "-2", "inf")) {
      spark.conf.set("spark.graft.overlapBinJoin.binWidth", v)
      try overlapJoin(as, bs).collect()
      finally spark.conf.unset("spark.graft.overlapBinJoin.binWidth")
    }
  }

  test("joins with an equi conjunct are left alone") {
    withWidth("8.0") {
      val a2 = as.withColumn("k", col("aid") % 2)
      val b2 = bs.withColumn("k", col("bid") % 2)
      val j = a2.join(b2, a2("k") === b2("k") &&
        col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      val plan = executedPlan(j)
      assert(!plan.contains("Generate"), s"rule fired on an equi join:\n$plan")
      j.collect()
    }
  }

  test("randomized equivalence: rule-on == rule-off over seeded intervals") {
    val rnd = new scala.util.Random(7117)
    for (round <- 1 to 3) {
      val mk = (n: Int, base: Long) => Seq.tabulate(n) { i =>
        val lo = math.floor(rnd.between(-50.0, 450.0) * 100) / 100
        // hi can land BELOW lo: degenerate intervals stay in the mix
        val hi = lo + math.floor(rnd.between(-10.0, 80.0) * 100) / 100
        (base + i, lo, hi)
      }
      val av = mk(120, 0L).toDF("aid", "a_lo", "a_hi")
      val bv = mk(60, 1000L).toDF("bid", "b_lo", "b_hi")
      val w = Seq("1.1", "13.0", "211.0")(round - 1)
      withWidth(w) {
        val on = overlapJoin(av, bv)
        assert(!executedPlan(on).contains("NestedLoopJoin"), s"round $round")
        val off = withRule(enabled = false)(overlapJoin(av, bv).collect().toSeq)
        assert(on.collect().toSeq == off, s"round $round width $w")
      }
    }
  }

  test("extension-injected rule serves SQL text too") {
    withWidth("8.0") {
      as.createOrReplaceTempView("ov_a")
      bs.createOrReplaceTempView("ov_b")
      val df = spark.sql(
        """SELECT aid, bid FROM ov_a JOIN ov_b
          |ON a_lo <= b_hi AND b_lo <= a_hi ORDER BY aid, bid""".stripMargin)
      assert(!executedPlan(df).contains("NestedLoopJoin"))
      assert(df.collect().length == 6)
    }
  }

  test("join_overlap_auto bins in a child session and leaves the caller's conf unset") {
    val fresh = TestSpark.spark.newSession()
    val q = SparkEntry.queries("join_overlap_auto")(fresh, TestSpark.sf)
    val plan = executedPlan(q)
    assert(!plan.contains("NestedLoopJoin"), s"rule did not fire:\n$plan")
    assert(q.count() > 0)
    for (k <- Seq("spark.graft.rangeBinJoin.binWidth", "spark.graft.overlapBinJoin.binWidth"))
      assert(fresh.conf.getOption(k).isEmpty, s"join_overlap_auto set $k on the caller's session")
    // same oracle as the hand-binned query
    assert(q.collect().toSeq ==
      SparkEntry.queries("join_interval_overlap")(fresh, TestSpark.sf).collect().toSeq)
  }
}
