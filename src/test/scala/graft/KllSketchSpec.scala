package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.QuantileSketch

/** KLL/MRL quantile sketch: error bound on known distributions, merge
  * behavior, serde roundtrip, and the TypedImperativeAggregate through
  * SQL (installed by `GraftExtensions.ensure`).
  */
class KllSketchSpec extends AnyFunSuite {
  import TestSpark._

  private def rankOf(sorted: Array[Double], v: Double): Double = {
    // fraction of items <= v
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo.toDouble / sorted.length
  }

  test("rank error stays under 2% on 1M skewed values (k=512)") {
    val n = 1000000
    // deterministic, skewed (quadratic) stream in shuffled-ish order
    val vals = Array.tabulate(n) { i =>
      val x = ((i.toLong * 2654435761L) % n + n) % n
      (x.toDouble / n) * (x.toDouble / n) * 1000.0
    }
    val s = new QuantileSketch(512)
    vals.foreach(s.update)
    val sorted = vals.sorted
    for (q <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val err = math.abs(rankOf(sorted, s.quantile(q)) - q)
      assert(err < 0.02, s"rank error $err at q=$q")
    }
  }

  test("merged sketches match error bound and count") {
    val n = 300000
    val vals = Array.tabulate(n)(i => math.sin(i.toDouble) * 100.0 + i % 97)
    val parts = vals.grouped(n / 7 + 1).toSeq
    val sketches = parts.map { p =>
      val s = new QuantileSketch(512); p.foreach(s.update); s
    }
    val merged = sketches.reduce(_ merge _)
    assert(merged.count == n)
    val sorted = vals.sorted
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val err = math.abs(rankOf(sorted, merged.quantile(q)) - q)
      assert(err < 0.03, s"merged rank error $err at q=$q")
    }
  }

  test("serde roundtrip preserves estimates exactly") {
    val s = new QuantileSketch(64)
    (1 to 50000).foreach(i => s.update((i % 1013).toDouble))
    val rt = QuantileSketch.deserialize(s.serialize())
    assert(rt.count == s.count)
    for (q <- Seq(0.05, 0.5, 0.95))
      assert(rt.quantile(q) == s.quantile(q))
  }

  test("kll_quantiles works from SQL with group-by partial merge") {
    GraftExtensions.ensure(spark)
    Tables.registerAll(spark, sf)
    val rows = spark.sql(
      """SELECT l_returnflag, kll_quantiles(l_quantity, array(0.5D, 0.9D)) AS est
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val est = r.getSeq[Double](1)
      assert(est.length == 2)
      // l_quantity is uniform on 1..50: medians near 25, p90 near 45
      assert(est(0) >= 20 && est(0) <= 30, s"median ${est(0)}")
      assert(est(1) >= 40 && est(1) <= 50, s"p90 ${est(1)}")
    }
  }

  test("plain decimal probe literals work from SQL (array(0.5, 0.9))") {
    GraftExtensions.ensure(spark)
    Tables.registerAll(spark, sf)
    val r = spark.sql(
      """SELECT kll_quantiles(l_quantity, array(0.5, 0.9)) AS est
        |FROM lineitem""".stripMargin).head()
    val est = r.getSeq[Double](0)
    assert(est.length == 2 && est(0) >= 20 && est(0) <= 30)
  }

  test("declared query agg_kll_quantiles: all bands true") {
    val out = q("agg_kll_quantiles").collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
        s"band failed: $r")
    }
  }
}
