package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MGSummary

/** Misra-Gries summary: the superset guarantee (freq > n/k always
  * survives), mergeability under arbitrary splits, serde, and the
  * declared query's candidate-filter equivalence.
  */
class MisraGriesSpec extends AnyFunSuite {
  import TestSpark._

  // deterministic skewed stream: item i appears with frequency ~ 1/(i+1)
  private def stream(n: Int): Array[Long] =
    Array.tabulate(n) { i =>
      val x = ((i.toLong * 2654435761L) % 1000003L + 1000003L) % 1000003L
      var item = 0L
      var cap = 500000L
      while (x % 1000003L < cap && item < 20) { item += 1; cap /= 2 }
      item
    }

  private def exactHeavy(vals: Array[Long], k: Int): Set[Long] = {
    val n = vals.length.toLong
    vals.groupBy(identity).collect { case (it, occ) if occ.length.toLong * k > n => it }.toSet
  }

  test("every item with freq > n/k survives, under any partitioning") {
    val vals = stream(200000)
    val heavy = exactHeavy(vals, 8)
    assert(heavy.nonEmpty)
    for (parts <- Seq(1, 3, 16)) {
      val chunks = vals.grouped(vals.length / parts + 1).toSeq
      val merged = chunks.map { c =>
        val s = new MGSummary(8); c.foreach(s.update); s
      }.reduce(_ merge _)
      assert(merged.n == vals.length)
      assert(merged.counters.size <= 8)
      val cands = merged.items.toSet
      assert(heavy.subsetOf(cands), s"parts=$parts lost ${heavy -- cands}")
    }
  }

  test("serde roundtrip preserves the summary") {
    val s = new MGSummary(5)
    stream(50000).foreach(s.update)
    val rt = MGSummary.deserialize(s.serialize())
    assert(rt.n == s.n && rt.items.toSeq == s.items.toSeq)
  }

  test("mg_heavy_hitters from SQL (extension-registered) bounds output to k") {
    GraftExtensions.ensure(spark)
    Tables.registerAll(spark, sf)
    val rows = spark.sql(
      """SELECT event_type, mg_heavy_hitters(CAST(floor(sqrt(value)) AS BIGINT), 4) AS c
        |FROM events GROUP BY event_type""".stripMargin).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Long](1).length <= 4))
  }

  test("declared query equals the exact > n/k relation") {
    val out = q("agg_heavy_hitters")
    val s = spark
    import s.implicits._
    val ev = Tables.t(s, sf, "events")
      .select($"event_type", org.apache.spark.sql.functions.expr(
        "CAST(floor(sqrt(value)) AS BIGINT)").as("item"))
    val exact = ev.groupBy("event_type", "item").count()
      .withColumn("n", org.apache.spark.sql.functions.sum("count")
        .over(org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
      .where($"count" * 8 > $"n")
      .select($"event_type", $"item", $"count".as("cnt"))
    assert(out.exceptAll(exact).count() == 0)
    assert(exact.exceptAll(out).count() == 0)
  }
}
