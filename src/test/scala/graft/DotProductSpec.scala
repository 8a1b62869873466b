package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native DotProductExpr: codegen correctness vs the HOF fold, null
  * handling, and the declared query built on it.
  */
class DotProductSpec extends AnyFunSuite {
  import TestSpark._

  test("dot_product equals the zip_with fold bit-for-bit") {
    GraftExtensions.ensure(spark)
    val e = Tables.t(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val p = e.select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
      .where(col("p_id") < 3)
    val both = e.join(broadcast(p), col("vec_id") =!= col("p_id"))
      .select(
        expr("dot_product(p_emb, embedding)").as("native"),
        aggregate(zip_with(col("p_emb"), col("embedding"),
          (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (a, x) => a + x).as("hof"))
    // null-safe inequality: a NULL-vs-number divergence must fail, not filter out
    assert(both.where(!(col("native") <=> col("hof"))).count() == 0)
  }

  test("a NULL element poisons dot_product exactly like the HOF fold") {
    GraftExtensions.ensure(spark)
    val r = spark.sql(
      """SELECT dot_product(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)),
                            array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS d""").head
    assert(r.isNullAt(0))
  }

  test("dot_product handles nulls like a strict binary expression") {
    GraftExtensions.ensure(spark)
    val r = spark.sql(
      "SELECT dot_product(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS d").head
    assert(r.isNullAt(0))
  }

  test("sim_dot_native query runs through the native expression") {
    val out = q("sim_dot_native")
    assert(out.count() == 25) // 5 probes x top-5
    // plan actually contains the native expression, not the HOF chain
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("dot_product"))
  }
}
