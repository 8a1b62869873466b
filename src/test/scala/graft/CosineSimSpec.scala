package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native fused CosineSimExpr: bit-parity with the three-pass HOF chain,
  * null handling, and the declared query built on it.
  */
class CosineSimSpec extends AnyFunSuite {
  import TestSpark._

  test("cosine_sim equals the unfused dot/(||a||*||b||) chain bit-for-bit") {
    GraftExtensions.ensure(spark)
    def norm(c: String) = sqrt(aggregate(
      transform(col(c), x => x.cast("double") * x.cast("double")),
      lit(0.0), (a, x) => a + x))
    val e = Tables.t(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val p = e.select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
      .where(col("p_id") < 3)
    val both = e.join(broadcast(p), col("vec_id") =!= col("p_id"))
      .select(
        expr("cosine_sim(p_emb, embedding)").as("fused"),
        (aggregate(zip_with(col("p_emb"), col("embedding"),
          (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (a, x) => a + x)
          / (norm("p_emb") * norm("embedding"))).as("hof"))
    // null-safe inequality: a NULL-vs-number divergence must fail, not filter out
    assert(both.where(!(col("fused") <=> col("hof"))).count() == 0)
  }

  test("a NULL element poisons cosine_sim exactly like the HOF fold") {
    GraftExtensions.ensure(spark)
    val r = spark.sql(
      """SELECT cosine_sim(a, b) AS fused,
                aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                          CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
                  / (sqrt(aggregate(transform(a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))
                   * sqrt(aggregate(transform(b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))) AS hof
         FROM VALUES (array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)),
                      array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS t(a, b)""").head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("cosine_sim is null on null input and length mismatch") {
    GraftExtensions.ensure(spark)
    val r = spark.sql(
      """SELECT cosine_sim(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS a,
                cosine_sim(array(CAST(1.0 AS FLOAT)),
                           array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS b""").head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("sim_cosine_fused matches sim_cosine_topk exactly") {
    val fused = q("sim_cosine_fused").collect().toSeq
    val hof = q("sim_cosine_topk").collect().toSeq
    assert(fused == hof)
    val plan = q("sim_cosine_fused").queryExecution.executedPlan.toString
    assert(plan.contains("cosine_sim"))
  }
}
