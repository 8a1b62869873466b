package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit contract for the native `ngrams` generator
  * (graft.functions.NGramsGenerator): sliding semantics, edge cases, and
  * the planner shape (a Generate node, no shuffle).
  */
class NGramsSpec extends AnyFunSuite {
  import TestSpark._

  private def grams(tokens: Seq[String], n: Int): Seq[(Int, String)] = {
    GraftExtensions.ensure(spark)
    import spark.implicits._
    Seq(tokens).toDF("toks").createOrReplaceTempView("ng_in")
    spark.sql(s"SELECT pos, gram FROM ng_in LATERAL VIEW ngrams(toks, $n) t AS pos, gram")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
  }

  test("sliding trigrams with positions") {
    assert(grams(Seq("a", "b", "c", "d"), 3) ==
      Seq((0, "a b c"), (1, "b c d")))
  }

  test("n = 1 degenerates to posexplode; n = len emits one gram") {
    assert(grams(Seq("x", "y"), 1) == Seq((0, "x"), (1, "y")))
    assert(grams(Seq("x", "y"), 2) == Seq((0, "x y")))
  }

  test("short arrays and null arrays emit nothing; OUTER keeps the row") {
    assert(grams(Seq("only"), 2).isEmpty)
    GraftExtensions.ensure(spark)
    val df = spark.sql(
      """SELECT pos FROM (SELECT CAST(NULL AS ARRAY<STRING>) AS toks)
        |LATERAL VIEW ngrams(toks, 2) t AS pos, gram""".stripMargin)
    assert(df.count() == 0)
    val outer = spark.sql(
      """SELECT pos FROM (SELECT CAST(NULL AS ARRAY<STRING>) AS toks)
        |LATERAL VIEW OUTER ngrams(toks, 2) t AS pos, gram""".stripMargin)
    assert(outer.count() == 1)
  }

  test("plans as a Generate node with no exchange") {
    GraftExtensions.ensure(spark)
    val df = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    df.createOrReplaceTempView("ng_docs")
    val q = spark.sql(
      "SELECT doc_id, gram FROM ng_docs LATERAL VIEW ngrams(toks, 3) t AS pos, gram")
    val plan = q.queryExecution.executedPlan
    assert(plan.toString.contains("Generate ngrams"), plan.toString.linesIterator.take(8).mkString("\n"))
    assert(ops.ScalableCumulate.shuffleCount(plan) == 0, "ngram generation must not shuffle")
  }

  test("agrees with the lead()-window construction on real documents") {
    GraftExtensions.ensure(spark)
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val viaWindow = toks
      .withColumn("t2", lead("token", 2).over(w))
      .withColumn("g", concat_ws(" ", col("token"),
        lead("token", 1).over(w), col("t2")))
      .where(col("t2").isNotNull)
      .groupBy("g").count()
    Tables.t(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .createOrReplaceTempView("ng_docs2")
    val viaGen = spark.sql(
      "SELECT gram AS g, count(*) AS count FROM ng_docs2 LATERAL VIEW ngrams(toks, 3) t AS pos, gram GROUP BY gram")
    assert(viaGen.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaGen).isEmpty)
  }
}
