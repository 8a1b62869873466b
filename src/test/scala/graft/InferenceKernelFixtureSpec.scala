package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{InferMapPartitions, Inference}

/** Pins the row-grain scoring kernel (`Inference.model` broadcast to every
  * embedding row, scored and argmaxed inside the row) to the relational
  * formulation it replaced — vectors exploded to (vec, pos, x) rows,
  * joined to the long-form centroids, grouped per (vec, label) and ranked
  * by a Window — kept here as the referee. `infer_centroids`,
  * `infer_score`, `preds` and `infer_ensemble_vote` must return the
  * referee's rows (`exceptAll` empty both ways) on the sf fixtures and on
  * edge frames the fixtures never produce: NULL and empty embeddings, NULL
  * elements, an all-NULL vector, vectors shorter and longer than 64, and
  * exact score ties between labels. The referee's semantics:
  *  - a term whose x or c is NULL, or missing, adds nothing;
  *  - a (vector, label) pair with no term has no row;
  *  - a pair whose every term is NULL scores NULL and ranks last.
  */
class InferenceKernelFixtureSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private val root = Files.createTempDirectory("graft_infer_").toFile

  override def afterAll(): Unit =
    try { Memo.release(spark); FileUtils.deleteDirectory(root) }
    finally super.afterAll()

  // --- the referee: the explode → join → groupBy → Window formulation ---

  private def vexp(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .withColumn("x", col("xf").cast("double")).drop("xf")

  private def scaledSum(c: Column): Column =
    sum(floor(c * lit(1.0e12)).cast(LongType)).cast(DoubleType) / lit(1.0e12)

  private def refCentroids(e: DataFrame): DataFrame =
    vexp(e).groupBy(col("label").as("clabel"), col("pos"))
      .agg((scaledSum(col("x")) / count(lit(1))).as("cm"))
      .select(col("clabel"), col("pos"), round(col("cm"), 6).as("c"))

  private def refScores(e: DataFrame): DataFrame =
    vexp(e).join(broadcast(refCentroids(e)), "pos")
      .groupBy("vec_id", "label", "clabel")
      .agg(round(scaledSum(col("x") * col("c")), 6).as("score"))

  private def refPreds(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("score").desc, col("clabel"))
    refScores(e).withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("clabel").as("pred"), col("score"))
  }

  private def refEnsemble(e: DataFrame): DataFrame = {
    val ms = vexp(e).withColumn("m", explode(array(lit(0), lit(1), lit(2))))
      .where(col("pos") % 3 =!= col("m"))
    val sc = ms.join(broadcast(refCentroids(e)), "pos")
      .groupBy("vec_id", "label", "m", "clabel")
      .agg(round(scaledSum(col("x") * col("c")), 6).as("score"))
    val wM = Window.partitionBy("vec_id", "m").orderBy(desc("score"), asc("clabel"))
    val pm = sc.withColumn("rn", row_number().over(wM)).where(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("clabel").as("pred"))
    val votes = pm.groupBy("vec_id", "label", "pred").agg(count(lit(1)).as("n_votes"))
    val wV = Window.partitionBy("vec_id").orderBy(desc("n_votes"), asc("pred"))
    votes.withColumn("rn", row_number().over(wV)).where(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("pred").as("pred_ens"),
        col("n_votes"), (col("pred") === col("label")).as("correct"))
  }

  /** eval_per_class's relational formulation: label and prediction totals
    * full-joined on the class. */
  private def refPerClass(p: DataFrame): DataFrame = {
    val byLabel = p.groupBy(col("label").as("clazz"))
      .agg(count(lit(1)).as("n_actual"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("tp"))
    val byPred = p.groupBy(col("pred").as("clazz")).agg(count(lit(1)).as("n_predicted"))
    def nullif(c: Column, v: Column) = when(c === v, lit(null)).otherwise(c)
    byLabel.join(byPred, Seq("clazz"), "full")
      .select(col("clazz"), coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision", col("tp") / nullif(col("n_predicted"), lit(0)))
      .withColumn("recall", col("tp") / nullif(col("n_actual"), lit(0)))
      .withColumn("f1", lit(2.0) * col("precision") * col("recall") /
        nullif(col("precision") + col("recall"), lit(0.0)))
  }

  // --- comparisons ---

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    val extra = got.exceptAll(want).collect()
    val missing = want.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"rows only in the kernel: ${extra.mkString(", ")}; " +
        s"rows only in the referee: ${missing.mkString(", ")}")
  }

  private def checkAll(d: String): Unit = {
    val e = Tables.t(spark, d, "embeddings")
    sameRows(q(d, "infer_centroids"), refCentroids(e))
    sameRows(q(d, "infer_score"), refScores(e))
    sameRows(Inference.preds(spark, d).select("vec_id", "label", "pred", "score"), refPreds(e))
    sameRows(q(d, "infer_ensemble_vote"), refEnsemble(e))
  }

  private def q(d: String, name: String): DataFrame = SparkEntry.queries(name)(spark, d)

  for (d <- Seq(sf, new java.io.File(sf).getParent + "/sf0.01"))
    test(s"kernel matches the referee on ${d.split('/').last}") {
      checkAll(d)
    }

  // --- edge frames, each written as the `embeddings` table of its own dir ---

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  private def vec(xs: Any*): Seq[Any] = xs.map {
    case null => null
    case x: Double => x.toFloat
    case x: Int => x.toFloat
  }

  /** Vectors `(label, embedding)`, numbered from 0. */
  private def fixture(rows: Seq[(Int, Seq[Any])]): String = {
    val dir = Files.createTempDirectory(root.toPath, "edge_").toString
    val data = rows.zipWithIndex.map { case ((label, emb), i) => Row(i.toLong, emb, label) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private val ordinary = Seq(
    0 -> vec(0.5, -0.25, 0.125, 0.75), 0 -> vec(0.25, -0.5, 0.375, 0.5),
    1 -> vec(-0.5, 0.25, 0.5, -0.125), 1 -> vec(-0.25, 0.75, 0.25, -0.375),
    2 -> vec(0.125, 0.125, -0.75, 0.25), 2 -> vec(0.375, 0.25, -0.5, 0.125))

  private val edges: Seq[(String, Seq[(Int, Seq[Any])])] = Seq(
    "ordinary vectors" -> ordinary,
    "a NULL and an empty embedding" -> (ordinary ++ Seq(1 -> null, 2 -> vec())),
    "a NULL element and an all-NULL vector" ->
      (ordinary ++ Seq(0 -> vec(0.5, null, 0.25, 0.125), 1 -> vec(null, null, null, null))),
    "a label whose every vector is NULL at a position" ->
      Seq(0 -> vec(0.5, null, 0.25), 0 -> vec(0.25, null, 0.5), 1 -> vec(0.5, 0.5, 0.25),
        1 -> vec(-0.5, 0.25, 0.125)),
    "vectors shorter and longer than 64" ->
      (ordinary ++ Seq(0 -> vec(0.5), 1 -> vec(0.25, -0.5),
        2 -> vec(Seq.tabulate(70)(i => (i % 7 - 3) / 8.0): _*),
        1 -> vec(Seq.tabulate(65)(i => (i % 5 - 2) / 4.0): _*))),
    "exact score ties between labels" ->
      Seq(3 -> vec(0.5, 0.25, -0.5), 1 -> vec(0.5, 0.25, -0.5), 2 -> vec(0.5, 0.25, -0.5),
        0 -> vec(-0.5, 0.25, 0.5), 4 -> vec(0.25, 0.5, 0.125)),
    // each model picks a different class for vector 3: a one-vote tie
    "an ensemble vote split three ways" ->
      Seq(0 -> vec(0, 1, 1), 1 -> vec(1, 0, 1), 2 -> vec(1, 1, 0),
        5 -> vec(0.25, 0.25, 0.25)))

  for ((name, rows) <- edges)
    test(s"kernel matches the referee: $name") {
      checkAll(fixture(rows))
    }

  test("an exact tie goes to the lowest label") {
    val d = fixture(edges.find(_._1.startsWith("exact score ties")).get._2)
    val tied = Inference.preds(spark, d).where(col("vec_id") <= 2).select("pred").collect()
    assert(tied.map(_.getInt(0)).toSet == Set(1), tied.mkString(", "))
  }

  test("the mapPartitions scorer returns preds' rows, scores included") {
    sameRows(InferMapPartitions.scoreMapPartitions(spark, sf),
      Inference.preds(spark, sf).select("vec_id", "label", "pred", "score"))
  }

  test("eval_per_class matches the relational formulation, NULL classes included") {
    val s = spark
    import s.implicits._
    val withNulls = Seq[(Option[Int], Option[Int])]((Some(0), Some(0)), (Some(0), Some(1)),
      (Some(1), Some(1)), (None, Some(1)), (Some(2), None), (None, None), (Some(3), Some(0)))
      .toDF("label", "pred")
    for (p <- Seq(withNulls, Inference.preds(spark, sf).select("label", "pred")))
      sameRows(Inference.perClass(p), refPerClass(p))
  }
}
