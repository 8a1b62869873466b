package graft

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Inference

/** Pins eval_kappa_mcc's confusion-matrix kernel (`Inference.kappaMcc`:
  * one grouping of `preds`, one collect into an array, marginals folded
  * with higher-order functions) to the relational formulation it
  * replaced — row/column totals as grouped relations, four 1-row
  * aggregates crossed back together — kept here as the referee. Both
  * must return the same row, NULL and NaN positions included, on the
  * edge cases the sf fixtures never produce:
  *  - a class present only as a label, or only as a prediction;
  *  - label and prediction sets that share nothing (Σrt·ct is NULL);
  *  - NULL labels and predictions;
  *  - empty input (n = 0, everything else NULL);
  *  - a single class (κ's and MCC's denominators are 0).
  * Each case runs in the shared (ANSI) session and in a non-ANSI one;
  * where one formulation fails, the other must fail the same way.
  */
class KappaMccFixtureSpec extends AnyFunSuite {
  import TestSpark._

  /** The 11-job formulation the kernel replaced. */
  private def referee(p: DataFrame): DataFrame = {
    val conf = p.groupBy("label", "pred").agg(count(lit(1)).as("c"))
    val r = conf.groupBy(col("label").as("k")).agg(sum("c").as("rt"))
    val cl = conf.groupBy(col("pred").as("k")).agg(sum("c").as("ct"))
    val tot = p.agg(count(lit(1)).as("n"),
      sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("tr"))
    val rc = r.join(cl, "k").agg(sum(col("rt") * col("ct")).as("sum_rc"))
    val r2 = r.agg(sum(col("rt") * col("rt")).as("sum_r2"))
    val c2 = cl.agg(sum(col("ct") * col("ct")).as("sum_c2"))
    tot.crossJoin(broadcast(rc)).crossJoin(broadcast(r2))
      .crossJoin(broadcast(c2))
      .select(col("n"), col("tr"), col("sum_rc"),
        round((col("n") * col("tr") - col("sum_rc")).cast("double") /
          (col("n") * col("n") - col("sum_rc")).cast("double"), 6)
          .as("kappa"),
        round((col("n") * col("tr") - col("sum_rc")).cast("double") /
          sqrt((col("n") * col("n") - col("sum_r2")).cast("double") *
            (col("n") * col("n") - col("sum_c2")).cast("double")), 6)
          .as("mcc"))
  }

  private val nonAnsi: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    s
  }

  private def frame(s: SparkSession, rows: Seq[(Option[Int], Option[Int])]): DataFrame = {
    import s.implicits._
    rows.toDF("label", "pred")
  }

  private def times(n: Int, l: Option[Int], p: Option[Int]) = Seq.fill(n)((l, p))
  private def c(l: Int, p: Int) = (Some(l), Some(p))

  private val cases: Seq[(String, Seq[(Option[Int], Option[Int])])] = Seq(
    "3 ordinary classes" ->
      (times(5, Some(0), Some(0)) ++ times(2, Some(0), Some(1)) ++
        times(4, Some(1), Some(1)) ++ times(1, Some(1), Some(2)) ++
        times(3, Some(2), Some(2)) ++ times(2, Some(2), Some(0))),
    "a class only as a label" ->
      Seq(c(0, 0), c(0, 0), c(1, 1), c(1, 0), c(3, 1), c(3, 0)),
    "a class only as a prediction" ->
      Seq(c(0, 0), c(0, 4), c(1, 1), c(1, 1), c(1, 4), c(0, 1)),
    "label and prediction sets share nothing" ->
      Seq(c(0, 5), c(0, 6), c(1, 5), c(1, 5), c(2, 6)),
    "NULL labels and predictions" ->
      Seq((None, Some(0)), (None, Some(1)), (Some(0), None), (None, None),
        c(0, 0), c(1, 1), c(1, 0), c(0, 1), c(1, 1)),
    "only NULL labels" -> Seq((None, Some(0)), (None, Some(1)), (None, Some(1))),
    "a single class" -> times(4, Some(1), Some(1)),
    "empty input" -> Nil)

  /** Rows on success; on failure, the error class (or exception type). */
  private def outcome(df: DataFrame): Either[String, Seq[Row]] =
    Try(df.collect().toSeq).toEither.left.map {
      case e: org.apache.spark.SparkThrowable => String.valueOf(e.getCondition)
      case e => e.getClass.getName
    }

  for ((name, rows) <- cases; (mode, s) <- Seq("ANSI" -> spark, "non-ANSI" -> nonAnsi))
    test(s"kappaMcc matches the referee: $name ($mode)") {
      val p = frame(s, rows)
      val got = Inference.kappaMcc(p)
      val want = referee(p)
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        want.schema.map(f => (f.name, f.dataType)))
      assert(outcome(got) == outcome(want))
    }

  test("the pinned NULL semantics hold") {
    def row(rows: Seq[(Option[Int], Option[Int])]): Row =
      Inference.kappaMcc(frame(spark, rows)).head()
    val empty = row(Nil)
    assert(empty.getLong(0) == 0L && (1 to 4).forall(empty.isNullAt), empty)
    val disjoint = row(Seq(c(0, 5), c(1, 6)))
    assert(disjoint.getLong(1) == 0L && disjoint.isNullAt(2), disjoint)
    // a NULL class never matches in Σrt·ct, but counts in n
    val nulls = row(Seq((None, None), c(0, 0), c(0, 1)))
    assert(nulls.getLong(0) == 3L && nulls.getLong(1) == 1L &&
      nulls.getLong(2) == 2L, nulls)
  }
}
