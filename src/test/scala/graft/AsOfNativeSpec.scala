package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native as-of join — both physical paths (size-based selection like
  * Spark's own join planning):
  *  - BroadcastAsOfJoinExec: right fits the broadcast threshold → zero
  *    left-side shuffle, the right side broadcast as a (key, time)-sorted
  *    index, one binary search per left row.
  *  - AsOfMergeJoinExec: co-partitioned single-pass merge.
  * Result parity with the relational rewrite (cond-join + window top-1),
  * plan shape, and edge semantics (null keys/times drop, unmatched left
  * drops, tie-break takes the max tiebreak column) on each path.
  */
class AsOfNativeSpec extends AnyFunSuite {
  import TestSpark._

  private val ThresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](v: String)(body: => T): T = {
    val old = spark.conf.get(ThresholdKey)
    spark.conf.set(ThresholdKey, v)
    try body finally spark.conf.set(ThresholdKey, old)
  }

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("broadcast path: plan shape and parity with relational as-of") {
    withThreshold("10485760") {
      val native = q("join_asof_native")
      val plan = planOf(native)
      assert(plan.contains("BroadcastAsOfJoin"), plan.linesIterator.take(5).mkString("\n"))
      assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"))
      val rel = q("join_asof")
      assert(native.count() > 0)
      assert(native.exceptAll(rel).count() == 0 && rel.exceptAll(native).count() == 0)
    }
  }

  test("merge path: plan shape and parity with relational as-of") {
    withThreshold("-1") {
      val native = q("join_asof_native")
      val plan = planOf(native)
      assert(plan.contains("AsOfMergeJoin"), plan.linesIterator.take(5).mkString("\n"))
      assert(!plan.contains("BroadcastAsOfJoin") && !plan.contains("Window"))
      val rel = q("join_asof")
      assert(native.count() > 0)
      assert(native.exceptAll(rel).count() == 0 && rel.exceptAll(native).count() == 0)
    }
  }

  private def semantics(): Unit = {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1, 10, "a"), // matches t=10 exactly
      (1, 5, "b"),  // matches t=5
      (1, 4, "c"),  // before all right rows -> drops
      (2, 99, "d"), // key with no right rows -> drops
      (3, 7, "e")   // null-time right rows ignored
    ).toDF("k", "t", "tag")
    val right = Seq(
      (Integer.valueOf(1), Integer.valueOf(5), 50),
      (Integer.valueOf(1), Integer.valueOf(10), 100),
      (Integer.valueOf(1), Integer.valueOf(10), 101), // tie: higher v wins
      (Integer.valueOf(1), Integer.valueOf(11), 110),
      (Integer.valueOf(3), null, 999),
      (null, Integer.valueOf(1), 888)
    ).toDF("k", "t2", "v")
    val out = graft.plans.Asof.join(
        left, leftKey = "k", leftTime = "t",
        right, rightKey = "k", rightTime = "t2", rightTieBreak = Seq("v"))
      .select("tag", "v").as[(String, Int)].collect().toMap
    assert(out == Map("a" -> 101, "b" -> 50))

    val left2 = Seq((1, 10, "x"), (1, 10, "y")).toDF("k", "t", "tag")
    val right2 = Seq((1, 9, 90)).toDF("k", "t2", "v")
    val out2 = graft.plans.Asof.join(
        left2, "k", "t", right2, "k", "t2").select("tag", "v")
      .as[(String, Int)].collect().toSet
    assert(out2 == Set(("x", 90), ("y", 90)))
  }

  test("merge path at sf0.01: parity with relational as-of on 8k matches") {
    withThreshold("-1") {
      val d = "/root/testdata/sf0.01"
      val native = SparkEntry.queries("join_asof_native")(spark, d)
      assert(planOf(native).contains("AsOfMergeJoin"))
      val rel = SparkEntry.queries("join_asof")(spark, d)
      assert(native.count() > 5000)
      assert(native.exceptAll(rel).count() == 0 && rel.exceptAll(native).count() == 0)
    }
  }

  test("self as-of join dedups attributes (no duplicate ExprIds)") {
    val s = spark
    import s.implicits._
    val df = Seq((1, 5, 50), (1, 10, 100)).toDF("k", "t", "v")
    val out = graft.plans.Asof.join(df, "k", "t", df, "k", "t")
    assert(out.columns.length == 6)
    // distinct ExprIds: positional/dataset-column access resolves cleanly
    val attrs = out.queryExecution.analyzed.output
    val ids = attrs.map(_.exprId)
    assert(ids.distinct.size == ids.size, "duplicate ExprIds in self-join output")
    // rename positionally (same-name columns are only NAME-ambiguous, as
    // in any self-join) and verify downstream ops resolve over the output
    val renamed = out.toDF("k1", "t1", "v1", "k2", "t2", "v2")
    val rightV = renamed.select("v2").as[Int].collect().sorted
    assert(out.count() == 2 && rightV.toSeq == Seq(50, 100))
  }

  test("as-of edge semantics on the broadcast path") {
    withThreshold("10485760")(semantics())
  }

  test("as-of edge semantics on the merge path") {
    withThreshold("-1")(semantics())
  }
}
