package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** functions/SortedIntersectCountExpr: the native merge-count must agree
  * with `size(array_intersect(...))` on every sorted+distinct input —
  * it exists for speed (no per-row hash set, no materialized array),
  * never for different semantics.
  */
class SortedIntersectSpec extends AnyFunSuite {
  import TestSpark._

  private def viaBoth(pairs: Seq[(Seq[String], Seq[String])]): Seq[(Long, Int)] = {
    GraftExtensions.ensure(spark)
    import spark.implicits._
    pairs.toDF("a", "b")
      .select(
        expr("sorted_intersect_count(a, b)").as("native"),
        size(array_intersect(col("a"), col("b"))).as("builtin"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
  }

  test("agrees with array_intersect on edge cases") {
    val cases = Seq(
      (Seq.empty[String], Seq.empty[String]),
      (Seq.empty[String], Seq("a", "b")),
      (Seq("a"), Seq("a")),
      (Seq("a", "b", "c"), Seq("d", "e")),           // disjoint
      (Seq("a", "b", "c"), Seq("a", "b", "c")),      // identical
      (Seq("a", "c", "e"), Seq("b", "c", "d", "e")), // interleaved
      (Seq("", "a"), Seq("", "b")),                  // empty string element
      (Seq("a", "ab", "abc"), Seq("ab", "abcd")))    // prefix-shaped tokens
    viaBoth(cases).foreach { case (native, builtin) =>
      assert(native == builtin.toLong)
    }
  }

  test("agrees with array_intersect on pseudo-random sorted vocab draws") {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 60).map(i => f"tok$i%02d")
    val cases = (0 until 200).map { _ =>
      def draw() = rnd.shuffle(vocab).take(rnd.nextInt(vocab.size)).sorted
      (draw(), draw())
    }
    viaBoth(cases).foreach { case (native, builtin) =>
      assert(native == builtin.toLong)
    }
  }

  test("bigint mode agrees with set intersection and with the string mode (round 13)") {
    // The coded dedup verify merges sorted xxhash64 arrays; the long
    // branch of the expression must count exactly |A ∩ B| for every
    // sorted-distinct pair, and coding a string pair then merging must
    // equal merging the strings (injective coding ⇒ same count).
    GraftExtensions.ensure(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cases = (0 until 200).map { _ =>
      def draw() = (0 until rnd.nextInt(40))
        .map(_ => rnd.nextInt(60).toLong * 1000003L) // collision-free codes
        .distinct.sorted
      (draw(), draw())
    } ++ Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, 1L, Long.MaxValue)))
    val got = cases.toDF("a", "b")
      .select(expr("sorted_intersect_count(a, b)").as("n"))
      .collect().map(_.getLong(0))
    cases.zip(got).foreach { case ((a, b), n) =>
      assert(n == a.toSet.intersect(b.toSet).size.toLong,
        s"long-mode merge wrong for $a vs $b")
    }
    // string pair → coded pair parity (the verify path's exact claim)
    val strs = Seq((Seq("alpha", "beta", "gamma"), Seq("beta", "delta", "gamma")))
    val parity = strs.toDF("sa", "sb").select(
      expr("sorted_intersect_count(sa, sb)").as("viaStr"),
      expr("sorted_intersect_count(array_sort(transform(sa, t -> xxhash64(49374, t))), " +
        "array_sort(transform(sb, t -> xxhash64(49374, t))))").as("viaCode"))
      .collect()(0)
    assert(parity.getLong(0) == 2L && parity.getLong(1) == 2L)
    // mixed element types are a type error, not a silent wrong answer
    val mixed = intercept[Exception] {
      spark.sql("SELECT sorted_intersect_count(array('a'), array(1L)) AS c").collect()
    }
    assert(mixed.getMessage.contains("same element"), mixed.getMessage)
  }

  test("null array -> null; null element poisons to null") {
    GraftExtensions.ensure(spark)
    import spark.implicits._
    val df = Seq((Some(Seq("a", "b")), Option.empty[Seq[String]]))
      .toDF("a", "b")
      .select(expr("sorted_intersect_count(a, b)").as("c"))
    assert(df.collect()(0).isNullAt(0))
    val poisoned = spark.sql(
      "SELECT sorted_intersect_count(array('a', CAST(NULL AS STRING)), array('a', 'b')) AS c")
    assert(poisoned.collect()(0).isNullAt(0))
  }

  test("whole-stage codegen path and interpreted path agree") {
    GraftExtensions.ensure(spark)
    val s2 = spark.newSession()
    GraftExtensions.ensure(s2)
    s2.conf.set("spark.sql.codegen.wholeStage", "false")
    val sql =
      """SELECT sorted_intersect_count(array('a','c','e','g'), array('b','c','d','e','f')) AS c"""
    assert(spark.sql(sql).collect()(0).getLong(0) == 2L)
    assert(s2.sql(sql).collect()(0).getLong(0) == 2L)
  }
}
