package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ScalableCumulate
import graft.ops.ScalableCumulate.Cum

/** Differential tests: the bucketed two-pass must produce BIT-identical
  * results to the unpartitioned window it replaces, across type (long /
  * decimal), direction (asc / desc), grouping, and the row-number / ntile
  * derivations — plus the plan property the whole exercise is for: no
  * empty-partition-spec Window and no SinglePartition exchange above one.
  */
class ScalableCumulateSpec extends AnyFunSuite {
  import TestSpark._
  import Tables.t

  private def sortedRows(df: org.apache.spark.sql.DataFrame, cols: String*) =
    df.select(cols.map(col): _*).orderBy(cols.map(col): _*).collect().toSeq

  test("long cumsum over asc order matches unpartitioned window") {
    val h = t(spark, sf, "orders")
      .groupBy(col("o_totalprice").as("x")).agg(count(lit(1)).as("cnt"))
    val naive = h.withColumn("cum",
      sum("cnt").over(Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val two = ScalableCumulate.cumSum(h, col("x"), ascending = true,
      Seq(col("x")), Seq(Cum("cum", col("cnt"))))
    assert(sortedRows(two, "x", "cnt", "cum") ==
      sortedRows(naive, "x", "cnt", "cum"))
  }

  test("decimal cumsum + total over desc order matches unpartitioned window") {
    val rev = t(spark, sf, "lineitem")
      .groupBy("l_partkey")
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(30, 4))).as("rev"))
    val ord = Window.orderBy(desc("rev"), asc("l_partkey"))
    val naive = rev
      .withColumn("cum", sum("rev").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum("rev").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val two = ScalableCumulate.cumSum(rev, col("rev"), ascending = false,
      Seq(desc("rev"), asc("l_partkey")), Seq(Cum("cum", col("rev"))),
      totals = Map("cum" -> "tot"))
    assert(sortedRows(two, "l_partkey", "rev", "cum", "tot") ==
      sortedRows(naive, "l_partkey", "rev", "cum", "tot"))
  }

  test("grouped cumsum matches per-group unpartitioned-value window") {
    val counts = t(spark, sf, "orders")
      .groupBy(col("o_orderpriority"), col("o_totalprice"))
      .agg(count(lit(1)).as("c"))
    val naive = counts.withColumn("cum",
      sum("c").over(Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val two = ScalableCumulate.cumSum(counts, col("o_totalprice"),
      ascending = true, Seq(col("o_totalprice")), Seq(Cum("cum", col("c"))),
      groupCols = Seq("o_orderpriority"))
    assert(sortedRows(two, "o_orderpriority", "o_totalprice", "cum") ==
      sortedRows(naive, "o_orderpriority", "o_totalprice", "cum"))
  }

  test("rowNumber + ntileOf match row_number and ntile over a total order") {
    val u = t(spark, sf, "events").groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"))
    val ord = Window.orderBy(desc("n_ev"), asc("user_id"))
    val naive = u
      .withColumn("rn", row_number().over(ord).cast("long"))
      .withColumn("tile", ntile(7).over(ord).cast("long"))
    val (two0, n) = ScalableCumulate.rowNumber(u, col("n_ev"),
      ascending = false, Seq(desc("n_ev"), asc("user_id")), "rn")
    val two = two0.withColumn("tile", ScalableCumulate.ntileOf(col("rn"), n, 7))
    assert(n == u.count())
    assert(sortedRows(two, "user_id", "n_ev", "rn", "tile") ==
      sortedRows(naive, "user_id", "n_ev", "rn", "tile"))
  }

  test("ntileOf handles n < k (each row its own tile)") {
    import spark.implicits._
    val df = Seq(5L, 2L, 9L).toDF("v")
    val naive = df.withColumn("tile",
      ntile(8).over(Window.orderBy("v")).cast("long"))
    val (two0, n) = ScalableCumulate.rowNumber(df, col("v"),
      ascending = true, Seq(col("v")), "rn")
    val two = two0.withColumn("tile", ScalableCumulate.ntileOf(col("rn"), n, 8))
      .drop("rn")
    assert(sortedRows(two, "v", "tile") == sortedRows(naive, "v", "tile"))
  }

  test("two-pass plan has no unpartitioned window and no SinglePartition feed") {
    val h = t(spark, sf, "orders")
      .groupBy(col("o_totalprice").as("x")).agg(count(lit(1)).as("cnt"))
    val two = ScalableCumulate.cumSum(h, col("x"), ascending = true,
      Seq(col("x")), Seq(Cum("cum", col("cnt"))))
    val unpart = two.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty, "two-pass output still plans an unpartitioned Window")
    assert(!two.queryExecution.executedPlan.toString.contains("Exchange SinglePartition"))
  }

  test("double partials are rejected") {
    import spark.implicits._
    val df = Seq((1.0, 2.0)).toDF("x", "v")
    intercept[IllegalArgumentException] {
      ScalableCumulate.cumSum(df, col("x"), ascending = true,
        Seq(col("x")), Seq(Cum("cum", col("v"))))
    }
  }

  test("NaN / null primary keys fail loudly instead of misranking") {
    // A null primary has no bucket to rank it in, and NaN has no place in
    // any call site's key domain: the kernel's partials job counts both
    // and refuses (round-9 advice #1) — for every consumer, BEFORE any
    // partial sum is trusted.
    import spark.implicits._
    val nan = Seq((1.0, 1L), (Double.NaN, 1L)).toDF("x", "v")
    val nul = Seq((Some(1.0), 1L), (Option.empty[Double], 2L)).toDF("x", "v")
    for (df <- Seq(nan, nul)) {
      val c = intercept[IllegalArgumentException] {
        ScalableCumulate.cumSum(df, col("x"), ascending = true,
          Seq(col("x")), Seq(Cum("cum", col("v"))))
      }
      assert(c.getMessage.contains("NaN/null"), c.getMessage)
      val q = intercept[IllegalArgumentException] {
        ScalableCumulate.quantilePicks(df, col("x"), Seq(col("x")),
          col("v"), Seq((1L, 2L)))
      }
      assert(q.getMessage.contains("NaN/null"), q.getMessage)
    }
  }

  test("bucket layout changes fan-out, never results") {
    // One key set, two layouts: scaled into a single 1/64-octave band
    // (one bucket) and spread sign-symmetrically over ±2^±20 (one bucket
    // per distinct key). Both must equal the unpartitioned-window referee
    // over the same total order, in both directions — the layout only
    // shapes bucket sizes, never rows.
    import spark.implicits._
    val rnd = new scala.util.Random(1401)
    val rows = (0 until 400).map(i =>
      (i.toLong, rnd.nextInt(61) - 30, 1L + rnd.nextInt(9).toLong)) // (id, k, w)
    val oneBand = (k: Int) => 1.0 + (k + 30) / 16384.0
    val spread = (k: Int) =>
      math.signum(k.toDouble) * math.pow(2.0, -20 + 40.0 * (math.abs(k) - 1) / 29)
    for ((layout, f, fanOut) <- Seq(("one band", oneBand, (n: Int) => n == 1),
        ("±2^±20", spread, (n: Int) => n > 30)); asc <- Seq(true, false)) {
      val df = rows.map { case (id, k, w) => (id, f(k), w) }.toDF("id", "x", "w")
      val ord = Seq(if (asc) col("x").asc else col("x").desc, col("id").asc)
      val naive = df.withColumn("cum", sum("w").over(Window.orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val two = ScalableCumulate.cumSum(df, col("x"), ascending = asc, ord,
        Seq(Cum("cum", col("w"))))
      assert(fanOut(ScalableCumulate.lastPartialsRows),
        s"$layout: ${ScalableCumulate.lastPartialsRows} buckets")
      assert(sortedRows(two, "id", "cum") == sortedRows(naive, "id", "cum"),
        s"$layout asc=$asc: results differ from the referee")
    }
  }

  test("quantilePicks matches the naive histogram-cumulation pick") {
    // grouped + weighted: quantity-weighted median price per return flag
    val li = t(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast(DecimalType(30, 2)).as("w"))
    val cum = li.groupBy("l_returnflag", "l_extendedprice")
      .agg(sum("w").as("hw"))
      .withColumn("cum", sum("hw").over(
        Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("wtot", sum("hw").over(Window.partitionBy("l_returnflag")))
    val naive = cum.where(col("cum") * 2 >= col("wtot"))
      .groupBy("l_returnflag", "wtot")
      .agg(min("l_extendedprice").as("pick_0"))
      .select(col("l_returnflag"), col("pick_0"), col("wtot"))
    val fast = ScalableCumulate.quantilePicks(li, col("l_extendedprice"),
      Seq(col("l_extendedprice")), col("w"), Seq((1L, 2L)),
      groupCols = Seq("l_returnflag"), totalName = "wtot")
    assert(sortedRows(fast, "l_returnflag", "pick_0", "wtot") ==
      sortedRows(naive, "l_returnflag", "pick_0", "wtot"))
  }

  test("quantilePicks: multiple fracs share one partials pass, exact picks") {
    val o = t(spark, sf, "orders")
      .select(col("o_totalprice").cast(DecimalType(30, 2)).as("x"))
    val cum = o.groupBy("x").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(
        Window.orderBy("x").rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    val naive = cum.agg(
      min(when(col("cum") * 20 >= col("n"), col("x"))).as("pick_0"),
      min(when(col("cum") * 2 >= col("n"), col("x"))).as("pick_1"),
      min(when(col("cum") * 20 >= col("n") * 19, col("x"))).as("pick_2"))
    val fast = ScalableCumulate.quantilePicks(o, col("x"), Seq(col("x")),
      lit(1L), Seq((1L, 20L), (1L, 2L), (19L, 20L)))
    assert(sortedRows(fast, "pick_0", "pick_1", "pick_2") ==
      sortedRows(naive, "pick_0", "pick_1", "pick_2"))
  }

  test("quantilePicks is exact when ties straddle bucket bounds") {
    // 1000 rows over only 4 distinct values: every percentile bound lands
    // ON a tie group, so tie rows split across buckets — the pick must
    // still be the histogram pick (first value where ANY row qualifies)
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 4) + 10L).toDF("x")
    val r = ScalableCumulate.quantilePicks(df, col("x"), Seq(col("x")),
        lit(1L), Seq((1L, 2L), (3L, 4L)))
      .select("pick_0", "pick_1", "total").head()
    // 250×{10,11,12,13}: cum(11)=500 ≥ 500 → median 11; cum(12)=750 → p75 12
    assert(r.getLong(0) == 11L && r.getLong(1) == 12L && r.getLong(2) == 1000L)
  }

  test("quantilePicks: randomized differential vs the reference fold") {
    // 16 seeded trials: random weighted multisets (heavy ties by
    // construction, negative, zero and positive keys), random fraction,
    // random direction / strictness / grouping — the pick must equal the
    // plain-Scala reference (per group: sort, prefix-sum, first value
    // with den·cum ≥ num·W, or > when strict) every time. Catches
    // crossing-bucket off-by-ones a fixture can't sweep, across every
    // variant axis of the API.
    import spark.implicits._
    val rnd = new scala.util.Random(421000)
    var mixed = 0 // trials with zeros/negatives beside positives
    for (trial <- 1 to 16) {
      val n = 30 + rnd.nextInt(400)
      val dist = 1 + rnd.nextInt(12) // few distinct values → heavy ties
      val nGroups = 1 + rnd.nextInt(3)
      // ~1 in 5 rows lands in the NULL group (round-11: pins the
      // null-safe aux join on every randomized axis, not just a fixture)
      val rows0 = Seq.fill(n)((
        (if (rnd.nextInt(5) == 0) null
         else "g" + rnd.nextInt(nGroups)): String,
        rnd.nextInt(dist).toLong * 7, 1L + rnd.nextInt(5).toLong))
      val den = 2L + rnd.nextInt(99)
      val num0 = 1L + rnd.nextInt(den.toInt)
      val asc = rnd.nextBoolean()
      val strict = rnd.nextBoolean()
      // strict + num == den is a rejected input (vacuous crossing — the
      // require has its own fixture test); clamp without disturbing the
      // RNG stream
      val num = if (strict && num0 == den) num0 - 1 else num0
      val grouped = rnd.nextBoolean()
      // Half the trials shift x down (a separate RNG, so the primary
      // draw stream is untouched) so zeros and negatives — mirrored
      // log-octave buckets below zero's own — sit beside the positives.
      val rnd2 = new scala.util.Random(trial * 7919)
      val shift = if (rnd2.nextBoolean()) -7L * (1 + rnd2.nextInt(dist)) else 0L
      val rows = rows0.map { case (g, x, wt) => (g, x + shift, wt) }
      if (rows.exists(_._2 <= 0) && rows.exists(_._2 > 0)) mixed += 1
      def ref(rs: Seq[(String, Long, Long)]): Long = {
        val sorted = if (asc) rs.sortBy(_._2) else rs.sortBy(-_._2)
        val w = sorted.map(_._3).sum
        var cum = 0L
        sorted.find { case (_, _, wt) =>
          cum += wt
          if (strict) den * cum > num * w else den * cum >= num * w
        }.map(_._2).getOrElse(sorted.last._2)
      }
      val expected: Map[String, Long] =
        if (grouped) rows.groupBy(_._1).map { case (g, rs) => g -> ref(rs) }
        else Map("" -> ref(rows))
      val ord = if (asc) col("x").asc else col("x").desc
      val picks = ScalableCumulate.quantilePicks(rows.toDF("g", "x", "w"),
        col("x"), Seq(ord), col("w"), Seq((num, den)),
        groupCols = if (grouped) Seq("g") else Nil,
        ascending = asc, strict = strict)
      val label = s"trial $trial: n=$n dist=$dist shift=$shift " +
        s"frac=$num/$den asc=$asc strict=$strict grouped=$grouped"
      if (grouped) {
        val got = picks.select("g", "pick_0").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == expected, s"$label: got $got, expected $expected")
      } else {
        val got = picks.select("pick_0", "total").head()
        assert(got.getLong(0) == expected(""),
          s"$label: got ${got.getLong(0)}, expected ${expected("")}")
        assert(got.getLong(1) == rows.map(_._3).sum, s"$label total")
      }
    }
    assert(mixed > 0, "no trial mixed non-positive and positive x")
  }

  test("log2Bucket is total and monotone, mirrored below zero's own bucket") {
    import spark.implicits._
    val M = Double.MaxValue
    val neg = Seq(-M, -1e300, -3.0, -1.0, -0.5, -1e-310, -Double.MinPositiveValue)
    val pos = Seq(Double.MinPositiveValue, 1e-310, 1e-300, 0.5, 1.0, 1.5, 2.0,
      1e300, M)
    def ids(xs: Seq[Option[Double]]): Seq[Option[Long]] =
      xs.toDF("x").select(ScalableCumulate.log2Bucket(col("x"))).collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    val all = ids((neg ++ Seq(-0.0, 0.0) ++ pos).map(Some(_)) :+ None)
    val (n, rest) = all.init.map(_.get).splitAt(neg.size)
    val (z, p) = rest.splitAt(2)
    val zero = ScalableCumulate.NonPositiveBucket
    assert(z == Seq(zero, zero), all)
    // strictly increasing within each sign: every value above sits in its
    // own 1/64-octave band (subnormals and ±max double included)
    for (side <- Seq(n, p))
      assert(side.sliding(2).forall { case Seq(a, b) => a < b }, all)
    assert(n.last < zero && zero < p.head, all)
    assert(p.slice(3, 6) == Seq(-64L, 0L, 37L), all)
    // negatives mirror positives: id(−x) = −2^21 − id(x)
    assert(ids(pos.map(x => Some(-x))).map(_.get) ==
      p.map(-(1L << 21) - _), all)
    // infinities are clamped onto the extreme finite buckets, and NaN
    // (above +∞ in Spark's order) shares the top one
    assert(ids(Seq(Double.NegativeInfinity, Double.PositiveInfinity, Double.NaN)
      .map(Some(_))).map(_.get) == Seq(n.head, p.last, p.last), all)
    assert(all.last.isEmpty, "NULL input must stay a NULL bucket id")
    // a half-negative input spreads below zero, not into one shared bucket
    val half = ids((-1000 to 1000).map(i => Some(i / 7.0))).map(_.get)
    assert(half.count(_ < zero) == 1000 && half.filter(_ <= zero).distinct.size > 1,
      s"non-positive buckets: ${half.filter(_ <= zero).distinct.size}")
  }

  test("quantilePicks: randomized differential with metric cums (total order)") {
    // round-11: the metrics path (per-frac cumulative side sums reported
    // AT the pick row) was fixture-only — sweep it across the same axes
    // as the main differential, under the documented total-order
    // requirement (unique id breaks primary ties deterministically).
    import spark.implicits._
    val rnd = new scala.util.Random(112233)
    for (trial <- 1 to 10) {
      val n = 20 + rnd.nextInt(300)
      val dist = 1 + rnd.nextInt(10) // heavy ties in the primary
      // x spans negative, zero and positive keys
      val rows = (0 until n).map(i => (i.toLong,
        (rnd.nextInt(dist) - dist / 2).toLong * 3, 1L + rnd.nextInt(4).toLong,
        rnd.nextInt(100).toLong)) // (id, x, w, mv)
      val den = 2L + rnd.nextInt(50)
      val num0 = 1L + rnd.nextInt(den.toInt)
      val strict = rnd.nextBoolean()
      val num = if (strict && num0 == den) num0 - 1 else num0
      val asc = rnd.nextBoolean()
      val grouped = rnd.nextBoolean() // grouped + metrics combined axis
      def gOf(id: Long): String = "g" + (id % 3)
      // reference fold over the total order (x, id) within a group:
      // inclusive cum + the metric cum at the first crossing row. A
      // crossing always exists: non-strict at cum=W trivially; strict
      // because num < den.
      def ref(rs: Seq[(Long, Long, Long, Long)]) = {
        val sorted = if (asc) rs.sortBy(r => (r._2, r._1))
          else rs.sortBy(r => (-r._2, r._1))
        val w = rs.map(_._3).sum
        var cum = 0L; var mcum = 0L
        val hit = sorted.find { r =>
          cum += r._3; mcum += r._4
          if (strict) den * cum > num * w else den * cum >= num * w
        }.get
        (hit._2, cum, mcum, rs.map(_._4).sum, w)
      }
      val expected: Map[String, (Long, Long, Long, Long, Long)] =
        if (grouped) rows.groupBy(r => gOf(r._1))
          .map { case (g, rs) => g -> ref(rs) }
        else Map("" -> ref(rows))
      val ord = Seq(if (asc) col("x").asc else col("x").desc, col("id").asc)
      val df = rows.toDF("id", "x", "w", "mv")
        .withColumn("g", concat(lit("g"), col("id") % 3))
      val picks = ScalableCumulate.quantilePicks(df,
        col("x"), ord, col("w"), Seq((num, den)), ascending = asc,
        strict = strict, metrics = Seq("m" -> col("mv")),
        groupCols = if (grouped) Seq("g") else Nil, totalName = "wtot")
      val label = s"trial $trial: n=$n frac=$num/$den asc=$asc " +
        s"strict=$strict grouped=$grouped"
      val got: Map[String, (Long, Long, Long, Long, Long)] =
        if (grouped) picks
          .select("g", "pick_0", "cum_0", "m_0", "m_total", "wtot")
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
              r.getLong(5))).toMap
        else Map("" -> {
          val r = picks
            .select("pick_0", "cum_0", "m_0", "m_total", "wtot").head()
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4))
        })
      assert(got == expected, s"$label: got $got, expected $expected")
    }
  }

  test("quantilePicks: descending + strict + metric cums (ABC boundaries)") {
    // revenues 50,30,10,5,5,0 (desc), W=100. Strict 8/10 crossing: first
    // cum·10 > 800 is cum=90 at value 10 (3rd row); strict 95/100: first
    // cum·100 > 9500 is cum=100 at value 5 (5th row). The cnt metric at
    // each boundary reconstructs ABC class stats by pure arithmetic.
    import spark.implicits._
    val df = Seq(50L, 30L, 10L, 5L, 5L, 0L).toDF("rev")
    val r = ScalableCumulate.quantilePicks(df, col("rev"),
        Seq(desc("rev")), col("rev"), Seq((8L, 10L), (95L, 100L)),
        ascending = false, strict = true,
        metrics = Seq("cnt" -> lit(1L)), totalName = "w")
      .select("pick_0", "cum_0", "cnt_0", "pick_1", "cum_1", "cnt_1",
        "cnt_total", "w").head()
    assert(r.getLong(0) == 10L && r.getLong(1) == 90L && r.getLong(2) == 3L,
      s"first boundary: $r")
    assert(r.getLong(3) == 5L && r.getLong(4) == 100L && r.getLong(5) == 5L,
      s"second boundary: $r")
    assert(r.getLong(6) == 6L && r.getLong(7) == 100L, s"totals: $r")
  }

  test("quantilePicks broadcast aux stays O(NB·fracs) at any corpus size") {
    // the 100 TB claim in one assertion: the only driver-held / broadcast
    // relation is the crossing-bucket aux — its row count is bounded by
    // the fraction count (≤ one crossing bucket per group per fraction),
    // and must NOT grow with the data (10× corpus, same bound)
    for (d <- Seq(sf, "/root/testdata/sf0.01")) {
      val o = t(spark, d, "orders")
        .select(col("o_totalprice").cast(DecimalType(30, 2)).as("x"))
      val picks = ScalableCumulate.quantilePicks(o, col("x"), Seq(col("x")),
        lit(1L), Seq((1L, 4L), (1L, 2L), (19L, 20L)))
      val locals = picks.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          l.data.size
      }
      assert(locals.nonEmpty, s"$d: no LocalRelation aux found in the plan")
      assert(locals.forall(_ <= 3),
        s"$d: aux relation larger than the fraction count: $locals")
    }
  }

  test("materialize is a checkpoint-once seam with an honest ledger") {
    val h = t(spark, sf, "orders")
      .groupBy(col("o_totalprice").as("x")).agg(count(lit(1)).as("cnt"))
    ScalableCumulate.resetHiddenShuffles()
    try {
      val m = ScalableCumulate.materialize(h)
      // the input's upstream shuffles moved into the ledger (the groupBy
      // plans at least one exchange), and a second call is a no-op — the
      // relation is not copied again and the ledger does not double-count
      val afterFirst = ScalableCumulate.hiddenShuffles
      assert(afterFirst >= 1, "ledger missed the hidden aggregate shuffle")
      assert(ScalableCumulate.materialize(m) eq m)
      assert(ScalableCumulate.hiddenShuffles == afterFirst)
      // the audit window is thread-owned: a read from another thread is a
      // loud failure (round-10 advice #4 — a cross-thread build would
      // silently under-count the pinned budgets otherwise)
      @volatile var crossErr: Throwable = null
      val t2 = new Thread(() =>
        try ScalableCumulate.hiddenShuffles
        catch { case e: Throwable => crossErr = e })
      t2.start(); t2.join()
      assert(crossErr != null &&
        crossErr.getMessage.contains("resetHiddenShuffles"),
        s"cross-thread ledger read did not fail loudly: $crossErr")
      // and a ledger WRITE off the auditing thread while the window is
      // open must fail too — that write belongs to the audited plan but
      // would land in a ledger the auditor never reads
      @volatile var writeErr: Throwable = null
      val t3 = new Thread(() =>
        try ScalableCumulate.materialize(h)
        catch { case e: Throwable => writeErr = e })
      t3.start(); t3.join()
      assert(writeErr != null && writeErr.getMessage.contains("audit window"),
        s"cross-thread ledger write did not fail loudly: $writeErr")
      // every kernel consumer charges its one eager helper job — the
      // partials exchange — and nothing else for a bare input
      import spark.implicits._
      val bare = Seq(1L, 2L, 3L, 4L).toDF("x")
      ScalableCumulate.resetHiddenShuffles()
      ScalableCumulate.cumSum(bare, col("x"), ascending = true, Seq(col("x")),
        Seq(Cum("cum", col("x"))))
      assert(ScalableCumulate.hiddenShuffles == 1)
      ScalableCumulate.resetHiddenShuffles()
      ScalableCumulate.quantilePicks(bare, col("x"), Seq(col("x")), lit(1L),
        Seq((1L, 2L)))
      assert(ScalableCumulate.hiddenShuffles == 1)
    } finally ScalableCumulate.endAudit()
    // an unpartitioned-window lineage is refused: checkpointing it would
    // hide the exact single-task-sort hazard the helper exists to retire
    val hazard = h.withColumn("cum",
      sum("cnt").over(Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    intercept[IllegalArgumentException] {
      ScalableCumulate.materialize(hazard)
    }
  }

  test("quantilePicks rejects strict fracs with num == den (vacuous crossing)") {
    // round-10 advice #1: strict + num==den can never cross (cum ≤ W), so
    // the driver fallback (last bucket) and Job 3's aggregate (NULL pick)
    // would disagree — the input is rejected loudly instead
    import spark.implicits._
    val df = Seq(1L, 2L, 3L).toDF("x")
    val e = intercept[IllegalArgumentException] {
      ScalableCumulate.quantilePicks(df, col("x"), Seq(col("x")), lit(1L),
        Seq((1L, 2L), (3L, 3L)), strict = true)
    }
    assert(e.getMessage.contains("num < den"), e.getMessage)
  }

  test("quantilePicks fails loudly when a crossing product would overflow") {
    // round-10 advice #2: Job 3 re-evaluates den·cum / num·W on executors
    // in unchecked arithmetic — the driver-side magnitude guard must
    // reject call sites whose products exceed Long / decimal(38) BEFORE
    // a wrong or NULL pick can come back.
    import spark.implicits._
    // decimal: W = 2e37 (precision 38 — fits); 9·W needs 39 digits, which
    // the executor-side decimal(38,0) product would overflow to NULL
    val dec = Seq(0L, 1L, 2L, 3L).toDF("x").select(col("x"),
      lit("5000000000000000000000000000000000000")
        .cast(DecimalType(38, 0)).as("w"))
    val e = intercept[IllegalArgumentException] {
      ScalableCumulate.quantilePicks(dec, col("x"), Seq(col("x")), col("w"),
        Seq((9L, 10L)))
    }
    assert(e.getMessage.contains("decimal(38)"), e.getMessage)
  }

  test("null group keys survive the null-safe offset/aux joins") {
    // round-10 advice #3: the partials groupBy keeps the null group and an
    // aux row is built for it, but a plain equi-join would drop it — the
    // null-safe join returns the row the naive histogram form would
    import spark.implicits._
    val df = Seq((Option("a"), 1L), (Option.empty[String], 2L),
      (Option.empty[String], 5L), (Option("a"), 3L)).toDF("g", "x")
    val r = ScalableCumulate.cumSum(df, col("x"), ascending = true,
      Seq(col("x")), Seq(Cum("c", col("x"))), groupCols = Seq("g"))
    assert(r.count() == 4)
    val nulls = r.filter(col("g").isNull).orderBy("x")
      .select("c").collect().map(_.getLong(0)).toSeq
    assert(nulls == Seq(2L, 7L), s"null-group cumsum: $nulls")
    val p = ScalableCumulate.quantilePicks(df, col("x"), Seq(col("x")),
      lit(1L), Seq((1L, 2L)), groupCols = Seq("g"))
    val got = p.collect()
      .map(row => Option(row.getString(0)) -> row.getLong(1)).toMap
    assert(got == Map(Option("a") -> 1L, None -> 2L), s"null-group picks: $got")
  }

  test("quantilePicks auto-materializes a derived input (one upstream execution)") {
    // round-10 verdict #4: the bounds, partials, and returned plans each
    // re-execute the input; a bare scan is cheap (pushdown), but a
    // join-derived input must be checkpointed once — count upstream
    // evaluations with an accumulator to prove exactly-once
    val acc = spark.sparkContext.longAccumulator("upstream_evals")
    val tick = udf { (w: Long) => acc.add(1L); w }.asNondeterministic()
    val a = spark.range(0, 100).select(col("id").as("k"), (col("id") % 10).as("x"))
    val b = spark.range(0, 100).select(col("id").as("k"), lit(1L).as("w"))
    val derived = a.join(b, "k").select(col("x"), tick(col("w")).as("w"))
    val r = ScalableCumulate.quantilePicks(derived, col("x"), Seq(col("x")),
      col("w"), Seq((1L, 2L)))
    // 0..9 ×10 each, W=100: first cum·2 ≥ 100 is cum=50 at x=4
    assert(r.select("pick_0").head().getLong(0) == 4L)
    assert(acc.value == 100L,
      s"upstream executed ${acc.value}/100 row-evals — expected exactly one pass")
  }

  test("quantilePicks: a null weight fails loudly instead of being skipped") {
    // `sum` skips nulls, so a null `value` row would vanish from both the
    // cumulative and the total. One source is a weight that overflows
    // its decimal cast in a non-ANSI session (agg_weighted_median's
    // DECIMAL(8,2)); the partials job refuses it by name — for a
    // running sum too, whose bucket-local window would restart at a null.
    import spark.implicits._
    val df = Seq((1.0, Some(2L)), (2.0, None), (3.0, Some(1L))).toDF("x", "w")
    val e = intercept[IllegalArgumentException] {
      ScalableCumulate.quantilePicks(df, col("x"), Seq(col("x")), col("w"),
        Seq((1L, 2L)))
    }
    assert(e.getMessage.contains("null `value`"), e.getMessage)
    val c = intercept[IllegalArgumentException] {
      ScalableCumulate.cumSum(df, col("x"), ascending = true, Seq(col("x")),
        Seq(Cum("cum", col("w"))))
    }
    assert(c.getMessage.contains("null `value`"), c.getMessage)
    val lax = spark.newSession()
    lax.conf.set("spark.sql.ansi.enabled", "false")
    val big = lax.createDataFrame(Seq((1.0, 3.0), (2.0, 1.0e6))).toDF("x", "q")
      .select(col("x"), col("q").cast(DecimalType(8, 2)).as("w"))
    val l = intercept[IllegalArgumentException] {
      ScalableCumulate.quantilePicks(big, col("x"), Seq(col("x")), col("w"),
        Seq((1L, 2L)))
    }
    assert(l.getMessage.contains("1 null `value`"), l.getMessage)
  }

  test("quantilePicks: high-cardinality group key fails loudly at the cap") {
    // The partials collect is O(NB·|groups|) BY CONTRACT; a caller who
    // passes a data-sized group key must get a named error, never a
    // silent driver OOM (round-15; r14 verdict #2). Cap forced tiny so
    // the guard fires on fixture data; restored afterwards.
    val o = t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice").cast(DecimalType(30, 2)).as("x"))
    spark.conf.set("spark.graft.cumulate.maxPartials", "50")
    try {
      val e = intercept[IllegalArgumentException] {
        ScalableCumulate.quantilePicks(o, col("x"), Seq(col("x")), lit(1L),
          Seq((1L, 2L)), groupCols = Seq("o_orderkey")).collect()
      }
      assert(e.getMessage.contains("maxPartials"))
      assert(e.getMessage.contains("high-cardinality"))
    } finally spark.conf.unset("spark.graft.cumulate.maxPartials")
  }
}
