package graft.ops

import graft.{Spec, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 analytics (round 8, tranche 2) — statistical depth ops:
  * lag-k autocorrelation, exact distributed median, an A/B-test z-score,
  * and a Pareto concentration curve. The shared discipline: every
  * accumulation is an exact BIGINT sum; floats appear only in one final
  * fixed-order expression written with the same text on both engines, so
  * the outputs are bit-identical without rounding tricks.
  */
object Analytics2 {
  import Tables._

  val all: Seq[Spec] = Seq(
    // Lag-k autocorrelation (ACF, lags 1..7) of the daily event-count
    // series — the seasonality detector a forecast pipeline runs first.
    // r_k is computed from SIX integer sufficient statistics (T, Σx, Σx²,
    // Σ x_t·x_{t+k}, and the two truncated edge sums) gathered in ONE
    // global agg over the lead-shifted series; the only float math is the
    // final per-lag expression, written in the identical operation order
    // on both engines. The day-grain series is tiny at any SF (the fact
    // scan aggregates 1e9 rows to ~30), so the unpartitioned lead window
    // is a deliberate 30-row single-partition stage, not a scale hazard.
    // (BIGINT bound: Σx·x_lag overflows only past ~2e9 events/day.)
    Spec("ts_autocorr",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("x"))
        val w = Window.orderBy("day")
        val led = daily.select(
          (col("x") +: (1 to 7).map(k => lead("x", k).over(w).as(s"x$k"))): _*)
        val aggCols = Seq(count(lit(1)).as("t"), sum(col("x")).as("s1"),
          sum(col("x") * col("x")).as("s2")) ++
          (1 to 7).flatMap { k =>
            Seq(sum(col("x") * col(s"x$k")).as(s"n$k"),
              sum(when(col(s"x$k").isNotNull, col("x"))).as(s"a$k"),
              sum(col(s"x$k")).as(s"b$k"))
          }
        val stats = led.agg(aggCols.head, aggCols.tail: _*)
        val stacked = stats.selectExpr("t", "s1", "s2",
          (1 to 7).map(k => s"$k, n$k, a$k, b$k")
            .mkString("stack(7, ", ", ", ") as (lag, n, a, b)"))
        stacked.select(col("lag"),
          round(
            (col("n") - (col("s1").cast(DoubleType) / col("t")) * (col("a") + col("b")) +
              (col("t") - col("lag")) * (col("s1").cast(DoubleType) / col("t")) * (col("s1").cast(DoubleType) / col("t"))) /
              (col("s2") - col("t") * (col("s1").cast(DoubleType) / col("t")) * (col("s1").cast(DoubleType) / col("t"))),
            6).as("acf"))
          .orderBy("lag")
      },
      Some("""WITH daily AS (
                SELECT CAST(ts AS DATE) AS day, count(*) AS x
                FROM events GROUP BY 1),
              led AS (
                SELECT x, lead(x,1) OVER w AS x1, lead(x,2) OVER w AS x2,
                       lead(x,3) OVER w AS x3, lead(x,4) OVER w AS x4,
                       lead(x,5) OVER w AS x5, lead(x,6) OVER w AS x6,
                       lead(x,7) OVER w AS x7
                FROM daily WINDOW w AS (ORDER BY day)),
              s AS (
                SELECT count(*) AS t, CAST(sum(x) AS BIGINT) AS s1,
                       CAST(sum(x*x) AS BIGINT) AS s2,
                       CAST(sum(x*x1) AS BIGINT) AS n1, CAST(sum(CASE WHEN x1 IS NOT NULL THEN x END) AS BIGINT) AS a1, CAST(sum(x1) AS BIGINT) AS b1,
                       CAST(sum(x*x2) AS BIGINT) AS n2, CAST(sum(CASE WHEN x2 IS NOT NULL THEN x END) AS BIGINT) AS a2, CAST(sum(x2) AS BIGINT) AS b2,
                       CAST(sum(x*x3) AS BIGINT) AS n3, CAST(sum(CASE WHEN x3 IS NOT NULL THEN x END) AS BIGINT) AS a3, CAST(sum(x3) AS BIGINT) AS b3,
                       CAST(sum(x*x4) AS BIGINT) AS n4, CAST(sum(CASE WHEN x4 IS NOT NULL THEN x END) AS BIGINT) AS a4, CAST(sum(x4) AS BIGINT) AS b4,
                       CAST(sum(x*x5) AS BIGINT) AS n5, CAST(sum(CASE WHEN x5 IS NOT NULL THEN x END) AS BIGINT) AS a5, CAST(sum(x5) AS BIGINT) AS b5,
                       CAST(sum(x*x6) AS BIGINT) AS n6, CAST(sum(CASE WHEN x6 IS NOT NULL THEN x END) AS BIGINT) AS a6, CAST(sum(x6) AS BIGINT) AS b6,
                       CAST(sum(x*x7) AS BIGINT) AS n7, CAST(sum(CASE WHEN x7 IS NOT NULL THEN x END) AS BIGINT) AS a7, CAST(sum(x7) AS BIGINT) AS b7
                FROM led)
              SELECT lag,
                     round((n - (CAST(s1 AS DOUBLE) / t) * (a + b)
                            + (t - lag) * (CAST(s1 AS DOUBLE) / t) * (CAST(s1 AS DOUBLE) / t))
                           / (s2 - t * (CAST(s1 AS DOUBLE) / t) * (CAST(s1 AS DOUBLE) / t)), 6) AS acf
              FROM (
                SELECT t, s1, s2, 1 AS lag, n1 AS n, a1 AS a, b1 AS b FROM s
                UNION ALL SELECT t, s1, s2, 2, n2, a2, b2 FROM s
                UNION ALL SELECT t, s1, s2, 3, n3, a3, b3 FROM s
                UNION ALL SELECT t, s1, s2, 4, n4, a4, b4 FROM s
                UNION ALL SELECT t, s1, s2, 5, n5, a5, b5 FROM s
                UNION ALL SELECT t, s1, s2, 6, n6, a6, b6 FROM s
                UNION ALL SELECT t, s1, s2, 7, n7, a7, b7 FROM s) u
              ORDER BY lag""")),

    // EXACT distributed median (lower median, no interpolation) of
    // o_totalprice per priority — the scalable construction: compress to
    // (group, value, count) histogram rows (one shuffle), cumulate counts
    // in value order WITHIN each group, and pick the first value whose
    // cumulative count reaches ceil(n/2). No stage ever sorts raw rows
    // globally — the window runs over the compressed histogram, which is
    // bounded by the value cardinality, not the fact cardinality. The
    // oracle states the identical construction (engine quantile functions
    // differ on interpolation, so neither engine's builtin is used).
    Spec("agg_exact_median",
      (s, d) => {
        // o_totalprice is near-unique, so a value histogram compresses
        // nothing — the per-priority pick runs straight over the raw
        // rows through quantilePicks (cum ≥ ⌈n/2⌉ ⟺ 2·cum ≥ n for
        // integer counts), per-group totals free, no window outside the
        // crossing bucket of each priority
        ScalableCumulate.quantilePicks(
            t(s, d, "orders").select("o_orderpriority", "o_totalprice"),
            col("o_totalprice"), Seq(col("o_totalprice")), lit(1L),
            Seq((1L, 2L)), groupCols = Seq("o_orderpriority"),
            totalName = "n")
          .select(col("o_orderpriority"),
            col("pick_0").as("median_price"), col("n"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH counts AS (
                SELECT o_orderpriority, o_totalprice, count(*) AS c
                FROM orders GROUP BY 1, 2),
              cum AS (
                SELECT o_orderpriority, o_totalprice,
                       CAST(sum(c) OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                FROM counts),
              tot AS (
                SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1)
              SELECT cum.o_orderpriority AS o_orderpriority,
                     min(o_totalprice) AS median_price, n
              FROM cum JOIN tot ON cum.o_orderpriority = tot.o_orderpriority
              WHERE cum >= (n + 1) // 2
              GROUP BY cum.o_orderpriority, n
              ORDER BY 1""")),

    // Weighted median (quantity-weighted price per return flag) — the
    // exact-median construction generalized to weights: histogram rows
    // carry exact-decimal weight sums, and the pick condition is
    // 2·cum_weight ≥ total_weight, kept entirely in decimal space (no
    // halving division, no float threshold) so the qualifying boundary is
    // exact on both engines. Scale shape (round-10): the pick runs
    // through ScalableCumulate.quantilePicks over the RAW rows — no
    // value-histogram materialization at all (prices are near-unique, so
    // that "compression" moved data-sized rows through a shuffle for
    // nothing); per-(flag, bucket) weight partials reduce map-side to
    // buckets·|flags| rows, the crossing bucket is found driver-exact, and
    // the only window runs over that one bucket per flag. The grand
    // total rides back as the picks' `total` column — one lineitem scan
    // per job, zero data-sized shuffles.
    // The weight is DECIMAL(8,2), not the oracle's DECIMAL(30,2): at
    // precision ≤ 8 Spark's DecimalAggregates rule sums the unscaled
    // values as longs (both the partials aggregate and the pick window)
    // instead of adding java.math.BigDecimals row by row. Range: |w| <
    // 10⁶ — l_quantity is 1..50 — and within it the cast rounds exactly
    // as the wider one, so wtot and the picks are the same decimals. A
    // larger weight raises CAST_OVERFLOW under ANSI (the default); a
    // non-ANSI session nulls it, and quantilePicks refuses null weights
    // by name.
    Spec("agg_weighted_median",
      (s, d) => {
        val wdec = col("l_quantity").cast(DecimalType(8, 2))
        val li = t(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice"),
            wdec.as("w"))
        ScalableCumulate.quantilePicks(li, col("l_extendedprice"),
            Seq(col("l_extendedprice")), col("w"), Seq((1L, 2L)),
            groupCols = Seq("l_returnflag"), totalName = "wtot")
          .select(col("l_returnflag"),
            col("pick_0").as("wmedian_price"),
            col("wtot").cast(DoubleType).as("total_weight"))
          .orderBy("l_returnflag")
      },
      Some("""WITH counts AS (
                SELECT l_returnflag, l_extendedprice,
                       sum(CAST(l_quantity AS DECIMAL(30,2))) AS w
                FROM lineitem GROUP BY 1, 2),
              cum AS (
                SELECT l_returnflag, l_extendedprice,
                       sum(w) OVER (PARTITION BY l_returnflag
                         ORDER BY l_extendedprice ROWS UNBOUNDED PRECEDING) AS cum
                FROM counts),
              tot AS (
                SELECT l_returnflag, sum(CAST(l_quantity AS DECIMAL(30,2))) AS wtot
                FROM lineitem GROUP BY 1)
              SELECT cum.l_returnflag AS l_returnflag,
                     min(l_extendedprice) AS wmedian_price,
                     CAST(wtot AS DOUBLE) AS total_weight
              FROM cum JOIN tot ON cum.l_returnflag = tot.l_returnflag
              WHERE cum * 2 >= wtot
              GROUP BY cum.l_returnflag, wtot
              ORDER BY 1""")),

    // A/B-test readout: two-proportion z-test on high-value-purchase
    // conversion (value > 90 — plain purchase saturates at p = 1 in this
    // data, which zeroes the pooled variance) with users split into arms
    // by user_id parity (the deterministic stand-in for an assignment
    // column). All counts are exact distinct-user
    // BIGINTs from ONE pass over events; the z-score is a single
    // fixed-order float expression over those integers — identical text
    // both engines, bit-identical result before the display rounding.
    Spec("evt_ab_ztest",
      (s, d) => {
        val byArm = t(s, d, "events")
          .groupBy((col("user_id") % 2).as("arm"))
          .agg(countDistinct(col("user_id")).as("n"),
            countDistinct(when(col("event_type") === "purchase" &&
              col("value") > 90, col("user_id"))).as("conv"))
        val one = byArm.agg(
          sum(when(col("arm") === 0, col("n"))).as("n0"),
          sum(when(col("arm") === 1, col("n"))).as("n1"),
          sum(when(col("arm") === 0, col("conv"))).as("conv0"),
          sum(when(col("arm") === 1, col("conv"))).as("conv1"))
        val p0 = col("conv0").cast(DoubleType) / col("n0")
        val p1 = col("conv1").cast(DoubleType) / col("n1")
        val p = (col("conv0") + col("conv1")).cast(DoubleType) / (col("n0") + col("n1"))
        one.select(col("n0"), col("n1"), col("conv0"), col("conv1"),
          round(p0, 6).as("p0"), round(p1, 6).as("p1"),
          round((p0 - p1) /
            sqrt(p * (lit(1.0) - p) * (lit(1.0) / col("n0") + lit(1.0) / col("n1"))),
            6).as("z"))
      },
      Some("""WITH by_arm AS (
                SELECT user_id % 2 AS arm, count(DISTINCT user_id) AS n,
                       count(DISTINCT CASE WHEN event_type = 'purchase'
                                            AND value > 90
                                           THEN user_id END) AS conv
                FROM events GROUP BY 1),
              one AS (
                SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
                       CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
                       CAST(sum(CASE WHEN arm = 0 THEN conv END) AS BIGINT) AS conv0,
                       CAST(sum(CASE WHEN arm = 1 THEN conv END) AS BIGINT) AS conv1
                FROM by_arm)
              SELECT n0, n1, conv0, conv1,
                     round(CAST(conv0 AS DOUBLE) / n0, 6) AS p0,
                     round(CAST(conv1 AS DOUBLE) / n1, 6) AS p1,
                     round((CAST(conv0 AS DOUBLE) / n0 - CAST(conv1 AS DOUBLE) / n1)
                           / sqrt((CAST(conv0 + conv1 AS DOUBLE) / (n0 + n1))
                                  * (1.0 - CAST(conv0 + conv1 AS DOUBLE) / (n0 + n1))
                                  * (1.0 / n0 + 1.0 / n1)), 6) AS z
              FROM one""")),

    // Pareto concentration curve: rank users by activity, cut into
    // deciles, report each decile's share and cumulative share of all
    // events — the "what fraction of users produce 80% of traffic" read.
    // The decile assignment runs at USER grain (one per-user row from a
    // single groupBy) — the same fact-to-entity compression that makes
    // the exact median scale — via ScalableCumulate's bucketed two-pass
    // row number + arithmetic ntile (no single-task sort of the user
    // relation); ties broken by user_id so the assignment is total.
    // Shares stay exact-integer until one final division at the 10-row
    // grain, whose own cum/total ride the same helper.
    Spec("evt_pareto_share",
      (s, d) => {
        val per = t(s, d, "events").groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_ev"))
        val (rn, n) = ScalableCumulate.rowNumber(per, col("n_ev"),
          ascending = false, Seq(desc("n_ev"), asc("user_id")), "__rn")
        val dec = rn.withColumn("decile",
          ScalableCumulate.ntileOf(col("__rn"), n, 10).cast("int"))
        val byDec = dec.groupBy(col("decile"))
          .agg(count(lit(1)).as("n_users"), sum(col("n_ev")).as("events"))
        ScalableCumulate.cumSum(byDec, col("decile"), ascending = true,
            Seq(col("decile")), Seq(ScalableCumulate.Cum("cum", col("events"))),
            totals = Map("cum" -> "total"))
          .select(col("decile"), col("n_users"), col("events"),
            round(col("events").cast(DoubleType) / col("total"), 6).as("share"),
            round(col("cum").cast(DoubleType) / col("total"), 6).as("cum_share"))
          .orderBy("decile")
      },
      Some("""WITH per_user AS (
                SELECT user_id, count(*) AS n_ev FROM events GROUP BY 1),
              dec AS (
                SELECT n_ev, ntile(10) OVER (ORDER BY n_ev DESC, user_id) AS decile
                FROM per_user),
              by_dec AS (
                SELECT decile, count(*) AS n_users,
                       CAST(sum(n_ev) AS BIGINT) AS events
                FROM dec GROUP BY 1)
              SELECT decile, n_users, events,
                     round(CAST(events AS DOUBLE) / total, 6) AS share,
                     round(CAST(cum AS DOUBLE) / total, 6) AS cum_share
              FROM (
                SELECT decile, n_users, events,
                       CAST(sum(events) OVER () AS BIGINT) AS total,
                       CAST(sum(events) OVER (ORDER BY decile
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                FROM by_dec) x
              ORDER BY decile""")),

    // New-vs-returning daily split: each (day, user) pair is classified
    // by whether the day is the user's first-seen day. Both relations
    // live at compressed grains — (day, user) distinct and (user,
    // first_day) — and the classifying join shuffles on user_id, the key
    // both sides already hash to, so AQE plans one co-partitioned
    // exchange pair and the per-day counts are a bounded final agg.
    Spec("evt_new_vs_returning",
      (s, d) => {
        val ev = t(s, d, "events").select(col("ts").cast("date").as("day"),
          col("user_id"))
        val daily = ev.distinct()
        val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
        daily.join(first, "user_id")
          .groupBy(col("day"))
          .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("n_new"),
            sum(when(col("day") === col("first_day"), 0L).otherwise(1L))
              .as("n_returning"))
          .orderBy("day")
      },
      Some("""WITH ev AS (
                SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
              first AS (
                SELECT user_id, min(day) AS first_day FROM ev GROUP BY 1)
              SELECT day,
                CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                CAST(sum(CASE WHEN day = first_day THEN 0 ELSE 1 END) AS BIGINT) AS n_returning
              FROM ev JOIN first USING (user_id)
              GROUP BY day ORDER BY day""")),

    // Day-of-week seasonality index: mean daily volume per weekday over
    // the overall mean — the companion read to ts_autocorr's lag-7 spike.
    // Integer sufficient statistics per weekday (sum, day count) and
    // globally (S, T); the index is one fixed-order float expression.
    // Weekday numbering is pinned Sunday=1..Saturday=7 on both engines.
    Spec("evt_dow_seasonality",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("x"))
        val byDow = daily.groupBy(dayofweek(col("day")).as("dow"))
          .agg(sum(col("x")).as("sum_x"), count(lit(1)).as("n_days"))
        val tot = daily.agg(sum(col("x")).as("s"), count(lit(1)).as("t"))
        byDow.join(broadcast(tot))
          .select(col("dow"), col("sum_x"), col("n_days"),
            round((col("sum_x").cast(DoubleType) / col("n_days")) /
              (col("s").cast(DoubleType) / col("t")), 6).as("idx"))
          .orderBy("dow")
      },
      Some("""WITH daily AS (
                SELECT CAST(ts AS DATE) AS day, count(*) AS x
                FROM events GROUP BY 1),
              by_dow AS (
                SELECT dayofweek(day) + 1 AS dow, CAST(sum(x) AS BIGINT) AS sum_x,
                       count(*) AS n_days
                FROM daily GROUP BY 1),
              tot AS (
                SELECT CAST(sum(x) AS BIGINT) AS s, count(*) AS t FROM daily)
              SELECT dow, sum_x, n_days,
                     round((CAST(sum_x AS DOUBLE) / n_days)
                           / (CAST(s AS DOUBLE) / t), 6) AS idx
              FROM by_dow, tot ORDER BY dow""")),

    // Incremental aggregation via mergeable partials — the materialized-
    // view maintenance shape: per-day partial stats (count / exact-decimal
    // sum / min / max) roll up to weekly by MERGING partials, never
    // rescanning facts. The oracle aggregates the facts directly at the
    // weekly grain, so a hash match PROVES the partial-merge associativity
    // the incremental pipeline depends on. Weeks truncate Monday-first on
    // both engines.
    Spec("agg_incremental_merge",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val partials = li.groupBy(col("l_shipdate").cast("date").as("day"),
            col("l_returnflag"))
          .agg(count(lit(1)).as("c"),
            sum(col("l_extendedprice").cast(DecimalType(30, 2))).as("sdec"),
            min(col("l_extendedprice")).as("mn"),
            max(col("l_extendedprice")).as("mx"))
        partials
          .groupBy(date_trunc("week", col("day")).cast("date").as("week"),
            col("l_returnflag"))
          .agg(sum(col("c")).as("n_items"),
            round(sum(col("sdec")), 2).cast(DoubleType).as("revenue"),
            min(col("mn")).as("min_price"), max(col("mx")).as("max_price"))
          .orderBy("week", "l_returnflag")
      },
      Some("""SELECT CAST(date_trunc('week', CAST(l_shipdate AS DATE)) AS DATE) AS week,
                     l_returnflag, count(*) AS n_items,
                     CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,2))), 2) AS DOUBLE) AS revenue,
                     min(l_extendedprice) AS min_price,
                     max(l_extendedprice) AS max_price
              FROM lineitem
              GROUP BY 1, 2 ORDER BY week, l_returnflag""")),

    // Spark 4 SQL session variables: DECLARE + SET VAR, with the variable
    // INITIALIZED FROM A SUBQUERY (max is exact, so the derived threshold
    // is bit-deterministic) and consumed in both a predicate and the
    // output. The oracle states the desugared form with the defining
    // subquery inlined — semantically what variable substitution does.
    Spec("sql_session_variables",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("DECLARE OR REPLACE VARIABLE price_cut DOUBLE")
        s.sql("SET VAR price_cut = (SELECT max(o_totalprice) FROM orders) / 2")
        s.sql("""SELECT o_orderpriority, count(*) AS n_big,
                   round(price_cut, 2) AS cut_used
                 FROM orders WHERE o_totalprice > price_cut
                 GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_big,
                round((SELECT max(o_totalprice) FROM orders) / 2, 2) AS cut_used
              FROM orders
              WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders) / 2
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Named-parameter SQL (spark.sql(text, args)): the injection-safe
    // templating API — parameters bind as typed literals at parse time,
    // never string-spliced. The oracle is the same text with the
    // bindings inlined.
    Spec("sql_parameterized",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql(
          """SELECT c_mktsegment, count(*) AS n,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,2))), 2) AS DOUBLE) AS bal
             FROM customer
             WHERE c_acctbal > :minbal AND c_mktsegment <> :seg
             GROUP BY c_mktsegment ORDER BY c_mktsegment""",
          Map("minbal" -> 1000, "seg" -> "BUILDING"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
                CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,2))), 2) AS DOUBLE) AS bal
              FROM customer
              WHERE c_acctbal > 1000 AND c_mktsegment <> 'BUILDING'
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Spark 4 SQL scripting (BEGIN … END with procedural control flow):
    // a WHILE loop computes the quantity threshold (2^5 = 32) in script
    // variables, then the final statement — the script's result —
    // filters on it. Control flow runs on the DRIVER over scalar
    // variables; the data-path statement is ordinary Catalyst SQL, so
    // scripting adds orchestration without touching the execution plan.
    Spec("sql_scripting",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""BEGIN
                   DECLARE i INT DEFAULT 0;
                   DECLARE cut DOUBLE DEFAULT 1.0;
                   WHILE i < 5 DO
                     SET cut = cut * 2;
                     SET i = i + 1;
                   END WHILE;
                   SELECT l_returnflag, count(*) AS n_over,
                          round(cut, 2) AS cut_used
                   FROM lineitem WHERE l_quantity > cut
                   GROUP BY l_returnflag ORDER BY l_returnflag;
                 END""")
      },
      Some("""SELECT l_returnflag, count(*) AS n_over, 32.0 AS cut_used
              FROM lineitem WHERE l_quantity > 32.0
              GROUP BY l_returnflag ORDER BY l_returnflag""")))
}
