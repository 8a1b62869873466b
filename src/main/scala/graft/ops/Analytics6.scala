package graft.ops

import graft.{Spec, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed statistics, continued (split from Analytics3.scala
  * along its section seams — round 10): the ABC/CVaR/MAD/winsorized
  * robust-statistics family on ScalableCumulate, the SRM/attribution
  * experiment checks, and the TWAP/rolling-correlation time-series
  * kernels. Same Spec/Tables scaffolding and oracle discipline.
  */
object Analytics6 {
  import Tables._

  val all: Seq[Spec] = Seq(
    // ABC revenue classification — cumulative-share banding of parts by
    // revenue (A = first 80% of revenue, B = next 15%, C = tail): the
    // inventory-analytics classic. Line revenue has exactly 4 decimal
    // digits (2-decimal price × 2-decimal discount), so round(r·10⁴)
    // recovers the TRUE integer value in 10⁻⁴-dollar units (the double
    // product's error is ~1e-7 ≪ 0.5): the per-row hot loop is pure Long
    // — no BigDecimal conversion per lineitem (round-11; the old
    // per-row cast(decimal(30,4)) single-threaded the one-row-group
    // fixture scan at ~1 µs/row). The Long part sums are widened to
    // decimal(38,0) AT THE PART GRAIN — 10⁶× fewer rows — because the
    // grand total W would overflow Long at ~100 TB while per-part sums
    // never do; the share comparisons stay cross-multiplied exact
    // arithmetic (10·cum ≤ 8·total etc. — no division, no float
    // threshold). Round-10 shape: the class OUTPUT is only 3 rows, so no
    // per-part cumulation is needed at all — the two STRICT boundary
    // picks (first part with 10·cum > 8·W, first with 100·cum > 95·W)
    // plus their inclusive cum/count metrics reconstruct every class
    // total by pure arithmetic (A = everything before boundary 1; B =
    // between; C = the rest). quantilePicks finds both boundaries with
    // ONE map-side partials pass over the persisted part-revenue
    // relation and windows only the crossing buckets — the part grain
    // never passes through a full window at any scale. The boundary row is ONE row,
    // so it is collect()ed in the helper session and the three class rows are
    // composed on the driver in exact BigDecimal / Long arithmetic (the
    // agg_mad driver-composed-relation pattern — the caller then
    // executes a LocalRelation, not a join+window cascade, cutting the
    // query from ~10 Spark jobs to 2 actions). Empty
    // classes (possible under degenerate skew) are filtered, matching
    // the groupBy form. The 2-decimal rounding of each class total is
    // integer arithmetic ((u+50) div 100 — HALF_UP for the always-
    // positive revenue), so the double output is bit-identical to the
    // oracle's by IEEE division.
    Spec("agg_abc_class",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        import s.implicits._
        // persist, not materialize: the picks' PARTIALS pass doubles as
        // the cache fill, so the whole query is two Spark actions —
        // partials+fill, boundary-pick collect. The kernel's 1/64-octave
        // buckets keep the crossing-bucket window a sliver of the part
        // grain.
        val rev = t(s, d, "lineitem")
          .select(col("l_partkey"),
            round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * 10000, 0).cast("long").as("u"))
          .groupBy("l_partkey")
          .agg(sum("u").cast(DecimalType(38, 0)).as("rev"))
          .persist()
        val p = try {
          ScalableCumulate.audited(ScalableCumulate.inHelper(
            ScalableCumulate.quantilePicks(rev, col("rev"),
              Seq(desc("rev"), asc("l_partkey")), col("rev"),
              Seq((8L, 10L), (95L, 100L)), ascending = false, strict = true,
              metrics = Seq("cnt" -> lit(1L)), totalName = "w")))
            .collect()(0)
        } finally { rev.unpersist(); () }
        def dec(n: String) = BigDecimal(p.getAs[java.math.BigDecimal](n))
        val (pick0, cum0, cnt0) = (dec("pick_0"), dec("cum_0"), p.getAs[Long]("cnt_0"))
        val (pick1, cum1, cnt1) = (dec("pick_1"), dec("cum_1"), p.getAs[Long]("cnt_1"))
        val (cntTot, w) = (p.getAs[Long]("cnt_total"), dec("w"))
        def toDollars(u: BigDecimal): Double = // round(u/10⁴, 2), HALF_UP
          ((u + 50) / 100).setScale(0, BigDecimal.RoundingMode.FLOOR)
            .toLongExact / 100.0
        Seq(
          ("A", cnt0 - 1, cum0 - pick0),
          ("B", cnt1 - cnt0, (cum1 - pick1) - (cum0 - pick0)),
          ("C", cntTot - (cnt1 - 1), w - (cum1 - pick1)))
          .filter(_._2 > 0)
          .map { case (c, n, u) => (c, n, toDollars(u)) }
          .toDF("cls", "n_parts", "class_revenue")
      },
      Some("""WITH rev AS (
                SELECT l_partkey,
                  sum(CAST(round(l_extendedprice * (1.0 - l_discount)
                    * 10000) AS BIGINT)) AS rev
                FROM lineitem GROUP BY l_partkey),
              c AS (
                SELECT l_partkey, rev,
                  sum(rev) OVER (ORDER BY rev DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                  sum(rev) OVER (ORDER BY rev DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS tot
                FROM rev)
              SELECT CASE WHEN cum * 10 <= tot * 8 THEN 'A'
                          WHEN cum * 100 <= tot * 95 THEN 'B'
                          ELSE 'C' END AS cls,
                     count(*) AS n_parts,
                     CAST((sum(rev) + 50) // 100 AS DOUBLE) / 100.0
                       AS class_revenue
              FROM c
              GROUP BY 1 ORDER BY cls""")),

    // Sample-ratio-mismatch check — the experiment-health gate run
    // BEFORE reading any A/B result (a 50/50 split that isn't 50/50
    // means assignment is broken and every downstream metric is
    // garbage). For two arms the 1-df chi-square collapses ALGEBRAICALLY
    // to (n0−n1)²/T — one division of exact BIGINTs, no expected-count
    // floats at all; flagged against the pinned 3.841 critical value
    // (95%, 1 df). Companion to evt_ab_ztest on the same arm split.
    Spec("evt_srm_check",
      (s, d) => {
        val arms = t(s, d, "events")
          .groupBy((col("user_id") % 2).as("arm"))
          .agg(countDistinct(col("user_id")).as("n"))
        arms.agg(
            sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("n0"),
            sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("n1"))
          .select(col("n0"), col("n1"),
            round(((col("n0") - col("n1")) * (col("n0") - col("n1"))).cast("double") /
              (col("n0") + col("n1")).cast("double"), 6).as("chi2"))
          .withColumn("srm_detected", col("chi2") > 3.841)
      },
      Some("""WITH a AS (
                SELECT user_id % 2 AS arm, count(DISTINCT user_id) AS n
                FROM events GROUP BY 1),
              s AS (
                SELECT CAST(sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
                       CAST(sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n1
                FROM a)
              SELECT n0, n1,
                round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                  / CAST(n0 + n1 AS DOUBLE), 6) AS chi2,
                (round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                  / CAST(n0 + n1 AS DOUBLE), 6) > 3.841) AS srm_detected
              FROM s""")),

    // CTE referenced twice in one statement — rank-by-join over the
    // aggregated segment relation (each branch reads the SAME `seg`
    // CTE; Spark models this as WithCTE and decides inline-vs-reuse).
    // The join-based rank is a deliberate window-free formulation so the
    // double CTE reference is structural, not decorative.
    Spec("sql_cte_reuse",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""WITH seg AS (
                   SELECT c_mktsegment AS seg, count(*) AS n
                   FROM customer GROUP BY c_mktsegment)
                 SELECT a.seg, a.n,
                   count(b.seg) AS n_bigger
                 FROM seg a LEFT JOIN seg b
                   ON b.n > a.n OR (b.n = a.n AND b.seg < a.seg)
                 GROUP BY a.seg, a.n
                 ORDER BY a.seg""")
      },
      Some("""WITH seg AS (
                SELECT c_mktsegment AS seg, count(*) AS n
                FROM customer GROUP BY c_mktsegment)
              SELECT a.seg, a.n, count(b.seg) AS n_bigger
              FROM seg a LEFT JOIN seg b
                ON b.n > a.n OR (b.n = a.n AND b.seg < a.seg)
              GROUP BY a.seg, a.n
              ORDER BY a.seg""")),

    // Rolling 7-day correlation between the click and purchase daily
    // series — co-movement drift detection. The day grain carries both
    // counts as columns (conditional agg); all six sufficient statistics
    // are exact BIGINT window sums over the trailing frame, and r is one
    // fixed-order float expression with sqrt (IEEE-exact) — the
    // win_rolling_slope discipline extended to the bivariate case.
    // Degenerate frames (zero variance) yield NULL via nullif.
    Spec("win_rolling_corr",
      (s, d) => {
        val day = t(s, d, "events")
          .groupBy(col("ts").cast("date").as("day"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
        val w = Window.orderBy("day").rowsBetween(-6, 0)
        day
          .withColumn("k", count(lit(1)).over(w))
          .withColumn("sx", sum("x").over(w))
          .withColumn("sy", sum("y").over(w))
          .withColumn("sxy", sum(col("x") * col("y")).over(w))
          .withColumn("sx2", sum(col("x") * col("x")).over(w))
          .withColumn("sy2", sum(col("y") * col("y")).over(w))
          .where(col("k") === 7)
          .select(col("day"), col("x"), col("y"),
            round((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
              nullif(sqrt((col("k") * col("sx2") - col("sx") * col("sx")).cast("double")) *
                sqrt((col("k") * col("sy2") - col("sy") * col("sy")).cast("double")), lit(0.0)),
              6).as("r7"))
          .orderBy("day")
      },
      Some("""WITH day AS (
                SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
                FROM events GROUP BY 1),
              r AS (
                SELECT day, x, y,
                  CAST(count(*) OVER w AS BIGINT) AS k,
                  CAST(sum(x) OVER w AS BIGINT) AS sx,
                  CAST(sum(y) OVER w AS BIGINT) AS sy,
                  CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
                  CAST(sum(x * x) OVER w AS BIGINT) AS sx2,
                  CAST(sum(y * y) OVER w AS BIGINT) AS sy2
                FROM day
                WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
              SELECT day, x, y,
                round(CAST(k * sxy - sx * sy AS DOUBLE)
                  / nullif(sqrt(CAST(k * sx2 - sx * sx AS DOUBLE))
                    * sqrt(CAST(k * sy2 - sy * sy AS DOUBLE)), 0.0), 6) AS r7
              FROM r WHERE k = 7
              ORDER BY day""")),

    // Position-based (U-shaped) attribution — first and last touch get
    // 40% credit each, middles split the remaining 20%: the multi-touch
    // model next to evt_attribution's last-touch. The journey is each
    // user's pre-FIRST-purchase touch sequence; credits are integer
    // basis points (middle share is `2000 div (n-2)` — floor, so a
    // journey's credits can sum to slightly under 10000; documented
    // rather than smeared, keeping every credit deterministic). Two
    // windows over one user-keyed shuffle + a broadcast of the tiny
    // first-purchase relation.
    Spec("evt_attribution_position",
      (s, d) => {
        val fp = t(s, d, "events")
          .where(col("event_type") === "purchase")
          .groupBy("user_id").agg(min("ts").as("fp_ts"))
        val j = t(s, d, "events")
          .join(broadcast(fp), "user_id")
          .where(col("ts") < col("fp_ts") && col("event_type") =!= "purchase")
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wc = Window.partitionBy("user_id")
        j.withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wc))
          .withColumn("credit_bp",
            when(col("n") === 1, 10000L)
              .when(col("n") === 2, 5000L)
              .when(col("rn") === 1 || col("rn") === col("n"), 4000L)
              .otherwise(expr("2000 div (n - 2)")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("touches"),
            sum("credit_bp").cast("long").as("total_credit_bp"))
          .orderBy("event_type")
      },
      Some("""WITH fp AS (
                SELECT user_id, min(ts) AS fp_ts FROM events
                WHERE event_type = 'purchase' GROUP BY user_id),
              j AS (
                SELECT e.user_id, e.event_id, e.event_type, e.ts
                FROM events e JOIN fp ON e.user_id = fp.user_id
                WHERE e.ts < fp.fp_ts AND e.event_type <> 'purchase'),
              r AS (
                SELECT event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS rn,
                  count(*) OVER (PARTITION BY user_id) AS n
                FROM j)
              SELECT event_type, count(*) AS touches,
                CAST(sum(CASE WHEN n = 1 THEN 10000
                              WHEN n = 2 THEN 5000
                              WHEN rn = 1 OR rn = n THEN 4000
                              ELSE 2000 // (n - 2) END) AS BIGINT)
                  AS total_credit_bp
              FROM r GROUP BY event_type
              ORDER BY event_type""")),

    // Time-weighted average value (TWAP) per user-day — the financial /
    // IoT averaging that weights each observation by how long it was
    // "current" (until the next event), not by row count. Durations are
    // exact integer microseconds from one lead(); value is a 2-decimal
    // fixture column, so Σ(value·dur) is an exact decimal sum and the
    // single final division is bit-identical. The last observation of a
    // day has no duration and is excluded (stated, not fudged).
    Spec("win_twap",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val w = Window.partitionBy("user_id", "day").orderBy("tus", "event_id")
        val e = t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("value"),
            col("ts").cast("date").as("day"), expr("unix_micros(ts)").as("tus"))
          .withColumn("dur_us", lead("tus", 1).over(w) - col("tus"))
          .where(col("dur_us").isNotNull)
        e.groupBy("user_id", "day")
          .agg(count(lit(1)).as("n_obs"),
            sum(col("value").cast(DecimalType(30, 2)) * col("dur_us")).as("wsum"),
            sum("dur_us").as("dtot"))
          .select(col("user_id"), col("day"), col("n_obs"),
            round(col("wsum").cast("double") / col("dtot").cast("double"), 6)
              .as("twap"))
          .orderBy("user_id", "day")
      },
      Some("""WITH e AS (
                SELECT user_id, event_id, "value",
                  CAST(ts AS DATE) AS day, epoch_us(ts) AS tus
                FROM events),
              g AS (
                SELECT user_id, day, "value",
                  lead(tus) OVER (PARTITION BY user_id, day
                    ORDER BY tus, event_id) - tus AS dur_us
                FROM e)
              SELECT user_id, day, count(*) AS n_obs,
                round(CAST(sum(CAST("value" AS DECIMAL(30,2)) * dur_us) AS DOUBLE)
                  / CAST(sum(dur_us) AS BIGINT), 6) AS twap
              FROM g WHERE dur_us IS NOT NULL
              GROUP BY user_id, day
              ORDER BY user_id, day""")),

    // Correlated scalar subquery in the SELECT list — the report-writer
    // idiom Catalyst decorrelates into a left outer aggregate join
    // (count must coalesce to 0 for nations with no suppliers — the
    // NULL-vs-0 trap the decorrelation preserves). Both subqueries share
    // the nation key, so the plan is two small aggregate joins, not two
    // rescans per row.
    Spec("sql_scalar_subquery_select",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""SELECT n_name,
                   (SELECT count(*) FROM supplier
                    WHERE s_nationkey = n_nationkey) AS n_suppliers,
                   (SELECT count(*) FROM customer
                    WHERE c_nationkey = n_nationkey) AS n_customers
                 FROM nation ORDER BY n_name""")
      },
      Some("""SELECT n_name,
                (SELECT count(*) FROM supplier
                 WHERE s_nationkey = n_nationkey) AS n_suppliers,
                (SELECT count(*) FROM customer
                 WHERE c_nationkey = n_nationkey) AS n_customers
              FROM nation ORDER BY n_name""")),

    // Median absolute deviation — the robust dispersion statistic
    // (outlier-immune, unlike stddev). Composes the exact-median
    // construction TWICE: the global lower median of o_totalprice, then
    // the same construction over |x − median|. No engine median/quantile
    // function on either side. Prices have exactly 2 decimals, so
    // round(p·100) recovers the TRUE integer cent value (the double
    // product's error is ~1e-9 ≪ 0.5) — the whole pipeline runs in pure
    // Long arithmetic: no per-row BigDecimal conversion anywhere, and
    // the pick boundaries cannot round-tie. o_totalprice is near-unique,
    // so the value grain is unbounded — both medians run through
    // ScalableCumulate.quantilePicks (bucket partials over raw rows,
    // driver-exact crossing search, window over one bucket). Round-11
    // job-count shave — four bounded Spark actions instead of seven,
    // each exactly ONE job: the projection is persist()ed, so the first
    // pick's partials pass doubles as the cache fill; the picks
    // run in the helper session and are collect()ed rather than head()ed
    // (CollectLimit's scale-up retries would re-launch up to three jobs
    // hunting the one constant-key output partition). The first pick is
    // one scalar — the bounded driver-collect class — so the deviation
    // column is a plain literal projection, and the result is a
    // driver-composed 1-row relation.
    Spec("agg_mad",
      (s, d) => {
        val o = t(s, d, "orders")
          .select(round(col("o_totalprice") * 100, 0).cast("long").as("x"))
          .persist()
        try {
          // the first pick's PARTIALS pass doubles as the cache fill, so
          // the whole query is four bounded actions (partials+fill, pick
          // 1, partials 2, pick 2). dev can be 0: zero has a bucket of
          // its own under log2Bucket.
          def pick(df: org.apache.spark.sql.DataFrame, c: String) =
            ScalableCumulate.audited(ScalableCumulate.inHelper(
              ScalableCumulate.quantilePicks(df, col(c), Seq(col(c)),
                lit(1L), Seq((1L, 2L)))))
              .collect()(0).getLong(0)
          val m = pick(o, "x")
          val mad = pick(o.select(abs(col("x") - lit(m)).as("dev")), "dev")
          s.range(1).select((lit(m) / lit(100.0)).as("median_price"),
            (lit(mad) / lit(100.0)).as("mad"))
        } finally { o.unpersist(); () }
      },
      Some("""WITH x AS (
                SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x
                FROM orders),
              c1 AS (
                SELECT x, count(*) AS cnt FROM x GROUP BY x),
              m1 AS (
                SELECT min(x) AS m FROM (
                  SELECT x,
                    sum(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
                    sum(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING) AS n
                  FROM c1) WHERE cum * 2 >= n),
              dev AS (
                SELECT abs(x.x - m1.m) AS dev FROM x, m1),
              c2 AS (
                SELECT dev, count(*) AS cnt FROM dev GROUP BY dev),
              m2 AS (
                SELECT min(dev) AS mad FROM (
                  SELECT dev,
                    sum(cnt) OVER (ORDER BY dev ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
                    sum(cnt) OVER (ORDER BY dev ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING) AS n
                  FROM c2) WHERE cum * 2 >= n)
              SELECT CAST(m1.m AS DOUBLE) / 100.0 AS median_price,
                     CAST(m2.mad AS DOUBLE) / 100.0 AS mad
              FROM m1, m2""")),

    // Expected shortfall / CVaR(95): the mean of the upper tail at or
    // above the exact p95 pick — risk's answer to "p95 hides the worst
    // 5%". The threshold is the exact order-statistic pick (cum·20 ≥
    // 19·n — cross-multiplied, no interpolation, no engine quantile);
    // ties at the threshold are INCLUDED by definition here (stated, so
    // both engines agree even when the 5% boundary is degenerate). Tail
    // mean is an exact decimal sum with one final division. The pick
    // runs through ScalableCumulate.quantilePicks — bucket partials over
    // the raw rows (no histogram materialization, no data-sized
    // shuffle), crossing bucket found on the driver, window over that
    // one bucket only.
    Spec("agg_cvar",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val o = t(s, d, "orders")
          .select(col("o_totalprice").cast(DecimalType(30, 2)).as("x"))
        val thr = ScalableCumulate.quantilePicks(o, col("x"), Seq(col("x")),
            lit(1L), Seq((19L, 20L)))
          .select(col("pick_0").as("p95"))
        o.crossJoin(broadcast(thr))
          .where(col("x") >= col("p95"))
          .groupBy("p95")
          .agg(count(lit(1)).as("n_tail"), sum("x").as("tail_sum"))
          .select(col("p95").cast("double").as("p95"), col("n_tail"),
            round(col("tail_sum").cast("double") / col("n_tail"), 6).as("cvar95"))
      },
      Some("""WITH x AS (
                SELECT CAST(o_totalprice AS DECIMAL(30,2)) AS x FROM orders),
              c AS (SELECT x, count(*) AS cnt FROM x GROUP BY x),
              t AS (
                SELECT min(x) AS p95 FROM (
                  SELECT x,
                    sum(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
                    sum(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING) AS n
                  FROM c) WHERE cum * 20 >= n * 19)
              SELECT CAST(t.p95 AS DOUBLE) AS p95,
                count(*) AS n_tail,
                round(CAST(sum(x.x) AS DOUBLE) / count(*), 6) AS cvar95
              FROM x, t WHERE x.x >= t.p95
              GROUP BY t.p95""")),

    // SRE error-budget burn: per-day error share in basis points plus
    // the RUNNING share against a pinned 20% SLO (the fixture's uniform
    // 5-type mix makes ~20% the meaningful line) — the "are we burning
    // budget faster than we earn it" readout. Pure integer arithmetic:
    // daily counts, floor-bp shares, running sums over the day grain.
    Spec("evt_error_budget",
      (s, d) => {
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .groupBy(col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("n"),
            count(when(col("event_type") === "error", 1)).as("n_err"))
          .withColumn("err_bp", expr("(10000 * n_err) div n"))
          .withColumn("cum_n_err", sum("n_err").over(w))
          .withColumn("cum_n", sum("n").over(w))
          .withColumn("cum_err_bp", expr("(10000 * cum_n_err) div cum_n"))
          .drop("cum_n_err", "cum_n")
          .withColumn("over_budget", col("cum_err_bp") > 2000)
          .orderBy("day")
      },
      Some("""WITH daily AS (
                SELECT CAST(ts AS DATE) AS day, count(*) AS n,
                  count(CASE WHEN event_type = 'error' THEN 1 END) AS n_err
                FROM events GROUP BY 1)
              SELECT day, n, n_err,
                (10000 * n_err) // n AS err_bp,
                (10000 * CAST(sum(n_err) OVER w AS BIGINT))
                  // CAST(sum(n) OVER w AS BIGINT) AS cum_err_bp,
                ((10000 * CAST(sum(n_err) OVER w AS BIGINT))
                  // CAST(sum(n) OVER w AS BIGINT) > 2000) AS over_budget
              FROM daily
              WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW)
              ORDER BY day""")),

    // Winsorized mean — the robust-mean companion to agg_mad/agg_cvar:
    // clamp to the exact p05/p95 order-statistic picks (both fracs
    // share ONE partials job in
    // ScalableCumulate.quantilePicks; the final window touches only the
    // two crossing buckets), then an exact decimal mean of the clamped
    // values. Clamping (least/greatest) is closed over the
    // 2-decimal domain, so the sum stays exact and the single division
    // is bit-identical.
    Spec("agg_winsorized_mean",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val o = t(s, d, "orders")
          .select(col("o_totalprice").cast(DecimalType(30, 2)).as("x"))
        val thr = ScalableCumulate.quantilePicks(o, col("x"), Seq(col("x")),
            lit(1L), Seq((1L, 20L), (19L, 20L)))
          .select(col("pick_0").as("p05"), col("pick_1").as("p95"))
        o.crossJoin(broadcast(thr))
          .select(col("p05"), col("p95"),
            greatest(col("p05"), least(col("p95"), col("x"))).as("cx"),
            col("x"))
          .groupBy("p05", "p95")
          .agg(count(lit(1)).as("n"),
            sum("cx").as("wsum"), sum("x").as("rsum"))
          .select(col("p05").cast("double").as("p05"),
            col("p95").cast("double").as("p95"),
            round(col("wsum").cast("double") / col("n"), 6).as("winsorized_mean"),
            round(col("rsum").cast("double") / col("n"), 6).as("raw_mean"))
      },
      Some("""WITH x AS (
                SELECT CAST(o_totalprice AS DECIMAL(30,2)) AS x FROM orders),
              c AS (SELECT x, count(*) AS cnt FROM x GROUP BY x),
              k AS (
                SELECT x,
                  sum(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS cum,
                  sum(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING) AS n
                FROM c),
              t AS (
                SELECT min(CASE WHEN cum * 20 >= n THEN x END) AS p05,
                       min(CASE WHEN cum * 20 >= n * 19 THEN x END) AS p95
                FROM k)
              SELECT CAST(t.p05 AS DOUBLE) AS p05,
                CAST(t.p95 AS DOUBLE) AS p95,
                round(CAST(sum(greatest(t.p05, least(t.p95, x.x))) AS DOUBLE)
                  / count(*), 6) AS winsorized_mean,
                round(CAST(sum(x.x) AS DOUBLE) / count(*), 6) AS raw_mean
              FROM x, t
              GROUP BY t.p05, t.p95""")),

    // Exact percentile ladder (p25/p50/p75/p95/p99) — the engine-exact
    // answer to "approx_percentile, but auditable": all five picks share
    // ONE map-side partials pass in
    // ScalableCumulate.quantilePicks (cross-multiplied den·cum ≥ num·n
    // conditions, the lower-value no-interpolation pick convention both
    // engines state identically), and the final window touches only the
    // ≤5 crossing buckets. Scale shape: two scans, O(octave buckets)
    // rows moved — no value histogram, no global sort,
    // regardless of how many fractions ride along.
    Spec("agg_exact_percentiles",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val o = t(s, d, "orders")
          .select(col("o_totalprice").cast(DecimalType(30, 2)).as("x"))
        ScalableCumulate.quantilePicks(o, col("x"), Seq(col("x")),
            lit(1L),
            Seq((1L, 4L), (1L, 2L), (3L, 4L), (19L, 20L), (99L, 100L)),
            totalName = "n_rows")
          .select(col("pick_0").cast("double").as("p25"),
            col("pick_1").cast("double").as("p50"),
            col("pick_2").cast("double").as("p75"),
            col("pick_3").cast("double").as("p95"),
            col("pick_4").cast("double").as("p99"),
            col("n_rows"))
      },
      Some("""WITH x AS (
                SELECT CAST(o_totalprice AS DECIMAL(30,2)) AS x FROM orders),
              c AS (SELECT x, count(*) AS cnt FROM x GROUP BY x),
              k AS (
                SELECT x,
                  CAST(sum(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                  CAST(sum(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                    PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS n
                FROM c)
              SELECT CAST(min(CASE WHEN cum * 4 >= n THEN x END) AS DOUBLE) AS p25,
                     CAST(min(CASE WHEN cum * 2 >= n THEN x END) AS DOUBLE) AS p50,
                     CAST(min(CASE WHEN cum * 4 >= n * 3 THEN x END) AS DOUBLE) AS p75,
                     CAST(min(CASE WHEN cum * 20 >= n * 19 THEN x END) AS DOUBLE) AS p95,
                     CAST(min(CASE WHEN cum * 100 >= n * 99 THEN x END) AS DOUBLE) AS p99,
                     CAST(min(n) AS BIGINT) AS n_rows
              FROM k""")),

    // GROUPED exact percentiles — the per-segment companion to
    // agg_exact_percentiles: p50/p90 of order value per priority, via
    // quantilePicks' group path (partials at the (group, bucket) grain,
    // one crossing bucket per group per fraction, per-group totals free).
    // At 100 TB the moved rows stay buckets·|groups| — group count
    // multiplies the BOUNDED side only, never the scanned side.
    Spec("agg_grouped_percentiles",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val o = t(s, d, "orders").select(col("o_orderpriority"),
          col("o_totalprice").cast(DecimalType(30, 2)).as("x"))
        ScalableCumulate.quantilePicks(o, col("x"), Seq(col("x")), lit(1L),
            Seq((1L, 2L), (9L, 10L)), groupCols = Seq("o_orderpriority"),
            totalName = "n_orders")
          .select(col("o_orderpriority"),
            col("pick_0").cast("double").as("p50"),
            col("pick_1").cast("double").as("p90"),
            col("n_orders"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH x AS (
                SELECT o_orderpriority,
                  CAST(o_totalprice AS DECIMAL(30,2)) AS x FROM orders),
              c AS (
                SELECT o_orderpriority, x, count(*) AS cnt
                FROM x GROUP BY 1, 2),
              k AS (
                SELECT o_orderpriority, x,
                  CAST(sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum,
                  CAST(sum(cnt) OVER (PARTITION BY o_orderpriority)
                    AS BIGINT) AS n
                FROM c)
              SELECT o_orderpriority,
                CAST(min(CASE WHEN cum * 2 >= n THEN x END) AS DOUBLE) AS p50,
                CAST(min(CASE WHEN cum * 10 >= n * 9 THEN x END) AS DOUBLE) AS p90,
                CAST(min(n) AS BIGINT) AS n_orders
              FROM k GROUP BY o_orderpriority
              ORDER BY o_orderpriority"""))
  )
}
