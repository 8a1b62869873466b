package graft.ops

import graft.{Spec, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** SURVEY.md §2 category D — aggregation forms.
  *
  * Determinism: money sums go through [[Tables.msum]] (exact decimal sum →
  * order-independent); `l_quantity` is integer-valued so its double sum is
  * exact in any association order; genuinely irrational statistics
  * (stddev/var/corr/covar) are rounded.
  *
  * Scale notes: every groupBy here is a hash aggregate with map-side
  * partial aggregation — the shuffle carries one row per (partition, group),
  * not per input row. `count(DISTINCT)` expands to a two-phase aggregate;
  * the HLL variant (`agg_approx_distinct`) is the 100 TB path when
  * exactness isn't required.
  */
object Aggs {
  import Tables._

  private val q1 = { (s: SparkSession, d: String) =>
    t(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2000-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        msum(col("l_extendedprice")).as("sum_base_price"),
        msum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
        msum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
        (sum("l_quantity") / count(lit(1))).as("avg_qty"),
        mavg(col("l_extendedprice")).as("avg_price"),
        mavg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q1 shape — also the flagship `SparkEntry.entry` query. */
  def q1Flagship(s: SparkSession, d: String) = q1(s, d)

  val all: Seq[Spec] = Seq(
    Spec("agg_global",
      (s, d) => t(s, d, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        sum("l_quantity").as("sum_qty"),
        msum(col("l_extendedprice")).as("sum_price"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"),
        (sum("l_quantity") / count(lit(1))).as("avg_qty")),
      Some(s"""SELECT count(*) AS n_rows, sum(l_quantity) AS sum_qty,
                 ${msumSql("l_extendedprice")} AS sum_price,
                 min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
                 min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
                 (sum(l_quantity) / count(*)) AS avg_qty
               FROM lineitem""")),

    Spec("agg_groupby", q1,
      Some(s"""SELECT l_returnflag, l_linestatus,
                 sum(l_quantity) AS sum_qty,
                 ${msumSql("l_extendedprice")} AS sum_base_price,
                 ${msumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
                 ${msumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
                 (sum(l_quantity) / count(*)) AS avg_qty,
                 ${mavgSql("l_extendedprice")} AS avg_price,
                 ${mavgSql("l_discount")} AS avg_disc,
                 count(*) AS count_order
               FROM lineitem
               WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
               GROUP BY l_returnflag, l_linestatus
               ORDER BY l_returnflag, l_linestatus""")),

    Spec("agg_count_distinct",
      (s, d) => t(s, d, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
              FROM events GROUP BY event_type ORDER BY event_type""")),

    Spec("agg_filtered",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("l_returnflag") === "A", col("l_quantity")).otherwise(0.0)).as("qty_returned"),
          count(when(col("l_discount") > 0.05, lit(1))).as("n_bigdisc"),
          msum(when(col("l_tax") === 0.0, col("l_extendedprice")).otherwise(0.0)).as("price_notax"))
        .orderBy("l_linestatus"),
      Some(s"""SELECT l_linestatus,
                 sum(CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0.0 END) AS qty_returned,
                 count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_bigdisc,
                 ${msumSql("CASE WHEN l_tax = 0.0 THEN l_extendedprice ELSE 0.0 END")} AS price_notax
               FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // Irrational statistics: rounded (the only queries where a sub-ulp
    // engine difference is possible; rounding absorbs it).
    Spec("agg_stats",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 2).as("sd_qty"),
          round(var_samp(col("l_quantity")), 2).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cov_qp"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                round(stddev_samp(l_quantity), 2) AS sd_qty,
                round(var_samp(l_quantity), 2) AS var_qty,
                round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
                round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qp
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Emit the sorted per-group list as a joined string: stable to hash,
    // no array-encoding drift between engines.
    Spec("agg_collect_sorted",
      (s, d) => t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(
          count(lit(1)).as("n_orders"),
          array_join(sort_array(collect_list(col("o_orderpriority"))), ",").as("prios"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, count(*) AS n_orders,
                array_to_string(list(o_orderpriority ORDER BY o_orderpriority), ',') AS prios
              FROM orders GROUP BY o_custkey ORDER BY o_custkey""")),

    // GROUPING SETS is SQL-only surface in Spark — same text runs on DuckDB.
    Spec("agg_grouping_sets",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql(s"""SELECT coalesce(n_name, 'ALL') AS nation,
                    coalesce(r_name, 'ALL') AS region_name,
                    ${msumSql("o_totalprice")} AS revenue,
                    count(*) AS n_orders
                  FROM orders
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation   ON c_nationkey = n_nationkey
                    JOIN region   ON n_regionkey = r_regionkey
                  GROUP BY GROUPING SETS ((n_name), (r_name), ())
                  ORDER BY nation, region_name""")
      },
      Some(s"""SELECT coalesce(n_name, 'ALL') AS nation,
                 coalesce(r_name, 'ALL') AS region_name,
                 ${msumSql("o_totalprice")} AS revenue,
                 count(*) AS n_orders
               FROM orders
                 JOIN customer ON o_custkey = c_custkey
                 JOIN nation   ON c_nationkey = n_nationkey
                 JOIN region   ON n_regionkey = r_regionkey
               GROUP BY GROUPING SETS ((n_name), (r_name), ())
               ORDER BY nation, region_name""")),

    Spec("agg_rollup",
      (s, d) => t(s, d, "orders")
        .select(
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          col("o_totalprice"))
        .rollup("y", "m")
        .agg(msum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .select(
          coalesce(col("y"), lit(-1L)).as("y"),
          coalesce(col("m"), lit(-1L)).as("m"),
          col("revenue"), col("n_orders"))
        .orderBy("y", "m"),
      Some(s"""SELECT coalesce(y, -1) AS y, coalesce(m, -1) AS m,
                 ${msumSql("o_totalprice")} AS revenue, count(*) AS n_orders
               FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
                            CAST(month(o_orderdate) AS BIGINT) AS m,
                            o_totalprice
                     FROM orders)
               GROUP BY ROLLUP(y, m) ORDER BY y, m""")),

    Spec("agg_cube",
      (s, d) => t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
                coalesce(l_linestatus, 'ALL') AS ls,
                count(*) AS n, sum(l_quantity) AS sum_qty
              FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
              ORDER BY rf, ls""")),

    Spec("agg_having",
      (s, d) => t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), msum(col("o_totalprice")).as("total"))
        .where(col("n_orders") > 12)
        .orderBy("o_custkey"),
      Some(s"""SELECT o_custkey, count(*) AS n_orders, ${msumSql("o_totalprice")} AS total
               FROM orders GROUP BY o_custkey HAVING count(*) > 12
               ORDER BY o_custkey""")),

    // HLL++ sketch — the 100 TB distinct-count path. The estimate itself is
    // implementation-specific, so the ORACLE-CHECKED output is an invariant:
    // the exact distinct count plus a boolean asserting the sketch landed
    // within 5% of it. rsd=0.01 makes the 5% band a ~5σ guarantee, so the
    // boolean is deterministically true and DuckDB can state it literally.
    Spec("agg_approx_distinct",
      (s, d) => t(s, d, "events")
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(
          col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).as("within_5pct"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
                count(DISTINCT user_id) AS exact_users,
                true AS within_5pct
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // approx_percentile under the same invariant-oracle convention as
    // agg_approx_distinct: the sketch value itself is merge-order
    // dependent (GK summaries), so the DECLARED output is the exact RANK
    // GUARANTEE, not the value — the true cume fraction at the estimate
    // must sit within ±5% of the requested 0.5 (accuracy 1000 bounds rank
    // error at 1/1000; 5% is generous armor over it). Scale shape: the
    // sketch aggregate is the mergeable two-phase path (partials merge
    // associatively — the whole point of GK at 100 TB); the verification
    // join broadcasts 5 tiny (event_type, estimate) rows back over the
    // fact, and the exact rank check is one more hash aggregate.
    // events.value is null-free at every sf (count(*) = count(value)).
    Spec("agg_approx_percentile",
      (s, d) => {
        val e = t(s, d, "events")
        val ap = e.groupBy("event_type")
          .agg(expr("approx_percentile(value, 0.5, 1000)").as("a"),
            count(lit(1)).as("n"))
        e.join(broadcast(ap), "event_type")
          .groupBy("event_type")
          .agg(first("n").as("n_rows"),
            sum(when(col("value") <= col("a"), 1L).otherwise(0L)).as("le"))
          .select(col("event_type"), col("n_rows"),
            (col("le").cast("double") / col("n_rows").cast("double") >= 0.45 &&
             col("le").cast("double") / col("n_rows").cast("double") <= 0.55)
              .as("rank_within_5pct"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n_rows, true AS rank_within_5pct
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // Correlation / covariance — the bivariate-statistics family, computed
    // the DETERMINISTIC distributed way: the five co-moment sums are exact
    // decimal aggregates (order-free, like msum), each cast once to double,
    // and the textbook formulas finish with a fixed dag of IEEE ops on
    // bit-identical inputs — so the output is bit-identical across engines,
    // partitionings, and runs, with NO rounding insurance needed. (The
    // built-in corr/covar_pop use streaming co-moment merges whose float
    // result depends on partial-aggregate merge order — fine numerically,
    // unusable for a hash oracle; same 1-shuffle cost either way.)
    // Products stay exact: x,y have ≤2 decimal digits, so x*y/x²/y² have ≤4
    // and the DECIMAL(30,4) cast recovers them exactly on both engines.
    Spec("agg_corr_covar",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("l_quantity").cast("decimal(30,2)")).cast("double").as("sx"),
          sum(col("l_extendedprice").cast("decimal(30,2)")).cast("double").as("sy"),
          sum((col("l_quantity") * col("l_quantity")).cast("decimal(30,4)"))
            .cast("double").as("sxx"),
          sum((col("l_quantity") * col("l_extendedprice")).cast("decimal(30,4)"))
            .cast("double").as("sxy"),
          sum((col("l_extendedprice") * col("l_extendedprice")).cast("decimal(30,4)"))
            .cast("double").as("syy"))
        .select(col("l_returnflag"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"))
            .as("covar_pop"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1))
            .as("covar_samp"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))))
            .as("corr_qty_price"))
        .orderBy("l_returnflag"),
      Some("""WITH s AS (
                SELECT l_returnflag,
                  CAST(count(*) AS DOUBLE) AS n,
                  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sxy,
                  CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS syy
                FROM lineitem GROUP BY l_returnflag)
              SELECT l_returnflag,
                (sxy - sx * sy / n) / n AS covar_pop,
                (sxy - sx * sy / n) / (n - 1) AS covar_samp,
                (n * sxy - sx * sy) /
                  sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_price
              FROM s ORDER BY l_returnflag""")),

    // MERGEABLE sketches — the property that makes approximate distinct
    // counting work at 100 TB: per-(type, day) HLL partials built where the
    // data lives, then a register-wise union up the tree, with NO re-scan.
    // `merge_consistent` asserts the union of daily partials lands on the
    // SAME register state as one direct sketch (set-union semantics make
    // the merged estimate equal the direct estimate exactly — both sides
    // computed in Spark, DuckDB states the invariant literally), and
    // `within_5pct` bounds the lgK=14 estimate (~0.8% σ) against the exact
    // count, as in agg_approx_distinct.
    Spec("agg_hll_union",
      (s, d) => {
        val e = t(s, d, "events")
        val daily = e
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
          .groupBy("event_type")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
            .cast("long").as("merged_est"))
        val direct = e.groupBy("event_type")
          .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(14)))
            .cast("long").as("direct_est"),
            countDistinct(col("user_id")).as("exact_users"))
        daily.join(direct, "event_type")
          .select(col("event_type"), col("exact_users"),
            (col("merged_est") === col("direct_est")).as("merge_consistent"),
            (abs(col("merged_est") - col("exact_users")).cast("double") /
              col("exact_users") <= 0.05).as("within_5pct"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
                count(DISTINCT user_id) AS exact_users,
                true AS merge_consistent,
                true AS within_5pct
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // argmin/argmax aggregates (min_by/max_by) — "who had the largest
    // purchase", the lookup that otherwise costs a self-join back to the
    // grouped relation. Determinism: engine tie-breaks on equal ordering
    // values are unspecified, so the ordering key is made UNIQUE — exact
    // cents (round(value·100), a 2-decimal fixture column, is an exact
    // integer on both engines) scaled and combined with the unique
    // event_id. The packed key is WIDE integer arithmetic on both sides —
    // DECIMAL(38,0) in Spark, HUGEINT in DuckDB (both exact 128-bit-class;
    // a BIGINT key would silently assume event_id < 10^10 and
    // |cents| < 9.2e8, and past that Spark wraps where ANSI DuckDB errors
    // — a latent engine divergence, not just a wrong answer). DuckDB 1.0
    // has no struct-keyed max_by, so a composite (cents, event_id) tuple
    // key is not portable; wide packing is. One hash aggregate, map-side
    // partial, same shuffle as any groupBy.
    Spec("agg_min_max_by",
      (s, d) => {
        val key = round(col("value") * 100).cast(DecimalType(38, 0)) *
          lit(10000000000L) + col("event_id")
        t(s, d, "events").groupBy("event_type")
          .agg(max_by(col("user_id"), key).as("top_user"),
            min_by(col("user_id"), key).as("bottom_user"),
            max(col("value")).as("max_value"),
            min(col("value")).as("min_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
                max_by(user_id, CAST(round("value" * 100) AS HUGEINT)
                  * 10000000000 + event_id) AS top_user,
                min_by(user_id, CAST(round("value" * 100) AS HUGEINT)
                  * 10000000000 + event_id) AS bottom_user,
                max("value") AS max_value, min("value") AS min_value
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // Exact interpolated percentiles: both engines sort within the group
    // and linearly interpolate at p·(n-1) — same definition
    // (Spark `percentile` ≡ DuckDB `quantile_cont`), rounded as insurance.
    Spec("agg_percentile",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 2).as("median_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 2).as("p90_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 2).as("p90_price"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                round(quantile_cont(l_quantity, 0.5), 2) AS median_qty,
                round(quantile_cont(l_quantity, 0.9), 2) AS p90_qty,
                round(quantile_cont(l_extendedprice, 0.9), 2) AS p90_price
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Custom TypedImperativeAggregate (KLL/MRL quantile sketch,
    // functions/KllQuantilesAgg.scala) — the sketch seam beyond HLL++.
    // Like agg_approx_distinct, the estimate is implementation-specific, so
    // the ORACLE-CHECKED output is an invariant: the achieved rank of each
    // estimated quantile (fraction of group rows <= estimate, an exact
    // integer ratio) must land within ±5% of the target rank. k=512 keeps
    // observed rank error <2% at these scales, so the booleans are
    // deterministically true and DuckDB states them literally.
    Spec("agg_kll_quantiles",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val li = t(s, d, "lineitem")
        val est = li.groupBy("l_returnflag")
          .agg(expr("kll_quantiles(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("est"))
        def rank(i: Int) = // exact integer sum / exact count → one IEEE division
          (sum(when(col("l_extendedprice") <= element_at(col("est"), i), 1L)
            .otherwise(0L)).cast("double") / count(lit(1)))
        li.join(broadcast(est), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            (abs(rank(1) - 0.5) <= 0.05).as("r50_ok"),
            (abs(rank(2) - 0.9) <= 0.05).as("r90_ok"),
            (abs(rank(3) - 0.99) <= 0.05).as("r99_ok"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n_rows,
                true AS r50_ok, true AS r90_ok, true AS r99_ok
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Skew-mitigated aggregation through ops.Salting (docs/SCALE.md): the
    // classic two-phase rewrite — partial agg on (key, salt), final on key.
    // l_returnflag is the engine's most skew-shaped key (3 values over the
    // whole fact table); the deterministic content-hash salt spreads each
    // hot key over 16 shuffle partitions. Counts and integral-valued sums
    // re-aggregate exactly, so the oracle is the plain groupBy.
    Spec("agg_skew_salted",
      (s, d) => Salting.saltedCountSum(
          t(s, d, "lineitem").select("l_returnflag", "l_quantity"),
          "l_returnflag", "l_quantity", 16)
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_value
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Custom TypedImperativeAggregate #2: Misra-Gries heavy hitters
    // (functions/MisraGriesAgg.scala) — deterministic frequent-items
    // summary, O(k) state per group. The MG guarantee (every item with
    // true frequency > n/k survives the sketch, any merge order) makes
    // candidates-filtered-by-EXACT-count equal the exact > n/k item set,
    // which DuckDB states relationally. Item = floor(sqrt(value)):
    // IEEE-exact on both engines (no libm drift).
    Spec("agg_heavy_hitters",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val ev = t(s, d, "events")
          .select(col("event_type"), floor(sqrt(col("value"))).cast("long").as("item"))
        val cand = ev.groupBy("event_type")
          .agg(expr("mg_heavy_hitters(item, 8)").as("cands"))
        val exact = ev.groupBy("event_type", "item").agg(count(lit(1)).as("cnt"))
          .withColumn("n_total",
            sum("cnt").over(org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
        exact.join(broadcast(cand), "event_type")
          .where(array_contains(col("cands"), col("item")) && col("cnt") * 8 > col("n_total"))
          .select("event_type", "item", "cnt")
          .orderBy("event_type", "item")
      },
      Some("""WITH b AS (
                SELECT event_type, CAST(floor(sqrt(value)) AS BIGINT) AS item FROM events),
              tot AS (SELECT event_type, count(*) AS n FROM b GROUP BY event_type)
              SELECT b.event_type AS event_type, item, count(*) AS cnt
              FROM b JOIN tot ON b.event_type = tot.event_type
              GROUP BY b.event_type, item, tot.n
              HAVING count(*) * 8 > tot.n
              ORDER BY b.event_type, item""")),

    // Pivot (wide-format aggregation): explicit value list keeps the column
    // set static; pivot's empty cells are null → coalesce to 0 to match the
    // relational conditional-count oracle.
    Spec("agg_pivot",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val wide = t(s, d, "events")
          .groupBy("user_id").pivot("event_type", types).agg(count(lit(1)))
        wide.select(col("user_id") +: types.map(tp => coalesce(col(tp), lit(0L)).as(tp)): _*)
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
                count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
                count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
                count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                count(CASE WHEN event_type = 'view' THEN 1 END) AS view
              FROM events GROUP BY user_id ORDER BY user_id""")),

    // TPC-H Q6 shape (forecast revenue change): the canonical
    // scan-filter-aggregate — every predicate (date range, discount band,
    // quantity cap) is scan-pushable, so at 100 TB this is a pure
    // parquet-stat-pruned columnar scan feeding one partial+final
    // aggregate, no shuffle of data rows at all. Revenue is an exact
    // decimal sum (msum); the discount bounds are DOUBLE-cast on the
    // DuckDB side so both engines compare the same binary64 literals.
    Spec("agg_q6_forecast",
      (s, d) => {
        val lo = lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
        val hi = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
        t(s, d, "lineitem")
          .where(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24.0)
          .agg(msum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""SELECT ${msumSql("l_extendedprice * l_discount", 4)} AS revenue,
                 count(*) AS n_items
               FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                 AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                 AND l_discount >= CAST(0.05 AS DOUBLE)
                 AND l_discount <= CAST(0.07 AS DOUBLE)
                 AND l_quantity < 24.0""")),

    // Linear-regression aggregates (SQL-standard regr_* family): slope /
    // intercept / R² of price-vs-quantity per return flag — the one-pass
    // sufficient-statistics form (Σx, Σy, Σxy, Σx², n) that a 100 TB scan
    // computes as a single two-phase hash aggregate, no second pass over
    // the data. Both engines implement the same definitional ratios over
    // those co-moments; the ratios are irrational so they get the
    // agg_stats rounding treatment (slope magnitude ~10² → round 4 keeps
    // ≥1e-6 relative slack over the ~1e-9 accumulated float drift; R² ∈
    // [0,1] → round 6). regr_count is integer-exact, cast to BIGINT on
    // both sides (DuckDB types it DOUBLE).
    Spec("agg_regr",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).cast("long").as("n_pairs"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
                round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
                round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
                CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // listagg WITHIN GROUP (new in Spark 4) — the SQL-standard ordered
    // string aggregation, vs agg_collect_sorted's concat_ws(array_sort())
    // composition of the same result. The WITHIN GROUP order makes the
    // output deterministic without a post-sort; DuckDB spells the same
    // operation string_agg(x, sep ORDER BY x). Group sizes here are
    // dimension-bounded (nations per region), which is the only shape
    // where a string aggregate belongs at 100 TB — an unbounded listagg
    // over a fact table is a driver-sized string, not a query result.
    Spec("agg_listagg",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""SELECT n_regionkey,
                   listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names,
                   count(*) AS n_nations
                 FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")
      },
      Some("""SELECT n_regionkey,
                string_agg(n_name, ',' ORDER BY n_name) AS names,
                count(*) AS n_nations
              FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // EXACT mergeable distinct counting via bitmaps — the complement of
    // agg_hll_union: when the key domain is dense integers (user ids,
    // dictionary codes), a fixed-size bitmap replaces the HLL sketch and
    // the merged count is exact, not approximate. Same two-level 100 TB
    // shape: per-(type, day) bitmap partials built where the data lives,
    // OR-merged register-wise up the tree, no re-scan. The fixture's
    // user_id < 150 sits in one 32768-bit bucket; a general domain adds
    // bitmap_bucket_number to the partial grain — the merge algebra is
    // unchanged. bitmap_bit_position is 1-indexed ((v-1) mod 32768), so
    // the 0-based user_id is shifted +1 to keep id 0 in-bucket. The
    // oracle states the exactness invariant literally (count DISTINCT
    // plus a boolean both engines agree is true).
    Spec("agg_bitmap_distinct",
      (s, d) => {
        val e = t(s, d, "events")
        val daily = e
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(bitmap_construct_agg(bitmap_bit_position(col("user_id") + 1)).as("bm"))
          .groupBy("event_type")
          .agg(bitmap_count(bitmap_or_agg(col("bm"))).as("merged_n"))
        val direct = e.groupBy("event_type")
          .agg(
            bitmap_count(bitmap_construct_agg(bitmap_bit_position(col("user_id") + 1)))
              .as("direct_n"),
            countDistinct(col("user_id")).as("exact_users"))
        daily.join(direct, "event_type")
          .select(col("event_type"), col("exact_users"),
            (col("merged_n") === col("exact_users") &&
              col("direct_n") === col("exact_users")).as("bitmap_exact"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS exact_users,
                true AS bitmap_exact
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // grouping() / grouping_id() — the cube-introspection functions that
    // tell a report row WHICH aggregation level produced it (0 = grouped,
    // 1 = rolled up), so a consumer can filter subtotal grains without
    // string-matching coalesced placeholders. Resolved at analysis time to
    // the spread-out cube representation; physically the same single-pass
    // expand + two-phase hash aggregate as agg_cube. Spark types
    // grouping() TINYINT and grouping_id() BIGINT, DuckDB types both
    // BIGINT — both sides cast to BIGINT for the dtype-strict checker.
    Spec("agg_grouping_id",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
                   coalesce(l_linestatus, 'ALL') AS ls,
                   CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
                   CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
                   CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                   count(*) AS n
                 FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
                 ORDER BY gid, rf, ls""")
      },
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
                coalesce(l_linestatus, 'ALL') AS ls,
                CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
                CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
                CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                count(*) AS n
              FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              ORDER BY gid, rf, ls""")),

    // Bitwise aggregates — AND/OR/XOR folds over integer columns (flag
    // intersection/union masks, XOR parity checksums). Fully
    // commutative+associative, so they map-side combine like any sum;
    // exact integers end to end. XOR of the orderkey stream doubles as a
    // cheap content checksum (order-free, merge-friendly) — the same
    // trick replication validators use at 100 TB.
    Spec("agg_bit_ops",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("bit_and(l_linenumber)").cast("long").as("mask_and"),
          expr("bit_or(l_linenumber)").cast("long").as("mask_or"),
          expr("bit_xor(l_orderkey)").as("xor_checksum"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                CAST(bit_and(l_linenumber) AS BIGINT) AS mask_and,
                CAST(bit_or(l_linenumber) AS BIGINT) AS mask_or,
                CAST(bit_xor(l_orderkey) AS BIGINT) AS xor_checksum,
                count(*) AS n
              FROM lineitem GROUP BY l_returnflag
              ORDER BY l_returnflag""")),

    // DISTINCT aggregation arithmetic: sum/avg over the distinct value
    // set (de-duplicated revenue states, not row-weighted) — plans as
    // the two-level expand+aggregate Spark uses for mixed distinct and
    // plain aggs in one pass. Money discipline: the distinct quantities
    // are exact 2-decimal values, so the decimal-sum msum trick applies
    // unchanged after dedup.
    Spec("agg_sum_distinct",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(msum(col("l_quantity")).as("sum_all"),
          round(sumDistinct(col("l_quantity").cast(DecimalType(30, 2))), 2)
            .cast(DoubleType).as("sum_distinct"),
          countDistinct(col("l_quantity")).as("n_distinct"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
                 ${msumSql("l_quantity")} AS sum_all,
                 CAST(round(sum(DISTINCT CAST(l_quantity AS DECIMAL(30,2))), 2)
                   AS DOUBLE) AS sum_distinct,
                 count(DISTINCT l_quantity) AS n_distinct,
                 count(*) AS n
               FROM lineitem GROUP BY l_returnflag
               ORDER BY l_returnflag""")),

    // PRODUCT aggregation (neither engine's float product() is used):
    // per-order compound discount factor Π(1 + l_discount) as an EXACT
    // integer-rational — each factor is (100 + d)/100 with d = discount
    // in percent, so the numerator is a wide-integer product folded over
    // the collected factor list (integer multiplication is commutative
    // and exact, so collect order is irrelevant — no sort needed) and
    // the denominator is the matching 100^k fold. Orders reach 17 lines
    // (110^17 ≈ 5e34 overflows BIGINT — found by the ANSI overflow
    // error, not silent wraparound), so the accumulator is
    // DECIMAL(38,0) / HUGEINT; both engines convert the same exact
    // integers to double, and the single division is bit-identical.
    Spec("agg_compound_product",
      (s, d) => {
        val d100 = expr("cast(round(l_discount * 100) as bigint)")
        val one = lit(1L).cast(DecimalType(38, 0))
        t(s, d, "lineitem")
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_lines"), collect_list(d100).as("ds"))
          .withColumn("num",
            aggregate(col("ds"), one,
              (a, x) => a * (lit(100L) + x).cast(DecimalType(38, 0))))
          .withColumn("den",
            aggregate(col("ds"), one,
              (a, _) => a * lit(100L).cast(DecimalType(38, 0))))
          .select(col("l_orderkey"), col("n_lines"),
            round(col("num").cast("double") / col("den").cast("double"), 6)
              .as("compound"))
          .orderBy("l_orderkey")
      },
      Some("""WITH g AS (
                SELECT l_orderkey, count(*) AS n_lines,
                  list(CAST(round(l_discount * 100) AS BIGINT)) AS ds
                FROM lineitem GROUP BY l_orderkey)
              SELECT l_orderkey, n_lines,
                round(CAST(list_reduce(list_prepend(CAST(1 AS HUGEINT),
                    list_transform(ds, x -> CAST(100 + x AS HUGEINT))),
                    (a, b) -> a * b) AS DOUBLE)
                  / CAST(list_reduce(list_prepend(CAST(1 AS HUGEINT),
                    list_transform(ds, x -> CAST(100 AS HUGEINT))),
                    (a, b) -> a * b) AS DOUBLE), 6) AS compound
              FROM g
              ORDER BY l_orderkey"""))
  )
}
