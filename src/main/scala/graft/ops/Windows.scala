package graft.ops

import graft.{Spec, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 categories E (window functions) and F (sort / limit / top-k).
  *
  * Determinism: every window ORDER BY is made total with a key tie-break, so
  * row_number/ntile/lag assignments are unambiguous. Running double sums go
  * through a decimal cast (exact, order-free) because engines may fold
  * window frames in different orders (DuckDB uses segment trees).
  *
  * Scale notes: windows partition by a key → each partition is processed on
  * one executor after a hash shuffle; no global sort except the final
  * presentation ORDER BY. `topk_global` compiles to
  * TakeOrderedAndProjectExec — per-partition heaps + driver merge of k
  * rows, never a full sort at 100 TB.
  */
object Windows {
  import Tables._

  private def ordersByCustDate(s: SparkSession, d: String) = {
    val o = t(s, d, "orders")
    (o, Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey")))
  }

  val all: Seq[Spec] = Seq(
    Spec("win_row_number",
      (s, d) => {
        val (o, w) = ordersByCustDate(s, d)
        o.select(col("o_custkey"), col("o_orderkey"), row_number().over(w).as("rn"))
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey,
                row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
              FROM orders ORDER BY o_custkey, rn""")),

    Spec("win_rank_dense",
      (s, d) => {
        val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice").desc)
        t(s, d, "part")
          .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
            rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"))
          .orderBy("p_brand", "rnk", "p_partkey")
      },
      Some("""SELECT p_brand, p_partkey, p_retailprice,
                rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk,
                dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS drnk
              FROM part ORDER BY p_brand, rnk, p_partkey""")),

    // ntile needs a TOTAL window ordering or bucket assignment is ambiguous.
    Spec("win_ntile",
      (s, d) => {
        val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"), col("c_custkey"))
        t(s, d, "customer")
          .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
            ntile(4).over(w).as("quartile"))
          .orderBy("c_mktsegment", "c_custkey")
      },
      Some("""SELECT c_mktsegment, c_custkey, c_acctbal,
                ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile
              FROM customer ORDER BY c_mktsegment, c_custkey""")),

    Spec("win_lag_lead",
      (s, d) => {
        val (o, w) = ordersByCustDate(s, d)
        o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            lag(col("o_totalprice"), 1).over(w).as("prev_total"),
            lead(col("o_totalprice"), 1).over(w).as("next_total"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
                lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_total,
                lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_total
              FROM orders ORDER BY o_custkey, o_orderkey""")),

    // Decimal-cast inside the window sum: engines fold frames in different
    // orders (segment trees vs running state) — decimal is exact either way.
    Spec("win_running_sum",
      (s, d) => {
        val (o, w) = ordersByCustDate(s, d)
        o.select(col("o_custkey"), col("o_orderkey"),
            sum(col("o_totalprice").cast(DecimalType(30, 2)))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast(DoubleType).as("running_total"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
                CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
              FROM orders ORDER BY o_custkey, o_orderkey""")),

    // Value-based (RANGE) frame — identical SQL text on both engines.
    Spec("win_range_frame",
      (s, d) => {
        registerAll(s, d)
        s.sql("""SELECT c_mktsegment, c_custkey, c_acctbal,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) OVER (
                     PARTITION BY c_mktsegment ORDER BY c_acctbal
                     RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_sum
                 FROM customer ORDER BY c_mktsegment, c_custkey""")
      },
      Some("""SELECT c_mktsegment, c_custkey, c_acctbal,
                CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) OVER (
                  PARTITION BY c_mktsegment ORDER BY c_acctbal
                  RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_sum
              FROM customer ORDER BY c_mktsegment, c_custkey""")),

    // TIME-based range frame: per-user trailing-1-hour event count + spend
    // — the ops-dashboard staple ("activity in the last hour, per event").
    // Ordering is exact integer microseconds so the range bound is integer
    // arithmetic on both engines; spend sums exact integer cents
    // (round(value·100) — 2-decimal fixture values). RANGE frames include
    // ALL peers of the boundary timestamps, so equal-ts rows contribute
    // identically regardless of their shuffle order — deterministic
    // without a unique tiebreak. One user_id shuffle, O(n) running frame
    // per partition. (DuckDB's windowed integer sum widens to HUGEINT,
    // hence the BIGINT cast.)
    Spec("win_range_interval",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("tus"))
          .rangeBetween(-3600000000L, 0)
        events(s, d)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("tus"),
            round(col("value") * 100).cast("long").as("cents"))
          .withColumn("n_1h", count(lit(1)).over(w))
          .withColumn("cents_1h", sum(col("cents")).over(w))
          .select("event_id", "user_id", "n_1h", "cents_1h")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
                count(*) OVER w AS n_1h,
                CAST(sum(CAST(round("value" * 100) AS BIGINT)) OVER w
                  AS BIGINT) AS cents_1h
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
              ORDER BY event_id""")),

    Spec("win_first_last",
      (s, d) => {
        val (o, wBase) = ordersByCustDate(s, d)
        val wAll = wBase.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        o.select(col("o_custkey"), col("o_orderkey"),
            first_value(col("o_orderdate").cast("date").cast("string")).over(wAll).as("first_date"),
            last_value(col("o_orderdate").cast("date").cast("string")).over(wAll).as("last_date"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
                first_value(CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_date,
                last_value(CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_date
              FROM orders ORDER BY o_custkey, o_orderkey""")),

    // nth_value over the full partition frame (the n-th order per customer
    // by date, visible on every row) — deterministic: the window order
    // carries the o_orderkey tie-break; NULL where the partition is short.
    Spec("win_nth_value",
      (s, d) => {
        val (o, wBase) = ordersByCustDate(s, d)
        val wAll = wBase.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        o.select(col("o_custkey"), col("o_orderkey"),
            nth_value(col("o_orderkey"), 2).over(wAll).as("second_order"),
            nth_value(col("o_orderkey"), 4).over(wAll).as("fourth_order"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
                nth_value(o_orderkey, 2) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_order,
                nth_value(o_orderkey, 4) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fourth_order
              FROM orders ORDER BY o_custkey, o_orderkey""")),

    // percent_rank = (rank-1)/(n-1), cume_dist = peers/n: one IEEE division
    // on identical integers → bit-identical, no rounding needed.
    Spec("win_percentiles",
      (s, d) => {
        val w = Window.orderBy(col("s_acctbal"), col("s_suppkey"))
        t(s, d, "supplier")
          .select(col("s_suppkey"), col("s_acctbal"),
            percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, s_acctbal,
                percent_rank() OVER (ORDER BY s_acctbal, s_suppkey) AS pr,
                cume_dist() OVER (ORDER BY s_acctbal, s_suppkey) AS cd
              FROM supplier ORDER BY s_suppkey""")),

    // Batch sessionization (gaps-and-islands): lag-detected session breaks
    // + running sum as session ids — the BATCH twin of stream_session
    // (same 5-min gap, same session-end = last + gap convention, same
    // oracle shape). One shuffle on user_id; sessions never straddle the
    // key partition, so this scales with user cardinality like any window.
    Spec("win_sessionize",
      (s, d) => {
        val gapUs = 300000000L // 5 minutes
        val e = events(s, d).select(col("user_id"), unix_micros(col("ts")).as("tus"))
        val w = Window.partitionBy("user_id").orderBy("tus")
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.withColumn("brk",
            when(lag("tus", 1).over(w).isNull ||
              col("tus") - lag("tus", 1).over(w) >= gapUs, 1).otherwise(0))
          .withColumn("grp", sum("brk").over(run))
          .groupBy("user_id", "grp")
          .agg(min("tus").as("ss_us"), (max("tus") + gapUs).as("se_us"),
            count(lit(1)).as("n"))
          .select("user_id", "ss_us", "se_us", "n")
          .orderBy("user_id", "ss_us")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
              dif AS (
                SELECT user_id, tus,
                  CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
                         OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus) >= 300000000
                       THEN 1 ELSE 0 END AS brk
                FROM e),
              g AS (
                SELECT user_id, tus,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY tus
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
                FROM dif)
              SELECT user_id, min(tus) AS ss_us, max(tus) + 300000000 AS se_us,
                count(*) AS n
              FROM g GROUP BY user_id, grp ORDER BY user_id, ss_us""")),

    // Scalable GLOBAL rank/percent_rank over a fact table — the bucketed
    // rewrite for the one window shape that cannot partition by a key
    // (win_percentiles' unpartitioned window is fine on a dim table but
    // single-executor on a fact). ScalableCumulate.globalRank buckets by
    // the price's log-octave, collects one count per bucket (bounded —
    // the same class as the centroid-model collect), and adds the
    // driver-prefixed counts to per-bucket parallel windows. Equal values
    // share a bucket, so ties never straddle buckets and bucket-local
    // rank + offset = global rank.
    Spec("win_rank_scalable",
      (s, d) => {
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        val (rk, n) = ScalableCumulate.globalRank(li, col("l_extendedprice"),
          ascending = true, Seq(col("l_extendedprice")), "rnk")
        rk.withColumn("pct", (col("rnk") - 1).cast("double") / lit((n - 1).toDouble))
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "rnk", "pct")
          .orderBy("l_orderkey", "l_linenumber", "l_extendedprice", "rnk", "pct")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice,
                rank() OVER (ORDER BY l_extendedprice) AS rnk,
                CAST(rank() OVER (ORDER BY l_extendedprice) - 1 AS DOUBLE)
                  / (count(*) OVER () - 1) AS pct
              FROM lineitem
              ORDER BY l_orderkey, l_linenumber, l_extendedprice, rnk, pct""")),

    Spec("win_topk_per_group",
      (s, d) => {
        val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice").desc, col("p_partkey"))
        t(s, d, "part")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
          .select("p_brand", "rn", "p_partkey", "p_retailprice")
          .orderBy("p_brand", "rn")
      },
      Some("""SELECT p_brand, rn, p_partkey, p_retailprice FROM (
                SELECT p_brand, p_partkey, p_retailprice,
                  row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
                FROM part) WHERE rn <= 3
              ORDER BY p_brand, rn""")),

    // ------------------------------------------------ F. sort / limit / topk
    Spec("sort_multi",
      (s, d) => t(s, d, "orders")
        .withColumn("st", expr("nullif(o_orderstatus, 'P')"))
        .select("o_orderkey", "st", "o_totalprice")
        .orderBy(asc_nulls_first("st"), desc("o_totalprice"), asc("o_orderkey")),
      Some("""SELECT o_orderkey, nullif(o_orderstatus, 'P') AS st, o_totalprice
              FROM orders
              ORDER BY st NULLS FIRST, o_totalprice DESC, o_orderkey""")),

    // orderBy+limit → TakeOrderedAndProjectExec (no global sort at scale).
    Spec("topk_global",
      (s, d) => t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"), asc("l_linenumber"), asc("l_quantity"))
        .limit(20),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
                l_extendedprice * (1.0 - l_discount) AS revenue
              FROM lineitem
              ORDER BY revenue DESC, l_orderkey, l_linenumber, l_quantity
              LIMIT 20""")),

    // Keyset-free pagination: ORDER BY + OFFSET/LIMIT (page 3 of 20).
    // Spark plans offset+limit into one CollectLimit over the sorted
    // stream — the skip happens after the top-(offset+limit) heap merge,
    // so the cluster never materializes the full sort; still, OFFSET
    // depth is O(offset+limit) work, which is why deep pagination at
    // 100 TB should switch to keyset (WHERE sortkey < last_seen) — this
    // query pins the shallow-page fast path.
    Spec("sort_limit_offset",
      (s, d) => t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .offset(40).limit(20),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey
              LIMIT 20 OFFSET 40""")),

    // Gap fill by last-observation-carried-forward (IGNORE NULLS): the
    // sparse-to-dense series repair every sensor/price/feature pipeline
    // runs — only 'purchase' rows carry a value, every other event
    // inherits the user's most recent one. `last(..., ignoreNulls)` over
    // a running row frame is a single window pass after one user-keyed
    // shuffle; NULL stays NULL until the first observation (no seed
    // fabrication). The carried value is copied, not recomputed, so
    // cross-engine equality is exact with no rounding. (ts, event_id) is
    // a unique ordering key — determinism by construction.
    Spec("win_gap_fill_locf",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            last(when(col("event_type") === "purchase", col("value")),
              ignoreNulls = true).over(w).as("locf_value"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id, event_type,
                last_value(CASE WHEN event_type = 'purchase' THEN "value" END
                  IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS locf_value
              FROM events ORDER BY user_id, event_id""")),

    // Conditional-reset running counter: events since the user's most
    // recent purchase (0 AT the purchase row; rows before the first
    // purchase count from stream start). The reset is the islands trick
    // re-keyed on the resetting EVENT rather than a time gap: a running
    // purchase count partitions each user's stream into purchase-bounded
    // islands, and row_number within the island minus one is the
    // counter. Two window passes over one user-keyed shuffle, O(1) state
    // per row — the form that survives unbounded streams, unlike a
    // per-row lookback scan.
    Spec("win_since_last_purchase",
      (s, d) => {
        val wRun = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wIsl = Window.partitionBy("user_id", "sp").orderBy("ts", "event_id")
        events(s, d)
          .withColumn("sp",
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(wRun))
          .withColumn("n_since", row_number().over(wIsl).cast("long") - 1L)
          .select("user_id", "event_id", "event_type", "n_since")
          .orderBy("user_id", "event_id")
      },
      Some("""WITH r AS (
                SELECT user_id, event_id, event_type, ts,
                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp
                FROM events)
              SELECT user_id, event_id, event_type,
                CAST(row_number() OVER (PARTITION BY user_id, sp
                  ORDER BY ts, event_id) - 1 AS BIGINT) AS n_since
              FROM r ORDER BY user_id, event_id"""))
  )
}
