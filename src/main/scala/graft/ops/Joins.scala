package graft.ops

import graft.{Spec, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 category C — the 11 join forms.
  *
  * Scale notes: dimension tables (region, nation, part, supplier, customer)
  * are broadcast (explicit `broadcast()` hint where the plan matters);
  * fact-fact joins (lineitem ⋈ orders) shuffle on the join key — at 100 TB
  * these become sort-merge joins whose skew AQE handles
  * (`spark.sql.adaptive.skewJoin`). The as-of join is expressed as a
  * conditional join + per-key window top-1, the shape that survives
  * arbitrary fact sizes because the window partitions by the left key.
  */
object Joins {
  import Tables._

  /** External bucketed-table fixture: `table` written ONCE per sf as an
    * 8-bucket, per-bucket-sorted parquet layout at a /tmp path (staging
    * dir + atomic rename — the same cross-JVM protocol as
    * Rel.partitionedEvents), then registered in the current session's
    * catalog as an EXTERNAL bucketed table so the reader plans around
    * the bucketing. The throwaway `_writer` registration exists because
    * `bucketBy` writes only through `saveAsTable`; dropping it keeps the
    * files (external path) while freeing the name. Later JVMs skip the
    * write and only re-register the DDL.
    */
  private def bucketedTable(s: SparkSession, d: String,
                            table: String, key: String): String = {
    val tag = Integer.toHexString(d.hashCode)
    val name = s"graft_bkt_${table}_$tag"
    if (!s.catalog.tableExists(name)) {
      val dest = new java.io.File(s"/tmp/graft_bkt_${table}_$tag")
      if (!new java.io.File(dest, "_SUCCESS").exists()) {
        val stage = java.nio.file.Files.createTempDirectory("graft_bkt_stage_").toFile
        val writer = s"${name}_writer"
        t(s, d, table).write.mode("overwrite")
          .bucketBy(8, key).sortBy(key)
          .option("path", stage.getPath).saveAsTable(writer)
        s.sql(s"DROP TABLE $writer")
        try java.nio.file.Files.move(stage.toPath, dest.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { // lost the race: a concurrent writer already populated dest
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.DirectoryNotEmptyException |
               _: java.nio.file.AccessDeniedException =>
            org.apache.commons.io.FileUtils.deleteQuietly(stage)
        }
      }
      s.sql(s"""CREATE TABLE $name (${t(s, d, table).schema.toDDL})
                USING PARQUET CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
                LOCATION '${dest.getPath}'""")
    }
    name
  }

  val all: Seq[Spec] = Seq(
    Spec("join_inner_broadcast",
      (s, d) => {
        val li = t(s, d, "lineitem"); val p = t(s, d, "part")
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .select(li("l_orderkey"), li("l_linenumber"), p("p_name"), p("p_brand"), li("l_quantity"))
          .orderBy("l_orderkey", "l_linenumber", "p_name", "p_brand", "l_quantity")
      },
      Some("""SELECT l_orderkey, l_linenumber, p_name, p_brand, l_quantity
              FROM lineitem JOIN part ON l_partkey = p_partkey
              ORDER BY l_orderkey, l_linenumber, p_name, p_brand, l_quantity""")),

    Spec("join_inner_shuffle",
      (s, d) => {
        val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
        li.hint("merge").join(o, li("l_orderkey") === o("o_orderkey"))
          .select(li("l_orderkey"), li("l_linenumber"),
            o("o_orderdate").cast("date").cast("string").as("o_date"),
            o("o_totalprice"), li("l_quantity"))
          .orderBy("l_orderkey", "l_linenumber", "l_quantity")
      },
      Some("""SELECT l_orderkey, l_linenumber,
                CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date,
                o_totalprice, l_quantity
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              ORDER BY l_orderkey, l_linenumber, l_quantity""")),

    Spec("join_left",
      (s, d) => {
        val c = t(s, d, "customer"); val o = t(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .select(c("c_custkey"), c("c_name"), o("o_orderkey"), o("o_totalprice"))
          .orderBy(asc("c_custkey"), asc_nulls_first("o_orderkey"))
      },
      Some("""SELECT c_custkey, c_name, o_orderkey, o_totalprice
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              ORDER BY c_custkey, o_orderkey NULLS FIRST""")),

    Spec("join_right",
      (s, d) => {
        val li = t(s, d, "lineitem"); val p = t(s, d, "part")
        li.join(p, li("l_partkey") === p("p_partkey"), "right")
          .select(p("p_partkey"), li("l_orderkey"), li("l_linenumber"), li("l_quantity"))
          .orderBy(asc("p_partkey"), asc_nulls_first("l_orderkey"),
            asc_nulls_first("l_linenumber"), asc_nulls_first("l_quantity"))
      },
      Some("""SELECT p_partkey, l_orderkey, l_linenumber, l_quantity
              FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
              ORDER BY p_partkey, l_orderkey NULLS FIRST,
                l_linenumber NULLS FIRST, l_quantity NULLS FIRST""")),

    Spec("join_full",
      (s, d) => {
        val su = t(s, d, "supplier"); val c = t(s, d, "customer")
        su.join(c, su("s_nationkey") === c("c_nationkey"), "full")
          .select(su("s_suppkey"), c("c_custkey"), su("s_nationkey"), c("c_nationkey"))
          .orderBy(asc_nulls_first("s_suppkey"), asc_nulls_first("c_custkey"))
      },
      Some("""SELECT s_suppkey, c_custkey, s_nationkey, c_nationkey
              FROM supplier FULL JOIN customer ON s_nationkey = c_nationkey
              ORDER BY s_suppkey NULLS FIRST, c_custkey NULLS FIRST""")),

    Spec("join_semi",
      (s, d) => {
        val c = t(s, d, "customer"); val o = t(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey", "c_name", "c_acctbal")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
              WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
              ORDER BY c_custkey""")),

    Spec("join_anti",
      (s, d) => {
        val c = t(s, d, "customer"); val o = t(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_acctbal")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
              WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
              ORDER BY c_custkey""")),

    Spec("join_cross",
      (s, d) => t(s, d, "region").crossJoin(t(s, d, "nation"))
        .select("r_regionkey", "r_name", "n_nationkey", "n_name")
        .orderBy("r_regionkey", "n_nationkey"),
      Some("""SELECT r_regionkey, r_name, n_nationkey, n_name
              FROM region CROSS JOIN nation
              ORDER BY r_regionkey, n_nationkey""")),

    // Equi key + range condition → broadcast hash join with residual filter.
    Spec("join_theta_range",
      (s, d) => {
        val li = t(s, d, "lineitem"); val p = t(s, d, "part")
        li.join(broadcast(p),
            li("l_partkey") === p("p_partkey") &&
            li("l_quantity").between(p("p_size") - 2, p("p_size") + 2))
          .select(p("p_partkey"), p("p_size"), li("l_orderkey"), li("l_linenumber"), li("l_quantity"))
          .orderBy("p_partkey", "l_orderkey", "l_linenumber", "l_quantity")
      },
      Some("""SELECT p_partkey, p_size, l_orderkey, l_linenumber, l_quantity
              FROM lineitem JOIN part
                ON l_partkey = p_partkey
               AND l_quantity BETWEEN p_size - 2 AND p_size + 2
              ORDER BY p_partkey, l_orderkey, l_linenumber, l_quantity""")),

    // Binned interval join: a PURE interval predicate (no equi key) plans
    // as BroadcastNestedLoopJoin — O(n·m), dead at 100 TB when the interval
    // table outgrows a broadcast. The scale shape: explode each interval
    // into the fixed-width bins it overlaps, join on bin EQUALITY (hash
    // shuffle join — AQE-planned), then post-filter the exact predicate.
    // Bin width trades interval replication against join selectivity;
    // one extra empty bin per power-of-two boundary is harmless (inner
    // join drops it).
    Spec("join_range_binned",
      (s, d) => {
        import s.implicits._
        val bands = Seq(
          (0, 0.0, 1.0), (1, 1.0, 2.0), (2, 2.0, 4.0), (3, 4.0, 8.0),
          (4, 8.0, 16.0), (5, 16.0, 32.0), (6, 32.0, 64.0),
          (7, 64.0, 128.0), (8, 128.0, 256.0), (9, 256.0, 512.0))
          .toDF("band_id", "lo", "hi")
        val w = lit(8.0)
        val bins = bands.withColumn("bin",
          explode(sequence((col("lo") / w).cast("long"), (col("hi") / w).cast("long"))))
        val ev = t(s, d, "events")
          .withColumn("bin", (col("value") / w).cast("long"))
        ev.join(bins, "bin")
          .where(col("value") >= col("lo") && col("value") < col("hi"))
          .groupBy("band_id")
          .agg(count(lit(1)).as("n_events"), msum(col("value")).as("total_value"))
          .orderBy("band_id")
      },
      Some(s"""WITH bands(band_id, lo, hi) AS (VALUES
                 (0, 0.0, 1.0), (1, 1.0, 2.0), (2, 2.0, 4.0), (3, 4.0, 8.0),
                 (4, 8.0, 16.0), (5, 16.0, 32.0), (6, 32.0, 64.0),
                 (7, 64.0, 128.0), (8, 128.0, 256.0), (9, 256.0, 512.0))
               SELECT band_id, count(*) AS n_events,
                 ${msumSql("value")} AS total_value
               FROM events JOIN bands ON value >= lo AND value < hi
               GROUP BY band_id ORDER BY band_id""")),

    // Same interval join written as the NATURAL theta join — no manual
    // binning. graft.plans.RangeBinJoinRule (Rule[LogicalPlan], the
    // injectOptimizerRule seam) detects the pure range predicate and
    // derives the binned equi-join automatically, so the plan is
    // NestedLoop-free (asserted in RangeBinJoinSpec) while the query text
    // stays declarative. Oracle identical to join_range_binned.
    Spec("join_range_auto",
      (s0, d) => {
        // binning is OPT-IN: the rule fires only for (child) sessions that
        // set an explicit bin width (~ median interval width of THESE bands)
        val s = s0.newSession()
        graft.plans.RangeBinJoin.ensureRegistered(s)
        s.conf.set("spark.graft.rangeBinJoin.binWidth", "8.0")
        import s.implicits._
        val bands = Seq(
          (0, 0.0, 1.0), (1, 1.0, 2.0), (2, 2.0, 4.0), (3, 4.0, 8.0),
          (4, 8.0, 16.0), (5, 16.0, 32.0), (6, 32.0, 64.0),
          (7, 64.0, 128.0), (8, 128.0, 256.0), (9, 256.0, 512.0))
          .toDF("band_id", "lo", "hi")
        t(s, d, "events")
          .join(bands, col("value") >= col("lo") && col("value") < col("hi"))
          .groupBy("band_id")
          .agg(count(lit(1)).as("n_events"), msum(col("value")).as("total_value"))
          .orderBy("band_id")
      },
      Some(s"""WITH bands(band_id, lo, hi) AS (VALUES
                 (0, 0.0, 1.0), (1, 1.0, 2.0), (2, 2.0, 4.0), (3, 4.0, 8.0),
                 (4, 8.0, 16.0), (5, 16.0, 32.0), (6, 32.0, 64.0),
                 (7, 64.0, 128.0), (8, 128.0, 256.0), (9, 256.0, 512.0))
               SELECT band_id, count(*) AS n_events,
                 ${msumSql("value")} AS total_value
               FROM events JOIN bands ON value >= lo AND value < hi
               GROUP BY band_id ORDER BY band_id""")),

    // INTERVAL-OVERLAP join — both sides are intervals (user-day activity
    // sessions × campaign windows), predicate `a.lo <= b.hi AND b.lo <=
    // a.hi`. Like the pure range join this is BroadcastNestedLoopJoin
    // territory; the scale shape generalizes the binning trick to TWO
    // exploded sides: each interval replicates into the fixed-width time
    // bins it covers, the join is bin EQUALITY (hash, AQE-planned), the
    // exact overlap predicate filters, and a distinct on the pair key
    // dedups multi-bin matches before the final aggregate. Bin width (6 h)
    // ~ the short side's span so replication stays O(1) per interval.
    Spec("join_interval_overlap",
      (s, d) => {
        import s.implicits._
        val sess = t(s, d, "events")
          .groupBy(col("user_id"),
            unix_date(to_date(col("ts"))).cast("long").as("day"))
          .agg(min(col("ts")).as("s_lo"), max(col("ts")).as("s_hi"))
        val camp = Seq(
          (0, "2024-01-03 12:00:00", "2024-01-05 00:00:00"),
          (1, "2024-01-08 00:00:00", "2024-01-09 00:00:00"),
          (2, "2024-01-12 06:00:00", "2024-01-12 18:00:00"),
          (3, "2024-01-15 00:00:00", "2024-01-18 00:00:00"),
          (4, "2024-01-20 20:00:00", "2024-01-21 04:00:00"),
          (5, "2024-01-28 00:00:00", "2024-01-30 00:00:00"))
          .toDF("camp_id", "lo_s", "hi_s")
          .select(col("camp_id"), to_timestamp(col("lo_s")).as("c_lo"),
            to_timestamp(col("hi_s")).as("c_hi"))
        val binUs = 6L * 3600L * 1000000L
        val sessB = sess.withColumn("bin", explode(sequence(
          expr(s"unix_micros(s_lo) div $binUs"),
          expr(s"unix_micros(s_hi) div $binUs"))))
        val campB = camp.withColumn("bin", explode(sequence(
          expr(s"unix_micros(c_lo) div $binUs"),
          expr(s"unix_micros(c_hi) div $binUs"))))
        sessB.join(campB, "bin")
          .where(col("s_lo") <= col("c_hi") && col("c_lo") <= col("s_hi"))
          .select("camp_id", "user_id", "day").distinct()
          .groupBy("camp_id")
          .agg(count(lit(1)).as("n_sessions"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("camp_id")
      },
      Some("""WITH sess AS (
                SELECT user_id,
                  CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
                  min(ts) AS s_lo, max(ts) AS s_hi
                FROM events GROUP BY 1, 2),
              camp(camp_id, c_lo, c_hi) AS (VALUES
                (0, TIMESTAMP '2024-01-03 12:00:00', TIMESTAMP '2024-01-05 00:00:00'),
                (1, TIMESTAMP '2024-01-08 00:00:00', TIMESTAMP '2024-01-09 00:00:00'),
                (2, TIMESTAMP '2024-01-12 06:00:00', TIMESTAMP '2024-01-12 18:00:00'),
                (3, TIMESTAMP '2024-01-15 00:00:00', TIMESTAMP '2024-01-18 00:00:00'),
                (4, TIMESTAMP '2024-01-20 20:00:00', TIMESTAMP '2024-01-21 04:00:00'),
                (5, TIMESTAMP '2024-01-28 00:00:00', TIMESTAMP '2024-01-30 00:00:00'))
              SELECT camp_id, count(*) AS n_sessions,
                count(DISTINCT user_id) AS n_users
              FROM sess JOIN camp ON s_lo <= c_hi AND c_lo <= s_hi
              GROUP BY camp_id ORDER BY camp_id""")),

    // As-of join: per event, the latest order of customer=user_id with
    // o_orderdate <= an event-derived date. No native as-of in Spark SQL;
    // the portable shape (identical on both engines, SURVEY.md §2 C) is a
    // conditional join + row_number() top-1 per left row.
    // NOTE floor() before the double→int cast: Spark truncates double→int,
    // DuckDB rounds — floor makes them agree.
    Spec("join_asof",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            expr("date_add(DATE '1995-01-01', CAST(floor(value * 20) AS INT))").as("ev_date"))
        val o = t(s, d, "orders")
        val j = ev.join(o,
            o("o_custkey") === ev("user_id") &&
            o("o_orderdate").cast("date") <= ev("ev_date"))
        val w = Window.partitionBy(ev("event_id"))
          .orderBy(o("o_orderdate").desc, o("o_orderkey").desc)
        j.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(ev("event_id"), ev("user_id"),
            ev("ev_date").cast("string").as("ev_date"),
            o("o_orderkey"), o("o_orderdate").cast("date").cast("string").as("o_date"))
          .orderBy("event_id")
      },
      Some("""WITH ev AS (
                SELECT event_id, user_id,
                       DATE '1995-01-01' + CAST(floor(value * 20) AS INT) AS ev_date
                FROM events),
              j AS (
                SELECT ev.event_id, ev.user_id, ev.ev_date, o.o_orderkey,
                       CAST(o.o_orderdate AS DATE) AS o_date,
                       row_number() OVER (PARTITION BY ev.event_id
                         ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
                FROM ev JOIN orders o
                  ON o.o_custkey = ev.user_id
                 AND CAST(o.o_orderdate AS DATE) <= ev.ev_date)
              SELECT event_id, user_id, CAST(ev_date AS VARCHAR) AS ev_date,
                o_orderkey, CAST(o_date AS VARCHAR) AS o_date
              FROM j WHERE rn = 1 ORDER BY event_id""")),

    // Same overlap semantics as join_interval_overlap written as the
    // NATURAL theta join — no manual binning, no manual pair-dedup.
    // graft.plans.OverlapBinJoinRule detects the two opposing bound
    // comparisons, explodes BOTH sides into width-w time bins, joins on
    // bin equality, and keeps each pair only at its canonical bin
    // (max of the two lower-bound bins) so no distinct is needed.
    // Session grain (user_id, day) is unique by construction, so the
    // plain post-join count equals the manual query's deduped session
    // count — same oracle. OverlapBinJoinSpec proves plan shape +
    // rule-off equivalence incl. degenerate/null intervals.
    Spec("join_overlap_auto",
      (s0, d) => {
        // opt-in width (child session) ~ the short side's span: 6 h in µs
        val s = s0.newSession()
        graft.plans.OverlapBinJoin.ensureRegistered(s)
        s.conf.set("spark.graft.overlapBinJoin.binWidth", "2.16e10")
        import s.implicits._
        val sess = t(s, d, "events")
          .groupBy(col("user_id"),
            unix_date(to_date(col("ts"))).cast("long").as("day"))
          .agg(unix_micros(min(col("ts"))).as("s_lo"),
            unix_micros(max(col("ts"))).as("s_hi"))
        val camp = Seq(
          (0, "2024-01-03 12:00:00", "2024-01-05 00:00:00"),
          (1, "2024-01-08 00:00:00", "2024-01-09 00:00:00"),
          (2, "2024-01-12 06:00:00", "2024-01-12 18:00:00"),
          (3, "2024-01-15 00:00:00", "2024-01-18 00:00:00"),
          (4, "2024-01-20 20:00:00", "2024-01-21 04:00:00"),
          (5, "2024-01-28 00:00:00", "2024-01-30 00:00:00"))
          .toDF("camp_id", "lo_s", "hi_s")
          .select(col("camp_id"),
            unix_micros(to_timestamp(col("lo_s"))).as("c_lo"),
            unix_micros(to_timestamp(col("hi_s"))).as("c_hi"))
        sess.join(camp,
            col("s_lo") <= col("c_hi") && col("c_lo") <= col("s_hi"))
          .groupBy("camp_id")
          .agg(count(lit(1)).as("n_sessions"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("camp_id")
      },
      Some("""WITH sess AS (
                SELECT user_id,
                  CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
                  min(ts) AS s_lo, max(ts) AS s_hi
                FROM events GROUP BY 1, 2),
              camp(camp_id, c_lo, c_hi) AS (VALUES
                (0, TIMESTAMP '2024-01-03 12:00:00', TIMESTAMP '2024-01-05 00:00:00'),
                (1, TIMESTAMP '2024-01-08 00:00:00', TIMESTAMP '2024-01-09 00:00:00'),
                (2, TIMESTAMP '2024-01-12 06:00:00', TIMESTAMP '2024-01-12 18:00:00'),
                (3, TIMESTAMP '2024-01-15 00:00:00', TIMESTAMP '2024-01-18 00:00:00'),
                (4, TIMESTAMP '2024-01-20 20:00:00', TIMESTAMP '2024-01-21 04:00:00'),
                (5, TIMESTAMP '2024-01-28 00:00:00', TIMESTAMP '2024-01-30 00:00:00'))
              SELECT camp_id, count(*) AS n_sessions,
                count(DISTINCT user_id) AS n_users
              FROM sess JOIN camp ON s_lo <= c_hi AND c_lo <= s_hi
              GROUP BY camp_id ORDER BY camp_id""")),

    // As-of with a TOLERANCE bound (pandas/polars `merge_asof(...,
    // tolerance=30d)`): the nearest earlier order counts only within 30
    // days — a stale match is worse than no match in feature engineering.
    // The bound also matters PHYSICALLY: it turns the unbounded
    // (left × right≤t) candidate explosion into a band join, so the same
    // binning trick as join_range_binned applies at 100 TB. Aggregated
    // output (match count, users, exact integer gap-day sum) keeps the
    // row set bounded.
    Spec("join_asof_tolerance",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            expr("date_add(DATE '1995-01-01', CAST(floor(value * 20) AS INT))").as("ev_date"))
        val o = t(s, d, "orders")
        val j = ev.join(o,
            o("o_custkey") === ev("user_id") &&
            o("o_orderdate").cast("date") <= ev("ev_date") &&
            o("o_orderdate").cast("date") >= date_sub(ev("ev_date"), 30))
        val w = Window.partitionBy(ev("event_id"))
          .orderBy(o("o_orderdate").desc, o("o_orderkey").desc)
        j.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .agg(count(lit(1)).as("n_matched"),
            countDistinct(ev("user_id")).as("n_users"),
            sum(datediff(ev("ev_date"), o("o_orderdate").cast("date")).cast("long"))
              .as("total_gap_days"))
      },
      Some("""WITH ev AS (
                SELECT event_id, user_id,
                       DATE '1995-01-01' + CAST(floor(value * 20) AS INT) AS ev_date
                FROM events),
              j AS (
                SELECT ev.event_id, ev.user_id, ev.ev_date,
                       CAST(o.o_orderdate AS DATE) AS o_date,
                       row_number() OVER (PARTITION BY ev.event_id
                         ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
                FROM ev JOIN orders o
                  ON o.o_custkey = ev.user_id
                 AND CAST(o.o_orderdate AS DATE) <= ev.ev_date
                 AND CAST(o.o_orderdate AS DATE) >= ev.ev_date - 30)
              SELECT count(*) AS n_matched, count(DISTINCT user_id) AS n_users,
                CAST(sum(ev_date - o_date) AS BIGINT) AS total_gap_days
              FROM j WHERE rn = 1""")),

    // NEAREST-direction as-of (pandas merge_asof direction='nearest'):
    // match each event to the same user's order with the SMALLEST
    // |date gap| within ±30 days, looking both backward and forward —
    // the right semantics when the reference series may lag OR lead
    // (sensor clocks, settlement vs trade dates). Tie rule is explicit:
    // equal absolute gap prefers the earlier order date (backward wins,
    // pandas' convention), then highest o_orderkey — determinism is the
    // tie RULE, not luck. Scale shape: identical to join_asof_tolerance —
    // the ±30-day band bounds the candidate explosion, one shuffle on the
    // user key, per-event window min; the unbounded variant would ride
    // the native merge exec like join_asof_native.
    Spec("join_asof_nearest",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            expr("date_add(DATE '1995-01-01', CAST(floor(value * 20) AS INT))").as("ev_date"))
        val o = t(s, d, "orders")
        val gap = datediff(ev("ev_date"), o("o_orderdate").cast("date"))
        val j = ev.join(o,
            o("o_custkey") === ev("user_id") && abs(gap) <= 30)
        val w = Window.partitionBy(ev("event_id"))
          .orderBy(abs(gap).asc, o("o_orderdate").asc, o("o_orderkey").desc)
        j.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .agg(count(lit(1)).as("n_matched"),
            countDistinct(ev("user_id")).as("n_users"),
            sum(abs(gap).cast("long")).as("total_abs_gap_days"),
            sum(when(gap >= 0, 1L).otherwise(0L)).as("n_backward"))
      },
      Some("""WITH ev AS (
                SELECT event_id, user_id,
                       DATE '1995-01-01' + CAST(floor(value * 20) AS INT) AS ev_date
                FROM events),
              j AS (
                SELECT ev.event_id, ev.user_id,
                       ev.ev_date - CAST(o.o_orderdate AS DATE) AS gap,
                       row_number() OVER (PARTITION BY ev.event_id
                         ORDER BY abs(ev.ev_date - CAST(o.o_orderdate AS DATE)),
                                  o.o_orderdate, o.o_orderkey DESC) AS rn
                FROM ev JOIN orders o
                  ON o.o_custkey = ev.user_id
                 AND abs(ev.ev_date - CAST(o.o_orderdate AS DATE)) <= 30)
              SELECT count(*) AS n_matched, count(DISTINCT user_id) AS n_users,
                CAST(sum(abs(gap)) AS BIGINT) AS total_abs_gap_days,
                CAST(sum(CASE WHEN gap >= 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_backward
              FROM j WHERE rn = 1""")),

    // Same as-of semantics through the native whole-operator path
    // (graft.plans: broadcast-index or single-pass merge exec — no
    // (left × right≤t) row explosion, no window pass). The operator ranks
    // by the DATE-cast right time it is handed (+ o_orderkey tie-break),
    // so the oracle ranks by the same date — NOT the raw timestamp —
    // keeping the two aligned even if order timestamps ever carry a
    // time-of-day component. AsOfNativeSpec proves plan + result parity.
    Spec("join_asof_native",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            expr("date_add(DATE '1995-01-01', CAST(floor(value * 20) AS INT))").as("ev_date"))
        val o = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate").cast("date").as("o_date"))
        graft.plans.Asof.join(
            ev, leftKey = "user_id", leftTime = "ev_date",
            o, rightKey = "o_custkey", rightTime = "o_date",
            rightTieBreak = Seq("o_orderkey"))
          .select(col("event_id"), col("user_id"),
            col("ev_date").cast("string").as("ev_date"),
            col("o_orderkey"), col("o_date").cast("string").as("o_date"))
          .orderBy("event_id")
      },
      Some("""WITH ev AS (
                SELECT event_id, user_id,
                       DATE '1995-01-01' + CAST(floor(value * 20) AS INT) AS ev_date
                FROM events),
              j AS (
                SELECT ev.event_id, ev.user_id, ev.ev_date, o.o_orderkey,
                       CAST(o.o_orderdate AS DATE) AS o_date,
                       row_number() OVER (PARTITION BY ev.event_id
                         ORDER BY CAST(o.o_orderdate AS DATE) DESC, o.o_orderkey DESC) AS rn
                FROM ev JOIN orders o
                  ON o.o_custkey = ev.user_id
                 AND CAST(o.o_orderdate AS DATE) <= ev.ev_date)
              SELECT event_id, user_id, CAST(ev_date AS VARCHAR) AS ev_date,
                o_orderkey, CAST(o_date AS VARCHAR) AS o_date
              FROM j WHERE rn = 1 ORDER BY event_id""")),

    // TPC-H Q5 shape adapted to available columns: revenue by region/nation.
    Spec("join_multiway_star",
      (s, d) => {
        val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
        val c = t(s, d, "customer"); val n = t(s, d, "nation"); val r = t(s, d, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(r("r_name"), n("n_name"))
          .agg(
            msum(li("l_extendedprice") * (lit(1.0) - li("l_discount")), 4).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""SELECT r_name, n_name,
                 ${msumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
                 count(*) AS n_items
               FROM lineitem
                 JOIN orders   ON l_orderkey = o_orderkey
                 JOIN customer ON o_custkey = c_custkey
                 JOIN nation   ON c_nationkey = n_nationkey
                 JOIN region   ON n_regionkey = r_regionkey
               GROUP BY r_name, n_name
               ORDER BY r_name, n_name""")),

    // Co-located fact-fact join via bucketed tables: both sides bucketed
    // on the join key into the same bucket count at WRITE time, so the
    // sort-merge join reads matching buckets directly — zero Exchange on
    // either join key (asserted in SinksAndBucketingSpec; the only
    // shuffle left is the downstream aggregate's). At 100 TB, bucketing
    // the two biggest facts on their join key converts every subsequent
    // join between them into a local merge — the single biggest shuffle
    // eliminator available to a lakehouse layout. hint("merge") keeps
    // the demonstration honest at small sf where orders would broadcast.
    Spec("join_bucketed_colocated",
      (s, d) => {
        val li = s.table(bucketedTable(s, d, "lineitem", "l_orderkey"))
        val o = s.table(bucketedTable(s, d, "orders", "o_orderkey"))
        li.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), msum(col("l_extendedprice")).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n,
                 ${msumSql("l_extendedprice")} AS sum_price
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Deliberately skewed fact→dim join: half of lineitem is funneled
    // onto supplier key 1 (CASE on l_orderkey parity) — the hot-key shape
    // that melts one reducer at 100 TB. Two complementary mitigations in
    // this repo: AQE's OptimizeSkewedJoin splits the hot partition at
    // RUNTIME with no query change (asserted firing on exactly this
    // query in SkewJoinSpec, with thresholds scaled to local data), and
    // manual salting (agg_skew_salted / SaltingSpec) for engines or
    // stages AQE can't reach. At bench scale the 100-row supplier dim
    // broadcasts, so the declared query never shuffles the skew at all —
    // which is itself the first-choice fix.
    Spec("join_skew_aqe",
      (s, d) => {
        val li = t(s, d, "lineitem").withColumn("sk",
          when(col("l_orderkey") % 2 === 0, lit(1L)).otherwise(col("l_suppkey")))
        li.join(t(s, d, "supplier"), col("sk") === col("s_suppkey"))
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n"), msum(col("l_extendedprice")).as("sum_price"))
          .orderBy("s_nationkey")
      },
      Some(s"""SELECT s_nationkey, count(*) AS n,
                 ${msumSql("l_extendedprice")} AS sum_price
               FROM lineitem l JOIN supplier s
                 ON s.s_suppkey = (CASE WHEN l.l_orderkey % 2 = 0
                                        THEN 1 ELSE l.l_suppkey END)
               GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // Runtime bloom-filter join pruning (InjectRuntimeFilter): when the
    // dim is too big to broadcast, Spark can still pre-filter the FACT
    // SCAN with a bloom filter built from the dim's join keys at
    // runtime — at 100 TB this skips the shuffle write for every fact
    // row whose key the filtered dim doesn't contain, the shuffle-join
    // analogue of DPP. Local data is far below the 10 GiB application-
    // side default, so the query runs in a child session (isolated
    // conf, shared SparkContext) with the scan threshold lowered and
    // broadcast disabled to force the shuffle-join shape; the bloom
    // filter is extra plan structure only — results are unchanged
    // (asserted green here, bloom presence asserted in BloomJoinSpec).
    Spec("join_bloom_runtime",
      (s0, d) => {
        val s = s0.newSession()
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        s.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        val p = t(s, d, "part").where(col("p_size") <= 5)
        t(s, d, "lineitem")
          .join(p, col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"), msum(col("l_extendedprice")).as("sum_price"))
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand, count(*) AS n,
                 ${msumSql("l_extendedprice")} AS sum_price
               FROM lineitem JOIN part ON l_partkey = p_partkey
               WHERE p_size <= 5
               GROUP BY p_brand ORDER BY p_brand""")),

    // Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    // match each other instead of vanishing — the semantics a
    // dirty-dimension join needs when "unknown" is itself a join class.
    // CRITICALLY still an EQUI join to Catalyst: ExtractEquiJoinKeys
    // accepts EqualNullSafe, so this hash-partitions on the key like any
    // inner join (nulls co-locate in one partition) — never the
    // NestedLoop a `a.k = b.k OR (a.k IS NULL AND b.k IS NULL)` rewrite
    // would produce. The fixture has no NULLs, so the query derives them
    // (nullif on one region) — 25 NULL-key pairs prove the match.
    Spec("join_null_safe",
      (s, d) => {
        val key = when(col("n_regionkey") === 2, lit(null))
          .otherwise(col("n_regionkey"))
        val a = t(s, d, "nation").select(col("n_nationkey").as("nk_a"), key.as("ka"))
        val b = t(s, d, "nation").select(col("n_nationkey").as("nk_b"), key.as("kb"))
        a.join(b, col("ka") <=> col("kb"))
          .groupBy(coalesce(col("ka").cast("string"), lit("NULL")).as("key_str"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("key_str")
      },
      Some("""WITH a AS (SELECT n_nationkey AS nk_a, nullif(n_regionkey, 2) AS ka
                         FROM nation),
                   b AS (SELECT n_nationkey AS nk_b, nullif(n_regionkey, 2) AS kb
                         FROM nation)
              SELECT coalesce(CAST(ka AS VARCHAR), 'NULL') AS key_str,
                count(*) AS n_pairs
              FROM a JOIN b ON a.ka IS NOT DISTINCT FROM b.kb
              GROUP BY 1 ORDER BY key_str"""))
  )
}
