package graft.ops

import graft.{Spec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event/product-analytics operators, continued (split from
  * Analytics.scala along its section seams — round 10): sweep-line
  * concurrency, ratio/bounce/stickiness session metrics, path and
  * streak analyses, and the Spark-4 SQL surface batch that grew around
  * them. Same Spec/Tables scaffolding and oracle discipline as the
  * parent file.
  */
object Analytics4 {
  import Tables._

  val all: Seq[Spec] = Seq(
    // Peak concurrency per day — the SWEEP-LINE algorithm as a query:
    // each user-day session becomes a +1 open / −1 close point, a
    // running integer sum over the (time, delta) order is the live
    // concurrency, and the per-day max is the capacity-planning number.
    // Close sorts before open at an equal microsecond (delta ASC) so the
    // tie rule is explicit and identical on both engines; all arithmetic
    // is exact integers. Scale: the window is per-day (bounded
    // partitions), points are 2× sessions — linear.
    Spec("evt_concurrency",
      (s, d) => {
        val sess = t(s, d, "events")
          .groupBy(col("user_id"),
            unix_date(to_date(col("ts"))).cast("long").as("day"))
          .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
        val pts = sess.select(col("day"), unix_micros(col("lo")).as("t"),
            lit(1L).as("delta"))
          .unionByName(sess.select(col("day"),
            (unix_micros(col("hi")) + 1L).as("t"), lit(-1L).as("delta")))
        val w = Window.partitionBy("day").orderBy("t", "delta")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pts.withColumn("conc", sum("delta").over(w))
          .groupBy("day").agg(max("conc").as("peak_concurrency"))
          .orderBy("day")
      },
      Some("""WITH sess AS (
                SELECT user_id,
                  CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
                  min(ts) AS lo, max(ts) AS hi
                FROM events GROUP BY 1, 2),
              pts AS (
                SELECT day, epoch_us(lo) AS t, CAST(1 AS BIGINT) AS delta FROM sess
                UNION ALL
                SELECT day, epoch_us(hi) + 1 AS t, CAST(-1 AS BIGINT) FROM sess),
              run AS (
                SELECT day, t,
                  CAST(sum(delta) OVER (PARTITION BY day ORDER BY t, delta
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS conc
                FROM pts)
              SELECT day, CAST(max(conc) AS BIGINT) AS peak_concurrency
              FROM run GROUP BY day ORDER BY day""")),

    // Share-of-total report — each (flag, status) revenue as a fraction
    // of the grand total. BOTH aggregation levels stay exact decimal
    // (the group sum AND the windowed grand total — a double grand total
    // would re-introduce association-order drift across 6 merge orders);
    // the only IEEE ops are the two final casts and one division.
    Spec("win_ratio_to_report",
      (s, d) => {
        val g = t(s, d, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("l_extendedprice").cast("decimal(30,2)")).as("rev_dec"))
        g.select(col("l_returnflag"), col("l_linestatus"),
            round(col("rev_dec"), 2).cast("double").as("rev"),
            round(col("rev_dec").cast("double") /
              sum(col("rev_dec")).over(Window.partitionBy()).cast("double"), 6)
              .as("share"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""WITH g AS (
                SELECT l_returnflag, l_linestatus,
                  sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS rev_dec
                FROM lineitem GROUP BY 1, 2)
              SELECT l_returnflag, l_linestatus,
                CAST(round(rev_dec, 2) AS DOUBLE) AS rev,
                round(CAST(rev_dec AS DOUBLE) /
                      CAST(sum(rev_dec) OVER () AS DOUBLE), 6) AS share
              FROM g ORDER BY l_returnflag, l_linestatus""")),

    // Bounce rate per day — single-event user-days over total user-days,
    // the engagement-quality counterpart of the stickiness row. One hash
    // aggregate to session grain, one to day grain, a single division.
    Spec("evt_bounce_rate",
      (s, d) => {
        val sess = t(s, d, "events")
          .groupBy(col("user_id"),
            unix_date(to_date(col("ts"))).cast("long").as("day"))
          .agg(count(lit(1)).as("n_ev"))
        sess.groupBy("day")
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("n_ev") === 1, 1L).otherwise(0L)).as("n_bounce"),
            round(sum(when(col("n_ev") === 1, 1L).otherwise(0L)).cast("double") /
              count(lit(1)), 6).as("bounce_rate"))
          .orderBy("day")
      },
      Some("""WITH sess AS (
                SELECT user_id,
                  CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
                  count(*) AS n_ev
                FROM events GROUP BY 1, 2)
              SELECT day, count(*) AS n_sessions,
                CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_bounce,
                round(CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) AS bounce_rate
              FROM sess GROUP BY day ORDER BY day""")),

    // Day-over-day percentage change per event type — the dashboard
    // companion of the slope row: integer daily counts, one lag, ONE
    // division (first row NULL on both engines). O(1) window state.
    Spec("win_pct_change",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            unix_date(to_date(col("ts"))).cast("long").as("day"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type").orderBy("day")
        daily
          .select(col("event_type"), col("day"), col("n"),
            round((col("n").cast("double") -
              lag("n", 1).over(w).cast("double")) /
              lag("n", 1).over(w).cast("double"), 6).as("pct_change"))
          .orderBy("event_type", "day")
      },
      Some("""WITH daily AS (
                SELECT event_type,
                  CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
                  count(*) AS n
                FROM events GROUP BY 1, 2)
              SELECT event_type, day, n,
                round((CAST(n AS DOUBLE) - CAST(lag(n) OVER w AS DOUBLE)) /
                      CAST(lag(n) OVER w AS DOUBLE), 6) AS pct_change
              FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
              ORDER BY event_type, day""")),

    // DAU / trailing-7-day-WAU stickiness ratio — the engagement KPI.
    // WAU-per-day reuses evt_wau_rolling's covering-window explode (a
    // user active on day d is "covered" for days d..d+6), which is the
    // scalable distinct-over-range shape: no per-day re-scan, one
    // explode + two hash aggregates, distinct at (user, day) grain first
    // so the explode is bounded by active-user-days × 7.
    Spec("evt_stickiness",
      (s, d) => {
        val ud = t(s, d, "events")
          .select(col("user_id"),
            unix_date(to_date(col("ts"))).cast("long").as("day"))
          .distinct()
        val dau = ud.groupBy("day").agg(count(lit(1)).as("n_dau"))
        val wau = ud
          .select(col("user_id"),
            explode(sequence(col("day"), col("day") + lit(6L))).as("wday"))
          .groupBy(col("wday").as("day"))
          .agg(countDistinct(col("user_id")).as("n_wau"))
        dau.join(wau, "day")
          .select(col("day"), col("n_dau"), col("n_wau"),
            round(col("n_dau").cast("double") / col("n_wau").cast("double"), 6)
              .as("stickiness"))
          .orderBy("day")
      },
      Some("""WITH ud AS (
                SELECT DISTINCT user_id,
                  CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
                FROM events),
              dau AS (SELECT day, count(*) AS n_dau FROM ud GROUP BY day),
              cover AS (
                SELECT user_id, unnest(generate_series(day, day + 6)) AS wday
                FROM ud),
              wau AS (
                SELECT wday AS day, count(DISTINCT user_id) AS n_wau
                FROM cover GROUP BY wday)
              SELECT d.day, d.n_dau, w.n_wau,
                round(CAST(d.n_dau AS DOUBLE) / CAST(w.n_wau AS DOUBLE), 6)
                  AS stickiness
              FROM dau d JOIN wau w ON d.day = w.day
              ORDER BY d.day""")),

    // Top-20 three-step event paths — sequence mining lite ("what do
    // users actually do?"). Two leads over the per-user time order give
    // every consecutive triple in one window pass; the path-grain count
    // is a plain hash aggregate and the top-20 a TakeOrderedAndProject
    // (count DESC, path ASC tiebreak so the cut line is deterministic).
    // Scale: the window is per-user (no global sort); paths cardinality
    // is |event_types|³ — tiny.
    Spec("evt_path_analysis",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("e2", lead("event_type", 1).over(w))
          .withColumn("e3", lead("event_type", 2).over(w))
          .where(col("e3").isNotNull)
          .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
            .as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("path")).limit(20)
      },
      Some("""WITH seq AS (
                SELECT user_id, event_type,
                  lead(event_type, 1) OVER w AS e2,
                  lead(event_type, 2) OVER w AS e3
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
              SELECT event_type || '>' || e2 || '>' || e3 AS path,
                count(*) AS n
              FROM seq WHERE e3 IS NOT NULL
              GROUP BY 1 ORDER BY n DESC, path LIMIT 20""")),

    // SELECT * EXCEPT — the wide-table projection sugar (Spark 4 spells
    // it EXCEPT, DuckDB EXCLUDE; the 100 TB relevance is that the
    // resolved projection still drives parquet column pruning exactly as
    // an explicit column list would).
    Spec("sql_star_except",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""SELECT * EXCEPT (o_orderpriority, o_orderstatus)
                 FROM orders ORDER BY o_orderkey""")
      },
      Some("""SELECT * EXCLUDE (o_orderpriority, o_orderstatus)
              FROM orders ORDER BY o_orderkey""")),

    // Gaps-and-islands: longest consecutive-active-day streak per user —
    // the classic engagement metric, and the canonical island pattern
    // (day − row_number() is constant within each run). Day is exact
    // integer epoch-day arithmetic (`div`, not date_trunc) so both
    // engines bucket identically. Scale: the (user_id, day) distinct is
    // a two-phase hash aggregate, the window and both downstream
    // aggregates all key on user_id — one logical partitioning carried
    // through; no per-island data movement beyond it. Streak length is
    // bounded by days-in-corpus, never by corpus size.
    Spec("evt_streak",
      (s, d) => {
        val days = t(s, d, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        days.withColumn("grp", col("day") - row_number().over(w))
          .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(max("len").as("max_streak"),
            count(lit(1)).as("n_streaks"),
            (max("len") - min("len")).as("streak_spread"))
          .orderBy("user_id")
      },
      Some("""WITH days AS (
                SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
                FROM events),
              isl AS (
                SELECT user_id, day,
                  day - row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS grp
                FROM days),
              runs AS (
                SELECT user_id, grp, count(*) AS len
                FROM isl GROUP BY user_id, grp)
              SELECT user_id, max(len) AS max_streak,
                     count(*) AS n_streaks,
                     max(len) - min(len) AS streak_spread
              FROM runs GROUP BY user_id ORDER BY user_id""")),

    // Conversion-latency distribution — the funnel twin at DELTA grain:
    // click→purchase lag percentiles across converted users. Percentiles
    // are the SQL-standard discrete definition stated EXPLICITLY in both
    // engines (smallest lag with cume_dist ≥ p) so no engine-native
    // quantile interpolation — whose last-ulp float arithmetic differs
    // across engines at µs magnitudes — ever runs; every output is either
    // an exact integer or a single division of exact integers (avg: both
    // engines sum ≤2^53-bounded integers exactly, then divide once).
    // Scale: both aggregates key on user_id; the cume-dist picks run over
    // the VALUE-COMPRESSED lag histogram (cume_dist is constant within
    // tied values, so the per-row window collapses to the histogram
    // cumulation losslessly), cumulated by ScalableCumulate's bucketed
    // two-pass — no single-task window at any grain. cd is the same
    // cum/n double division cume_dist performs, so the ≥p picks are
    // bit-compatible with the oracle's cume_dist; avg is an exact
    // integer sum with one final division (both engines ≤2^53-exact).
    Spec("evt_time_to_convert",
      (s, d) => {
        val e = t(s, d, "events")
        val per = e.groupBy("user_id")
          .agg(min(when(col("event_type") === "click", col("ts"))).as("c_ts"))
        val pa = e.join(per, "user_id")
          .where(col("event_type") === "purchase" && col("ts") >= col("c_ts"))
          .groupBy("user_id").agg(min("ts").as("p_ts"))
        val lag = per.join(pa, "user_id")
          .select((unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
            .as("lag_us"))
        val h = lag.groupBy("lag_us").agg(count(lit(1)).as("cnt"))
        ScalableCumulate.cumSum(h, col("lag_us"), ascending = true,
            Seq(col("lag_us")), Seq(ScalableCumulate.Cum("cum", col("cnt"))),
            totals = Map("cum" -> "n"))
          .withColumn("cd", col("cum").cast("double") / col("n"))
          .agg(sum("cnt").as("n_converted"),
            min(when(col("cd") >= 0.5, col("lag_us"))).as("p50_us"),
            min(when(col("cd") >= 0.9, col("lag_us"))).as("p90_us"),
            min("lag_us").as("min_us"),
            max("lag_us").as("max_us"),
            round(sum(col("lag_us") * col("cnt")).cast("double") /
              sum("cnt"), 6).as("avg_us"))
      },
      Some("""WITH per AS (
                SELECT user_id,
                       min(CASE WHEN event_type = 'click' THEN ts END) AS c_ts
                FROM events GROUP BY user_id),
              pa AS (
                SELECT e.user_id, min(e.ts) AS p_ts
                FROM events e JOIN per ON e.user_id = per.user_id
                WHERE e.event_type = 'purchase' AND e.ts >= per.c_ts
                GROUP BY e.user_id),
              lag AS (
                SELECT epoch_us(p_ts) - epoch_us(c_ts) AS lag_us
                FROM per JOIN pa ON per.user_id = pa.user_id),
              cd AS (
                SELECT lag_us,
                       cume_dist() OVER (ORDER BY lag_us) AS cd FROM lag)
              SELECT count(*) AS n_converted,
                     min(CASE WHEN cd >= 0.5 THEN lag_us END) AS p50_us,
                     min(CASE WHEN cd >= 0.9 THEN lag_us END) AS p90_us,
                     min(lag_us) AS min_us,
                     max(lag_us) AS max_us,
                     round(avg(lag_us), 6) AS avg_us
              FROM cd""")),

    // Session-grain engagement summary — the aggregate layer over
    // win_sessionize's island construction (identical gap rule, 5 min on
    // exact integer microseconds): per user, how many sessions, how long,
    // how dense. Every output is an exact integer or a single division
    // of exact integers. Scale: the brk/grp windows, the session
    // aggregate, and the user rollup all key on user_id — one shuffle
    // carried through three stages; session count is bounded by events
    // per user, never corpus-wide.
    Spec("evt_session_stats",
      (s, d) => {
        val gapUs = 300000000L
        val e = t(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("tus"))
        val w = Window.partitionBy("user_id").orderBy("tus")
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.withColumn("brk",
            when(lag("tus", 1).over(w).isNull ||
              col("tus") - lag("tus", 1).over(w) >= gapUs, 1).otherwise(0))
          .withColumn("grp", sum("brk").over(run))
          .groupBy("user_id", "grp")
          .agg(count(lit(1)).as("n"), (max("tus") - min("tus")).as("dur_us"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            sum("n").as("n_events"),
            max("n").as("max_len"),
            sum("dur_us").as("total_dur_us"),
            round(sum("n").cast("double") / count(lit(1)).cast("double"), 6)
              .as("avg_len"))
          .orderBy("user_id")
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
                FROM dif),
              sess AS (
                SELECT user_id, grp, count(*) AS n,
                       max(tus) - min(tus) AS dur_us
                FROM g GROUP BY user_id, grp)
              SELECT user_id, count(*) AS n_sessions,
                     CAST(sum(n) AS BIGINT) AS n_events,
                     CAST(max(n) AS BIGINT) AS max_len,
                     CAST(sum(dur_us) AS BIGINT) AS total_dur_us,
                     round(CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                       AS avg_len
              FROM sess GROUP BY user_id ORDER BY user_id""")),

    // Statistical mode per group, deterministic: count + window top-1 with
    // an explicit value tie-break (engine-native mode() functions break
    // ties arbitrarily — ungradeable and irreproducible). Count is a
    // two-phase hash aggregate; the window partitions by group.
    Spec("agg_mode",
      (s, d) => {
        val cnt = t(s, d, "lineitem").groupBy("l_returnflag", "l_quantity")
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("l_returnflag")
          .orderBy(desc("n"), asc("l_quantity"))
        cnt.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("n"))
          .orderBy("l_returnflag")
      },
      Some("""WITH cnt AS (
                SELECT l_returnflag, l_quantity, count(*) AS n
                FROM lineitem GROUP BY 1, 2),
              r AS (
                SELECT *, row_number() OVER (PARTITION BY l_returnflag
                  ORDER BY n DESC, l_quantity) AS rn
                FROM cnt)
              SELECT l_returnflag, l_quantity AS mode_qty, n
              FROM r WHERE rn = 1 ORDER BY l_returnflag""")),

    // posexplode (ordinal-preserving UDTF): first five tokens of each
    // document with their positions. Spark emits (pos, tok) natively;
    // DuckDB reconstructs ordinals via a constant series + 1-based list
    // index (no WITH ORDINALITY support).
    Spec("fn_posexplode",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(slice(split(col("text"), " "), 1, 5)))
        .withColumnRenamed("col", "tok")
        .orderBy("doc_id", "pos"),
      Some("""SELECT doc_id, i AS pos, str_split(text, ' ')[i + 1] AS tok
              FROM documents
                CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS i) s
              WHERE i < least(5, len(str_split(text, ' ')))
              ORDER BY doc_id, pos""")),

    // Brute-force cosine top-5 through the FUSED native expression
    // (functions/CosineSimExpr): dot + both norms in one codegen'd array
    // pass, vs. the three-traversal HOF chain of sim_cosine_topk. Same
    // broadcast-probe ∥ scan shape (zero shuffle), same top-k window, and
    // bit-identical numerics — the oracle is sim_cosine_topk's.
    Spec("sim_cosine_fused",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        val v = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val p = v.where(col("vec_id") < 5)
          .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
        val w = Window.partitionBy("p_id").orderBy(desc("cosine"), asc("vec_id"))
        v.join(broadcast(p), col("vec_id") =!= col("p_id"))
          .select(col("p_id"), col("vec_id"),
            round(expr("cosine_sim(p_emb, embedding)"), 6).as("cosine"))
          .withColumn("rnk", row_number().over(w)).where(col("rnk") <= 5)
          .select("p_id", "rnk", "vec_id", "cosine")
          .orderBy("p_id", "rnk")
      },
      Some("""WITH emb2 AS (
                SELECT vec_id, embedding,
                  sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
                FROM embeddings),
              cosv AS (
                SELECT p.vec_id AS p_id, v.vec_id,
                  round(list_reduce(list_transform(list_zip(p.embedding, v.embedding),
                      q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), (x, y) -> x + y)
                    / (p.nrm * v.nrm), 6) AS cosine
                FROM emb2 p JOIN emb2 v ON v.vec_id <> p.vec_id
                WHERE p.vec_id < 5)
              SELECT p_id, rnk, vec_id, cosine FROM (
                SELECT p_id, vec_id, cosine,
                  row_number() OVER (PARTITION BY p_id ORDER BY cosine DESC, vec_id) AS rnk
                FROM cosv) WHERE rnk <= 5
              ORDER BY p_id, rnk""")),

    // Edit-distance near-dup: Levenshtein over 40-char prefixes of
    // consecutive-id document pairs — the character-level companion to the
    // token-set (Jaccard), MinHash, SimHash, and embedding dedup variants.
    // Pairing is an equi-join on doc_id+1 (co-keyed shuffle, no n² blow-up
    // — at scale the pair generator is any bounded candidate source, e.g.
    // LSH buckets). Distances are exact integers on both engines.
    Spec("dedup_editdist",
      (s, d) => {
        val doc = t(s, d, "documents")
        val a = doc.select(col("doc_id"), substring(col("text"), 1, 40).as("p1"))
        val b = doc.select((col("doc_id") - 1).as("b_id"),
          substring(col("text"), 1, 40).as("p2"))
        a.join(b, col("doc_id") === col("b_id"))
          .select(col("doc_id"), levenshtein(col("p1"), col("p2")).as("dist"))
          .where(col("dist") < 25)
          .orderBy("doc_id")
      },
      Some("""SELECT a.doc_id, levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS dist
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
              WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) < 25
              ORDER BY a.doc_id""")),

    // Boolean aggregates (every/any): two-phase hash agg like any other.
    Spec("agg_bool",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(bool_and(col("l_quantity") > 0).as("all_positive"),
          bool_or(col("l_discount") > 0.05).as("any_big_discount"),
          bool_and(col("l_tax") < 0.09).as("all_low_tax"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                     bool_and(l_quantity > 0) AS all_positive,
                     bool_or(l_discount > 0.05) AS any_big_discount,
                     bool_and(l_tax < 0.09) AS all_low_tax
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // LATERAL correlated subquery with per-row ORDER BY + LIMIT (top-2
    // cheapest lineitems per part): Catalyst decorrelates the lateral
    // into a ranked-window join — the scale shape — while the query TEXT
    // stays the natural per-row form. Identical SQL runs on both engines.
    // Tie-safety: duplicate (orderkey, linenumber) rows can tie at the
    // LIMIT boundary, but tied rows are value-identical, so either choice
    // hashes the same. The outer `p_partkey < 50` is restated on
    // l_partkey INSIDE the lateral (implied by the correlation, so
    // semantics are unchanged): Catalyst's constraint inference lands the
    // derived filter ABOVE the decorrelated window, after the partial
    // WindowGroupLimit has already ranked the FULL fact table — stating
    // it inside reaches the parquet scan (PushedFilters), which is the
    // difference between ranking 50 parts' rows and ranking every row at
    // 100 TB.
    Spec("join_lateral_topk",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""SELECT p.p_partkey, l.l_orderkey, l.l_linenumber, l.l_extendedprice
                 FROM part p,
                 LATERAL (SELECT l_orderkey, l_linenumber, l_extendedprice
                          FROM lineitem
                          WHERE l_partkey = p.p_partkey AND l_partkey < 50
                          ORDER BY l_extendedprice, l_orderkey, l_linenumber LIMIT 2) l
                 WHERE p.p_partkey < 50
                 ORDER BY p.p_partkey, l.l_extendedprice, l.l_orderkey, l.l_linenumber""")
      },
      Some("""SELECT p.p_partkey, l.l_orderkey, l.l_linenumber, l.l_extendedprice
              FROM part p,
              LATERAL (SELECT l_orderkey, l_linenumber, l_extendedprice
                       FROM lineitem
                       WHERE l_partkey = p.p_partkey
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber LIMIT 2) l
              WHERE p.p_partkey < 50
              ORDER BY p.p_partkey, l.l_extendedprice, l.l_orderkey, l.l_linenumber""")),

    // Recursive CTE (Spark 4.1 WITH RECURSIVE): generate the continuous
    // week calendar spanning the event log, then left-join weekly counts —
    // recursion builds the bounded dimension (depth = weeks in range, not
    // data volume), the fact side stays a hash aggregate. Epoch-day week
    // arithmetic keeps both engines on identical buckets.
    //
    // Round-12 (the pagerank treatment, r11 verdict #4): JobProf showed
    // the old form at 53 jobs / 2.6 s steady for a 5-row result. Two
    // causes, both per-superstep fixed costs, not data volume:
    // (a) the bounds CTE `b` sat INSIDE the recursive term (`FROM weeks,
    //     b`), so EVERY recursion step re-ran the min/max aggregate over
    //     events — at 100 TB that is a full fact-scan per calendar week.
    //     The bounds are now one eager scan-aggregate up front (charged
    //     to the shuffle budget via `audited`, same seam as every other
    //     eager helper job), and the recursion steps over literals — each
    //     step is a 1-row local computation.
    // (b) the weekly counts joined at EVENT grain and aggregated after
    //     the join; the aggregate now runs BEFORE the join (events →
    //     weeks grain), so the left join touches |weeks| rows, and the
    //     tiny recursion side broadcasts.
    Spec("sql_recursive_cte",
      (s, d) => {
        Tables.registerAll(s, d)
        val b = ScalableCumulate.audited(s.sql(
          """SELECT CAST(floor(unix_date(to_date(min(ts)))/7) AS BIGINT) AS lo,
                    CAST(floor(unix_date(to_date(max(ts)))/7) AS BIGINT) AS hi
             FROM events""")).head()
        // min/max over an EMPTY events table is NULL; getLong would then
        // throw a bare NPE. Fail loudly with a named message instead
        // (the loud-failure convention) — the old pure-SQL form degraded
        // to a NULL-anchored recursion, which silently returned a
        // meaningless single NULL-week row.
        require(!b.isNullAt(0) && !b.isNullAt(1),
          "sql_recursive_cte: events table is empty — no week bounds to " +
            "anchor the recursion on")
        val (lo, hi) = (b.getLong(0), b.getLong(1))
        s.sql(s"""WITH RECURSIVE weeks(wk) AS (
                   SELECT CAST($lo AS BIGINT) AS wk
                   UNION ALL
                   SELECT wk + 1 FROM weeks WHERE wk < $hi)
                 SELECT w.wk, coalesce(e.n, CAST(0 AS BIGINT)) AS n_events
                 FROM weeks w LEFT JOIN
                   (SELECT CAST(floor(unix_date(to_date(ts))/7) AS BIGINT) AS wk,
                           count(user_id) AS n
                    FROM events GROUP BY 1) e
                   USING (wk)
                 ORDER BY w.wk""")
      },
      Some("""WITH RECURSIVE b AS (
                SELECT CAST(floor(date_diff('day', DATE '1970-01-01', CAST(min(ts) AS DATE))/7) AS BIGINT) AS lo,
                       CAST(floor(date_diff('day', DATE '1970-01-01', CAST(max(ts) AS DATE))/7) AS BIGINT) AS hi
                FROM events),
              weeks(wk) AS (
                SELECT lo FROM b
                UNION ALL
                SELECT wk + 1 FROM weeks, b WHERE wk < hi)
              SELECT w.wk, count(e.user_id) AS n_events
              FROM weeks w LEFT JOIN
                (SELECT CAST(floor(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))/7) AS BIGINT) AS wk, user_id
                 FROM events) e
                USING (wk)
              GROUP BY w.wk ORDER BY w.wk""")),

    // SQL pipe syntax (Spark 4 `|>`) — the linear query-authoring surface:
    // each operator consumes the previous result top-to-bottom, no inside-
    // out reading. Pure PARSER sugar: Catalyst receives the identical
    // logical plan as the desugared form (filter → two-phase hash agg with
    // the decimal money-sum → sort), so the 100 TB story is its twin's.
    // DuckDB has no pipe dialect; the oracle IS the desugared SQL, which
    // doubles as documentation of the desugaring.
    Spec("sql_pipe_syntax",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql(s"""FROM lineitem
                  |> WHERE l_shipdate <= DATE '1998-09-02'
                  |> AGGREGATE ${msumSql("l_extendedprice")} AS revenue,
                       CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE)
                         AS sum_qty,
                       count(*) AS n
                     GROUP BY l_returnflag, l_linestatus
                  |> ORDER BY l_returnflag, l_linestatus""")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
                 ${msumSql("l_extendedprice")} AS revenue,
                 CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE)
                   AS sum_qty,
                 count(*) AS n
               FROM lineitem
               WHERE l_shipdate <= DATE '1998-09-02'
               GROUP BY l_returnflag, l_linestatus
               ORDER BY l_returnflag, l_linestatus""")),

    // GROUP BY ALL / ORDER BY ALL sugar (Spark 4 ≡ DuckDB): group on
    // every non-aggregate select item, order on every output column
    // left-to-right. Resolved at ANALYSIS time to the explicit form — the
    // oracle states that desugared form, so the row is also a regression
    // tripwire on the resolution rule itself. Same two-phase hash
    // aggregate as any groupBy; ORDER BY ALL's total order over all
    // columns is what the determinism contract wants anyway.
    Spec("agg_group_by_all",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql(s"""SELECT l_returnflag, l_linestatus,
                    ${msumSql("l_extendedprice * (1 - l_discount)", 4)}
                      AS disc_rev,
                    count(*) AS n
                  FROM lineitem
                  GROUP BY ALL
                  ORDER BY ALL""")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
                 ${msumSql("l_extendedprice * (1 - l_discount)", 4)}
                   AS disc_rev,
                 count(*) AS n
               FROM lineitem
               GROUP BY l_returnflag, l_linestatus
               ORDER BY l_returnflag, l_linestatus, disc_rev, n""")),

    // ORDER BY ALL standalone (no grouping): a total presentation order
    // over every output column without naming them — exactly the
    // determinism contract every oracle query hand-writes. Desugared at
    // analysis to the explicit column list the oracle states.
    Spec("sort_order_by_all",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""SELECT c_mktsegment, c_nationkey, c_custkey, c_acctbal
                 FROM customer WHERE c_acctbal > 9000
                 ORDER BY ALL""")
      },
      Some("""SELECT c_mktsegment, c_nationkey, c_custkey, c_acctbal
              FROM customer WHERE c_acctbal > 9000
              ORDER BY c_mktsegment, c_nationkey, c_custkey, c_acctbal"""))
  )
}
