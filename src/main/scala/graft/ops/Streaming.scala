package graft.ops

import graft.{Memo, Spec, Tables}
import graft.streaming.StreamRunner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** SURVEY.md §2 category I — Structured Streaming over `events`.
  *
  * Unlike the survey's conservative plan, most of these ARE oracle-checked:
  * a Trigger.AvailableNow drain over fixed file-batches is deterministic,
  * so each streaming result equals a relational expression DuckDB can run
  * (tumbling/sliding bucket arithmetic, gaps-and-islands sessions, an
  * explicit watermark-cutoff predicate, plain joins). Only semantics that
  * exist purely operationally stay rows-only.
  *
  * Scale: identical query text runs on an unbounded source; state stores
  * (window aggs, dedup keys, join buffers) are bounded by the watermarks
  * declared here.
  */
object Streaming {
  import Tables._

  private def ev(s: SparkSession, d: String): DataFrame = events(s, d)

  private def maxTs(s: SparkSession, d: String): java.sql.Timestamp =
    Memo.context(s, s"$d|maxTs")(ev(s, d).agg(max("ts")).head().getTimestamp(0))

  /** Run `body` with the RocksDB state-store provider (transformWithState
    * needs multiple column families — state + timers — which only RocksDB
    * provides), restoring the previous provider afterwards.
    */
  private def withRocksDB[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val track = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    val prev = s.conf.getOption(key)
    val prevTrack = s.conf.getOption(track)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // skip the get-before-put RocksDB does solely to maintain the
    // numTotalStateRows metric — the documented production knob for
    // write-heavy state (we assert results, not state-row metrics)
    s.conf.set(track, "false")
    try body finally {
      prev match {
        case Some(p) => s.conf.set(key, p)
        case None => s.conf.unset(key)
      }
      prevTrack match {
        case Some(p) => s.conf.set(track, p)
        case None => s.conf.unset(track)
      }
    }
  }

  /** Gaps-and-islands session CTEs (5-min gap, µs): shared by the
    * stream_session and stream_session_timers oracles — callers append
    * their final SELECT over `g` (grouping by user_id, grp).
    */
  private val sessionIslandsSql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
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
         FROM dif)"""

  /** Far-future flush row (user_id = -1): pushes the watermark past all
    * real data so append-mode windows emit; filtered out of results.
    */
  private def sentinel(s: SparkSession, d: String): DataFrame = {
    val flushTs = new java.sql.Timestamp(maxTs(s, d).getTime + 24L * 3600 * 1000)
    import s.implicits._
    Seq((-1L, flushTs, -1L, "flush", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  private def schemaOf(s: SparkSession, d: String): StructType = ev(s, d).schema

  /** Tumbling 5-minute bucket arithmetic — shared by stream + batch twin. */
  private val bucketSql = "CAST(floor(epoch(ts) / 300) AS BIGINT) * 300"

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)

  /** Spark 4 arbitrary-state API (transformWithState): per-user running
    * count kept in a typed ValueState, emitted each micro-batch.
    */
  final class RunningCountProcessor extends StatefulProcessor[Long, Event, (Long, Long)] {
    @transient private var countState: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      countState = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      val total = (if (countState.exists()) countState.get() else 0L) + rows.size
      countState.update(total)
      Iterator((key, total))
    }
  }

  /** ListState surface (Spark 4 transformWithState): per-user bounded
    * recent-history buffer — keep only the LAST n (time, event_id) pairs.
    * The canonical "recent items" serving state (last-N views, fraud
    * velocity windows): state per key is O(n) regardless of stream
    * length, because handleInputRows re-puts the truncated merge instead
    * of appending unboundedly. Batch rows arrive unordered → merge-sort
    * against the stored list before truncating.
    */
  final class LastNProcessor(n: Int)
      extends StatefulProcessor[Long, Event, (Long, Long, String)] {
    @transient private var lastN: ListState[(Long, Long)] = _
    @transient private var seen: ValueState[Long] = _

    private def us(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lastN = getHandle.getListState[(Long, Long)]("lastn",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[(Long, Long, String)] = {
      val incoming = rows.map(e => (us(e.ts), e.event_id)).toArray
      val merged = (lastN.get().toArray ++ incoming).sorted.takeRight(n)
      lastN.put(merged)
      val total = (if (seen.exists()) seen.get() else 0L) + incoming.length
      seen.update(total)
      Iterator((key, total, merged.reverse.map(_._2).mkString(",")))
    }
  }

  /** Event-time TIMER surface (Spark 4 transformWithState): per-user
    * sessionization where gap-closed sessions emit inline but the final
    * open session of each user is emitted by `handleExpiredTimer` when
    * the watermark passes last-event + gap — the timer path a real
    * timeout/SLA/abandoned-cart operator needs (state alone can only
    * react to DATA, timers react to TIME).
    *
    * Rows within a micro-batch arrive unordered, so the processor sorts
    * the per-key batch iterator by event time before the gap walk —
    * deterministic because batch membership is driver-fixed.
    */
  final class SessionTimerProcessor(gapUs: Long)
      extends StatefulProcessor[Long, Event, (Long, Long, Long)] {
    // (session_start_us, last_event_us, n_events)
    @transient private var sess: ValueState[(Long, Long, Long)] = _

    private def us(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val times = rows.map(e => us(e.ts)).toArray.sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var cur = if (sess.exists()) sess.get() else null
      times.foreach { t =>
        cur match {
          case null => cur = (t, t, 1L)
          case (s0, last, n) =>
            if (t - last >= gapUs) { out += ((key, s0, n)); cur = (t, t, 1L) }
            else cur = (s0, t, n + 1)
        }
      }
      sess.update(cur)
      // one live timer per key: the open session's timeout. CEIL to ms —
      // flooring could fire up to 1ms before last+gap and split a session
      // that a just-inside-the-gap event should have extended.
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer((cur._2 + gapUs + 999L) / 1000L)
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
      if (sess.exists()) {
        val (s0, _, n) = sess.get()
        sess.clear()
        Iterator((key, s0, n))
      } else Iterator.empty
    }
  }

  /** One shared 5-minute tumbling drain feeds BOTH stream_tumbling and
    * stream_sliding (drainKey-memoized in StreamRunner): a 10/5-minute
    * sliding window is the disjoint union of the two 5-minute tumbling
    * buckets it covers, so sliding counts are derived by re-bucketing the
    * drained tumbling aggregate — an event in bucket b lands in exactly
    * the sliding windows starting at b and b-300. One micro-batch drain
    * serves two declared queries; the genuine streaming sliding-window
    * operator (window(ts, "10 minutes", "5 minutes") under readStream) is
    * exercised against this derivation in StreamingParitySpec.
    */
  private[ops] def tumblingSink(s: SparkSession, d: String): DataFrame =
    StreamRunner.run(s, Seq(ev(s, d)), schemaOf(s, d), "complete",
      cacheKey = s"single|$d", drainKey = s"tumb5|$d") { src =>
      src.groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), msum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("ws"),
          col("event_type"), col("n"), col("sum_value"))
    }

  val all: Seq[Spec] = Seq(
    // Tumbling window agg, complete mode == batch aggregation.
    Spec("stream_tumbling",
      (s, d) => tumblingSink(s, d).orderBy("ws", "event_type"),
      Some(s"""SELECT $bucketSql AS ws, event_type, count(*) AS n,
                 ${msumSql("value")} AS sum_value
               FROM events GROUP BY ws, event_type ORDER BY ws, event_type""")),

    // Batch twin of the same window expression (window() works in batch).
    Spec("agg_window_tumbling_batch",
      (s, d) => ev(s, d)
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), msum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("ws"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("ws", "event_type"),
      Some(s"""SELECT $bucketSql AS ws, event_type, count(*) AS n,
                 ${msumSql("value")} AS sum_value
               FROM events GROUP BY ws, event_type ORDER BY ws, event_type""")),

    // Sliding 10-min window, 5-min slide: every event lands in exactly 2
    // windows (starts floor5(t) and floor5(t)-300) — derived from the
    // shared tumbling drain (see tumblingSink scaladoc; the native
    // streaming sliding window is parity-tested in StreamingParitySpec).
    Spec("stream_sliding",
      (s, d) => tumblingSink(s, d)
        .withColumn("off", explode(array(lit(0L), lit(300L))))
        .groupBy((col("ws") - col("off")).as("ws"), col("event_type"))
        .agg(sum("n").as("n"))
        .orderBy("ws", "event_type"),
      Some(s"""SELECT $bucketSql - o.off AS ws, event_type, count(*) AS n
               FROM events CROSS JOIN (SELECT unnest([0, 300]) AS off) o
               GROUP BY ws, event_type ORDER BY ws, event_type""")),

    // Session windows (5-min gap) per user; sentinel flushes open sessions.
    // Oracle: gaps-and-islands (new session when diff >= gap — Spark's
    // session end = last + gap is exclusive).
    Spec("stream_session",
      (s, d) => StreamRunner.run(s,
        Seq(ev(s, d), sentinel(s, d), ev(s, d).where(lit(false))),
        schemaOf(s, d), "append", cacheKey = s"session|$d",
        drainKey = s"session_win|$d") { src =>
        src.withWatermark("ts", "1 second")
          .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("ss_us"),
            unix_micros(col("session_window.end")).as("se_us"), col("n"))
      }.where(col("user_id") >= 0).orderBy("user_id", "ss_us"),
      Some(s"""$sessionIslandsSql
               SELECT user_id, min(tus) AS ss_us, max(tus) + 300000000 AS se_us,
                 count(*) AS n
               FROM g GROUP BY user_id, grp ORDER BY user_id, ss_us""")),

    // Late-data drop: late set (event_id % 97 = 0) arrives AFTER the
    // watermark advanced to max(on-time) - 10 min AND an intervening batch
    // ran with that watermark. The empty batch matters: Spark evicts window
    // state only at the end of a batch that RUNS with the advanced
    // watermark — late rows merging into still-live state are accepted
    // (verified empirically: without the empty batch, dropped=0; with it,
    // dropped=104). A late row is dropped iff its window already closed
    // (window_end <= watermark); the oracle states that cutoff predicate
    // relationally.
    Spec("stream_watermark_late",
      (s, d) => {
        val e = ev(s, d)
        val onTime = e.where(col("event_id") % 97 =!= 0)
        val late = e.where(col("event_id") % 97 === 0)
        val evict = e.where(lit(false)) // empty batch → eviction pass only
        // Sentinel exclusion happens on ws AFTER the drain: a pre-agg
        // user_id filter would be pushed below the watermark node into the
        // scan and the sentinel would never advance the watermark.
        val maxRealSec = maxTs(s, d).getTime / 1000
        // trailing empty batch: the final windows only emit in a batch that
        // RUNS with the sentinel-advanced watermark (a spontaneous no-data
        // batch is not guaranteed).
        StreamRunner.run(s, Seq(onTime, evict, late, sentinel(s, d), evict),
          schemaOf(s, d), "append", cacheKey = s"wml|$d", drainKey = s"wml|$d") { src =>
          src.withWatermark("ts", "10 minutes")
            .groupBy(window(col("ts"), "5 minutes")).agg(count(lit(1)).as("n"))
            .select(unix_timestamp(col("window.start")).as("ws"), col("n"))
        }.where(col("ws") <= maxRealSec).orderBy("ws")
      },
      Some(s"""WITH wm AS (
                 SELECT max(epoch_us(ts)) - 600000000 AS w FROM events
                 WHERE event_id % 97 <> 0),
               kept AS (
                 SELECT * FROM events
                 WHERE event_id % 97 <> 0
                    OR ($bucketSql + 300) * 1000000 > (SELECT w FROM wm))
               SELECT $bucketSql AS ws, count(*) AS n
               FROM kept GROUP BY ws ORDER BY ws""")),

    // Exactly-once by key: duplicates (event_id % 100 = 0) re-injected in
    // the same batch are dropped by state; final counts = distinct events.
    Spec("stream_dedup",
      (s, d) => {
        val e = ev(s, d)
        val withDups = e.unionAll(e.where(col("event_id") % 100 === 0))
        StreamRunner.run(s, Seq(withDups), schemaOf(s, d), "complete",
          cacheKey = s"dedup|$d", drainKey = s"dedup|$d") { src =>
          src.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark("event_id")
            .groupBy("event_type").agg(count(lit(1)).as("n"))
        }.orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n FROM events
              GROUP BY event_type ORDER BY event_type""")),

    // Custom state machine: per-user running count via
    // flatMapGroupsWithState across two micro-batches; update-mode sink
    // keeps one emission per batch — final count is the max.
    Spec("stream_stateful",
      (s, d) => {
        val e = ev(s, d)
        val b1 = e.where(col("event_id") % 2 === 0)
        val b2 = e.where(col("event_id") % 2 === 1)
        // shares the batch layout (and memoized files) with stream_stateful_tws
        val out = StreamRunner.run(s, Seq(b1, b2), schemaOf(s, d), "update",
          cacheKey = s"stateful|$d", drainKey = s"stateful_fmgws|$d") { src =>
          import s.implicits._
          src.as[Event]
            .groupByKey(_.user_id)
            .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
              (uid: Long, rows: Iterator[Event], state: GroupState[Long]) =>
                val total = state.getOption.getOrElse(0L) + rows.size
                state.update(total)
                Iterator((uid, total))
            }
            .toDF("user_id", "n_running")
        }
        out.groupBy("user_id").agg(max("n_running").as("n_events"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events FROM events
              GROUP BY user_id ORDER BY user_id""")),

    // Same semantics through Spark 4's transformWithState (typed ValueState
    // + StatefulProcessor, RocksDB state store — transformWithState needs
    // multiple column families, which only RocksDB provides). RocksDB opens
    // one native store per state partition, so the partition count is
    // size-matched: 1 covers the 150-key local state (at production key
    // volume this knob rises with the cluster).
    Spec("stream_stateful_tws",
      (s, d) => {
        val e = ev(s, d)
        val b1 = e.where(col("event_id") % 2 === 0)
        val b2 = e.where(col("event_id") % 2 === 1)
        withRocksDB(s) {
          val out = StreamRunner.run(s, Seq(b1, b2), e.schema, "update",
            cacheKey = s"stateful|$d", statePartitions = 1,
            drainKey = s"stateful_tws|$d") { src =>
            import s.implicits._
            src.as[Event]
              .groupByKey(_.user_id)
              .transformWithState(new RunningCountProcessor, TimeMode.None(),
                OutputMode.Update(), Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
              .toDF("user_id", "n_running")
          }
          out.groupBy("user_id").agg(max("n_running").as("n_events"))
            .orderBy("user_id")
        }
      },
      Some("""SELECT user_id, count(*) AS n_events FROM events
              GROUP BY user_id ORDER BY user_id""")),

    // Timer-driven sessionization through transformWithState with
    // TimeMode.EventTime: gap-closed sessions emit from handleInputRows,
    // each user's final open session emits from handleExpiredTimer once
    // the sentinel-advanced watermark passes its last-event + gap (the
    // trailing empty batch RUNS with that watermark, firing the timers —
    // same mechanics stream_watermark_late documents). Oracle: the same
    // gaps-and-islands relation as stream_session, at (user, session
    // start, count) grain. RocksDB provider: transformWithState needs
    // multiple column families (state + timers).
    Spec("stream_session_timers",
      (s, d) => withRocksDB(s) {
        StreamRunner.run(s,
          Seq(ev(s, d), sentinel(s, d), ev(s, d).where(lit(false))),
          schemaOf(s, d), "update", cacheKey = s"session|$d",
          statePartitions = 1, drainKey = s"session_tws|$d") { src =>
          import s.implicits._
          src.withWatermark("ts", "1 second")
            .as[Event]
            .groupByKey(_.user_id)
            .transformWithState(new SessionTimerProcessor(300000000L),
              TimeMode.EventTime(), OutputMode.Update(),
              Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
            .toDF("user_id", "ss_us", "n")
        }.where(col("user_id") >= 0).orderBy("user_id", "ss_us")
      },
      Some(s"""$sessionIslandsSql
               SELECT user_id, min(tus) AS ss_us, count(*) AS n
               FROM g GROUP BY user_id, grp ORDER BY user_id, ss_us""")),

    // Stream-stream interval join: purchases within 30 min after a click
    // by the same user.
    Spec("stream_stream_join",
      (s, d) => StreamRunner.run(s, Seq(ev(s, d)), schemaOf(s, d), "append",
        cacheKey = s"single|$d", drainKey = s"ssjoin|$d") { src =>
        val clicks = src.where(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "2 hours")
        val purchases = src.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "2 hours")
        purchases.join(clicks,
          col("p_user") === col("c_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
          .select(col("p_id"), col("c_id"), col("p_user").as("user_id"))
      }.orderBy("p_id", "c_id"),
      Some("""SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id
              FROM events p JOIN events c
                ON p.user_id = c.user_id
               AND p.event_type = 'purchase' AND c.event_type = 'click'
               AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
              ORDER BY p_id, c_id""")),

    // Stream-static enrichment join: each micro-batch of the event stream
    // joins the STATIC customer dimension — the zero-state enrichment
    // shape for slowly-changing dims. Unlike the stream-stream join above,
    // NOTHING is buffered in the state store: the static side is re-planned
    // per micro-batch (so a dim refresh is picked up on the next batch) and
    // broadcast, the stream side passes through stateless in append mode.
    // At scale this is the same broadcast-hash plan as the batch twin,
    // paid once per micro-batch regardless of accumulated stream history.
    Spec("stream_static_join",
      (s, d) => StreamRunner.run(s, Seq(ev(s, d)), schemaOf(s, d), "append",
        cacheKey = s"single|$d", drainKey = s"sstatic|$d") { src =>
        val dim = broadcast(t(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")))
        src.join(dim, col("user_id") === col("c_custkey"))
          .select(col("event_id"), col("user_id"),
            col("c_mktsegment").as("segment"), col("c_acctbal").as("acctbal"))
      }.orderBy("event_id"),
      Some("""SELECT event_id, user_id, c_mktsegment AS segment,
                c_acctbal AS acctbal
              FROM events JOIN customer ON user_id = c_custkey
              ORDER BY event_id""")),

    // Stream-stream LEFT OUTER join: every click, null-extended when no
    // purchase follows within 30 min. Outer emission is WATERMARK-DRIVEN
    // state eviction: a click's null row can only be emitted once the
    // join engine knows no matching purchase can still arrive — i.e. when
    // the event-time watermark (the MIN across the two watermarked
    // inputs: least(max c_ts, max p_ts) − 2 h) passes the click's match
    // window end (c_ts + 30 min). The AvailableNow drain therefore
    // WITHHOLDS unmatched clicks from the final ~2.5 h of the feed — not
    // a bug but the semantics an unbounded run has at every instant; the
    // oracle states exactly that cutoff predicate (matched rows always
    // emit; null rows require c_ts + 30 min below the watermark).
    Spec("stream_outer_join",
      (s, d) => StreamRunner.run(s, Seq(ev(s, d)), schemaOf(s, d), "append",
        cacheKey = s"single|$d", drainKey = s"ssouter|$d") { src =>
        val clicks = src.where(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "2 hours")
        val purchases = src.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "2 hours")
        clicks.join(purchases,
          col("p_user") === col("c_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
          "leftOuter")
          .select(col("c_id"), col("p_id"), col("c_user").as("user_id"))
      }.orderBy(asc("c_id"), asc_nulls_first("p_id")),
      Some("""WITH c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
                    FROM events WHERE event_type = 'click'),
              p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
                    FROM events WHERE event_type = 'purchase'),
              -- the engine's global watermark is the MIN across both
              -- watermarked inputs: least(max c_ts, max p_ts) - 2 h
              mx AS (SELECT least((SELECT max(c_ts) FROM c),
                                  (SELECT max(p_ts) FROM p))
                            - INTERVAL 2 HOUR AS wm),
              j AS (SELECT c_id, p_id, c_user, c_ts
                    FROM c LEFT JOIN p
                      ON p_user = c_user AND p_ts >= c_ts
                     AND p_ts <= c_ts + INTERVAL 30 MINUTE)
              SELECT c_id, p_id, c_user AS user_id
              FROM j, mx
              WHERE p_id IS NOT NULL
                 OR c_ts + INTERVAL 30 MINUTE < wm
              ORDER BY c_id, p_id NULLS FIRST""")),

    // ListState recent-history buffer: per-user last-3 event ids through
    // [[LastNProcessor]], drained over two parity-split batches so the
    // state genuinely merges across micro-batches. Update mode emits one
    // row per (user, batch); the final state per user is selected by
    // max_by on the cumulative count (strictly increasing per user, so
    // the pick is deterministic). Oracle: the same last-3-by-(ts,
    // event_id) ranking stated relationally.
    Spec("stream_liststate_lastn",
      (s, d) => {
        val e = ev(s, d)
        val b1 = e.where(col("event_id") % 2 === 0)
        val b2 = e.where(col("event_id") % 2 === 1)
        withRocksDB(s) {
          val out = StreamRunner.run(s, Seq(b1, b2), e.schema, "update",
            cacheKey = s"stateful|$d", statePartitions = 1,
            drainKey = s"liststate|$d") { src =>
            import s.implicits._
            src.as[Event].groupByKey(_.user_id)
              .transformWithState(new LastNProcessor(3), TimeMode.None(),
                OutputMode.Update(),
                Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.STRING))
              .toDF("user_id", "n_seen", "last3")
          }
          out.groupBy("user_id")
            .agg(expr("max_by(last3, n_seen)").as("last3_ids"))
            .orderBy("user_id")
        }
      },
      Some("""WITH r AS (
                SELECT user_id, event_id, epoch_us(ts) AS tus,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY tus DESC, event_id DESC) AS rn
                FROM events)
              SELECT user_id,
                string_agg(CAST(event_id AS VARCHAR), ','
                  ORDER BY tus DESC, event_id DESC) AS last3_ids
              FROM r WHERE rn <= 3
              GROUP BY user_id ORDER BY user_id"""))
  )
}
