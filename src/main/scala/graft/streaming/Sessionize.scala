package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.engine.Tables

/** Gap-based sessionization (30-minute inactivity gap) — the classic
  * stateful stream operator the reference never had (SURVEY §2.8 T6).
  *
  * Two formulations with identical output:
  *  - q39: batch window form — `lag` to detect gaps, running sum to
  *    assign session indexes. Fully SQL-expressible → DuckDB oracle.
  *  - q40: streaming `flatMapGroupsWithState` over user_id — the real
  *    stateful-API form. With Trigger.AvailableNow all events arrive in
  *    one micro-batch, so emitted sessions equal the batch result
  *    (oracle-checked the same way); under a production trigger the same
  *    function emits sessions incrementally with timeout-based closure.
  *
  * Scale posture: both forms shuffle once on user_id. The window form
  * sorts each user's events (Spark spills per-key sorts); the stateful
  * form keeps one open session per key in the state store — at 100 TB
  * the stateful form is the only one that works *continuously*, which is
  * why both are provided.
  */
object Sessionize {

  val GapMinutes = 30

  /** Batch sessionization: session boundaries via lag + running count. */
  def q39Sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id")
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
          unix_micros($"ts") - unix_micros($"prev_ts") > GapMinutes * 60000000L, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum($"new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"session_idx")
      .agg(
        count(lit(1)).as("n_events"),
        min($"ts").as("start_ts"),
        max($"ts").as("end_ts"))
      .withColumn("duration_s",
        expr("(unix_micros(end_ts) - unix_micros(start_ts)) div 1000000"))
      .transform(sessionOutput)
  }

  /** The gap-flag/session-number CTE chain every sessionization oracle
    * shares (q39/q40/q96/q120 all assert the SAME session contract —
    * one definition, so the four formulations' oracles cannot drift
    * apart; the Dedup.bandCtes pattern). */
  private def sessionCtes: String =
    s"""flagged AS (
          SELECT user_id, ts, event_id,
            CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > ${GapMinutes * 60000000L} THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
          SELECT user_id, ts,
            CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
          FROM flagged)"""

  def q39Sql: String =
    s"""WITH $sessionCtes
        SELECT user_id, session_idx, count(*) AS n_events,
          strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
          strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_ts,
          CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT) AS duration_s
        FROM numbered GROUP BY user_id, session_idx
        ORDER BY user_id, session_idx"""

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long)
  case class Session(user_id: Long, session_idx: Long, n_events: Long,
      start_ts: Timestamp, end_ts: Timestamp, duration_s: Long)
  case class SessState(idx: Long, open: Option[Session])

  /** Exact event-time micros (Timestamp.getTime is millis; the µs
    * remainder lives in getNanos) — keeps gap/duration arithmetic
    * bit-equal to the batch form's unix_micros. */
  private def us(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Stateful session assembly for one user's new events (sorted by
    * event time). Pure function of (state, events) → (state', emitted
    * closed sessions + current open session view). */
  private[graft] def advance(st: SessState, events: Seq[Ev]): (SessState, Seq[Session]) = {
    var idx = st.idx
    var open = st.open
    val out = Seq.newBuilder[Session]
    events.foreach { e =>
      open match {
        case Some(s) if us(e.ts) - us(s.end_ts) <= GapMinutes * 60000000L =>
          open = Some(s.copy(n_events = s.n_events + 1, end_ts = e.ts,
            duration_s = (us(e.ts) - us(s.start_ts)) / 1000000L))
        case other =>
          other.foreach(out += _)
          idx += 1
          open = Some(Session(e.user_id, idx, 1L, e.ts, e.ts, 0L))
      }
    }
    (SessState(idx, open), out.result())
  }

  /** One key's micro-batch, end to end: sort, [[advance]], flush the
    * open session (AvailableNow drains in one batch, so every session
    * closes at drain time; a production trigger would keep it in state
    * and close from a timeout/timer), persist the emptied state through
    * `save`. ONE definition so q40's flatMapGroupsWithState and q96's
    * StatefulProcessor cannot drift (the sessionCtes rule, applied to
    * the Scala side). */
  private def flushAdvance(st0: SessState, rows: Iterator[Ev])(
      save: SessState => Unit): Iterator[Session] = {
    val sorted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id))
    val (st1, closed) = advance(st0, sorted)
    save(SessState(st1.idx, None))
    (closed ++ st1.open).iterator
  }

  /** The output projection every sessionizer in the family emits —
    * shared so the column contract the oracles hash cannot drift
    * between q39/q40/q96. */
  private def sessionOutput(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select($"user_id", $"session_idx", $"n_events",
        graft.engine.Exact.tsString($"start_ts").as("start_ts"),
        graft.engine.Exact.tsString($"end_ts").as("end_ts"),
        $"duration_s")
      .orderBy($"user_id", $"session_idx")
  }

  /** Streaming sessionization via flatMapGroupsWithState. AvailableNow ⇒
    * single micro-batch ⇒ every session closes at drain time, so output
    * matches q39; a production trigger would emit on inactivity timeout
    * (GroupStateTimeout.EventTimeTimeout) instead. */
  def q40StreamSessionize(spark: SparkSession, sfDir: String): DataFrame =
      Streaming.withStatePartitions(spark) {
    import spark.implicits._
    // one stream-source definition for the whole library — schema, glob,
    // and the ts physical-encoding normalization live in readEventsStream
    val events = Streaming.readEventsStream(spark, sfDir)
      .select($"user_id", $"ts", $"event_id")
      .as[Ev]

    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, evs: Iterator[Ev], state: GroupState[SessState]) =>
          flushAdvance(state.getOption.getOrElse(SessState(0L, None)),
            evs)(state.update)
      }

    // sessions are row-scale (grow with the log) → file-sink drain,
    // never the driver-resident memory table
    sessionOutput(Streaming.drainToFileSink(spark, sessions.toDF()))
  }

  /** [[StatefulProcessor]] (the Spark 4 `transformWithState` arbitrary-
    * state API) computing the same session assembly as q40's
    * flatMapGroupsWithState: one ValueState cell per user. The v2 API's
    * wins at scale: named state variables (value/list/map) instead of
    * one opaque blob, per-state TTL, and timers decoupled from output
    * mode — a production deployment closes sessions from
    * `handleExpiredTimer` on an event-time timer per key. */
  private[graft] class SessionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, Session] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[SessState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[SessState]("sess",
        org.apache.spark.sql.Encoders.product[SessState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Session] =
      flushAdvance(if (state.exists()) state.get() else SessState(0L, None),
        rows)(state.update)
  }

  /** Streaming sessionization via `transformWithState` — same contract
    * and oracle as q39/q40, on the state-v2 API. Requires the RocksDB
    * state store provider (the HDFS-backed default does not implement
    * v2 state); scoped to this query by [[Streaming.withRocksDb]]. */
  def q96TransformWithState(spark: SparkSession, sfDir: String): DataFrame =
      Streaming.withStatePartitions(spark)(Streaming.withRocksDb(spark) {
    import spark.implicits._
    val events = Streaming.readEventsStream(spark, sfDir)
      .select($"user_id", $"ts", $"event_id")
      .as[Ev]
    val sessions = events
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[Session]])
    // sessions are row-scale → file-sink drain (see q40); the sink
    // parquet backs the lazy result, so no driver materialization
    sessionOutput(Streaming.drainToFileSink(spark, sessions.toDF()))
  })

  /** The FOURTH sessionization formulation: Spark's native
    * `session_window` grouping function — sessions become a merging
    * group key instead of a lag/running-sum derivation (q39), a
    * stateful function (q40), or a StatefulProcessor (q96). Probed
    * boundary semantics: an event exactly `gap` after the previous one
    * MERGES (windows [ts, ts+gap) merge when touching), i.e. new
    * session iff diff > gap — the same contract as q39, so the oracle
    * is q39's CTE with the session end extended by the gap
    * (session_window's end = last event + gap, vs q39's end = last
    * event). In streaming the identical expression runs with
    * `sessionWindowStateStore` merge-on-update state — this batch form
    * is the plan Spark shares between both modes.
    *
    * Scale: one shuffle by (user_id) then an in-partition sort-merge of
    * windows — the same single-shuffle posture as q39, with the session
    * merge inside the aggregation operator instead of a window pass. */
  def q120SessionWindowNative(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sess = Tables.events(spark, sfDir)
      .select($"user_id", $"ts")
      .groupBy($"user_id", session_window($"ts", s"$GapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
    val byUser = Window.partitionBy($"user_id").orderBy($"w.start")
    sess.select($"user_id",
        row_number().over(byUser).cast("long").as("session_idx"),
        $"n_events",
        graft.engine.Exact.tsString($"w.start").as("start_ts"),
        graft.engine.Exact.tsString($"w.end").as("end_ts_gap"))
      .orderBy($"user_id", $"session_idx")
  }

  def q120Sql: String =
    s"""WITH $sessionCtes
        SELECT user_id, session_idx, count(*) AS n_events,
          strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
          strftime(max(ts) + INTERVAL ${GapMinutes} MINUTE, '%Y-%m-%d %H:%M:%S')
            AS end_ts_gap
        FROM numbered GROUP BY user_id, session_idx
        ORDER BY user_id, session_idx"""

  /** q207 — DYNAMIC-gap session windows: the inactivity gap is an
    * EXPRESSION of the row (15 min after a click, 45 min after a
    * purchase, 30 min otherwise), the session_window(col, gapExpr)
    * form Spark grew in 3.2 — fixed-gap sessionization (q39/q120)
    * can't express "a purchase keeps the visit alive longer". The
    * semantics are interval UNION (each event extends the session to
    * ts + its own gap; overlapping extents merge), which is order-free
    * — so the oracle reproduces sessions with a running max of
    * interval ends per user (a break exactly where the next event
    * STRICTLY clears every preceding extent: Spark's
    * UpdatingSessionsIterator opens a new session only on
    * start > current end, so touching windows MERGE — the same
    * contract the q120 probe pins — and the oracle breaks on `>`,
    * never `>=`), and the output histogram
    * (sessions per user distribution + global session/event totals) is
    * hash-exact. Scale: one shuffle by user, per-key local sort —
    * identical posture to every sessionizer in this family. */
  def q207DynamicGap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val gap = when($"event_type" === "click", lit("15 minutes"))
      .when($"event_type" === "purchase", lit("45 minutes"))
      .otherwise(lit("30 minutes"))
    val sess = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_type")
      .groupBy($"user_id", session_window($"ts", gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
    val perUser = sess.groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"))
    perUser.groupBy($"n_sessions")
      .agg(count(lit(1)).as("n_users"), sum($"n_events").as("n_events"))
      .orderBy($"n_sessions")
  }

  def q207Sql: String =
    """WITH e AS (
         SELECT user_id, ts, event_id,
           CASE event_type WHEN 'click' THEN 900000000
                WHEN 'purchase' THEN 2700000000 ELSE 1800000000 END AS gap_us
         FROM events),
       x AS (
         SELECT user_id, ts,
           CASE WHEN max(epoch_us(ts) + gap_us) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL THEN 1
                WHEN epoch_us(ts) > max(epoch_us(ts) + gap_us) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS brk
         FROM e),
       pu AS (
         SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
         FROM x GROUP BY 1)
       SELECT n_sessions, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(n_events) AS BIGINT) AS n_events
       FROM pu GROUP BY 1 ORDER BY n_sessions"""
}
