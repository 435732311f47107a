package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful sessionization via flatMapGroupsWithState — the custom-state
  * streaming operator class (SURVEY.md §2.11 flags this as the natural
  * home for gap-based sessions; the window-function batch analog is
  * EventQueries q51, and both produce identical sessions).
  *
  * One fold ([[sessionizeGroups]]) drives both forms: the streaming
  * operator keeps the open session in [[GroupState]] and emits closed
  * sessions (event-time timeout would flush idle ones in a live stream);
  * the batch form runs the same fold per group and also emits the final
  * open session, matching the batch windowed result exactly.
  */
object Sessionize {

  final case class Event(user_id: Long, event_id: Long, sec: Long)
  final case class SessionState(sessionId: Long, startSec: Long, lastSec: Long, nEvents: Long)
  final case class Session(user_id: Long, session_id: Long, n_events: Long,
      start_sec: Long, end_sec: Long)

  /** The shared per-user fold: consume a (time-sorted) event batch,
    * update the open-session state, return closed sessions.
    *
    * A state with nEvents == 0 is the COUNTER MARKER left by a timeout
    * flush: no session is open, but the next session id continues from
    * sessionId (so a returning user's numbering matches the batch
    * replay instead of restarting at 1). Late-but-valid cross-batch
    * events (≥ watermark, < the open session's lastSec) extend the
    * session without regressing its bounds (min start / max end). */
  def sessionizeGroups(gapSeconds: Long)(
      userId: Long, events: Iterator[Event],
      state: GroupState[SessionState]): Iterator[Session] = {
    val sorted = events.toSeq.sortBy(e => (e.sec, e.event_id))
    var closed = List.empty[Session]
    var cur = state.getOption
    sorted.foreach { e =>
      cur match {
        case Some(s) if s.nEvents == 0 => // counter marker from a timeout
          cur = Some(SessionState(s.sessionId, e.sec, e.sec, 1))
        case Some(s) if e.sec - s.lastSec <= gapSeconds =>
          cur = Some(s.copy(
            startSec = math.min(s.startSec, e.sec),
            lastSec = math.max(s.lastSec, e.sec),
            nEvents = s.nEvents + 1))
        case Some(s) =>
          closed ::= Session(userId, s.sessionId, s.nEvents, s.startSec, s.lastSec)
          cur = Some(SessionState(s.sessionId + 1, e.sec, e.sec, 1))
        case None =>
          cur = Some(SessionState(1L, e.sec, e.sec, 1))
      }
    }
    cur.foreach(state.update)
    closed.reverseIterator
  }

  /** Streaming form: closed sessions only (open ones live in state). */
  def sessionizedStream(events: Dataset[Event], gapSeconds: Long = 1800): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        sessionizeGroups(gapSeconds))
  }

  /** Production form: EVENT-TIME TIMEOUT flushes idle sessions. When the
    * watermark passes `lastSec + gap`, the group fires with
    * `state.hasTimedOut`, the open session is emitted, and only a
    * one-long counter marker survives so a returning user's session
    * numbering continues where the batch replay would put it (full
    * per-session state is freed; the marker is the price of stable
    * (user_id, session_id) keys — consumers that don't need them can
    * key on (user_id, start_sec) instead). The per-batch fold is
    * [[sessionizeGroups]] unchanged. Requires a watermark on `etime`
    * upstream (Spark enforces it), and `etime` MUST equal `sec` as an
    * epoch timestamp — the timeout deadline is computed from sec while
    * the watermark advances on etime (validated per event, loudly). */
  final case class EventW(user_id: Long, event_id: Long, sec: Long,
      etime: java.sql.Timestamp)

  def sessionizedStreamWithTimeout(events: DataFrame,
      gapSeconds: Long = 1800): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("event_id"), col("sec"), col("etime")).as[EventW]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[EventW], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            // keep only the counter marker (nEvents == 0): numbering
            // survives, the per-session payload is freed; no new timeout
            // is registered so the marker costs no further firings
            state.update(SessionState(s.sessionId + 1, 0L, 0L, 0L))
            Iterator.single(Session(userId, s.sessionId, s.nEvents, s.startSec, s.lastSec))
          } else {
            val closed = sessionizeGroups(gapSeconds)(userId,
              it.map { e =>
                require(e.etime.getTime / 1000L == e.sec,
                  s"etime must be sec as an epoch timestamp (event ${e.event_id}: " +
                    s"etime=${e.etime} sec=${e.sec}) — the timeout deadline derives from sec")
                Event(e.user_id, e.event_id, e.sec)
              }, state)
            state.getOption.filter(_.nEvents > 0).foreach { s =>
              state.setTimeoutTimestamp((s.lastSec + gapSeconds + 1) * 1000L)
            }
            closed
          }
      }
  }

  /** Batch form over the full replay: identical sessions to the q51
    * window formulation (and to the streaming fold + final open session).
    *
    * Scale shape: the naive groupByKey.flatMapGroups would materialize a
    * user's ENTIRE history in one task (a 100M-event power user = OOM).
    * Instead this is the secondary-sort pattern: shuffle on user_id, sort
    * WITHIN each partition by (user_id, sec, event_id) — Spark's external
    * sorter spills, never holds a group in memory — then a streaming
    * O(1)-state iterator fold ([[sessionizeSorted]]) walks the sorted run
    * and emits sessions as they close. */
  def sessionizeBatch(events: Dataset[Event], gapSeconds: Long = 1800): DataFrame = {
    import events.sparkSession.implicits._
    events
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("sec"), col("event_id"))
      .mapPartitions(it => sessionizeSorted(it, gapSeconds))
      .toDF()
  }

  /** Streaming fold over a (user_id, sec, event_id)-sorted partition:
    * O(1) state (one open session), emits each session when it closes and
    * the open one at each user boundary / end of partition. All users of
    * a partition are folded by ONE pass — no per-group buffering. */
  def sessionizeSorted(it: Iterator[Event], gapSeconds: Long): Iterator[Session] =
    new Iterator[Session] {
      private var pending: Session = _
      private var curUser = 0L
      private var cur: SessionState = _
      private def close(): Session = {
        val s = Session(curUser, cur.sessionId, cur.nEvents, cur.startSec, cur.lastSec)
        cur = null
        s
      }
      private def advance(): Unit = {
        while (pending == null && it.hasNext) {
          val e = it.next()
          if (cur == null) {
            curUser = e.user_id
            cur = SessionState(1L, e.sec, e.sec, 1)
          } else if (e.user_id != curUser) {
            pending = close()
            curUser = e.user_id
            cur = SessionState(1L, e.sec, e.sec, 1)
          } else if (e.sec - cur.lastSec <= gapSeconds) {
            cur = cur.copy(lastSec = e.sec, nEvents = cur.nEvents + 1)
          } else {
            val next = SessionState(cur.sessionId + 1, e.sec, e.sec, 1)
            pending = close()
            cur = next
          }
        }
        if (pending == null && cur != null) pending = close()
      }
      override def hasNext: Boolean = {
        if (pending == null) advance()
        pending != null
      }
      override def next(): Session = {
        if (!hasNext) throw new NoSuchElementException("empty partition")
        val r = pending
        pending = null
        r
      }
    }

  /** Run the STREAMING sessionizer over a replay of `events` and return
    * every session — the gate path for the flatMapGroupsWithState
    * operator itself. Open sessions live in [[GroupState]] and a memory
    * sink cannot read state, so the replay appends one flush sentinel per
    * user past every real event + gap: the sentinel closes the user's
    * last real session (emitting it) and the sentinel's own 1-event
    * session is the only thing left open. Everything is written as one
    * parquet batch so the single microbatch sees a complete, sortable
    * history (the streaming fold's documented contract). */
  def sessionizedStreamComplete(spark: SparkSession, events: Dataset[Event],
      gapSeconds: Long = 1800, queryName: String = "sess_complete"): DataFrame = {
    import spark.implicits._
    val maxRow = events.agg(org.apache.spark.sql.functions.max("sec")).head()
    if (maxRow.isNullAt(0)) return spark.emptyDataset[Session].toDF()
    val maxSec = maxRow.getLong(0)
    val flush = events.select("user_id").distinct()
      .select(col("user_id"), lit(-1L).as("event_id"), lit(maxSec + gapSeconds + 1).as("sec"))
    val replay = Replay.of(events.toDF().unionByName(flush), "sess")
      .copy(schema = org.apache.spark.sql.Encoders.product[Event].schema)
    val out = EventStreams.runToCompletion(spark,
      sessionizedStream(replay.streamAll.as[Event], gapSeconds).toDF(), queryName,
      mode = "append")
    // the memory sink holds the result; the replay copy is dead weight —
    // delete it so repeated gate runs don't accumulate temp copies
    graft.core.TempPaths.clearDir(replay.dir)
    out
  }

  def eventsDataset(spark: SparkSession, dir: String): Dataset[Event] = {
    import spark.implicits._
    graft.core.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("sec")).as[Event]
  }
}
