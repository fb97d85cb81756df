package graft.streaming

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming sessionization: custom per-key state with
  * `flatMapGroupsWithState` (the KeyValueGroupedDataset state API the
  * batch `w4_sessionize` query mirrors).
  *
  * Semantics match the batch twin: a gap > `gapMinutes` between consecutive
  * events of a user closes the session. State is ONE open session per
  * user (bounded); event-time timeout flushes sessions whose close is
  * certain once the watermark passes lastTs + gap — so late events
  * within the watermark still extend their session, and state never
  * outlives the watermark horizon (the 100 TB requirement: state
  * proportional to ACTIVE keys, not history).
  */
object Sessionize {

  case class Event(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)
  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Long, total_value: Double)

  implicit private val eventEnc: Encoder[Event] = Encoders.product[Event]
  implicit private val stateEnc: Encoder[SessionState] = Encoders.product[SessionState]
  implicit private val duoEnc: Encoder[DuoState] = Encoders.product[DuoState]
  implicit private val sessionEnc: Encoder[Session] = Encoders.product[Session]
  implicit private val longEnc: Encoder[Long] = Encoders.scalaLong

  /** All fold-internal times are epoch MICROseconds — `Timestamp
    * .getTime` is millisecond-granular and silently truncated the
    * sub-millisecond part of Spark's microsecond event times, so
    * session_start/end disagreed with the batch twin by up to 999 µs.
    */
  private[streaming] def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  private[streaming] def toTimestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private[streaming] def toSession(userId: Long, s: SessionState): Session =
    Session(userId, toTimestamp(s.start), toTimestamp(s.lastTs), s.n, s.total)

  /** Fold one event into the open-session state, appending any session
    * it closes to `out`; returns the new open state. Shared by both
    * streaming APIs ([[Sessionize]] and [[SessionizeV2]]).
    *
    * An event merges when it lands within `gapUs` of the session SPAN
    * (start − gap … lastTs + gap) — and a late-but-admitted event may
    * extend the span BACKWARD, so `start` is min-updated. (The naive
    * `t − lastTs ≤ gap` guard folded ANY event older than the span in
    * without fixing `start`, silently corrupting session_start.) An
    * event more than a gap BEFORE the open session belongs to an
    * earlier, definitionally-closed session: it folds into a second
    * "stale open session" accumulator — consecutive stale events within
    * a gap of each other merge into ONE session, matching the batch
    * twin, rather than each becoming a singleton. The stale session
    * closes when a later stale event jumps past its gap, when it is
    * bridged into the open session, once the watermark passes its
    * horizon ([[advance]]), or at the key's event-time timeout
    * ([[DuoState]] carries it ACROSS micro-batches — only the one-shot
    * [[foldBatch]] drains it eagerly); the open session stays
    * untouched.
    *
    * Returns (open session, stale open session).
    */
  private[streaming] def foldEvent(gapUs: Long, userId: Long, e: Event,
      cur: Option[SessionState], stale: Option[SessionState],
      out: ArrayBuffer[Session]): (Option[SessionState], Option[SessionState]) = {
    val t = micros(e.ts)
    cur match {
      case Some(s) if t >= s.start - gapUs && t <= s.lastTs + gapUs =>
        // events are folded in ascending order, so no later event can be
        // stale once one merges into the open span. The merging event may
        // pull the open span's start BACKWARD to within a gap of the
        // stale run — then stale + event + open are ONE session under the
        // batch twin's consecutive-gap semantics (gap=10, open start=100,
        // events 85,89,95: 95 merges, start→95, and 89+10 ≥ 95 bridges
        // the stale {85,89} run in). Otherwise the stale run is
        // definitionally closed and flushes.
        val merged = SessionState(math.min(s.start, t), math.max(s.lastTs, t),
          s.n + 1, s.total + e.value)
        stale match {
          case Some(st) if st.lastTs + gapUs >= merged.start =>
            (Some(SessionState(math.min(st.start, merged.start), merged.lastTs,
              st.n + merged.n, st.total + merged.total)), None)
          case _ =>
            stale.foreach(st => out += toSession(userId, st))
            (Some(merged), None)
        }
      case Some(_) if t < cur.get.start - gapUs =>
        stale match {
          case Some(st) if t >= st.start - gapUs && t <= st.lastTs + gapUs =>
            (cur, Some(SessionState(math.min(st.start, t),
              math.max(st.lastTs, t), st.n + 1, st.total + e.value)))
          case Some(st) =>
            out += toSession(userId, st)
            (cur, Some(SessionState(t, t, 1, e.value)))
          case None =>
            (cur, Some(SessionState(t, t, 1, e.value)))
        }
      case Some(s) =>
        stale.foreach(st => out += toSession(userId, st))
        out += toSession(userId, s)
        (Some(SessionState(t, t, 1, e.value)), None)
      case None =>
        stale.foreach(st => out += toSession(userId, st))
        (Some(SessionState(t, t, 1, e.value)), None)
    }
  }

  /** Streaming per-key state: the open session plus the still-open
    * STALE run (late events more than a gap before the open session).
    * The stale run must live in state, not die at batch end — a late
    * run can span micro-batches (11:30 in batch 2, 11:36 in batch 3,
    * gap 10 min: the batch twin merges them into ONE session, so
    * flushing at batch end would emit two splits). It closes only when
    * superseded by a later stale run, bridged into the open session,
    * once the watermark passes its horizon, or at the key's event-time
    * timeout.
    */
  case class DuoState(open: SessionState, stale: Option[SessionState])

  /** Fold a batch of events (must be pre-sorted ascending) into the
    * (open, stale) state, emitting closed sessions to `out`; returns
    * the carried state. Shared by both streaming APIs ([[Sessionize]]
    * and [[SessionizeV2]]).
    */
  private[streaming] def foldBatchCarry(gapUs: Long, userId: Long,
      sortedEvents: Seq[Event], cur0: Option[SessionState],
      stale0: Option[SessionState],
      out: ArrayBuffer[Session]): (Option[SessionState], Option[SessionState]) = {
    var cur = cur0
    var stale = stale0
    sortedEvents.foreach { e =>
      val (c, st) = foldEvent(gapUs, userId, e, cur, stale, out)
      cur = c; stale = st
    }
    (cur, stale)
  }

  /** [[foldBatchCarry]] + drain: any stale run left at the end is
    * flushed. The single-shot convenience for callers that process ONE
    * batch with nothing after it (specs, drains) — the streaming step
    * carries the stale run in state instead.
    */
  private[streaming] def foldBatch(gapUs: Long, userId: Long,
      sortedEvents: Seq[Event], cur0: Option[SessionState],
      out: ArrayBuffer[Session]): Option[SessionState] = {
    val (cur, stale) = foldBatchCarry(gapUs, userId, sortedEvents, cur0, None, out)
    stale.foreach(st => out += toSession(userId, st))
    cur
  }

  /** One key's micro-batch, shared by both streaming processors
    * ([[Sessionize]] and [[SessionizeV2]]): fold the key's new events
    * (sorted) into its carried state, emitting closed sessions to
    * `out`, then flush the stale run if the watermark has closed it.
    * Returns the state to keep, which each processor stores and sets
    * its expiry on at the open session's horizon.
    *
    * Eager stale flush: that expiry is the OPEN session's, so a carried
    * stale run — certainly closed once the watermark passes ITS horizon
    * — would otherwise wait for the open session to close (forever, if
    * the query stops first). Emit it as soon as the watermark proves no
    * event can bridge into it. STRICT inequality in micros: an event
    * stamped exactly at the watermark is still admitted and (gap is
    * inclusive) could bridge a run whose horizon equals the watermark.
    */
  private[streaming] def advance(gapUs: Long, userId: Long, events: Iterator[Event],
      prior: Option[DuoState], watermarkMs: Long,
      out: ArrayBuffer[Session]): Option[DuoState] = {
    val (cur, stale) = foldBatchCarry(gapUs, userId,
      events.toSeq.sortBy(e => (micros(e.ts), e.value)),
      prior.map(_.open), prior.flatMap(_.stale), out)
    val closed = stale.filter(st => watermarkMs * 1000L > st.lastTs + gapUs)
    closed.foreach(st => out += toSession(userId, st))
    cur.map(DuoState(_, if (closed.isDefined) None else stale))
  }

  private def step(gapUs: Long)(
      userId: Long, events: Iterator[Event],
      state: GroupState[DuoState]): Iterator[Session] = {
    if (state.hasTimedOut) {
      // the stale run's horizon precedes the open session's, so both
      // are certainly closed once the open horizon passes; emit stale
      // first (earlier session_start)
      val d = state.get
      state.remove()
      return (d.stale.map(toSession(userId, _)).toSeq :+
        toSession(userId, d.open)).iterator
    }
    val out = ArrayBuffer.empty[Session]
    advance(gapUs, userId, events, state.getOption, state.getCurrentWatermarkMs(), out)
      .foreach { d =>
        state.update(d)
        // GroupState timeouts are epoch-MILLIS; round the micros horizon up
        state.setTimeoutTimestamp(Math.floorDiv(d.open.lastTs + gapUs + 999L, 1000L))
      }
    out.iterator
  }

  /** events(user_id, ts, value) stream → closed sessions stream.
    * @param watermarkDelay how late events may arrive and still extend
    *   their session (also bounds state lifetime).
    */
  def sessionizeStream(events: DataFrame, gapMinutes: Int,
                       watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    val gapUs = gapMinutes * 60L * 1000000L
    events.selectExpr("user_id", "ts", "value")
      .withWatermark("ts", watermarkDelay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DuoState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(step(gapUs))
  }
}
