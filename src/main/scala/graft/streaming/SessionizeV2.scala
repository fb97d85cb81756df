package graft.streaming

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** Sessionization on Spark 4's `transformWithState` arbitrary-state
  * API (the successor to flatMapGroupsWithState): typed ValueState,
  * explicit event-time timers, state TTL support. Same gap semantics
  * as [[Sessionize]] — one open session per key, closed on gap or on
  * the timer once the watermark passes lastTs + gap.
  */
object SessionizeV2 {
  import Sessionize.{DuoState, Event, Session, SessionState}

  implicit private val eventEnc: Encoder[Event] = Encoders.product[Event]
  implicit private val sessionEnc: Encoder[Session] = Encoders.product[Session]
  implicit private val longEnc: Encoder[Long] = Encoders.scalaLong

  private class SessionProcessor(gapUs: Long)
      extends StatefulProcessor[Long, Event, Session] {

    @transient private var session: ValueState[DuoState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[DuoState]("session",
        Encoders.product[DuoState], TTLConfig.NONE)

    // state times are epoch-micros (Sessionize.micros); timers are
    // epoch-MILLIS — round the expiry horizon up so a timer never fires
    // a fraction of a millisecond before lastTs + gap has truly passed
    private def expiryMs(s: SessionState): Long =
      Math.floorDiv(s.lastTs + gapUs + 999L, 1000L)

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[Session] = {
      val out = ArrayBuffer.empty[Session]
      val prior = Option(session.get())
      Sessionize.advance(gapUs, key, rows, prior, timerValues.getCurrentWatermarkInMs(), out)
        .foreach { d =>
          session.update(d)
          // one live timer per key: delete the previous expiry before
          // registering the new one — re-registering every batch without
          // cleanup accumulates a stale timer per extension, each firing
          // later just to be discarded by the expiry guard
          prior.filter(p => p.open.lastTs != d.open.lastTs)
            .foreach(p => getHandle.deleteTimer(expiryMs(p.open)))
          getHandle.registerTimer(expiryMs(d.open))
        }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
      val d = session.get()
      if (d != null && expiredTimerInfo.getExpiryTimeInMs() >= expiryMs(d.open)) {
        session.clear()
        // the stale run's horizon precedes the open session's — both
        // certainly closed; emit stale first (earlier session_start)
        (d.stale.map(Sessionize.toSession(key, _)).toSeq :+
          Sessionize.toSession(key, d.open)).iterator
      } else Iterator.empty
    }
  }

  def sessionizeStream(events: DataFrame, gapMinutes: Int,
                       watermarkDelay: String = "10 minutes"): Dataset[Session] =
    events.selectExpr("user_id", "ts", "value")
      .withWatermark("ts", watermarkDelay)
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMinutes * 60L * 1000000L),
        TimeMode.EventTime(), OutputMode.Append())
}
