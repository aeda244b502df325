package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** Streaming gap-sessionization per user — the stateful online twin
  * of batch `q2b_sessionize` (ref `dashboard/analytics.py` computes
  * sessions in hindsight from a day's frame; the gate's batch shape
  * is the nested-window gaps-and-islands in `RelationalOps`).
  * Same contract, expressed as it must be at 100 TB of unbounded
  * input: per-user state is ONE open-session summary (index, start,
  * last, count, cents sum) — never the events themselves — so state
  * size tracks ACTIVE users, not history.
  *
  * Semantics pinned to q2b exactly:
  *   - a gap strictly greater than the 30-minute threshold closes the
  *     session (an exactly-30-minute gap continues it — q2b's `>`;
  *     the native-session_window gate q2k pins the `>=` variant);
  *   - session_idx is the 1-based running new-session count per user;
  *   - duration_us = last − first in integer µs; value sums are
  *     integer cents (the house grid), so every emitted row is
  *     bit-reproducible against the batch composition.
  *
  * A session is emitted when it CLOSES: either a row arrives beyond
  * the gap (emit inline, open the next), or the event-time watermark
  * passes last + gap and the session's timer fires (no in-order event
  * can extend it any more — the DebounceStream timer-GC discipline,
  * one live timer per user, superseded on every extension). The timer
  * flush is what makes the stream's output EQUAL the batch result on
  * a bounded replay instead of "equal minus each user's final open
  * session". Timers are ms-granularity: the fire point rounds up to
  * the next whole ms past last + gap, conservative by < 1 ms (an
  * event landing inside that sliver is still merged, never split —
  * stated; sub-ms boundary events cannot split a session, only delay
  * its flush).
  *
  * Ordering: rows within a micro-batch sort by (ts, event_id) before
  * the fold (the CusumStream discipline); across batches the fold
  * resumes from state, so under in-order-per-key delivery the stream
  * replays the batch fold exactly — SessionStreamSpec pins parity
  * against a driver-side reference across a batch boundary, timer
  * flush included. */
object SessionStream {

  case class Ev(user_id: Long, event_id: Long, value_cents: Long,
      event_ts: Timestamp)
  case class SessionOut(user_id: Long, session_idx: Long, n_events: Long,
      duration_us: Long, sum_cents: Long)

  /** Open-session summary: the whole per-user state. */
  case class Open(idx: Long, startUs: Long, lastUs: Long, n: Long,
      cents: Long)

  private def timerMsFor(lastUs: Long, gapUs: Long): Long =
    (lastUs + gapUs) / 1000L + 1L

  class SessionProcessor(gapUs: Long)
      extends StatefulProcessor[Long, Ev, SessionOut] {

    @transient private var open: ValueState[Open] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[Open]("open",
        Encoders.product[Open], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toArray.sortBy(e =>
        (EventTime.micros(e.event_ts), e.event_id))
      val out = Array.newBuilder[SessionOut]
      var cur = if (open.exists()) Option(open.get()) else None
      val before = cur
      for (e <- sorted) {
        val tUs = EventTime.micros(e.event_ts)
        cur match {
          case Some(s) if tUs - s.lastUs <= gapUs =>
            // inside the gap (q2b: strictly-greater closes) — extend;
            // max() keeps state monotone under an intra-batch tie
            cur = Some(s.copy(lastUs = math.max(s.lastUs, tUs),
              n = s.n + 1, cents = s.cents + e.value_cents))
          case Some(s) =>
            out += SessionOut(key, s.idx, s.n, s.lastUs - s.startUs, s.cents)
            cur = Some(Open(s.idx + 1, tUs, tUs, 1L, e.value_cents))
          case None =>
            cur = Some(Open(1L, tUs, tUs, 1L, e.value_cents))
        }
      }
      for (s <- cur) {
        if (before.map(_.lastUs) != Some(s.lastUs)) {
          // supersede the flush timer: one live timer per user (an
          // exact-tie row moves n/cents but not lastUs — timer stands)
          for (b <- before) getHandle.deleteTimer(timerMsFor(b.lastUs, gapUs))
          getHandle.registerTimer(timerMsFor(s.lastUs, gapUs))
        }
        open.update(s)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        timer: ExpiredTimerInfo): Iterator[SessionOut] = {
      // guard: only flush if this timer is the LIVE one for the state
      // (a superseded timer can expire in the batch that replaced it)
      if (open.exists()) {
        val s = open.get()
        if (timer.getExpiryTimeInMs() == timerMsFor(s.lastUs, gapUs)) {
          open.clear()
          return Iterator.single(
            SessionOut(key, s.idx, s.n, s.lastUs - s.startUs, s.cents))
        }
      }
      Iterator.empty
    }
  }

  /** Closed-session rollups for an event stream, 30-minute gap
    * (q2b's constant). */
  def sessions(events: Dataset[Ev], gapUs: Long = 1800000000L,
      watermarkDelay: String = "10 seconds"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("event_ts", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
