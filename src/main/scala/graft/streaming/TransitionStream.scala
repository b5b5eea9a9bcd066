package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful transition extraction — the streaming half of the x135
  * contract ([[EventStreams.sessionTransitions]]): per-user state holds
  * only the LAST event (type + epoch + a tiebreak id); each arrival past
  * it emits the (prev, next) pair if the gap is inside the session
  * window, then replaces the state. The x135 matrix/lift finishing
  * arithmetic runs ON READ over the emitted pair stream (a
  * |types|²-sized aggregation at any volume) — the same split as the
  * burst monitor (AnomalyOps.hourlyCounts on a stream): pure-append pair extraction in the
  * stream, window margins on the bounded read side.
  *
  * State is one record per active user and expires via event-time
  * timeout once the watermark passes lastTs+gap — an idle user costs
  * nothing forever. In-batch ordering uses (ts, event_id), the exact
  * tiebreak the batch window uses, so stream == batch pairs
  * (TransitionStreamSpec pins it).
  *
  * CROSS-batch disorder (an event arriving in a later micro-batch with
  * a ts older than the stored last event — legal inside the watermark)
  * can NOT be reordered from one-record state: the chronological
  * neighbor it belongs between is already gone. The contract under
  * disorder is therefore: (a) never emit an inverted pair — the gap
  * guard is `0 ≤ gap ≤ gapSec`, and a stale arrival emits the forward
  * pair (stored → stale is impossible, stale → stored is already
  * emitted history, so it emits nothing); (b) never REGRESS the state —
  * it only advances when the arrival is (epoch, event_id)-greater, so
  * subsequent pairings key off the chronologically latest event, as
  * batch does. Stale arrivals may thus MISS pairs the batch twin finds
  * (their true predecessor is no longer held); exact batch parity under
  * disorder requires buffering events until the watermark passes them
  * (a per-user min-heap in state), which trades state size for it —
  * x137's disorder profile is the read that sizes that decision.
  */
object TransitionStream {

  final case class EvIn(user_id: Long, event_id: Long, event_type: String,
                        ts: Timestamp)
  final case class LastEvent(epoch: Long, eventId: Long, eventType: String)
  final case class Transition(user_id: Long, prev_type: String,
                              next_type: String)

  def transitions(events: Dataset[EvIn], gapMinutes: Int = 30,
                  watermark: String = "1 hour"): Dataset[Transition] = {
    val gapSec = gapMinutes * 60L
    implicit val stateEnc = Encoders.product[LastEvent]
    implicit val outEnc = Encoders.product[Transition]
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[EvIn], state: GroupState[LastEvent]) => {
          if (batch.isEmpty && state.hasTimedOut) {
            // the watermark passed lastTs+gap: nothing after this event
            // can pair with it — drop the state, emit nothing
            state.remove()
            Iterator.empty
          } else {
            val out = Seq.newBuilder[Transition]
            var last = state.getOption
            batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val epoch = e.ts.getTime / 1000
              // 0 ≤ gap: a cross-batch stale arrival (older than the
              // stored event, negative gap) must not emit an inverted
              // pair the batch twin (lag over ts order, gap ≥ 0 by
              // construction) can never produce
              def after(p: LastEvent): Boolean =
                epoch > p.epoch || (epoch == p.epoch && e.event_id > p.eventId)
              last.foreach { p =>
                if (after(p) && epoch - p.epoch <= gapSec)
                  out += Transition(userId, p.eventType, e.event_type)
              }
              // advance-only state: regressing to a stale arrival would
              // corrupt every subsequent pairing (prev = an event that
              // is not the chronological latest)
              if (last.forall(after))
                last = Some(LastEvent(epoch, e.event_id, e.event_type))
            }
            last.foreach { p =>
              state.update(p)
              state.setTimeoutTimestamp((p.epoch + gapSec) * 1000 + 1)
            }
            out.result().iterator
          }
        })
  }
}
