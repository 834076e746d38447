package graft.streaming

import org.apache.spark.sql.streaming.GroupState

/** Streaming twin of [[graft.operators.Sessionize.trainingPairs]]: emit the
  * autoregressive (input → target) next-event pairs of each session when
  * the session CLOSES (gap exceeded or event-time timeout) — the live
  * version of the sequential-recommendation data builder.
  *
  * Emission-on-close is the load-bearing design choice: pairs inside an
  * OPEN session are not final (a late-but-within-watermark event can land
  * BETWEEN two already-seen events and change the adjacency), and append
  * mode cannot retract. Buffering the open session and pairing at close
  * makes the streamed output exactly the batch pairs of the same events,
  * robust to any within-watermark reordering. State per (user) is the open
  * session's event buffer — bounded by session length (sessions are
  * gap-bounded by construction), the same envelope
  * [[graft.operators.Sessionize.sessionFn]] already carries for its
  * min/max/sum state.
  *
  * Scale shape: one stateful shuffle by user_id (Spark's
  * flatMapGroupsWithState physics), per-group work linear in the open
  * session's buffer. Watermark semantics mirror sessionFn: pre-watermark
  * events are dropped (folding one in could resurrect a closed session),
  * and the timeout is clamped strictly above the current watermark.
  */
object StreamPairs {

  import graft.operators.Sessionize.GapMinutes

  case class PEv(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      event_type: String)
  /** Open-session buffer: (epoch-ms, event_id, event_type) triples. */
  case class PairState(evs: List[(Long, Long, String)])
  case class PairOut(user_id: Long, session_start_ms: Long, step: Long,
      input_event: String, target_event: String)

  /** Pairs of one closed session: events sorted by (ts, event_id), adjacent
    * (input, target) with a 1-based step — the batch query's window order
    * and LEAD, replayed in-memory on the bounded buffer. */
  private def closeOut(userId: Long, s: PairState): List[PairOut] = {
    val sorted = s.evs.sortBy(e => (e._1, e._2))
    if (sorted.isEmpty) Nil
    else {
      val start = sorted.head._1
      sorted.zip(sorted.tail).zipWithIndex.map { case ((a, b), i) =>
        PairOut(userId, start, (i + 1).toLong, a._3, b._3)
      }
    }
  }

  /** Stateful pair builder — the [[graft.operators.Sessionize.sessionFn]]
    * skeleton with an event buffer instead of running aggregates. */
  def pairsFn(userId: Long, events: Iterator[PEv],
      state: GroupState[PairState]): Iterator[PairOut] = {
    val wm = state.getCurrentWatermarkMs()
    val sorted = events.toSeq.filter(_.ts.getTime >= wm)
      .sortBy(e => (e.ts.getTime, e.event_id))
    var out = List.empty[List[PairOut]]
    if (state.hasTimedOut) {
      state.getOption.foreach { s => out ::= closeOut(userId, s) }
      state.remove()
      return out.flatten.iterator
    }
    var cur = state.getOption
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if s.evs.nonEmpty
            && t - s.evs.map(_._1).max <= GapMinutes * 60000L =>
          cur = Some(PairState((t, e.event_id, e.event_type) :: s.evs))
        case Some(s) =>
          out ::= closeOut(userId, s)
          cur = Some(PairState(List((t, e.event_id, e.event_type))))
        case None =>
          cur = Some(PairState(List((t, e.event_id, e.event_type))))
      }
    }
    cur.foreach { s =>
      state.update(s)
      // clamp above the watermark — Spark rejects a timeout ≤ watermark
      // (the sessionFn lesson)
      state.setTimeoutTimestamp(
        math.max(s.evs.map(_._1).max + GapMinutes * 60000L, wm + 1))
    }
    out.reverse.flatten.iterator
  }
}
