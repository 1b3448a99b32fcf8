package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.TimeMicros

/**
 * The per-key, event-time-ordered stateful fold every ordered
 * streaming twin runs (the detectors' `group_condition_by_time` walk,
 * metevents/events.py:39-47, as a `flatMapGroupsWithState` fold —
 * SURVEY §7.1). One place owns the three steps each handler used to
 * repeat:
 *
 *  - `groupByKey(key)`, then `flatMapGroupsWithState` in Append mode
 *    with no timeout;
 *  - the in-batch order: full event-time microseconds
 *    ([[TimeMicros.micros]] — `getTime` alone is milliseconds and
 *    would let same-millisecond rows keep arrival order), then the
 *    `tie` key (`event_id`, or the as-of join's side), then arrival
 *    order (the sort is stable);
 *  - the state protocol: the step's `Some(s)` becomes the key's state,
 *    `None` removes it if it exists.
 *
 * The step sees each row with its event time in epoch µs and must
 * build its output eagerly: the state is written before the returned
 * iterator is read.
 *
 * Ordering contract (every caller's): rows arrive in event-time order
 * per key ACROSS micro-batches — in-batch disorder is sorted away here;
 * general feeds chain [[StreamingReorder.reorderByEventTime]] first.
 */
private[graft] object OrderedFold {

  def apply[R, K: Encoder, S: Encoder, O: Encoder](rows: Dataset[R])(
      key: R => K,
      ts: R => java.sql.Timestamp,
      tie: R => Long = (_: R) => 0L)(
      step: (K, Array[(Long, R)], Option[S]) => (Option[S], Iterator[O])): Dataset[O] =
    rows.groupByKey(key).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (k: K, it: Iterator[R], state: GroupState[S]) => {
        val (next, out) = step(k, ordered(it, ts, tie), state.getOption)
        next match {
          case Some(s) => state.update(s)
          case None => if (state.exists) state.remove()
        }
        out
      })

  /** Rows paired with their event µs, sorted by (µs, tie); TimSort is
    * stable, so full ties keep arrival order. */
  private def ordered[R](
      it: Iterator[R], ts: R => java.sql.Timestamp, tie: R => Long): Array[(Long, R)] = {
    val timed = it.map(r => (TimeMicros.micros(ts(r)), r)).toArray
    java.util.Arrays.sort(timed, new java.util.Comparator[(Long, R)] {
      def compare(a: (Long, R), b: (Long, R)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c else java.lang.Long.compare(tie(a._2), tie(b._2))
      }
    })
    timed
  }
}
