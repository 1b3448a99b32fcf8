package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.TimeMicros

/**
 * The per-key, event-time-ordered fold every ordered detector and
 * streaming twin runs (the detectors' `group_condition_by_time` walk,
 * metevents/events.py:39-47). One step, two drivers (SURVEY §7.1:
 * one operator body, run as a batch job and incrementally):
 *
 *  - [[apply]], the stream: `groupByKey(key)`, then
 *    `flatMapGroupsWithState` in Append mode with no timeout. Each
 *    micro-batch's rows are ordered by full event-time microseconds
 *    ([[TimeMicros.micros]] — `getTime` alone is milliseconds and
 *    would let same-millisecond rows keep arrival order), then the
 *    `tie` key (`event_id`, or the as-of join's side), then arrival
 *    order (the sort is stable). The step's `Some(s)` becomes the
 *    key's state, `None` removes it if it exists.
 *  - [[batch]], the batch job: `groupBy(col(key)).as[K, R]
 *    .flatMapSortedGroups(col("ts"))` over a frame already partitioned
 *    by `key` ([[graft.operators.Kernels.bySeries]]), so a sort and no
 *    exchange. Each key's rows stream through the step once, from no
 *    state; `close` then emits what the final state still holds (the
 *    open run a never-ending stream withholds). Rows that share a
 *    timestamp have no defined order.
 *
 * The step sees rows with their event time in epoch µs. A step with
 * state to carry builds its output eagerly: the state is written
 * before the returned iterator is read. Streaming callers feed rows in
 * event-time order per key ACROSS micro-batches (in-batch disorder is
 * sorted away here); general feeds chain
 * [[StreamingReorder.reorderByEventTime]] first.
 */
private[graft] object OrderedFold {

  def apply[R, K: Encoder, S: Encoder, O: Encoder](rows: Dataset[R])(
      key: R => K,
      ts: R => java.sql.Timestamp,
      tie: R => Long = (_: R) => 0L)(
      step: (K, Iterator[(Long, R)], Option[S]) => (Option[S], Iterator[O])): Dataset[O] =
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

  def batch[R, K: Encoder, S, O: Encoder](rows: Dataset[R], key: String)(
      ts: R => java.sql.Timestamp)(
      step: (K, Iterator[(Long, R)], Option[S]) => (Option[S], Iterator[O]),
      close: (K, S) => Iterator[O] = (_: K, _: S) => Iterator.empty): Dataset[O] =
    rows.groupBy(col(key)).as[K, R](implicitly[Encoder[K]], rows.encoder)
      .flatMapSortedGroups(col("ts")) { (k, it) =>
        val (last, out) = step(k, it.map(r => (TimeMicros.micros(ts(r)), r)), None)
        out ++ last.iterator.flatMap(close(k, _))
      }

  /** Rows paired with their event µs, sorted by (µs, tie); TimSort is
    * stable, so full ties keep arrival order. */
  private def ordered[R](
      it: Iterator[R], ts: R => java.sql.Timestamp, tie: R => Long): Iterator[(Long, R)] = {
    val timed = it.map(r => (TimeMicros.micros(ts(r)), r)).toArray
    java.util.Arrays.sort(timed, new java.util.Comparator[(Long, R)] {
      def compare(a: (Long, R), b: (Long, R)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c else java.lang.Long.compare(tie(a._2), tie(b._2))
      }
    })
    timed.iterator
  }
}
