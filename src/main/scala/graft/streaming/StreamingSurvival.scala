package graft.streaming

import org.apache.spark.sql.DataFrame

/**
 * Streaming Kaplan–Meier conversion feed — the continuous twin of
 * [[graft.queries.TemporalQueries.kaplanMeier]]: as events arrive,
 * each user's CONVERSION duration (exact integer days from their
 * first `originType` event to the first `eventType` event at or
 * after it) is emitted append-mode the moment it happens. The
 * right-censored tail (users who have not converted) is deliberately
 * NOT emitted — a user's censoring time moves with every later event,
 * so it can never finalize under append mode; it is exactly what the
 * batch operator (or a state-store query over the per-user state)
 * owns in the lambda layout, the [[StreamingScd]] open-version
 * posture. Grouping the emitted feed by day reproduces the batch
 * curve's `n_events` column exactly (StreamingSpec), and the full
 * curve (n_risk / surv6) is one horizon-bounded fold over
 * (feed ∪ censored-state) — the same day-step frame the batch fold
 * runs on.
 *
 * State per user is O(1) regardless of stream lifetime: the origin
 * timestamp (micros) once seen, plus a converted flag (state stops
 * updating after conversion). Within a batch, rows sort by
 * (ts, event_id) — the batch tie rule; ACROSS batches the stream
 * must be event-time ordered per user (the detector in-order
 * contract — route through [[StreamingReorder]] for unruly feeds):
 * a late origin event cannot retroactively lower an already-emitted
 * duration in append mode.
 */
object StreamingSurvival {

  private type Row = (Long, java.sql.Timestamp, Long, String)

  final case class Conversion(user_id: Long, day: Long)

  /** `pendingUs`: the timestamp of the most recent `eventType` event
    * seen BEFORE any origin — the batch operator's `te = min event ts
    * >= t0` counts a conversion sharing the origin's exact instant
    * even when it SORTS before the origin (smaller event_id), so the
    * in-order stream must remember it. Only the latest pending
    * timestamp can ever qualify (event time is non-decreasing under
    * the in-order contract, so a qualifying pending event has
    * us == t0 == the max seen so far) — O(1) state. */
  final case class SurvivalState(
      t0Us: Long, converted: Boolean, pendingUs: Long)

  /** `events` must carry (user_id, ts, event_id, event_type); returns
    * the append-mode (user_id, day) conversion feed. */
  def conversions(
      events: DataFrame, originType: String, eventType: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    OrderedFold(events.select("user_id", "ts", "event_id", "event_type").as[Row])(
      _._1, _._2, _._3)(
      (uid: Long, rows: Iterator[(Long, Row)], prev: Option[SurvivalState]) => {
        var st = prev.getOrElse(SurvivalState(Long.MinValue, false, Long.MinValue))
        val out = Array.newBuilder[Conversion]
        def emit(deltaUs: Long): Unit = {
          // exact integer days — the batch floor(Δus / 86400e6)
          out += Conversion(uid,
            math.floor(deltaUs.toDouble / 86400000000.0).toLong)
          st = st.copy(converted = true)
        }
        rows.foreach { case (us, (_, _, _, typ)) =>
          if (!st.converted) {
            if (st.t0Us == Long.MinValue) {
              if (typ == originType) {
                st = st.copy(t0Us = us)
                // a same-instant conversion that SORTED before this
                // origin still qualifies (batch: te = min ts >= t0)
                if (st.pendingUs == us) emit(0L)
              } else if (typ == eventType) st = st.copy(pendingUs = us)
            } else if (typ == eventType && us >= st.t0Us) {
              emit(us - st.t0Us)
            }
          }
        }
        (Option.when(st.t0Us != Long.MinValue || st.pendingUs != Long.MinValue)(st),
          out.result().iterator)
      }).toDF()
  }
}
