package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.operators.TimeMicros

/**
 * Streaming SCD2 history — the continuous twin of
 * [[graft.queries.TemporalQueries.scd2History]]: as change events
 * arrive, each user's CLOSED versions are emitted append-mode the
 * moment a new attribute value opens the next one. The open (current)
 * version lives in state and is deliberately NOT emitted — append
 * mode cannot retract, and the current row is exactly what the batch
 * operator (or a `state`-store query) owns in the lambda layout; the
 * emitted feed is spec-proven row-equal to the batch history's
 * `is_current = false` slice on a replayed corpus (StreamingSpec).
 *
 * State per user is ONE open version: (type, version number,
 * valid_from micros, event count) — O(1) regardless of stream
 * lifetime, the [[StreamingPaths]] posture. Within a batch, rows sort
 * by full-microsecond (ts, event_id) — the batch tie rule.
 */
object StreamingScd {

  private type Row = (Long, java.sql.Timestamp, Long, String)

  final case class ClosedVersion(
      user_id: Long, version: Long, event_type: String,
      valid_from: java.sql.Timestamp, valid_to: java.sql.Timestamp,
      n_events: Long)

  final case class OpenVersion(
      typ: String, version: Long, fromUs: Long, nEvents: Long)

  /** `events` must carry (user_id, ts, event_id, event_type); returns
    * the append-mode closed-version feed. */
  def scd2Closed(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    OrderedFold(events.select("user_id", "ts", "event_id", "event_type").as[Row])(
      _._1, _._2, _._3)(
      (uid: Long, rows: Iterator[(Long, Row)], prev: Option[OpenVersion]) => {
        val out = Array.newBuilder[ClosedVersion]
        var open = prev
        rows.foreach { case (us, (_, _, _, typ)) =>
          open = Some(open match {
            case None => OpenVersion(typ, 1L, us, 1L)
            case Some(o) if o.typ == typ => o.copy(nEvents = o.nEvents + 1L)
            case Some(o) =>
              // the arriving change closes the open version at ITS
              // timestamp (the batch lead(valid_from) semantics)
              out += ClosedVersion(uid, o.version, o.typ,
                TimeMicros.timestamp(o.fromUs), TimeMicros.timestamp(us), o.nEvents)
              OpenVersion(typ, o.version + 1L, us, 1L)
          })
        }
        (open, out.result().iterator)
      }).toDF()
  }
}
