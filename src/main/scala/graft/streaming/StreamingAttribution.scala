package graft.streaming

import org.apache.spark.sql.DataFrame

/**
 * Streaming last-touch attribution — the continuous twin of
 * [[graft.queries.TemporalQueries.lastTouchAttribution]]: as events
 * arrive, each `creditType` event is emitted append-mode the moment
 * it happens, credited to the user's most recent strictly-preceding
 * non-credit event (null touch for a first-event purchase). An
 * attributed purchase never changes retroactively, so the feed is
 * append-safe by construction; grouping it by touch type reproduces
 * the batch operator's (n_purchases, Σ micro-unit revenue) exactly
 * (StreamingSpec, across a micro-batch boundary).
 *
 * State per user is ONE string (the last touch type) — O(1)
 * regardless of stream lifetime, the [[StreamingPaths]] posture.
 * Within a batch, rows sort by (ts, event_id) — the batch tie rule;
 * across batches the stream must be event-time ordered per user (the
 * detector in-order contract; route through [[StreamingReorder]] for
 * unruly feeds).
 */
object StreamingAttribution {

  private type Row = (Long, java.sql.Timestamp, Long, String, Option[Long])

  final case class Attributed(user_id: Long, touch_type: Option[String], yu: Option[Long])

  /** `events` must carry (user_id, ts, event_id, event_type, yu)
    * where yu is the q6-quantized integer micro-unit value (null for
    * NaN/null values — the batch operator's quantization). Returns
    * the append-mode attributed-purchase feed. */
  def lastTouch(events: DataFrame, creditType: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    OrderedFold(events.select("user_id", "ts", "event_id", "event_type", "yu").as[Row])(
      _._1, _._2, _._3)(
      (uid: Long, rows: Iterator[(Long, Row)], prev: Option[String]) => {
        var touch = prev
        val out = Array.newBuilder[Attributed]
        rows.foreach { case (_, (_, _, _, typ, yu)) =>
          if (typ == creditType) out += Attributed(uid, touch, yu)
          else touch = Some(typ)
        }
        (touch, out.result().iterator)
      }).toDF()
  }
}
