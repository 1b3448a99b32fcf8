package graft

/** One detected event, the Spark analog of the reference's period
  * objects (metevents/periods.py:1-48): start/stop/duration plus the
  * NaN-skipping total of CumulativePeriod. */
case class Event(
    series_id: String,
    event_type: String,
    start: java.sql.Timestamp,
    stop: java.sql.Timestamp,
    duration_us: Long,
    n_points: Long,
    total: Option[Double])

/** One canonical time-series point. */
case class TsPoint(series_id: String, ts: java.sql.Timestamp, value: Option[Double])
