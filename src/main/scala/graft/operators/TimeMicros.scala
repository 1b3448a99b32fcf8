package graft.operators

/**
 * Full-precision `java.sql.Timestamp` ↔ epoch-micros conversion — the
 * ONE definition every Scala-space event-time sort, duration and
 * emitted bound goes through ([[graft.streaming.OrderedFold]], the
 * per-series batch kernels, the station scan's pushed bounds).
 *
 * `Timestamp.getTime` is millisecond-resolution while the canonical
 * frame carries microseconds (after the ns→µs ingest floor), so a
 * getTime-only conversion silently truncates sub-ms event times: rows
 * inside one millisecond keep arrival order and durations lose their
 * sub-ms part.
 */
private[graft] object TimeMicros {

  /** Epoch micros, including the sub-millisecond fraction. */
  def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  /** Inverse: seconds land via the millis ctor (which normalizes
    * negative epochs), then the full within-second fraction through
    * `setNanos`. */
  def timestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
