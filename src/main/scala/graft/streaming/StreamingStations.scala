package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Station-stream plumbing: the accumulated→increment conversion
 * (`accum.diff()`, metevents/events.py:165) under streaming. The batch
 * path is a per-series `lag` window ([[graft.sources.StationSources
 * .fromStation]]); a stream cannot sort-shuffle per trigger, so the
 * last seen accumulation per series is O(1) state in an
 * [[OrderedFold]] carried across micro-batches.
 *
 * Same ordering contract as the stateful detectors
 * ([[StreamingDetectors]]): rows are sorted by event time (full µs)
 * within each micro-batch, and batches arrive in event-time order per
 * series — true for the station micro-batch source, whose offsets
 * advance a closed event-time window per trigger.
 *
 * Output matches the batch adapter: (series_id, ts, value) with a null
 * value on each series' first observation (pandas `diff()` head NaN).
 */
object StreamingStations {

  private type Row = (String, java.sql.Timestamp, Option[Double])

  /** The previous observation's accumulation for one series (None when
    * that observation was itself missing — pandas diff propagates NaN). */
  final case class AccumState(lastAccum: Option[Double])

  /** (station_id, ts, accum) stream → (series_id, ts, value) increments. */
  def increments(accum: DataFrame): DataFrame = {
    val spark = accum.sparkSession
    import spark.implicits._

    OrderedFold(accum.select(col("station_id"), col("ts"), col("accum")).as[Row])(
      _._1, _._2)(
      (sid: String, rows: Iterator[(Long, Row)], state: Option[AccumState]) => {
        var prev = state.flatMap(_.lastAccum)
        var seen = state.isDefined
        val out = rows.map { case (_, (_, ts, a)) =>
          // pandas diff: current − previous ROW's value; a missing
          // neighbor on either side yields a missing diff
          val diff: Option[Double] =
            if (!seen) None else for (c <- a; p <- prev) yield c - p
          seen = true
          prev = a
          (sid, ts, diff)
        }.toArray
        (Some(AccumState(prev)), out.iterator)
      })
      .toDF("series_id", "ts", "value")
  }
}
