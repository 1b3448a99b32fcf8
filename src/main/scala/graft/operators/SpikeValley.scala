package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.Event

/**
 * Spikes and valleys — SpikeValleyEvent (metevents/events.py:168-248):
 * scipy-style find_peaks on the series and on its sign-flip, a painted
 * mask of ±width samples around each kept midpoint, then contiguous
 * flagged runs become events.
 *
 * Spark shape (SURVEY.md §3.3): the peak kernel is an inherently
 * sequential per-series scan, so it runs inside a column-keyed
 * `groupBy(series_id).as[..].flatMapSortedGroups(ts)` over the
 * detector's one `series_id` exchange ([[Kernels.bySeries]]): Spark
 * sorts each partition by (series_id, ts), then the groups run in
 * parallel across series. (A lambda key, `groupByKey(_._1)`, would plan
 * an `AppendColumns` and its own second exchange.) The kernel buffers
 * one series in memory; this assumes a single series fits an executor
 * (station data: years × daily ≈ 10³–10⁴ points — SURVEY.md §7.4.7).
 * At 100 TB the frame holds millions of series, so the grouping
 * parallelizes across the cluster; no driver collect anywhere.
 *
 * Events carry n_points (all samples in the span) and the NaN-skipping
 * total as our EventFrame extension (the reference's BaseTimePeriod has
 * no total — periods.py:1-32).
 */
case class SpikeValleyEvents(
    height: Option[Double] = None,
    threshold: Option[Double] = None,
    prominence: Option[Double] = Some(100.0),
    widthMin: Double = 0.0,
    widthMax: Double = 3.0)
    extends Detector {

  val eventType = "spike_valley"

  protected def detectBySeries(ts: DataFrame): DataFrame = {
    val params = FindPeaks.Params(height, threshold, prominence, widthMin, widthMax)
    val spark = ts.sparkSession
    import spark.implicits._

    ts.select(col("series_id"), col("ts"), col("value"))
      .groupBy(col("series_id"))
      .as[String, graft.TsPoint]
      .flatMapSortedGroups(col("ts")) { (sid, it) =>
        val rows = it.toArray
        val xs = rows.map(_.value.getOrElse(Double.NaN))
        val mask = FindPeaks.spikeValleyMask(xs, params)
        // contiguous flagged runs → events (group_condition_by_time,
        // metevents/events.py:189-197)
        val out = Array.newBuilder[Event]
        var i = 0
        while (i < mask.length) {
          if (mask(i)) {
            var j = i
            while (j + 1 < mask.length && mask(j + 1)) j += 1
            var total = 0.0
            var any = false
            var k = i
            while (k <= j) {
              val v = xs(k)
              if (!v.isNaN) { total += v; any = true }
              k += 1
            }
            val start = rows(i).ts
            val stop = rows(j).ts
            out += Event(sid, eventType, start, stop,
              TimeMicros.micros(stop) - TimeMicros.micros(start),
              (j - i + 1).toLong, if (any) Some(total) else None)
            i = j + 1
          } else i += 1
        }
        out.result().iterator
      }(Encoders.product[Event])
      .toDF()
  }
}


