package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TsPoint

/**
 * Spikes and valleys — SpikeValleyEvent (metevents/events.py:168-248):
 * scipy-style find_peaks on the series and on its sign-flip, a painted
 * mask of ±width samples around each kept midpoint, then contiguous
 * flagged runs become events.
 *
 * Spark shape (SURVEY.md §3.3): the peak kernel is an inherently
 * sequential per-series scan, so it runs inside the run detectors'
 * batch fold ([[graft.streaming.OrderedFold.batch]]) over the
 * detector's one `series_id` exchange ([[Kernels.bySeries]]): Spark
 * sorts each partition by (series_id, ts), then the series run in
 * parallel. The kernel buffers one series in memory; this assumes a
 * single series fits an executor (station data: years × daily ≈
 * 10³–10⁴ points — SURVEY.md §7.4.7). At 100 TB the frame holds
 * millions of series, so the grouping parallelizes across the cluster;
 * no driver collect anywhere. The mask's flagged runs become events
 * through d6's step ([[RunFolds.runs]]) and its end-of-input close.
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
    val flaggedRuns = RunFolds.runs(eventType)
    foldRuns(ts.select(col("series_id"), col("ts"), col("value")).as[TsPoint])(_.ts)(
      RunFolds.RunFold[TsPoint, RunFolds.RunState]((sid, it, _) => {
        val rows = it.toArray
        val mask = FindPeaks.spikeValleyMask(rows.map(_._2.value.getOrElse(Double.NaN)), params)
        // contiguous flagged runs → events (group_condition_by_time,
        // metevents/events.py:189-197); totals skip NaN
        flaggedRuns.step(sid, rows.iterator.zip(mask).map { case ((us, p), m) =>
          (us, (sid, p.ts, p.value.filterNot(_.isNaN), m))
        }, None)
      }, flaggedRuns.close))
  }
}
