package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Kernels._

/** Common shape: a detector is a lazy DataFrame → DataFrame transform
  * from the canonical TimeSeriesFrame to the EventFrame (SURVEY.md §1.3).
  * Each corresponds to one reference detector class; thresholds mirror
  * the reference's `find(**kwargs)` defaults. */
trait Detector extends Serializable {
  def eventType: String

  /** The detector body over a frame already hash-partitioned by
    * `series_id` ([[Kernels.bySeries]]): its windows, groupings and
    * folds run on every shuffle partition without another exchange. */
  protected def detectBySeries(ts: DataFrame): DataFrame

  final def detect(ts: DataFrame): DataFrame = detectBySeries(bySeries(ts))

  /** Typed view — the engine's analog of the reference's `.events`
    * list (metevents/events.py:24-26), still lazy/distributed. */
  def events(ts: DataFrame): org.apache.spark.sql.Dataset[graft.Event] = {
    val spark = ts.sparkSession
    import spark.implicits._
    detect(ts).as[graft.Event]
  }

  /** Event count — the reference's `.N` (metevents/events.py:28-30);
    * an action. */
  def n(ts: DataFrame): Long = detect(ts).count()
}

/**
 * Values outside an expected range — ExtremeValueEvent
 * (metevents/events.py:333-358): mask `(v > max) | (v < min)`, group
 * contiguous runs, emit every group.
 */
case class ExtremeValueEvents(expectedMax: Double = 600.0, expectedMin: Double = 0.0)
    extends Detector {
  val eventType = "extreme_value"
  protected def detectBySeries(ts: DataFrame): DataFrame = {
    // nanToNull first: pandas NaN-compare is False (events.py:345); a raw
    // Spark NaN orders greater than any numeric and would flag as extreme.
    val v = nanToNull(col("value"))
    val flagged = withRunId(ts, v > expectedMax || v < expectedMin)
    assembleEvents(flagged, eventType)
  }
}

/**
 * Flat-lined data — FlatLineEvent (metevents/events.py:301-330):
 * mask `abs(diff) <= slope_thresh` on the first difference (first row's
 * diff is missing → false, matching pandas NaN-compare), keep runs with
 * at least `minLen` flagged points. Note the event starts at the SECOND
 * sample of a flat run (diff compares to the predecessor) — golden:
 * flat run starting Jan-11 yields an event starting Jan-12
 * (tests/test_events.py:260-268).
 */
case class FlatLineEvents(minLen: Long = 5L, slopeThresh: Double = 0.0) extends Detector {
  val eventType = "flat_line"
  protected def detectBySeries(ts: DataFrame): DataFrame = {
    val d = withLagDiff(ts)
    val flagged = withRunId(d, abs(col("diff")) <= slopeThresh)
    assembleEvents(flagged, eventType, minPoints = minLen)
  }
}

/**
 * Excessive rate of change — ExtremeChangeEvent
 * (metevents/events.py:361-411): mask `diff >= pos OR diff <= neg`,
 * either threshold optional (at least one required,
 * events.py:383-385), keep runs of at least `minLen` points.
 */
case class ExtremeChangeEvents(
    minLen: Long = 1L,
    positiveSlopeThresh: Option[Double] = None,
    negativeSlopeThresh: Option[Double] = Some(-3.0))
    extends Detector {
  require(
    positiveSlopeThresh.isDefined || negativeSlopeThresh.isDefined,
    "One slope threshold must be provided")
  val eventType = "extreme_change"
  protected def detectBySeries(ts: DataFrame): DataFrame = {
    val d = withLagDiff(ts)
    val pos = positiveSlopeThresh.map(t => col("diff") >= t).getOrElse(lit(false))
    val neg = negativeSlopeThresh.map(t => col("diff") <= t).getOrElse(lit(false))
    val flagged = withRunId(d, safeMask(pos) || safeMask(neg))
    assembleEvents(flagged, eventType, minPoints = minLen)
  }
}

/**
 * Data gaps — DataGapEvent (metevents/events.py:251-298). Two kinds,
 * unioned:
 *  (a) runs of missing VALUES (NaN/null), spanning first..last missing
 *      sample;
 *  (b) missing TIMESTAMPS: where `ts - lag(ts) > step`, a synthetic
 *      two-point event spanning last-present..first-present — by the
 *      reference's own TODO (events.py:281) this inflates a 4-day hole
 *      into a 6-day event; preserved for parity.
 * Keep events with `duration >= min_len * step` (events.py:297).
 * The reference's run-id/position key-collision quirk (events.py:282-286)
 * is NOT reproduced: we union both kinds without overwriting (the
 * goldens never exercise a collision; SURVEY.md §7.4.5).
 */
case class DataGapEvents(minLen: Long = 3L, expectedFrequency: String = "1D") extends Detector {
  val eventType = "data_gap"
  protected def detectBySeries(ts: DataFrame): DataFrame = {
    val stepUs = Steps.parseMicros(expectedFrequency)

    val nanRuns = assembleEvents(
      withRunId(ts, col("value").isNull || isnan(col("value"))), eventType)

    val v = nanToNull(col("value"))
    val pv = nanToNull(col("prev_val"))
    val tsGaps = ts
      .withColumn("prev_ts", lag(col("ts"), 1).over(seriesWindow()))
      .withColumn("prev_val", lag(col("value"), 1).over(seriesWindow()))
      .where(col("prev_ts").isNotNull &&
        (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > stepUs)
      .select(
        col("series_id"),
        lit(eventType).as("event_type"),
        col("prev_ts").as("start"),
        col("ts").as("stop"),
        (unix_micros(col("ts")) - unix_micros(col("prev_ts"))).as("duration_us"),
        lit(2L).as("n_points"),
        // NaN-skipping sum over the two present endpoint rows
        when(v.isNull && pv.isNull, lit(null))
          .otherwise(coalesce(v, lit(0.0)) + coalesce(pv, lit(0.0))).as("total"))

    nanRuns.unionByName(tsGaps).where(col("duration_us") >= minLen * stepUs)
  }
}
