package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.streaming.OrderedFold
import Kernels._
import RunFolds._

/** Common shape: a detector is a lazy DataFrame → DataFrame transform
  * from the canonical TimeSeriesFrame to the EventFrame (SURVEY.md §1.3).
  * Each corresponds to one reference detector class; thresholds mirror
  * the reference's `find(**kwargs)` defaults. */
trait Detector extends Serializable {
  def eventType: String

  /** The detector body over a frame already hash-partitioned by
    * `series_id` ([[Kernels.bySeries]]): its groupings and folds run on
    * every shuffle partition without another exchange. */
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

  /** Batch-drive a run detector's fold: one sorted walk per series
    * ([[OrderedFold.batch]]), then the fold's end-of-input close. */
  protected def foldRuns[R, S](rows: Dataset[R])(ts: R => java.sql.Timestamp)(
      fold: RunFold[R, S]): DataFrame =
    OrderedFold.batch(rows, "series_id")(ts)(fold.step, fold.close)(
      Encoders.STRING, Encoders.product[graft.Event]).toDF()
}

/**
 * Values outside an expected range — ExtremeValueEvent
 * (metevents/events.py:333-358): mask `(v > max) | (v < min)`, group
 * contiguous runs, emit every group. Spark shape (all four run
 * detectors): one sorted walk per series over the detector's
 * `series_id` exchange ([[OrderedFold.batch]]) running the streaming
 * twin's own step ([[RunFolds]]), then its end-of-input close, which
 * also emits a run the series ends inside.
 */
case class ExtremeValueEvents(expectedMax: Double = 600.0, expectedMin: Double = 0.0)
    extends Detector {
  val eventType = "extreme_value"

  /** The null-safe mask. nanToNull first: pandas NaN-compare is False
    * (events.py:345); a raw Spark NaN orders greater than any numeric
    * and would flag as extreme. */
  def flag: Column = {
    val v = nanToNull(col("value"))
    safeMask(v > expectedMax || v < expectedMin)
  }

  protected def detectBySeries(ts: DataFrame): DataFrame =
    foldRuns(flagged(ts.withColumn("flag", flag)))(_._2)(runs(eventType))
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

  def fold: RunFold[Point, DiffState] =
    diffRuns(eventType, minLen, (prev, cur) => math.abs(cur - prev) <= slopeThresh)

  protected def detectBySeries(ts: DataFrame): DataFrame = foldRuns(points(ts))(_._2)(fold)
}

/**
 * Excessive rate of change — ExtremeChangeEvent
 * (metevents/events.py:361-411): mask `diff >= pos OR diff <= neg`,
 * either threshold optional (at least one required,
 * events.py:383-385), keep runs of at least `minLen` points. A NaN
 * diff (`inf − inf`) is unflagged, as in pandas.
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

  def fold: RunFold[Point, DiffState] = diffRuns(eventType, minLen, (prev, cur) => {
    val d = cur - prev
    positiveSlopeThresh.exists(d >= _) || negativeSlopeThresh.exists(d <= _)
  })

  protected def detectBySeries(ts: DataFrame): DataFrame = foldRuns(points(ts))(_._2)(fold)
}

/**
 * Data gaps — DataGapEvent (metevents/events.py:251-298): runs of
 * missing values and missing timestamps, both halves in one fold
 * ([[RunFolds.dataGaps]]). A timestamp gap is the reference's synthetic
 * two-point event spanning last-present..first-present — by its own
 * TODO (events.py:281) this inflates a 4-day hole into a 6-day event;
 * preserved for parity. The reference's run-id/position key-collision
 * quirk (events.py:282-286) is NOT reproduced: both kinds are emitted
 * without overwriting (SURVEY.md §7.4.5).
 */
case class DataGapEvents(minLen: Long = 3L, expectedFrequency: String = "1D") extends Detector {
  val eventType = "data_gap"

  def fold: RunFold[Point, GapState] = dataGaps(minLen, Steps.parseMicros(expectedFrequency))

  protected def detectBySeries(ts: DataFrame): DataFrame = foldRuns(points(ts))(_._2)(fold)
}
