package graft.operators

import org.apache.spark.sql.DataFrame
import RunFolds._

/**
 * Storm delineation — StormEvents.find (metevents/events.py:54-121).
 *
 * A row is flagged when `value >= instantMassToStart` (NaN and null
 * are unflagged: pandas `NaN >= x` is False, events.py:73); a group is
 * a maximal run of flagged rows. A storm starts at the first group and
 * closes at group i iff ((gap to next group > hours_to_stop) OR
 * (duration since candidate start > max_storm_hours)) AND running
 * total >= min_storm_total; the test runs when the next group starts,
 * and the final group always closes (metevents/events.py:114). The
 * running total is (prefix sum at the group stop) − (prefix sum before
 * the candidate start), over NaN-as-zero values summed row by row from
 * the series head — the window prefix of the DuckDB oracle. The emitted
 * span is back-extended one time step unless the candidate start is
 * the series' first row (metevents/events.py:116). `start`, `stop`,
 * `n_points` and `total` re-read the RAW data over the inclusive span
 * (metevents/events.py:100,118): sub-threshold rows inside the span
 * count, and so does a back-extension row that already closed the
 * previous storm. `total` skips NaN and is 0.0 when no value is
 * present (CumulativePeriod, periods.py:43).
 *
 * Spark shape (SURVEY.md §3.2): one sorted walk per series over the
 * detector's one `series_id` exchange ([[Kernels.bySeries]]), through
 * the ordered detectors' batch fold ([[graft.streaming.OrderedFold.batch]]):
 * a sort and a `MapGroups` per partition — no window, no join back to
 * the points, no broadcast. The walk is [[RunFolds.storms]], whose step
 * the streaming twin ([[graft.streaming.StreamingDetectors.storms]])
 * runs too; its `close` emits the final storm, which only batch reaches.
 * Rows sharing a timestamp have no defined order, as on the window path.
 *
 * The reference crashes on series with no inferable frequency
 * (`to_offset(None)`, metevents/events.py:77); we instead skip such
 * series (documented divergence) unless an explicit `frequency` is
 * supplied, which also extends the operator to irregular series.
 */
object StormEvents {
  /** StormEvents.from_station parity (metevents/events.py:123-165):
    * resolve the source, pull daily accumulated precipitation, convert
    * to increments, detect. The registry maps source names to
    * [[graft.sources.StationSource]]s (recorded fixtures in tests —
    * FIXTURES.md §3; a live HTTP client implements the same trait). */
  def fromStation(
      registry: Map[String, graft.sources.StationSource],
      spark: org.apache.spark.sql.SparkSession,
      stationId: String,
      start: String,
      stop: String,
      source: String = "NRCS",
      params: StormEvents = StormEvents()): DataFrame =
    params.detect(
      graft.sources.StationSources.fromStation(registry, spark, stationId, start, stop, source))
}

case class StormEvents(
    instantMassToStart: Double = 0.1,
    minStormTotal: Double = 0.5,
    hoursToStop: Double = 24,
    maxStormHours: Double = 336,
    frequency: Option[String] = None)
    extends Detector {

  val eventType = "storm"

  /** The storm walk that batch d1 and its streaming twin both run. */
  def fold: RunFold[Point, StormState] = storms(
    instantMassToStart, minStormTotal, hoursToStop, maxStormHours, frequency.map(Steps.parseMicros))

  protected def detectBySeries(ts: DataFrame): DataFrame = foldRuns(points(ts))(_._2)(fold)
}
