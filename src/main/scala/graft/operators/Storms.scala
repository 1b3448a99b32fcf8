package graft.operators

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Event, TsPoint}
import graft.streaming.OrderedFold

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
 * the run detectors' batch fold ([[graft.streaming.OrderedFold.batch]]):
 * a sort and a `MapGroups` per partition — no window, no join back to
 * the points, no broadcast. The fold walks each series once, in time
 * order:
 *  - the back-extension rows are the ones within one step before the
 *    candidate's first row, kept in a small ring (with data denser than
 *    the step there can be several);
 *  - with `frequency = None` the step is pandas' inferred one
 *    ([[Kernels.inferStep]]: the one distinct diff among d_1..d_{n-2},
 *    then [[Steps.resolutionStep]]). Inference holds only when every
 *    diff but the last equals d_1, so d_1 fixes the step from the
 *    second row on, and the fold drops the series the moment a later
 *    diff differs.
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

  protected def detectBySeries(ts: DataFrame): DataFrame = {
    val spark = ts.sparkSession
    import spark.implicits._
    val fixedStepUs = frequency.map(Steps.parseMicros)
    OrderedFold.batch(ts.select(col("series_id"), col("ts"), col("value")).as[TsPoint],
      "series_id")(_.ts)(
      (sid: String, rows: Iterator[(Long, TsPoint)], _: Option[Unit]) =>
        (None, stormsOf(sid, rows, fixedStepUs))).toDF()
  }

  /** One series' storms, from its rows (with their µs) in time order. */
  private def stormsOf(
      sid: String, rows: Iterator[(Long, TsPoint)], fixedStepUs: Option[Long]): Iterator[Event] = {
    val dtUs = (hoursToStop * Steps.Hour).toLong
    val maxUs = (maxStormHours * Steps.Hour).toLong
    val out = Array.newBuilder[Event]
    // (µs, value) of the rows within one step before the current row
    val back = mutable.ArrayDeque.empty[(Long, Double)]
    var n = 0L
    var prevUs = 0L
    var firstDiff = 0L
    var lastDiff = 0L // the latest row's diff; it counts once a row follows
    var stepUs = fixedStepUs.getOrElse(0L)
    var cum = 0.0 // prefix sum of NaN-as-zero values from the series head
    var inGroup = false
    var haveCand = false
    var candStartUs = 0L
    var candCumExcl = 0.0
    var spanStart: Timestamp = null
    var spanN = 0L // rows from the span start through the current row
    var spanTotal = 0.0
    var stopTs: Timestamp = null // the latest group's stop, and the span up to it
    var stopUs = 0L
    var cumAtStop = 0.0
    var stopN = 0L
    var stopTotal = 0.0

    def emit(): Unit = out += Event(sid, eventType, spanStart, stopTs,
      stopUs - TimeMicros.micros(spanStart), stopN, Some(stopTotal))

    while (rows.hasNext) {
      val (us, p) = rows.next()
      val v = p.value.getOrElse(Double.NaN)
      if (n == 1L) {
        firstDiff = us - prevUs
        if (fixedStepUs.isEmpty) stepUs = Steps.resolutionStep(firstDiff)
      } else if (n >= 2L && fixedStepUs.isEmpty && lastDiff != firstDiff) {
        return Iterator.empty // two distinct diffs: no inferable step
      }
      lastDiff = us - prevUs
      while (back.nonEmpty && back.head._1 < us - stepUs) back.removeHead()
      val v0 = if (v.isNaN) 0.0 else v
      cum += v0
      if (v >= instantMassToStart) {
        if (!inGroup) {
          // a group starts here: the previous group's close test
          if (haveCand && ((us - stopUs > dtUs) || (stopUs - candStartUs > maxUs)) &&
              cumAtStop - candCumExcl >= minStormTotal) {
            emit()
            haveCand = false
          }
          if (!haveCand) {
            haveCand = true
            candStartUs = us
            candCumExcl = cum - v0
            spanStart = if (back.isEmpty) p.ts else TimeMicros.timestamp(back.head._1)
            spanN = back.size.toLong
            spanTotal = back.foldLeft(0.0)((s, r) => if (r._2.isNaN) s else s + r._2)
          }
          inGroup = true
        }
      } else inGroup = false
      if (haveCand) {
        spanN += 1L
        if (!v.isNaN) spanTotal += v
      }
      if (inGroup) {
        stopTs = p.ts
        stopUs = us
        cumAtStop = cum
        stopN = spanN
        stopTotal = spanTotal
      }
      back.append((us, v))
      prevUs = us
      n += 1L
    }
    // no inferable step: fewer than three rows leave no diff to infer from
    if (fixedStepUs.isEmpty && n < 3L) Iterator.empty
    else {
      if (haveCand) emit() // the final group always closes
      out.result().iterator
    }
  }
}
