package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import graft.Event

/**
 * The ordered detectors' per-series steps, each written once and
 * driven twice by [[graft.streaming.OrderedFold]]: in batch by the
 * detectors (d1, d4–d7, and d3 over its peak mask), from no state, and
 * by their streaming twins in [[graft.streaming.StreamingDetectors]],
 * from the state carried across micro-batches. Each step walks one
 * series in event-time order — the reference's `group_condition_by_time`
 * (metevents/events.py:39-47), or the storm walk of `StormEvents.find`
 * (metevents/events.py:54-121) — with every row's epoch µs, and builds
 * its output eagerly. Its `close` runs at end of input, which only
 * batch reaches: it emits the series' open run (or final storm) under
 * the same keep rule as one that a row closes. A stream withholds it.
 */
object RunFolds {

  type Point = (String, java.sql.Timestamp, Option[Double])
  type Flagged = (String, java.sql.Timestamp, Option[Double], Boolean)

  /** The canonical frame's rows as the per-series folds walk them. */
  def points(ts: DataFrame): Dataset[Point] = {
    val spark = ts.sparkSession
    import spark.implicits._
    ts.select(col("series_id"), col("ts"), col("value")).as[Point]
  }

  /** Rows with their null-safe `flag` column, as [[runs]] walks them. */
  def flagged(df: DataFrame): Dataset[Flagged] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("series_id"), col("ts"), col("value"), col("flag")).as[Flagged]
  }

  /** One detector's fold: the step both drivers run, and the close that
    * batch runs on the final state. */
  final case class RunFold[R, S](
      step: (String, Iterator[(Long, R)], Option[S]) => (Option[S], Iterator[Event]),
      close: (String, S) => Iterator[Event])

  /** Open-run state for one series — the open/extend/close machine the
    * run detectors share: first and last row in epoch µs, point count
    * and NaN-skipping total. */
  final case class RunState(startUs: Long, lastUs: Long, n: Long, total: Double, any: Boolean) {
    def extend(us: Long, v: Option[Double]): RunState =
      RunState(startUs, us, n + 1L, total + v.getOrElse(0.0), any || v.isDefined)
    def durationUs: Long = lastUs - startUs
    def event(sid: String, eventType: String): Event =
      Event(sid, eventType, TimeMicros.timestamp(startUs), TimeMicros.timestamp(lastUs),
        durationUs, n, if (any) Some(total) else None)
  }

  object RunState {
    /** One row through the machine: a flagged row opens or extends the
      * run; an unflagged row closes an open run, handing it to `closed`
      * (which applies the caller's keep rule). */
    def step(run: Option[RunState], flagged: Boolean, us: Long, v: Option[Double])(
        closed: RunState => Unit): Option[RunState] =
      if (flagged) Some(run.getOrElse(RunState(us, us, 0L, 0.0, any = false)).extend(us, v))
      else { run.foreach(closed); None }
  }

  /** Runs of rows whose `flag` (null-safe, computed upstream) is set;
    * every run is an event. The extreme-value detector (d6) and the
    * spike-valley mask (d3). */
  def runs(eventType: String): RunFold[Flagged, RunState] = RunFold[Flagged, RunState](
    (sid, rows, prev) => {
      val out = Array.newBuilder[Event]
      var run = prev
      rows.foreach { case (us, (_, _, v, flag)) =>
        run = RunState.step(run, flag, us, v)(r => out += r.event(sid, eventType))
      }
      (run, out.result().iterator)
    },
    (sid, run) => Iterator(run.event(sid, eventType)))

  /** Diff state for one series: the last value seen, for the first
    * difference, and the open run. */
  final case class DiffState(lastValue: Option[Double], run: Option[RunState])

  /** Runs of rows whose first difference passes `mask(previous,
    * current)`; a missing or NaN endpoint is unflagged, like pandas'
    * NaN-compare on `diff()`. Keeps runs of at least `minLen` points.
    * The flat-line (d5) and extreme-change (d7) detectors. */
  def diffRuns(eventType: String, minLen: Long, mask: (Double, Double) => Boolean)
      : RunFold[Point, DiffState] = {
    def kept(sid: String, r: RunState): Iterator[Event] =
      if (r.n >= minLen) Iterator(r.event(sid, eventType)) else Iterator.empty
    RunFold[Point, DiffState](
      (sid, rows, prev) => {
        val out = Array.newBuilder[Event]
        var st = prev.getOrElse(DiffState(None, None))
        rows.foreach { case (us, (_, _, v)) =>
          val flag = (st.lastValue, v) match {
            case (Some(p), Some(c)) if !p.isNaN && !c.isNaN => mask(p, c)
            case _ => false
          }
          st = DiffState(v, RunState.step(st.run, flag, us, v)(r => out ++= kept(sid, r)))
        }
        (Some(st), out.result().iterator)
      },
      (sid, st) => st.run.iterator.flatMap(kept(sid, _)))
  }

  /** Gap state for one series: the previous row's event µs and
    * (NaN-canonicalized) value for the ts-gap endpoint total, plus the
    * open missing-value run. */
  final case class GapState(lastUs: Long, lastVal: Option[Double], nanRun: Option[RunState])

  /**
   * Both halves of the data-gap detector (d4, metevents/events.py:269-286):
   *
   *  (a) missing-value runs: consecutive rows whose value is null or
   *      NaN, with the run's own span and point count and a null total
   *      (every member is missing, so the NaN-skip sum is empty);
   *  (b) timestamp gaps: a row more than `stepUs` after its predecessor
   *      emits the synthetic two-point event spanning last-present →
   *      first-present, with the NaN-skipping sum of the two endpoint
   *      values (null only when both are missing).
   *
   * Both keep `duration ≥ minLen · stepUs` (events.py:297).
   */
  def dataGaps(minLen: Long, stepUs: Long): RunFold[Point, GapState] = {
    def kept(sid: String, r: RunState): Iterator[Event] =
      if (r.durationUs >= minLen * stepUs) Iterator(r.event(sid, "data_gap")) else Iterator.empty
    RunFold[Point, GapState](
      (sid, rows, prev) => {
        val out = Array.newBuilder[Event]
        var st = prev
        rows.foreach { case (us, (_, t, vRaw)) =>
          val v = vRaw.filterNot(_.isNaN) // NaN canonicalized to missing
          // (b) ts gap vs the previous row, NaN-skip endpoint total
          st.foreach { p =>
            val durUs = us - p.lastUs
            if (durUs > stepUs && durUs >= minLen * stepUs) {
              val total = (p.lastVal, v) match {
                case (None, None) => None
                case (a, b) => Some(a.getOrElse(0.0) + b.getOrElse(0.0))
              }
              out += Event(sid, "data_gap", TimeMicros.timestamp(p.lastUs), t, durUs, 2L, total)
            }
          }
          // (a) missing-value run
          val nanRun = RunState.step(st.flatMap(_.nanRun), v.isEmpty, us, None)(r =>
            out ++= kept(sid, r))
          st = Some(GapState(us, v, nanRun))
        }
        (st, out.result().iterator)
      },
      (sid, st) => st.nanRun.iterator.flatMap(kept(sid, _)))
  }

  /** Storm-walk state for one series: the walk's locals between two
    * calls of its step. `n` rows seen, the previous row's µs and the
    * first and latest diffs (for step inference), the step, and the
    * prefix sum `cum` of NaN-as-zero values from the series head; the
    * open group and candidate (its start, the prefix sum before it, its
    * span start and the span's rows and NaN-skipping total so far); the
    * latest group stop with the prefix sum and the span's rows and total
    * up to it; and `back`, the (µs, value) rows within one step before
    * the next row. */
  final case class StormState(
      n: Long, prevUs: Long, firstDiff: Long, lastDiff: Long, stepUs: Long, cum: Double,
      inGroup: Boolean, haveCand: Boolean, candStartUs: Long, candCumExcl: Double,
      spanStartUs: Long, spanN: Long, spanTotal: Double,
      stopUs: Long, cumAtStop: Double, stopN: Long, stopTotal: Double,
      back: Seq[(Long, Double)])

  /**
   * The storm walk (d1, [[StormEvents]]): one pass over a series in
   * time order, closing a storm when the next group starts and the
   * close test holds; `close` emits the final candidate (the final
   * group always closes, metevents/events.py:114).
   *  - The back-extension rows are the ones within one step before the
   *    candidate's first row, kept in a small ring (with data denser than
   *    the step there can be several).
   *  - With `fixedStepUs = None` the step is pandas' inferred one
   *    ([[Kernels.inferStep]]: the one distinct diff among d_1..d_{n-2},
   *    then [[Steps.resolutionStep]]). Inference holds only when every
   *    diff but the last equals d_1, so d_1 fixes the step from the
   *    second row on; the step drops the whole series (no state, no
   *    events) the moment a later diff differs, and `close` emits
   *    nothing for a series of fewer than three rows. Both are batch
   *    only: the streaming twin always passes a step.
   */
  def storms(
      instantMassToStart: Double,
      minStormTotal: Double,
      hoursToStop: Double,
      maxStormHours: Double,
      fixedStepUs: Option[Long]): RunFold[Point, StormState] = {
    // rounded, not truncated: 2.3 h is 8,279,999,999.999… µs in doubles
    val dtUs = Math.round(hoursToStop * Steps.Hour)
    val maxUs = Math.round(maxStormHours * Steps.Hour)
    val empty = StormState(0L, 0L, 0L, 0L, fixedStepUs.getOrElse(0L), 0.0,
      inGroup = false, haveCand = false, 0L, 0.0, 0L, 0L, 0.0, 0L, 0.0, 0L, 0.0, Nil)
    def event(sid: String, startUs: Long, stopUs: Long, n: Long, total: Double): Event =
      Event(sid, "storm", TimeMicros.timestamp(startUs), TimeMicros.timestamp(stopUs),
        stopUs - startUs, n, Some(total))

    def step(sid: String, rows: Iterator[(Long, Point)], prev: Option[StormState])
        : (Option[StormState], Iterator[Event]) = {
      val s = prev.getOrElse(empty)
      var n = s.n
      var prevUs = s.prevUs
      var firstDiff = s.firstDiff
      var lastDiff = s.lastDiff // the latest row's diff; it counts once a row follows
      var stepUs = s.stepUs
      var cum = s.cum
      var inGroup = s.inGroup
      var haveCand = s.haveCand
      var candStartUs = s.candStartUs
      var candCumExcl = s.candCumExcl
      var spanStartUs = s.spanStartUs
      var spanN = s.spanN // rows from the span start through the current row
      var spanTotal = s.spanTotal
      var stopUs = s.stopUs // the latest group's stop, and the span up to it
      var cumAtStop = s.cumAtStop
      var stopN = s.stopN
      var stopTotal = s.stopTotal
      val back = mutable.ArrayDeque.from(s.back)
      val out = Array.newBuilder[Event]

      while (rows.hasNext) {
        val (us, (_, _, value)) = rows.next()
        val v = value.getOrElse(Double.NaN)
        if (n == 1L) {
          firstDiff = us - prevUs
          if (fixedStepUs.isEmpty) stepUs = Steps.resolutionStep(firstDiff)
        } else if (n >= 2L && fixedStepUs.isEmpty && lastDiff != firstDiff) {
          return (None, Iterator.empty) // two distinct diffs: no inferable step
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
              out += event(sid, spanStartUs, stopUs, stopN, stopTotal)
              haveCand = false
            }
            if (!haveCand) {
              haveCand = true
              candStartUs = us
              candCumExcl = cum - v0
              spanStartUs = if (back.isEmpty) us else back.head._1
              spanN = back.size.toLong
              spanTotal = back.foldLeft(0.0)((t, r) => if (r._2.isNaN) t else t + r._2)
            }
            inGroup = true
          }
        } else inGroup = false
        if (haveCand) {
          spanN += 1L
          if (!v.isNaN) spanTotal += v
        }
        if (inGroup) {
          stopUs = us
          cumAtStop = cum
          stopN = spanN
          stopTotal = spanTotal
        }
        back.append((us, v))
        prevUs = us
        n += 1L
      }
      (Some(StormState(n, prevUs, firstDiff, lastDiff, stepUs, cum,
        inGroup, haveCand, candStartUs, candCumExcl, spanStartUs, spanN, spanTotal,
        stopUs, cumAtStop, stopN, stopTotal, back.toSeq)), out.result().iterator)
    }

    RunFold[Point, StormState](step,
      (sid, st) =>
        // no inferable step: fewer than three rows leave no diff to infer from
        if (!st.haveCand || (fixedStepUs.isEmpty && st.n < 3L)) Iterator.empty
        else Iterator(event(sid, st.spanStartUs, st.stopUs, st.stopN, st.stopTotal)))
  }
}
