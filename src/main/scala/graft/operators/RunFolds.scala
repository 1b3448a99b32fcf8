package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import graft.Event

/**
 * The run detectors' per-series steps, each written once and driven
 * twice by [[graft.streaming.OrderedFold]]: in batch by the detectors
 * (d4–d7, and d3 over its peak mask), from no state, and by their
 * streaming twins in [[graft.streaming.StreamingDetectors]], from the
 * state carried across micro-batches. Each step walks one series in
 * event-time order — the reference's `group_condition_by_time`
 * (metevents/events.py:39-47) — with every row's epoch µs, and builds
 * its output eagerly. Its `close` runs at end of input, which only
 * batch reaches: it emits the series' open run under the same keep
 * rule as a run that a row closes. A stream withholds that run.
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
}
