package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Ports of the reference storm goldens (tests/test_events.py:26-79,
  * BASELINE.md): counts {2,1,1,2}, totals {[2,2],[4]}, durations
  * {[2,2],[1,3],[3]} over tiny daily series. */
class StormsSpec extends AnyFunSuite with SparkTestBase {

  private def storms(
      data: Seq[Double],
      startMass: Double = 0.1,
      stopHours: Double = 24,
      totalMass: Double = 0.5,
      maxHours: Double = 336,
      freq: Option[String] = None): Seq[Event] =
    collectEvents(
      StormEvents(startMass, totalMass, stopHours, maxHours, freq)
        .detect(dailySeries(data)))

  // --- counts (tests/test_events.py:26-47) ---------------------------
  test("storm count: two clear storms") {
    assert(storms(Seq(0, 1, 1, 0, 0, 1, 1), 0.1, 24, 1, 300).size == 2)
  }
  test("storm count: stopping hours merge") {
    assert(storms(Seq(0, 0.1, 0.1, 0, 0.1, 0.1), 0.1, 48, 0.1, 300).size == 1)
  }
  test("storm count: min storm total carries candidate across quiet gap") {
    assert(storms(Seq(0.1, 0, 0.1, 0.1), 0.1, 24, 0.2, 300).size == 1)
  }
  test("storm count: max storm hours splits") {
    assert(storms(Seq(0, 0.1, 0, 0.1, 0.1, 0), 0.1, 24, 0.1, 24).size == 2)
  }

  // --- totals (tests/test_events.py:49-62) ---------------------------
  test("storm totals: [2,2] with 24h stop") {
    assert(storms(Seq(0, 1, 1, 0, 0, 1, 1), stopHours = 24)
      .map(_.total.get) == Seq(2.0, 2.0))
  }
  test("storm totals: [4] when 72h stop merges") {
    assert(storms(Seq(0, 1, 1, 0, 0, 1, 1), stopHours = 72)
      .map(_.total.get) == Seq(4.0))
  }

  // --- durations (tests/test_events.py:64-79) ------------------------
  test("storm durations: [2,2] days with back-extension") {
    assert(storms(Seq(0, 1, 1, 0, 0, 1, 1)).map(_.duration_us) ==
      Seq(2 * DayUs, 2 * DayUs))
  }
  test("storm durations: [1,3] days, no back-extension at series head") {
    assert(storms(Seq(0.2, 1, 0, 1, 0.2, 1)).map(_.duration_us) ==
      Seq(1 * DayUs, 3 * DayUs))
  }
  test("storm durations: [3] days single storm") {
    assert(storms(Seq(1, 1, 1, 1)).map(_.duration_us) == Seq(3 * DayUs))
  }

  // --- engine extensions ---------------------------------------------
  test("explicit frequency overrides inference") {
    assert(storms(Seq(0, 1, 1, 0, 0, 1, 1), freq = Some("1D")).size == 2)
  }
  test("irregular series without explicit frequency is skipped, not crashed") {
    // diffs 1d,2d,5d — inference (which skips the final interval,
    // metevents/utilities.py:12) sees {1d,2d} -> None -> reference
    // would crash at to_offset(None); we skip the series.
    val irregular = seriesAt(
      Seq((day(0), 1.0), (day(1), 1.0), (day(3), 1.0), (day(8), 1.0)), "irr")
    assert(collectEvents(StormEvents().detect(irregular)).isEmpty)
  }
  test("last-interval-only irregularity still infers a step (reference quirk)") {
    // day0, day1, day5: the 4-day final interval is excluded from
    // inference -> step 1d; all rows flagged -> one positional run ->
    // one storm spanning the whole series.
    val s = seriesAt(Seq((day(0), 1.0), (day(1), 1.0), (day(5), 1.0)), "tail")
    val ev = collectEvents(StormEvents().detect(s))
    assert(ev.size == 1 && ev.head.duration_us == 5 * DayUs)
  }
  test("multi-series: storms delineated independently per series") {
    val df = dailySeries(Seq(0, 1, 1, 0, 0, 1, 1), "a")
      .unionByName(dailySeries(Seq(1, 1, 1, 1), "b"))
    val ev = collectEvents(StormEvents().detect(df))
    assert(ev.count(_.series_id == "a") == 2 && ev.count(_.series_id == "b") == 1)
  }

  // --- fold exactness: back-extension over the raw rows --------------
  private def at(hours: Double): java.sql.Timestamp =
    new java.sql.Timestamp(day(0).getTime + (hours * 3600000L).toLong)

  private def spans(ev: Seq[Event]): Seq[(String, String, String, Long, Double)] =
    ev.map(e => (e.series_id, e.start.toInstant.toString, e.stop.toInstant.toString,
      e.n_points, e.total.get))

  private def detectAt(points: Seq[(Double, Double)], sid: String, params: StormEvents) =
    spans(collectEvents(params.detect(seriesAt(points.map { case (h, v) => (at(h), v) }, sid))))

  test("data denser than the step: every row within one step before the start counts") {
    // 6-hourly rows, 1-day step: four rows (one NaN) precede each start
    val pts = Seq(0.0 -> 0.5, 6.0 -> 0.25, 12.0 -> Double.NaN, 18.0 -> 0.5, 24.0 -> 0.0,
      30.0 -> 2.0, 36.0 -> 3.0, 42.0 -> 0.0, 48.0 -> 0.0, 54.0 -> 0.0, 60.0 -> 0.25,
      66.0 -> 0.0, 72.0 -> 1.5, 78.0 -> 0.0)
    assert(detectAt(pts, "dense", StormEvents(1.0, 1.0, 12, 336, Some("1D"))) == Seq(
      ("dense", "2023-01-01T06:00:00Z", "2023-01-02T12:00:00Z", 6L, 5.75),
      ("dense", "2023-01-03T00:00:00Z", "2023-01-04T00:00:00Z", 5L, 1.75)))
  }
  test("a max-hours split whose next group starts one step later re-counts the last row") {
    // half-hourly rows, 1-hour step: the second span reaches back onto
    // the first storm's stop
    val pts = Seq(0.0 -> 0.0, 0.5 -> 2.0, 1.0 -> 2.0, 1.5 -> 2.0, 2.0 -> 0.0,
      2.5 -> 3.0, 3.0 -> 1.0, 3.5 -> 0.0)
    assert(detectAt(pts, "split", StormEvents(1.0, 1.0, 24, 0.5, Some("1H"))) == Seq(
      ("split", "2023-01-01T00:00:00Z", "2023-01-01T01:30:00Z", 4L, 6.0),
      ("split", "2023-01-01T01:30:00Z", "2023-01-01T03:00:00Z", 4L, 6.0)))
  }
  test("inferred step, candidate on the last row, final interval off the step") {
    val shorter = Seq(0.0 -> 0.0, 24.0 -> 1.0, 48.0 -> 0.0, 72.0 -> 0.25, 78.0 -> 2.0)
    val longer = Seq(0.0 -> 0.0, 24.0 -> 1.0, 48.0 -> 0.0, 72.0 -> 0.25, 144.0 -> 2.0)
    // 6 h final interval: the back-extension reaches the row before;
    // 3 d final interval: it reaches nothing and the storm is one row
    assert(detectAt(shorter, "c_short", StormEvents(0.5, 0.5, 24, 336, None)) == Seq(
      ("c_short", "2023-01-01T00:00:00Z", "2023-01-02T00:00:00Z", 2L, 1.0),
      ("c_short", "2023-01-04T00:00:00Z", "2023-01-04T06:00:00Z", 2L, 2.25)))
    assert(detectAt(longer, "c_long", StormEvents(0.5, 0.5, 24, 336, None)) == Seq(
      ("c_long", "2023-01-01T00:00:00Z", "2023-01-02T00:00:00Z", 2L, 1.0),
      ("c_long", "2023-01-07T00:00:00Z", "2023-01-07T00:00:00Z", 1L, 2.0)))
  }
  test("a gap exactly equal to a non-integral hours_to_stop keeps the storm open") {
    // 2.3 h = 8,280,000,000 µs; the gap from the 0 h stop to the 2.3 h
    // start is exactly that, so it does not exceed hours_to_stop
    val ms = (h: Long) => new java.sql.Timestamp(day(0).getTime + h)
    val s = seriesAt(Seq(ms(0L) -> 1.0, ms(1800000L) -> 0.0, ms(8280000L) -> 1.0), "gap")
    val ev = spans(collectEvents(StormEvents(0.5, 0.5, 2.3, 336, Some("1H")).detect(s)))
    assert(ev == Seq(("gap", "2023-01-01T00:00:00Z", "2023-01-01T02:18:00Z", 3L, 2.0)))
  }
  test("irregular series with an explicit frequency") {
    val pts = Seq(0.0 -> 0.0, 24.0 -> 2.0, 72.0 -> 2.0, 96.0 -> 0.0, 192.0 -> 0.5,
      204.0 -> 0.25, 216.0 -> 2.0)
    assert(detectAt(pts, "irr_f", StormEvents(1.0, 1.0, 24, 336, Some("1D"))) == Seq(
      ("irr_f", "2023-01-01T00:00:00Z", "2023-01-04T00:00:00Z", 3L, 4.0),
      ("irr_f", "2023-01-09T00:00:00Z", "2023-01-10T00:00:00Z", 3L, 2.75)))
  }
}
