package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Ports of the reference detector goldens (tests/test_events.py,
  * BASELINE.md) onto the canonical frame, plus multi-series checks the
  * single-series reference cannot express. */
class DetectorsSpec extends AnyFunSuite with SparkTestBase {

  // --- ExtremeValueEvent golden (tests/test_events.py:293-348) -------
  def extremeFixture: Seq[Double] = {
    val data = Array.tabulate(100)(_.toDouble)
    for (i <- 10 until 15) data(i) = 700.0
    for (i <- 40 until 48) data(i) = -1.0
    for (i <- 50 until 54) data(i) = 601.0
    data.toSeq
  }

  test("ExtremeValue golden: 3 events with exact spans") {
    val events = collectEvents(
      ExtremeValueEvents(expectedMax = 600.0, expectedMin = 0.0).detect(dailySeries(extremeFixture)))
    assert(events.map(_.start) == Seq(day(10), day(40), day(50)))
    assert(events.map(_.stop) == Seq(day(14), day(47), day(53)))
    assert(events.map(_.duration_us) == Seq(4 * DayUs, 7 * DayUs, 3 * DayUs))
  }

  // --- FlatLineEvent golden (tests/test_events.py:235-288) -----------
  def flatFixture: Seq[Double] = {
    val data = Array.tabulate(100)(_.toDouble)
    for (i <- 10 until 18) data(i) = 10.0
    for (i <- 40 until 48) data(i) = 40.0
    for (i <- 50 until 54) data(i) = 50.0 // too short to flag
    data.toSeq
  }

  test("FlatLine golden: 2 events, start at second sample of the run") {
    val events = collectEvents(
      FlatLineEvents(minLen = 5L, slopeThresh = 0.0).detect(dailySeries(flatFixture)))
    assert(events.size == 2)
    assert(events.map(_.start) == Seq(day(11), day(41)))
    assert(events.map(_.stop) == Seq(day(17), day(47)))
    assert(events.map(_.duration_us) == Seq(6 * DayUs, 6 * DayUs))
  }

  // --- ExtremeChangeEvent golden (tests/test_events.py:352-404) ------
  test("ExtremeChange golden: 2 zero-duration events") {
    val data = Array.tabulate(100)(_.toDouble)
    for (i <- 10 until 15) data(i) = 700.0
    val events = collectEvents(
      ExtremeChangeEvents(minLen = 1L, positiveSlopeThresh = Some(100.0),
        negativeSlopeThresh = Some(-100.0)).detect(dailySeries(data.toSeq)))
    assert(events.size == 2)
    assert(events.map(_.start) == Seq(day(10), day(15)))
    assert(events.map(_.stop) == Seq(day(10), day(15)))
    assert(events.forall(_.duration_us == 0L))
  }

  test("ExtremeChange requires at least one threshold") {
    intercept[IllegalArgumentException] {
      ExtremeChangeEvents(minLen = 1L, positiveSlopeThresh = None, negativeSlopeThresh = None)
    }
  }

  // --- DataGapEvent golden (tests/test_events.py:181-230) ------------
  test("DataGap golden: 3 events (6d, 6d, 4d)") {
    // range(100) with NaN at 10:15, 40:45, 50:51 then dropped (creates
    // timestamp gaps), then positions 60:65 of the SHORTENED series set
    // to NaN (creates a value gap).
    val full = Array.tabulate(100)(i => (day(i), i.toDouble))
    val dropped = full.zipWithIndex.filterNot { case (_, i) =>
      (i >= 10 && i < 15) || (i >= 40 && i < 45) || (i == 50)
    }.map(_._1)
    val withNan = dropped.zipWithIndex.map { case ((t, v), pos) =>
      if (pos >= 60 && pos < 65) (t, Double.NaN) else (t, v)
    }
    val df = seriesAt(withNan.toSeq, "s1")
    val events = collectEvents(DataGapEvents(minLen = 3L, expectedFrequency = "1D").detect(df))
    assert(events.size == 3)
    assert(events.map(_.start) == Seq(day(9), day(39), day(71)))
    assert(events.map(_.duration_us) == Seq(6 * DayUs, 6 * DayUs, 4 * DayUs))
  }

  // --- multi-series isolation ----------------------------------------
  test("detectors partition by series_id: two identical series, twice the events") {
    val df = dailySeries(extremeFixture, "a").unionByName(dailySeries(extremeFixture, "b"))
    val events = collectEvents(ExtremeValueEvents(600.0, 0.0).detect(df))
    assert(events.size == 6)
    assert(events.count(_.series_id == "a") == 3)
  }

  // --- kernel-level: inferStep skip-last-interval semantics (U1) -----
  test("inferStep: regular daily -> 1 day; irregular -> null; irregular only in final step -> 1 day") {
    val regular = dailySeries(Seq.tabulate(10)(_.toDouble), "reg")
    val quad = seriesAt(Seq.tabulate(6)(i => (day(i * i), i.toDouble)), "quad")
    val lastIrregular = seriesAt(
      (Seq.tabulate(9)(i => (day(i), i.toDouble)) :+ ((day(12), 9.0))), "tail")
    val all = regular.unionByName(quad).unionByName(lastIrregular)
    val steps = Kernels.inferStep(all).collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(steps("reg") == Some(DayUs))
    assert(steps("quad") == None)
    // reference quirk: the final interval is excluded from inference
    assert(steps("tail") == Some(DayUs))
  }

  test("CumulativePeriod NaN-skipping total: [1, NaN, 2, 2] -> 5") {
    import org.apache.spark.sql.functions.lit
    val df = seriesAt(Seq((day(0), 1.0), (day(1), Double.NaN), (day(2), 2.0), (day(3), 2.0)), "s")
    // flag every row (incl. the missing one) -> one run whose total
    // must NaN-skip like pandas sum() (tests/test_periods.py:42-47)
    val flagged = Kernels.withRunId(df, lit(true))
    val events = collectEvents(Kernels.assembleEvents(flagged, "all"))
    assert(events.size == 1 && events.head.total.contains(5.0))
    assert(events.head.n_points == 4L)
  }

  // --- end of input: a series that ends inside a run emits it --------
  test("trailing run: d4-d7 emit the run a series ends inside") {
    val d6 = collectEvents(ExtremeValueEvents(expectedMax = 600.0, expectedMin = 0.0)
      .detect(dailySeries(Seq(1.0, 2.0, 3.0, 700.0, 701.0))))
    assert(d6 == Seq(Event("s1", "extreme_value", day(3), day(4), DayUs, 2L, Some(1401.0))))
    val d5 = collectEvents(FlatLineEvents(minLen = 2L, slopeThresh = 0.0)
      .detect(dailySeries(Seq(1.0, 2.0, 3.0, 5.0, 5.0, 5.0))))
    assert(d5 == Seq(Event("s1", "flat_line", day(4), day(5), DayUs, 2L, Some(10.0))))
    val d7 = collectEvents(ExtremeChangeEvents(minLen = 1L, positiveSlopeThresh = Some(100.0),
      negativeSlopeThresh = None).detect(dailySeries(Seq(0.0, 1.0, 2.0, 500.0))))
    assert(d7 == Seq(Event("s1", "extreme_change", day(3), day(3), 0L, 1L, Some(500.0))))
    // d4: the series ends on missing values
    val d4 = collectEvents(DataGapEvents(minLen = 2L, expectedFrequency = "1D")
      .detect(dailySeries(Seq(1.0, 2.0, Double.NaN, Double.NaN, Double.NaN))))
    assert(d4 == Seq(Event("s1", "data_gap", day(2), day(4), 2 * DayUs, 3L, None)))
  }

  test("extreme change: an inf - inf diff is NaN and unflagged, as in pandas") {
    // diffs: -, +inf, NaN, -inf. Spark orders NaN above every number, so
    // a window `diff >= 100` would flag day 2 too; NaN-compare is False.
    val inf = Double.PositiveInfinity
    val events = collectEvents(ExtremeChangeEvents(minLen = 1L, positiveSlopeThresh = Some(100.0),
      negativeSlopeThresh = None).detect(dailySeries(Seq(0.0, inf, inf, 0.0))))
    assert(events == Seq(Event("s1", "extreme_change", day(1), day(1), 0L, 1L, Some(inf))))
  }
}
