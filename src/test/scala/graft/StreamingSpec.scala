package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingDetectors

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  private def point(sid: String, day: Int, v: Double) = TsPoint(sid, this.day(day), Some(v))

  /** The batch storm detector over a frame, minus each series' final
    * storm: what the streaming twin must have emitted. */
  private def batchStorms(ts: org.apache.spark.sql.DataFrame, frequency: String,
      minStormTotal: Double = 0.5): Seq[Event] =
    withoutFinalStorm(collectEvents(graft.operators.StormEvents(instantMassToStart = 0.1,
      minStormTotal = minStormTotal, hoursToStop = 24, maxStormHours = 336,
      frequency = Some(frequency)).detect(ts)))

  test("streaming extreme-value emits runs closed across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[TsPoint]
    val q = StreamingDetectors.extremeValue(expectedMax = 10.0, expectedMin = 0.0)(
        input.toDF())
      .writeStream.format("memory").queryName("sx").outputMode(OutputMode.Append()).start()
    try {
      // batch 1: run of two extremes, still open at batch end
      input.addData(point("a", 0, 1.0), point("a", 1, 99.0), point("a", 2, 99.0))
      q.processAllAvailable()
      assert(spark.sql("select * from sx").count() == 0)
      // batch 2: a normal row closes the run → one event spanning day 1-2
      input.addData(point("a", 3, 1.0))
      q.processAllAvailable()
      val ev = spark.sql("select * from sx").as[Event].collect()
      assert(ev.length == 1)
      assert(ev(0).start == day(1) && ev(0).stop == day(2))
      assert(ev(0).n_points == 2L && ev(0).total.contains(198.0))
      // state was cleared: a new run closes independently
      input.addData(point("a", 4, 50.0), point("a", 5, 1.0))
      q.processAllAvailable()
      assert(spark.sql("select * from sx").count() == 2)
    } finally q.stop()
  }

  private lazy val flvPoints: Array[TsPoint] = {
    import org.apache.spark.sql.functions._
    val path = getClass.getResource("/flv.csv").getPath
    spark.read.option("header", "true").csv(path)
      .select(
        lit("FLV").as("series_id"),
        to_timestamp(col("datetime"), "yyyy-MM-dd HH:mm:ssXXX").as("ts"),
        col("SNOWDEPTH").cast("double").as("value"))
      .as[TsPoint](org.apache.spark.sql.Encoders.product[TsPoint])
      .collect().sortBy(_.ts.getTime)
  }

  test("streaming spike-valley: replayed flv matches batch exactly once data-closed (r18)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // closing sentinels: a strictly-higher then strictly-lower sample
    // finalize every open peak/valley in the raw series, so the whole
    // raw region (minus the reach margin) becomes data-final
    val raw = flvPoints
    val vs = raw.flatMap(_.value)
    val dayMs = 86400000L
    val augmented = raw ++ Seq(
      TsPoint("FLV", new java.sql.Timestamp(raw.last.ts.getTime + dayMs), Some(vs.max + 1000.0)),
      TsPoint("FLV", new java.sql.Timestamp(raw.last.ts.getTime + 2 * dayMs), Some(vs.min - 1000.0)))
    val input = MemoryStream[TsPoint]
    val q = StreamingDetectors.spikeValley()(input.toDF())
      .writeStream.format("memory").queryName("ssv").outputMode(OutputMode.Append()).start()
    try {
      augmented.grouped(60).foreach { chunk =>
        input.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
      val streamed = spark.sql("select * from ssv").as[Event].collect()
        .toSeq.sortBy(_.start.getTime)
      // the open frontier of the augmented series is the high sentinel
      // (index n_raw); stable prefix ends reach = ceil(3)+1 = 4 before
      // it, so events whose closing sample sits at raw index
      // <= n_raw - 6 are final — boundary by STOP index <= n_raw - 7
      val boundary = raw(raw.length - 7).ts.getTime
      val batchAug = collectEvents(
        graft.operators.SpikeValleyEvents().detect(augmented.toSeq.toDF()))
      val expected = batchAug.filter(_.stop.getTime <= boundary)
      assert(streamed == expected,
        s"streamed=${streamed.map(_.start)} expected=${expected.map(_.start)}")
      // of the reference's 11 golden raw events, the closure leaves 10
      // untouched and they are all emitted bit-for-bit (duration,
      // n_points, NaN-skip total included). The 11th (2023-04-23, a
      // late-melt valley) is genuinely DATA-OPEN at raw end — its
      // prominence base extends to the series edge, so ANY further
      // sample (including the closing sentinel) legitimately changes
      // its width: the raw batch event is provisional, and streaming
      // withholding it is the correct call, not a loss.
      val batchRaw = collectEvents(
        graft.operators.SpikeValleyEvents().detect(raw.toSeq.toDF()))
      assert(batchRaw.length == 11)
      val stable = batchRaw.filter(batchAug.contains)
      assert(stable.length == 10, s"closure changed ${11 - stable.length} goldens")
      assert(stable.forall(streamed.contains), "a stable golden event is missing")
    } finally q.stop()
  }

  test("streaming spike-valley: without closure the open tail stays pending (r18)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val raw = flvPoints
    val input = MemoryStream[TsPoint]
    val q = StreamingDetectors.spikeValley()(input.toDF())
      .writeStream.format("memory").queryName("ssv2").outputMode(OutputMode.Append()).start()
    try {
      raw.grouped(80).foreach { chunk =>
        input.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
      val streamed = spark.sql("select * from ssv2").as[Event].collect().toSet
      val batchRaw = collectEvents(
        graft.operators.SpikeValleyEvents().detect(raw.toSeq.toDF())).toSet
      // emitted prefix is exact; anything missing is strictly the
      // open tail (every missing event stops after every emitted one)
      assert(streamed.subsetOf(batchRaw))
      if (streamed.nonEmpty) {
        val lastEmitted = streamed.map(_.stop.getTime).max
        assert((batchRaw -- streamed).forall(_.stop.getTime > lastEmitted),
          "a non-tail batch event was withheld")
      }
      // 8 of 11 without closure: the season-max peak (late Feb) never
      // sees a higher value, so it and everything after it stay open —
      // goldens 9-11 are the open tail until data closes them
      assert(streamed.size >= 8, s"only ${streamed.size} of 11 emitted")
    } finally q.stop()
  }

  test("streaming spike-valley: prefix-maximum peak survives a late new global min (ADVICE r18)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // The r18 safe-prefix drop kept rows from the FIRST occurrence of
    // the running max/min only. Peak P below is its own prefix
    // maximum: its left prominence scan is unbounded, reaching the
    // early dip (450@4). The late new global min (100@26) moves fMin
    // past the dip while P is still straddling the stable frontier,
    // so the old rule dropped the dip before P emitted — P's leftMin
    // then read 520 instead of 450, prominence 830 instead of 870,
    // and the painted run shrank to [16,17] instead of [15,18]. The
    // per-candidate left-scan bound must keep the dip alive.
    val values = Array[Double](
      520, 1300, 520, 520, 450, 520, 520, 1290, 520, 520, // A@1, dip@4, B@7
      520, 520, 1290, 520, 520, 520, 520, 1350, 480, 520, // C@12, P@17, 480@18
      520, 520, 1400, 520, 520, 520, 100, 520, 520, 520,  // D@22, late min@26
      1450, 520, 520)                                     // E@30
    val pts = values.zipWithIndex.map { case (v, i) => TsPoint("p", day(i), Some(v)) }
    val input = MemoryStream[TsPoint]
    val q = StreamingDetectors.spikeValley()(input.toDF())
      .writeStream.format("memory").queryName("ssv3").outputMode(OutputMode.Append()).start()
    try {
      pts.grouped(3).foreach { chunk =>
        input.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
      val streamed = spark.sql("select * from ssv3").as[Event].collect()
        .toSeq.sortBy(_.start.getTime)
      val batch = collectEvents(
        graft.operators.SpikeValleyEvents().detect(pts.toSeq.toDF()))
      // the emitted prefix must be the batch's own events bit for bit
      assert(streamed.toSet.subsetOf(batch.toSet),
        s"streamed diverged from batch:\n streamed=$streamed\n batch=$batch")
      if (streamed.nonEmpty) {
        val lastEmitted = streamed.map(_.stop.getTime).max
        assert((batch.toSet -- streamed.toSet).forall(_.stop.getTime > lastEmitted),
          "a non-tail batch event was withheld")
      }
      // and the adversarial P event specifically must have emitted
      // with its full batch extent (D and E are the open tail)
      val p = streamed.find(_.start == day(15))
      assert(p.isDefined, s"P never emitted: $streamed")
      assert(p.get.stop == day(18) && p.get.n_points == 4L &&
        p.get.total.contains(2870.0), p.get.toString)
    } finally q.stop()
  }

  test("streaming forward-fill: last non-null carries across micro-batches (r19)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[TsPoint]
    val q = StreamingDetectors.forwardFill(input.toDF())
      .writeStream.format("memory").queryName("sff").outputMode(OutputMode.Append()).start()
    try {
      // batch 1 ends on a null run; batch 2 continues it, a NaN is
      // canonicalized to missing (the batch twin's nanToNull), then a
      // new value takes over; a never-filled leading null stays null
      input.addData(TsPoint("a", day(0), None), point("a", 1, 2.5),
        TsPoint("a", day(2), None))
      q.processAllAvailable()
      input.addData(TsPoint("a", day(3), Some(Double.NaN)), point("a", 4, 7.0),
        TsPoint("a", day(5), None))
      q.processAllAvailable()
      val got = spark.sql("select * from sff").collect()
        .map(r => (r.getTimestamp(1), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .sortBy(_._1.getTime).toSeq
      assert(got == Seq(
        day(0) -> None, day(1) -> Some(2.5), day(2) -> Some(2.5),
        day(3) -> Some(2.5), day(4) -> Some(7.0), day(5) -> Some(7.0)))
    } finally q.stop()
  }

  test("streaming flat-line: diff state carries across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[TsPoint]
    val q = StreamingDetectors.flatLine(minLen = 2, slopeThresh = 0.0)(input.toDF())
      .writeStream.format("memory").queryName("fl").outputMode(OutputMode.Append()).start()
    try {
      // flat run 5,5,5 split across batches; diff of the first row in
      // batch 2 must see batch 1's last value
      input.addData(point("a", 0, 1.0), point("a", 1, 5.0), point("a", 2, 5.0))
      q.processAllAvailable()
      input.addData(point("a", 3, 5.0), point("a", 4, 9.0))
      q.processAllAvailable()
      val ev = spark.sql("select * from fl").as[Event].collect()
      assert(ev.length == 1)
      // flat run flagged from the SECOND sample (diff semantics): days 2-3
      assert(ev(0).start == day(2) && ev(0).stop == day(3) && ev(0).n_points == 2L)
    } finally q.stop()
  }

  test("streaming extreme-change: jump across batch boundary detected") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[TsPoint]
    val q = StreamingDetectors.extremeChange(
        minLen = 1, positiveSlopeThresh = Some(100.0), negativeSlopeThresh = None)(input.toDF())
      .writeStream.format("memory").queryName("xc").outputMode(OutputMode.Append()).start()
    try {
      input.addData(point("a", 0, 1.0), point("a", 1, 2.0))
      q.processAllAvailable()
      assert(spark.sql("select * from xc").count() == 0)
      // jump of +500 lands in batch 2: the diff uses batch 1's last
      // value; day 3's small diff closes the single-point run
      input.addData(point("a", 2, 502.0), point("a", 3, 503.0))
      q.processAllAvailable()
      val ev = spark.sql("select * from xc").as[Event].collect()
      assert(ev.length == 1 && ev(0).start == day(2) && ev(0).stop == day(2))
    } finally q.stop()
  }

  test("streaming data gaps: detected across micro-batch boundaries") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[TsPoint]
    val q = StreamingDetectors.dataGaps(minLen = 2, expectedFrequency = "1D")(input.toDF())
      .writeStream.format("memory").queryName("dg").outputMode(OutputMode.Append()).start()
    try {
      input.addData(point("a", 0, 1.0), point("a", 1, 1.5))
      q.processAllAvailable()
      // batch 2 jumps from day 1 to day 4 → 3-day gap spanning the boundary
      input.addData(point("a", 4, 2.25), point("a", 5, 1.0))
      q.processAllAvailable()
      val ev = spark.sql("select * from dg").as[Event].collect()
      assert(ev.length == 1)
      assert(ev(0).start == day(1) && ev(0).stop == day(4))
      assert(ev(0).duration_us == 3L * DayUs)
      // the two-point event carries the NaN-skip endpoint sum, exactly
      // like the batch detector (found by StreamingParityFuzzSpec r20)
      assert(ev(0).n_points == 2L && ev(0).total.contains(3.75), ev(0).toString)
    } finally q.stop()
  }

  test("streaming data gaps: NaN runs and endpoint totals match the batch detector (r20 fuzz find)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // The r19 twin covered only half (b) of the batch detector (ts
    // gaps) and emitted null totals; the randomized parity property
    // caught both. Pin the minimal shapes: a 4-row NaN run split
    // across micro-batches (half a), a gap whose endpoints are one
    // missing and one present value (half-present total), and a gap
    // with both endpoints missing (null total).
    val input = MemoryStream[TsPoint]
    val q = StreamingDetectors.dataGaps(minLen = 2, expectedFrequency = "1D")(input.toDF())
      .writeStream.format("memory").queryName("dgnan").outputMode(OutputMode.Append()).start()
    try {
      val pts = Seq(
        point("a", 0, 5.0),
        TsPoint("a", day(1), Some(Double.NaN)),
        TsPoint("a", day(2), None),
        TsPoint("a", day(3), Some(Double.NaN)),
        TsPoint("a", day(4), None),
        point("a", 5, 7.5),                    // closes the 4-row NaN run
        TsPoint("a", day(8), None),            // 3-day gap, right endpoint missing
        point("a", 12, 2.5),                   // 4-day gap, left endpoint missing
        point("a", 16, 4.0),                   // 4-day gap, both present
        // series b: a gap whose BOTH endpoints are missing (null
        // total) — which is simultaneously a 2-row NaN run of the
        // same span: the batch union emits both rows, so must we
        TsPoint("b", day(0), None),
        TsPoint("b", day(3), Some(Double.NaN)),
        point("b", 4, 1.0))
      pts.grouped(2).foreach { c => input.addData(c: _*); q.processAllAvailable() }
      val streamed = spark.sql("select * from dgnan").as[Event].collect()
        .toSeq.sortBy(e => (e.series_id, e.start.getTime, e.stop.getTime, e.n_points))
      val batch = collectEvents(
        graft.operators.DataGapEvents(minLen = 2, expectedFrequency = "1D")
          .detect(pts.toDF()))
        .sortBy(e => (e.series_id, e.start.getTime, e.stop.getTime, e.n_points))
      assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
      // shape sanity on the pinned cases themselves
      val nanRun = streamed.find(_.n_points == 4L)
      assert(nanRun.isDefined && nanRun.get.start == day(1) &&
        nanRun.get.stop == day(4) && nanRun.get.total.isEmpty, streamed.toString)
      assert(streamed.exists(e => e.start == day(5) && e.total.contains(7.5)),
        "gap with missing right endpoint must total the present side")
      assert(streamed.exists(e => e.start == day(8) && e.total.contains(2.5)),
        "gap with missing left endpoint must total the present side")
      assert(streamed.exists(e => e.start == day(12) && e.total.contains(6.5)),
        "gap with both endpoints present must total both")
      val bEvents = streamed.filter(_.series_id == "b")
      assert(bEvents.size == 2 && bEvents.forall(e =>
        e.start == day(0) && e.stop == day(3) && e.total.isEmpty), bEvents.toString)
    } finally q.stop()
  }

  test("streaming storms: exact fold closes on next group, carries candidate") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[TsPoint]
    val q = StreamingDetectors.storms(
        instantMassToStart = 0.1, minStormTotal = 0.5,
        hoursToStop = 24, maxStormHours = 336, frequency = "1D")(input.toDF())
      .writeStream.format("memory").queryName("st").outputMode(OutputMode.Append()).start()
    try {
      // reference fixture [0,1,1,0,0,...] split across batches
      input.addData(point("a", 0, 0.0), point("a", 1, 1.0), point("a", 2, 1.0))
      q.processAllAvailable()
      input.addData(point("a", 3, 0.0), point("a", 4, 0.0))
      q.processAllAvailable()
      assert(spark.sql("select * from st").count() == 0) // no next group yet
      // day 5 starts the next group > 24h after day 2 → storm 1 closes,
      // back-extended to day 0 (candidate day 1 is not the series head)
      input.addData(point("a", 5, 1.0), point("a", 6, 1.0))
      q.processAllAvailable()
      val ev = spark.sql("select * from st").as[Event].collect()
      assert(ev.length == 1)
      assert(ev(0).start == day(0) && ev(0).stop == day(2))
      assert(ev(0).total.contains(2.0))
      // candidate carry-over: sub-threshold mass, storm 2 still open
      input.addData(point("a", 7, 0.05))
      q.processAllAvailable()
      assert(spark.sql("select * from st").count() == 1)
      val fed = Seq(0.0, 1.0, 1.0, 0.0, 0.0, 1.0, 1.0, 0.05).zipWithIndex
        .map { case (v, d) => point("a", d, v) }
      assert(collectEvents(spark.sql("select * from st")) == batchStorms(fed.toDF(), "1D"))
    } finally q.stop()
  }

  test("streaming storms: failed close carries mass across quiet gap") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[TsPoint]
    // reference golden: [0.1, 0, 0.1, 0.1] with min_storm_total=0.2 →
    // ONE storm spanning all four days (candidate must not advance)
    val q = StreamingDetectors.storms(
        instantMassToStart = 0.1, minStormTotal = 0.2,
        hoursToStop = 24, maxStormHours = 336, frequency = "1D")(input.toDF())
      .writeStream.format("memory").queryName("st2").outputMode(OutputMode.Append()).start()
    try {
      input.addData(point("a", 0, 0.1), point("a", 1, 0.0))
      q.processAllAvailable()
      input.addData(point("a", 2, 0.1), point("a", 3, 0.1))
      q.processAllAvailable()
      // gap day0→day2 is 2d > 24h BUT total at day 0 stop = 0.1 < 0.2 →
      // no close; candidate still day 0; nothing emitted (final storm
      // would need end-of-data, which streams lack)
      assert(spark.sql("select * from st2").count() == 0)
      // unflagged day 4 ends the group (groups are contiguous flagged
      // ROWS); the distant day-30 group forces evaluation:
      // total [day0..day3] = 0.3 ≥ 0.2
      input.addData(point("a", 4, 0.0), point("a", 30, 1.0))
      q.processAllAvailable()
      val ev = spark.sql("select * from st2").as[Event].collect()
      assert(ev.length == 1)
      assert(ev(0).start == day(0) && ev(0).stop == day(3)) // series head: no back-extension
      assert(ev(0).total.exists(t => math.abs(t - 0.3) < 1e-9))
      val fed = Seq(point("a", 0, 0.1), point("a", 1, 0.0), point("a", 2, 0.1),
        point("a", 3, 0.1), point("a", 4, 0.0), point("a", 30, 1.0))
      assert(ev.toSeq == batchStorms(fed.toDF(), "1D", minStormTotal = 0.2))
    } finally q.stop()
  }

  test("streaming storms: span start/stop are exact in microseconds") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.TimeMicros
    // day d carries a d·333 µs offset, so the candidate (day 1), one
    // step before it and the group stop (day 2) all sit inside a
    // millisecond of the day boundary. Day 0's row is 333 µs before
    // candidate − step, so it is no back-extension row: the span
    // starts at the first row at or after candidate − step, the
    // candidate itself
    def atUs(d: Int): Long = TimeMicros.micros(day(d)) + d * 333L
    def pt(d: Int, v: Double) = TsPoint("a", TimeMicros.timestamp(atUs(d)), Some(v))
    val input = MemoryStream[TsPoint]
    val q = StreamingDetectors.storms(
        instantMassToStart = 0.1, minStormTotal = 0.5,
        hoursToStop = 24, maxStormHours = 336, frequency = "1D")(input.toDF())
      .writeStream.format("memory").queryName("stus").outputMode(OutputMode.Append()).start()
    try {
      input.addData(pt(0, 0.0), pt(1, 1.0), pt(2, 1.0), pt(3, 0.0), pt(4, 0.0))
      q.processAllAvailable()
      input.addData(pt(5, 1.0))
      q.processAllAvailable()
      val ev = spark.sql("select * from stus").as[Event].collect()
      assert(ev.length == 1, ev.toSeq)
      val startUs = atUs(1)
      assert(TimeMicros.micros(ev(0).start) == startUs, ev(0))
      assert(TimeMicros.micros(ev(0).stop) == atUs(2), ev(0))
      assert(ev(0).duration_us == atUs(2) - startUs, ev(0))
      assert(ev(0).n_points == 2L && ev(0).total.contains(2.0), ev(0))
      val fed = Seq(pt(0, 0.0), pt(1, 1.0), pt(2, 1.0), pt(3, 0.0), pt(4, 0.0), pt(5, 1.0))
      assert(ev.toSeq == batchStorms(fed.toDF(), "1D"))
    } finally q.stop()
  }

  test("streaming storm sessions merge by gap and finalize via watermark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[TsPoint]
    val q = StreamingDetectors.stormSessions(
        instantMassToStart = 0.1, hoursToStop = 24, watermark = "0 seconds")(
        input.toDF())
      .writeStream.format("memory").queryName("ss").outputMode(OutputMode.Append()).start()
    try {
      // two storm groups separated by > 24h gap, then advance watermark
      input.addData(point("a", 0, 1.0), point("a", 1, 1.0), point("a", 4, 2.0))
      q.processAllAvailable()
      input.addData(point("a", 40, 0.5)) // advances event-time watermark
      q.processAllAvailable()
      val rows = spark.sql("select series_id, n_points, total from ss")
        .as[(String, Long, Double)].collect().sortBy(_._2)
      // first session: days 0-1 merged (gap 24h = not > gap? session gap
      // is 24h so day0→day1 merges), second: day 4 alone
      assert(rows.length == 2)
      assert(rows.map(_._3).toSet == Set(2.0, 2.0) || rows.map(_._2).toSet == Set(1L, 2L))
    } finally q.stop()
  }

  test("streaming exact dedup: first copy passes, later copies drop, state expires") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingDedup.exactDedupStream(
        input.toDF().toDF("doc_id", "ts", "text"), watermarkDelay = "2 days")
      .writeStream.format("memory").queryName("sd").outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two normalized-identical docs (case/punct differ) + one distinct
      input.addData((1L, day(0), "Hello, World!"), (2L, day(0), "hello world"),
        (3L, day(0), "something else"))
      q.processAllAvailable()
      val b1 = spark.sql("select doc_id from sd").as[Long].collect().toSet
      assert(b1 == Set(1L, 3L))
      // batch 2: another copy inside the watermark window still drops
      input.addData((4L, day(1), "HELLO  world"))
      q.processAllAvailable()
      assert(spark.sql("select count(*) from sd").as[Long].head() == 2L)
      // batch 3: advance event time far past the watermark; the expired
      // fingerprint admits a new copy (bounded-state contract)
      input.addData((5L, day(10), "advance watermark"))
      q.processAllAvailable()
      input.addData((6L, day(9), "hello world"))
      q.processAllAvailable()
      val ids = spark.sql("select doc_id from sd").as[Long].collect().toSet
      assert(ids.contains(6L))
    } finally q.stop()
  }

  test("streaming near-dups against a static minhash index") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away"
    val corpus = Seq(
      (100L, base),
      (101L, "an entirely unrelated reference document with other words here")
    ).toDF("doc_id", "text")
    val index = graft.streaming.StreamingDedup.minhashIndex(corpus)
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingDedup.streamingNearDups(
        input.toDF().toDF("doc_id", "ts", "text"), index, threshold = 0.5)
      .writeStream.format("memory").queryName("snd").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, day(0), base + " tonight"),            // near-dup of corpus 100
        (2L, day(0), "completely novel content that matches nothing at all"))
      q.processAllAvailable()
      val rows = spark.sql("select doc_id, corpus_doc_id from snd")
        .as[(Long, Long)].collect().toSeq
      assert(rows == Seq((1L, 100L)))
    } finally q.stop()
  }

  test("watermark reorder: out-of-order rows release sorted; timeout flushes idle series") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[TsPoint]
    val q = graft.streaming.StreamingReorder.reorderByEventTime(
        input.toDF().withWatermark("ts", "2 days"))
      .writeStream.format("memory").queryName("ro").outputMode(OutputMode.Append()).start()
    def rows() = spark.sql("select series_id, ts, value from ro")
      .as[(String, java.sql.Timestamp, Option[Double])].collect().toSeq
    try {
      // batch 1: disordered; watermark reaches day 3 − 2d = day 1, so
      // only day 1 releases (day 3 stays inside the lateness window)
      input.addData(point("a", 3, 3.0), point("a", 1, 1.0))
      q.processAllAvailable()
      assert(rows().map(_._2) == Seq(day(1)))
      // batch 2: the late day-2 row arrives within the delay and slots
      // BEFORE the buffered day 3; watermark → day 3 releases both
      input.addData(point("a", 2, 2.0), point("a", 5, 5.0))
      q.processAllAvailable()
      assert(rows().map(r => (r._1, r._2)) ==
        Seq(("a", day(1)), ("a", day(2)), ("a", day(3))))
      // batch 3: only series b arrives; a's day-5 row flushes via the
      // event-time timeout as the watermark passes it
      input.addData(point("b", 9, 9.0))
      q.processAllAvailable()
      assert(rows().collect { case ("a", t, _) => t } ==
        Seq(day(1), day(2), day(3), day(5)))
    } finally q.stop()
  }

  test("reorder → as-of join: disordered left stream matches the batch join") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // the watermark-bounded composition the as-of scaladoc names: the
    // reorder stage owns lateness (2-day watermark), the join stays
    // the O(1)-state in-order operator
    val right = Seq(("a", day(1), Some(10.0)), ("a", day(4), Some(40.0)))
      .toDF("series_id", "ts", "value")
    val input = MemoryStream[TsPoint]
    val q = graft.streaming.StreamingJoins.streamingAsofJoinStatic(
        graft.streaming.StreamingReorder.reorderByEventTime(
          input.toDF().withWatermark("ts", "2 days")),
        right)
      .writeStream.format("memory").queryName("roaj")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(point("a", 3, 3.0), point("a", 0, 0.0)) // out of order
      q.processAllAvailable()
      input.addData(point("a", 2, 2.0), point("a", 6, 6.0))
      q.processAllAvailable()
      input.addData(point("zz", 20, 0.0)) // watermark push; flushes a's tail
      q.processAllAvailable()
      val got = spark.sql(
          "select ts, asof_ts, asof_value from roaj where series_id = 'a' order by ts")
        .as[(java.sql.Timestamp, Option[java.sql.Timestamp], Option[Double])]
        .collect().toSeq
      val batch = graft.operators.Joins.asofJoin(
          Seq(("a", day(0), Some(0.0)), ("a", day(2), Some(2.0)),
            ("a", day(3), Some(3.0)), ("a", day(6), Some(6.0)))
            .toDF("series_id", "ts", "value"),
          right)
        .orderBy("ts")
        .select("ts", "asof_ts", "asof_value")
        .as[(java.sql.Timestamp, Option[java.sql.Timestamp], Option[Double])]
        .collect().toSeq
      assert(got == batch)
      assert(got.map(_._3) == Seq(None, Some(10.0), Some(10.0), Some(40.0)))
    } finally q.stop()
  }

  test("reorder → storms: disordered station feed detects the same storm") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // the chain is safe (storms never evicts by event time) but trips
    // the conservative global check — the documented escape hatch
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val input = MemoryStream[TsPoint]
    val storms = StreamingDetectors.storms(
      instantMassToStart = 0.1, minStormTotal = 0.5,
      hoursToStop = 24, maxStormHours = 336, frequency = "D")(
      graft.streaming.StreamingReorder.reorderByEventTime(
        input.toDF().withWatermark("ts", "2 days")))
    val q = storms.writeStream.format("memory").queryName("ros")
      .outputMode(OutputMode.Append()).start()
    try {
      // storm days 1-2 (0.6 + 0.7) delivered OUT OF ORDER, then quiet
      // days, then a second storm whose arrival closes the first
      input.addData(point("a", 2, 0.7), point("a", 0, 0.0))
      q.processAllAvailable()
      input.addData(point("a", 1, 0.6), point("a", 3, 0.0))
      q.processAllAvailable()
      input.addData(point("a", 4, 0.0), point("a", 5, 0.0))
      q.processAllAvailable()
      input.addData(point("a", 6, 0.9), point("a", 7, 0.0), point("a", 8, 0.0))
      q.processAllAvailable()
      val ev = spark.sql("select * from ros").as[Event].collect().toSeq
      assert(ev.length == 1)
      // the span back-extends to day 0, which counts (batch's n_points)
      assert(math.abs(ev(0).total.get - 1.3) < 1e-9 && ev(0).n_points == 3L)
      val fed = Seq(0.0, 0.6, 0.7, 0.0, 0.0, 0.0, 0.9, 0.0, 0.0).zipWithIndex
        .map { case (v, d) => point("a", d, v) }
      assert(ev == batchStorms(fed.toDF(), "D"))
    } finally {
      q.stop()
      spark.conf.set(
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    }
  }

  test("streaming decontamination: stateless per-batch flags against a static benchmark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away"
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.streamingDecontaminate(
        input.toDF().toDF("doc_id", "text"), bench, minHits = 2L)
      .writeStream.format("memory").queryName("sdc").outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, base), (2L, "completely unrelated words in this one"))
      q.processAllAvailable()
      input.addData((3L, base.replace("away", "home")))
      q.processAllAvailable()
      val rows = spark.sql("select doc_id, n_hits, contaminated from sdc order by doc_id")
        .as[(Long, Long, Boolean)].collect().toSeq
      val nGrams = base.split(" ").length - 2
      assert(rows == Seq(
        (1L, nGrams.toLong, true), (2L, 0L, false), (3L, nGrams.toLong - 1, true)))
    } finally q.stop()
  }

  test("streaming bloom screen: upper-bounds the exact screen, zero false negatives") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away"
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.streamingBloomScreen(
        input.toDF().toDF("doc_id", "text"), bench, minHits = 2L)
      .writeStream.format("memory").queryName("sbl")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, base), (2L, "completely unrelated words in this one"),
        (3L, base.replace("away", "home")))
      q.processAllAvailable()
      val rows = spark.sql(
        "select doc_id, n_bloom_hits, maybe_contaminated from sbl order by doc_id")
        .as[(Long, Long, Boolean)].collect().toSeq
      val nGrams = base.split(" ").length - 2
      // exact hit counts: nGrams / 0 / nGrams-1. Bloom counts are an
      // upper bound; at ~12 grams vs fpp 0.3% they are exact here,
      // and the zero-false-negative direction must ALWAYS hold.
      assert(rows.map(_._1) == Seq(1L, 2L, 3L))
      assert(rows(0)._2 == nGrams.toLong && rows(0)._3)
      assert(rows(1)._2 == 0L && !rows(1)._3)
      assert(rows(2)._2 == nGrams.toLong - 1 && rows(2)._3)
    } finally q.stop()
    // the oversized-bitset refusal mirrors the batch guard
    val err = intercept[IllegalArgumentException] {
      graft.streaming.StreamingDedup.streamingBloomScreen(
        input.toDF().toDF("doc_id", "text"), bench, maxBloomWords = 1L)
    }
    assert(err.getMessage.contains("streamingBloomScreen"))
  }

  test("streaming substring screen: batch-equivalent on a replayed corpus") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // reference corpus: two docs sharing one 5-token span (so it even
    // has internal dups — they stay the batch job's rows)
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "iota alpha beta gamma delta epsilon kappa mu")
    ).toDF("doc_id", "text")
    // arriving docs: share spans with the CORPUS but not each other
    // (stream-internal dups are out of scope by the lambda contract)
    val arrivals = Seq(
      (1L, "x1 alpha beta gamma delta epsilon x2 x3"),  // one corpus span
      (2L, "y1 y2 y3 y4 y5 y6 y7 y8"),                  // clean
      (3L, "zeta eta"),                                  // too short for a gram
      (4L, "")                                           // empty
    )
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.streamingSubstringScreen(
        input.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("sss")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(arrivals.take(2): _*)
      q.processAllAvailable()
      input.addData(arrivals.drop(2): _*)
      q.processAllAvailable()
      val got = spark.sql("select * from sss order by doc_id")
        .as[(Long, Long, Long, Long, Long, Double, Boolean)].collect().toSeq
      // the batch operator over corpus ∪ arrivals, restricted to the
      // arriving slice, must agree row for row
      val batch = graft.dedup.Dedup.substringDedup(
          corpus.unionByName(arrivals.toDF("doc_id", "text")), l = 5)
        .where(col("doc_id") < 100L).orderBy("doc_id")
        .as[(Long, Long, Long, Long, Long, Double, Boolean)].collect().toSeq
      assert(got == batch)
      // and the flagged doc is the one sharing the corpus span
      assert(got.head == ((1L, 8L, 4L, 1L, 5L, 0.625, false)))
      assert(got(1)._4 == 0L && got(1)._7)
    } finally q.stop()
  }

  test("streaming as-of join vs static: equals batch asofJoin on a replayed corpus") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max}
    // the aj1/aj3 gate inputs: one event_type slice per side,
    // pre-aggregated to one row per (series, ts) for tie determinism
    def typed(t: String) = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
      .where(col("event_type") === t)
      .select(col("user_id").cast("string").as("series_id"), col("ts"),
        graft.operators.Kernels.nanToNull(col("value")).as("value"))
      .groupBy("series_id", "ts").agg(max(col("value")).as("value"))
    val tol = Some(3L * 86400L * 1000000L)
    val leftRows = typed("click")
      .as[(String, java.sql.Timestamp, Option[Double])].collect()
      .sortBy(_._2.getTime)
    val input = MemoryStream[(String, java.sql.Timestamp, Option[Double])]
    val q = graft.streaming.StreamingJoins.streamingAsofJoinStatic(
        input.toDF().toDF("series_id", "ts", "value"), typed("purchase"), tol)
      .writeStream.format("memory").queryName("saj")
      .outputMode(OutputMode.Append()).start()
    try {
      val split = leftRows.length / 2
      input.addData(leftRows.take(split).toSeq: _*)
      q.processAllAvailable()
      input.addData(leftRows.drop(split).toSeq: _*)
      q.processAllAvailable()
      val got = spark.sql("select * from saj").as[(String, java.sql.Timestamp, Option[Double], Option[java.sql.Timestamp], Option[Double])].collect().toSet
      val batch = graft.operators.Joins
        .asofJoin(typed("click"), typed("purchase"), tol)
        .as[(String, java.sql.Timestamp, Option[Double], Option[java.sql.Timestamp], Option[Double])].collect().toSet
      assert(got.nonEmpty && got == batch)
      // some rows must actually match (else the equality is vacuous)
      assert(got.exists(_._4.nonEmpty) && got.exists(_._4.isEmpty))
      // no-tolerance form agrees too (pure backward carry)
      val got0 = graft.streaming.StreamingJoins
        .streamingAsofJoinStatic(
          typed("click"), typed("purchase")) // static-on-static still runs the same map
        .as[(String, java.sql.Timestamp, Option[Double], Option[java.sql.Timestamp], Option[Double])].collect().toSet
      val batch0 = graft.operators.Joins
        .asofJoin(typed("click"), typed("purchase"))
        .as[(String, java.sql.Timestamp, Option[Double], Option[java.sql.Timestamp], Option[Double])].collect().toSet
      assert(got0 == batch0)
    } finally q.stop()
    // loud refusal above the broadcast bound, foreachBatch route named
    val err = intercept[IllegalArgumentException] {
      graft.streaming.StreamingJoins.streamingAsofJoinStatic(
        input.toDF().toDF("series_id", "ts", "value"), typed("purchase"),
        maxRightRows = 1L)
    }
    assert(err.getMessage.contains("maxStaticRightRows") &&
      err.getMessage.contains("foreachBatch"))
  }

  test("streaming as-of join stream-vs-stream: equals batch asofJoin on replayed sides") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max}
    def typed(t: String) = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
      .where(col("event_type") === t)
      .select(col("user_id").cast("string").as("series_id"), col("ts"),
        graft.operators.Kernels.nanToNull(col("value")).as("value"))
      .groupBy("series_id", "ts").agg(max(col("value")).as("value"))
    val tol = Some(3L * 86400L * 1000000L)
    def rowsOf(t: String) = typed(t)
      .as[(String, java.sql.Timestamp, Option[Double])].collect()
      .sortBy(_._2.getTime)
    val (lRows, rRows) = (rowsOf("click"), rowsOf("purchase"))
    // split BOTH sides at the same event time so batch 2's left rows
    // only need right rows from batches <= 2 — the per-series
    // event-time-order contract the operator documents
    val mid = lRows(lRows.length / 2)._2.getTime
    val lIn = MemoryStream[(String, java.sql.Timestamp, Option[Double])]
    val rIn = MemoryStream[(String, java.sql.Timestamp, Option[Double])]
    val q = graft.streaming.StreamingJoins.streamingAsofJoin(
        lIn.toDF().toDF("series_id", "ts", "value"),
        rIn.toDF().toDF("series_id", "ts", "value"), tol)
      .writeStream.format("memory").queryName("saj2")
      .outputMode(OutputMode.Append()).start()
    try {
      // each side replays in event-time order; the right side runs a
      // window AHEAD (processAllAvailable between adds pins the
      // interleaving — with a live trigger the sides race otherwise),
      // which exercises the carried right buffer: batch-1 lefts must
      // match rights that arrived in an EARLIER micro-batch
      rIn.addData(rRows.filter(_._2.getTime <= mid).toSeq: _*)
      q.processAllAvailable()
      lIn.addData(lRows.filter(_._2.getTime <= mid).toSeq: _*)
      q.processAllAvailable()
      rIn.addData(rRows.filter(_._2.getTime > mid).toSeq: _*)
      q.processAllAvailable()
      lIn.addData(lRows.filter(_._2.getTime > mid).toSeq: _*)
      q.processAllAvailable()
      val got = spark.sql("select * from saj2")
        .as[(String, java.sql.Timestamp, Option[Double], Option[java.sql.Timestamp], Option[Double])]
        .collect().toSet
      val batch = graft.operators.Joins
        .asofJoin(typed("click"), typed("purchase"), tol)
        .as[(String, java.sql.Timestamp, Option[Double], Option[java.sql.Timestamp], Option[Double])]
        .collect().toSet
      assert(got.nonEmpty && got == batch)
      assert(got.exists(_._4.nonEmpty) && got.exists(_._4.isEmpty))
    } finally q.stop()
  }

  test("streaming as-of join: over-bound right buffer fails loudly with remedies named") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val lIn = MemoryStream[(String, java.sql.Timestamp, Option[Double])]
    val rIn = MemoryStream[(String, java.sql.Timestamp, Option[Double])]
    val q = graft.streaming.StreamingJoins.streamingAsofJoin(
        lIn.toDF().toDF("series_id", "ts", "value"),
        rIn.toDF().toDF("series_id", "ts", "value"),
        maxBufferRows = 2)
      .writeStream.format("memory").queryName("sajg")
      .outputMode(OutputMode.Append()).start()
    try {
      // three rights ahead of any left: buffer would hold 3 > 2
      rIn.addData(("a", day(1), Some(1.0)), ("a", day(2), Some(2.0)),
        ("a", day(3), Some(3.0)))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).toSeq
      assert(chain(err).exists(m =>
        m.contains("maxBufferRows") && m.contains("foreachBatch")))
    } finally q.stop()
  }

  test("streaming as-of join: onOverflow='evict' bounds state, degrades only straggler lefts") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val lIn = MemoryStream[(String, java.sql.Timestamp, Option[Double])]
    val rIn = MemoryStream[(String, java.sql.Timestamp, Option[Double])]
    val q = graft.streaming.StreamingJoins.streamingAsofJoin(
        lIn.toDF().toDF("series_id", "ts", "value"),
        rIn.toDF().toDF("series_id", "ts", "value"),
        maxBufferRows = 2, onOverflow = "evict")
      .writeStream.format("memory").queryName("saje")
      .outputMode(OutputMode.Append()).start()
    try {
      // four rights ahead of any left: the fail variant dies here; the
      // evict variant keeps the NEWEST two (days 3, 4)
      rIn.addData(("a", day(1), Some(1.0)), ("a", day(2), Some(2.0)),
        ("a", day(3), Some(3.0)), ("a", day(4), Some(4.0)))
      q.processAllAvailable()
      // a straggler left at day 2: its true match (day-2 right) was
      // evicted and day-3 is in the future -> null match. A current
      // left at day 5 matches the surviving day-4 right.
      lIn.addData(("a", day(2), Some(20.0)), ("a", day(5), Some(50.0)))
      q.processAllAvailable()
      val got = spark.sql("select series_id, ts, asof_value from saje order by ts")
        .as[(String, java.sql.Timestamp, Option[Double])].collect().toSeq
      assert(got.map(_._3) == Seq(None, Some(4.0)))
    } finally q.stop()
  }

  test("streaming quantile sketch: union of shard sketches == batch sk3 sample exactly") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val orders = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey").cast("string"), col("o_totalprice").cast("double"))
      .as[(String, Double)].collect()
    val k = 64
    val input = MemoryStream[(String, Double)]
    val q = graft.streaming.StreamingSketches.kmvQuantileShardSketches(
        input.toDF().toDF("key", "v"), k = k, shards = 8)
      .writeStream.format("memory").queryName("kqs")
      .outputMode(OutputMode.Append()).start()
    try {
      val split = orders.length / 2
      input.addData(orders.take(split).toSeq: _*)
      q.processAllAvailable()
      input.addData(orders.drop(split).toSeq: _*)
      q.processAllAvailable()
      // latest sketch per shard → union → bottom-k by (h, v) → the
      // nearest-rank picks the batch operator makes
      val latest = spark.sql(
          """select shard, hs, vs from kqs a
            |where upd = (select max(upd) from kqs b where b.shard = a.shard)""".stripMargin)
        .as[(Int, Seq[Long], Seq[Double])].collect()
      val sample = latest.flatMap { case (_, hs, vs) => hs.zip(vs) }
        .sortBy(identity).take(k)
      val kUsed = sample.length
      val byV = sample.map { case (h, v) => (v, h) }.sortBy(identity)
      def pick(qq: Double): Double = byV(math.ceil(qq * kUsed).toInt - 1)._1
      val batch = graft.operators.Sketches.kmvQuantiles(
          graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "orders"),
          col("o_orderkey"), col("o_totalprice"), k = k)
        .as[(Long, Long, Double, Double, Double, Double, Double, Double)].head()
      assert(kUsed.toLong == batch._2)
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r6(pick(0.5)) == batch._4 && r6(pick(0.9)) == batch._6 &&
        r6(pick(0.99)) == batch._8)
    } finally q.stop()
  }

  test("streaming quality screen: equals the cu3 batch key on a replayed corpus") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingCorpus.streamingQualityScreen(
        input.toDF().toDF("doc_id", "text"),
        graft.queries.PipelineQueries.qualityLexiconWeights)
      .writeStream.format("memory").queryName("sqs")
      .outputMode(OutputMode.Append()).start()
    try {
      val split = docs.length / 2
      input.addData(docs.take(split).toSeq: _*)
      q.processAllAvailable()
      input.addData(docs.drop(split).toSeq: _*)
      q.processAllAvailable()
      val got = spark.sql("select doc_id, logit6, keep from sqs")
        .as[(Long, Option[Double], Boolean)].collect().toSet
      val batch = graft.SparkEntry.queries("cu3_classifier_curation")(
          spark, "/root/testdata/sf0.001")
        .as[(Long, Option[Double], Boolean)].collect().toSet
      assert(got.nonEmpty && got == batch)
      assert(got.exists(_._3) && got.exists(!_._3))
    } finally q.stop()
  }

  test("streaming substring screen: refuses an over-bound corpus gram set loudly") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "iota alpha beta gamma delta epsilon kappa mu")
    ).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    // the corpus above has > 2 distinct 5-grams, so a bound of 2 must
    // refuse at plan-build time (the collect happens eagerly) with the
    // foreachBatch fallback named — never a silent driver OOM path
    val err = intercept[IllegalArgumentException] {
      graft.streaming.StreamingDedup.streamingSubstringScreen(
        input.toDF().toDF("doc_id", "text"), corpus, maxGrams = 2L)
    }
    assert(err.getMessage.contains("maxDriverGramSet") &&
      err.getMessage.contains("foreachBatch"))
    // same guard on the decontamination twin
    val err2 = intercept[IllegalArgumentException] {
      graft.streaming.StreamingDedup.streamingDecontaminate(
        input.toDF().toDF("doc_id", "text"), corpus, maxGrams = 2L)
    }
    assert(err2.getMessage.contains("streamingDecontaminate"))
  }

  test("streaming funnel: per-user stage state across batches == batch reach times") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val stages = Seq("view", "click", "purchase")
    // real fixture: sf0.001 events, replayed in two event-time halves
    // (in order per user — the runEvents ordering contract)
    val events = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
      .sortBy(r => (Math.floorDiv(r._2.getTime, 1000L) * 1000000L
        + r._2.getNanos / 1000L, r._3))
    val split = events.length / 2
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val q = graft.streaming.StreamingFunnel.funnelReaches(
        input.toDF().toDF("user_id", "ts", "event_id", "event_type"), stages)
      .writeStream.format("memory").queryName("sfn")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events.take(split).toSeq: _*)
      q.processAllAvailable()
      input.addData(events.drop(split).toSeq: _*)
      q.processAllAvailable()
      val got = spark.sql("select user_id, stage, reached_at from sfn")
        .as[(Long, String, java.sql.Timestamp)].collect().toSet
      val batch = graft.queries.TemporalQueries.funnelReachTimes(
          graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
            .select(col("user_id").cast("long"), col("ts"),
              col("event_id"), col("event_type")), stages)
        .as[(Long, String, java.sql.Timestamp)].collect().toSet
      assert(got.nonEmpty && got == batch)
      // and the counts agree with the batch funnel's stage totals
      val counts = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val fn = graft.queries.TemporalQueries.funnel(
          graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
            .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
          stages)
        .as[(String, Long)].collect().toMap
      assert(stages.forall(s => counts.getOrElse(s, 0L) == fn(s)))
    } finally q.stop()
  }

  test("streaming KMV: union of shard sketches == the batch sketch, exactly") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val k = 32
    val texts = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text")).as[String].collect()
    val split = texts.length / 2
    val input = MemoryStream[String]
    val q = graft.streaming.StreamingSketches.kmvShardSketches(
        input.toDF().toDF("key"), k = k, shards = 16)
      .writeStream.format("memory").queryName("skmv")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(texts.take(split).toSeq: _*)
      q.processAllAvailable()
      input.addData(texts.drop(split).toSeq: _*)
      q.processAllAvailable()
      // latest sketch per shard → merged global bottom-k
      val latest = spark.sql(
          """select shard, hs from skmv s where upd =
            | (select max(upd) from skmv x where x.shard = s.shard)""".stripMargin)
        .as[(Int, Seq[Long])].collect()
      val mergedBottomK = latest.flatMap(_._2).distinct.sorted.take(k)
      // the batch estimate (kmvDistinct) must be reproduced to the digit
      // by the same (k−1)·2^32/kth arithmetic over the streamed sketch
      val streamedEst =
        if (mergedBottomK.length < k) mergedBottomK.length.toDouble
        else (k - 1).toDouble * 4294967296.0 / mergedBottomK.last.toDouble
      val batch = graft.operators.Sketches.kmvDistinct(
          graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "documents"),
          col("text"), k)
        .select("kmv_estimate6").as[Double].collect().head
      assert(BigDecimal(streamedEst)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble == batch)
    } finally q.stop()
  }

  test("streaming transition steps: cross-batch state reproduces the batch Markov counts") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id").cast("long"), col("ts"), col("event_id"),
        col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
      .sortBy(r => (Math.floorDiv(r._2.getTime, 1000L) * 1000000L
        + r._2.getNanos / 1000L, r._3))
    val split = events.length / 2 // mid-stream split: boundary steps must carry
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val q = graft.streaming.StreamingPaths.transitionSteps(
        input.toDF().toDF("user_id", "ts", "event_id", "event_type"))
      .writeStream.format("memory").queryName("stp")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events.take(split).toSeq: _*)
      q.processAllAvailable()
      input.addData(events.drop(split).toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
          "select from_type, to_type, count(*) from stp group by 1, 2")
        .as[(String, String, Long)].collect().toSet
      val batch = graft.queries.TemporalQueries.transitionMatrix(
          graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events"))
        .select("from_type", "to_type", "n")
        .as[(String, String, Long)].collect().toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming SCD2: closed-version feed equals the batch history's non-current slice") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id").cast("long"), col("ts"), col("event_id"),
        col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
      .sortBy(r => (Math.floorDiv(r._2.getTime, 1000L) * 1000000L
        + r._2.getNanos / 1000L, r._3))
    val split = events.length / 2 // versions straddling the batch boundary must close correctly
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val q = graft.streaming.StreamingScd.scd2Closed(
        input.toDF().toDF("user_id", "ts", "event_id", "event_type"))
      .writeStream.format("memory").queryName("sscd")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events.take(split).toSeq: _*)
      q.processAllAvailable()
      input.addData(events.drop(split).toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
          "select user_id, version, event_type, valid_from, valid_to, n_events from sscd")
        .as[(Long, Long, String, java.sql.Timestamp, java.sql.Timestamp, Long)]
        .collect().toSet
      val batch = graft.queries.TemporalQueries.scd2History(
          graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events"))
        .where(!col("is_current"))
        .select("user_id", "version", "event_type", "valid_from", "valid_to",
          "n_events")
        .as[(Long, Long, String, java.sql.Timestamp, java.sql.Timestamp, Long)]
        .collect().toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming survival: conversion feed grouped by day equals the batch KM n_events column") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id").cast("long"), col("ts"), col("event_id"),
        col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
      .sortBy(r => (Math.floorDiv(r._2.getTime, 1000L) * 1000000L
        + r._2.getNanos / 1000L, r._3))
    val split = events.length / 2 // users whose origin and conversion straddle the boundary must carry state
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val q = graft.streaming.StreamingSurvival.conversions(
        input.toDF().toDF("user_id", "ts", "event_id", "event_type"),
        "view", "purchase")
      .writeStream.format("memory").queryName("skm")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events.take(split).toSeq: _*)
      q.processAllAvailable()
      input.addData(events.drop(split).toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql("select day, count(*) from skm group by 1")
        .as[(Long, Long)].collect().toSet
      val batch = graft.queries.TemporalQueries.kaplanMeier(
          graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events"),
          "view", "purchase")
        .where(col("n_events") > 0L)
        .select("day", "n_events")
        .as[(Long, Long)].collect().toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming attribution: purchase feed grouped by touch equals the batch at1 aggregate") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, floor, isnan, lit, when}
    val raw = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
    val vq = when(isnan(col("value")), lit(null)).otherwise(col("value"))
    val yu = when(vq >= 0, floor(vq * lit(1e6) + lit(0.5)))
      .otherwise(-floor(-vq * lit(1e6) + lit(0.5))).cast("long")
    val events = raw
      .select(col("user_id").cast("long"), col("ts"), col("event_id"),
        col("event_type"), yu.as("yu"))
      .as[(Long, java.sql.Timestamp, Long, String, Option[Long])].collect()
      .sortBy(r => (Math.floorDiv(r._2.getTime, 1000L) * 1000000L
        + r._2.getNanos / 1000L, r._3))
    val split = events.length / 2 // a touch set in batch 1 must credit purchases in batch 2
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Option[Long])]
    val q = graft.streaming.StreamingAttribution.lastTouch(
        input.toDF().toDF("user_id", "ts", "event_id", "event_type", "yu"),
        "purchase")
      .writeStream.format("memory").queryName("sat")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events.take(split).toSeq: _*)
      q.processAllAvailable()
      input.addData(events.drop(split).toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
          "select touch_type, count(*), sum(yu) from sat group by 1")
        .as[(Option[String], Long, Option[Long])].collect().toSet
      val batch = graft.queries.TemporalQueries.lastTouchAttribution(raw, "purchase")
        .select(col("touch_type"),
          col("n_purchases"),
          // round, not cast: sum/1e6*1e6 does not round-trip in IEEE
          org.apache.spark.sql.functions.round(col("revenue6") * lit(1e6))
            .cast("long").as("syu"))
        .as[(Option[String], Long, Option[Long])].collect().toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming burst: closed-day feed equals batch bd1 minus each type's open day") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, floor, lit, unix_timestamp}
    val raw = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
    val dayRows = raw.select(col("event_type"),
        floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("day_idx"),
        col("ts"))
      .as[(String, Long, java.sql.Timestamp)].collect()
      .sortBy(_._3.getTime)
      .map(r => (r._1, r._2))
    val split = dayRows.length / 2 // a day straddling the boundary must keep counting, not double-close
    val input = MemoryStream[(String, Long)]
    val q = graft.streaming.StreamingBurst.closedDays(
        input.toDF().toDF("event_type", "day_idx"))
      .writeStream.format("memory").queryName("sbd")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(dayRows.take(split).toSeq: _*)
      q.processAllAvailable()
      input.addData(dayRows.drop(split).toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
          "select event_type, day_idx, n, trail_n, trail_days, is_burst from sbd")
        .as[(String, Long, Long, Long, Long, Boolean)].collect().toSet
      val batchAll = graft.queries.TimeSeriesQueries
        .bd1BurstDetection(spark, "/root/testdata/sf0.001")
        .select("event_type", "day_idx", "n", "trail_n", "trail_days", "is_burst")
        .as[(String, Long, Long, Long, Long, Boolean)].collect()
      val lastDay = batchAll.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val batchClosed = batchAll.filter(r => r._2 < lastDay(r._1)).toSet
      assert(streamed.nonEmpty && streamed == batchClosed)
    } finally q.stop()
  }

  test("streaming actives: watermark-closed DAU equals the batch au1 dau column") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)].collect()
      .sortBy(_._2.getTime)
    val split = events.length / 2
    // a sentinel event far past the horizon advances the watermark so
    // every REAL day closes and emits (its own day stays open)
    val lastTs = events.last._2.getTime
    val sentinel = (-1L, new java.sql.Timestamp(lastTs + 40L * 86400000L))
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = graft.streaming.StreamingActives.dailyActive(
        input.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("sdau")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events.take(split).toSeq: _*)
      q.processAllAvailable()
      input.addData((events.drop(split).toSeq :+ sentinel): _*)
      q.processAllAvailable()
      val streamed = spark.sql(
          "select cast(unix_timestamp(day) / 86400 as long), dau from sdau")
        .as[(Long, Long)].collect().toMap
      val batch = graft.queries.TemporalQueries.activeUsers(
          graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events"))
        .select("day_idx", "dau").as[(Long, Long)].collect().toMap
      // every real day closed under the sentinel's watermark; the
      // sentinel's own far-future day is the one still open
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming cohorts: per-user first-day state reproduces the batch retention matrix") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)].collect()
      .sortBy(_._2.getTime)
    val split = events.length / 2
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = graft.streaming.StreamingCohort.cohortActivity(
        input.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("sch")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events.take(split).toSeq: _*)
      q.processAllAvailable()
      input.addData(events.drop(split).toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
          """select cohort_day, day_offset,
            | count(distinct user_id) as active_users
            |from sch group by 1, 2""".stripMargin)
        .as[(Long, Long, Long)].collect().toSet
      val batch = graft.queries.Relational
        .ch1CohortRetention(spark, "/root/testdata/sf0.001")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed.nonEmpty && streamed == batch)
      // idempotence of the day dedup: each (user, day) emitted once
      val n = spark.sql("select count(*) from sch").head.getLong(0)
      val nd = spark.sql("select count(distinct user_id, day_idx) from sch")
        .head.getLong(0)
      assert(n == nd)
    } finally q.stop()
  }

  test("streaming DSIR screen: frozen lambda table scores replayed corpus == batch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // reference corpus: even ids are "target"; texts share bigrams so
    // lambda has signal and every replayed doc's buckets are known
    val corpus = (0L until 12L).map { i =>
      val flavor = if (i % 2 == 0) "alpha beta gamma delta" else "omega psi chi phi"
      (i, s"$flavor common tail token$i")
    }.toDF("doc_id", "text")
    val batch = graft.queries.CorpusQueries.dsirSelect(
        corpus, col("doc_id") % 2 === 0, topK = 12)
      .select("doc_id", "n_feats", "w_mean")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingCorpus.streamingDsirScreen(
        input.toDF().toDF("doc_id", "text"), corpus, col("doc_id") % 2 === 0)
      .writeStream.format("memory").queryName("sdsir")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((0L until 6L).map(i => (i, corpus.where(col("doc_id") === i)
        .select("text").as[String].head())): _*)
      q.processAllAvailable()
      input.addData((100L, "a"))  // single token: no bigrams → no row
      q.processAllAvailable()
      val got = spark.sql("select * from sdsir order by doc_id")
        .as[(Long, Long, Double)].collect().toSeq
      assert(got.size == 6)
      got.foreach { case (id, n, w) =>
        assert(batch(id) == ((n, w)), s"doc $id: stream ($n,$w) vs batch ${batch(id)}")
      }
      // target-flavored docs score higher under the frozen table
      val targetW = got.filter(_._1 % 2 == 0).map(_._3)
      val rawW = got.filter(_._1 % 2 == 1).map(_._3)
      assert(targetW.min > rawW.max)
    } finally q.stop()
  }

  // --- streaming station ingestion (graft-station readStream) -----------

  private def fixturePath = getClass.getResource("/station_tum.csv").getPath

  test("station readStream: rate-limited micro-batches drain the fixture window") {
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream.format("graft-station")
      .option("source", "CSV").option("path", fixturePath)
      .option("stations", "TUM")
      .option("start", "2022-12-01").option("stop", "2022-12-20")
      .option("maxbatchstep", "7D")
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val n = df.count()
        batches.synchronized { batches += ((id, n)) }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val counts = batches.synchronized(batches.filter(_._2 > 0).map(_._2).toSeq)
      // 20 daily rows, at most 7 event-time days admitted per trigger
      assert(counts.sum == 20, counts)
      assert(counts == Seq(7L, 7L, 6L), counts)
    } finally q.stop()
  }

  test("station readStream: maxbatchstep with no start steps from the 1900 floor, not -2^63") {
    // regression: the first admitted step used to base at Long.MinValue,
    // scheduling ~10^7 empty micro-batches before any real event time —
    // processAllAvailable never returned. With the epoch-floor base the
    // stream is live in batch 1.
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-station")
      .option("source", "CSV").option("path", fixturePath)
      .option("stations", "TUM")
      .option("stop", "2022-12-20")
      .option("maxbatchstep", "50000D") // 1900 + 50000 days ≈ 2036 ⇒ one live batch
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        batches.synchronized { batches += n }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val counts = batches.synchronized(batches.filter(_ > 0).toSeq)
      assert(counts == Seq(20L), counts)
    } finally q.stop()
  }

  test("streaming increments: diff state carries across batches, missing propagates") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, java.sql.Timestamp, Option[Double])]
    val q = graft.streaming.StreamingStations.increments(
        input.toDF().toDF("station_id", "ts", "accum"))
      .writeStream.format("memory").queryName("si").outputMode(OutputMode.Append()).start()
    try {
      input.addData(("a", day(0), Some(1.0)), ("a", day(1), Some(3.0)))
      q.processAllAvailable()
      // batch 2's first diff must see batch 1's last accumulation
      input.addData(("a", day(2), Some(3.5)), ("a", day(3), None), ("a", day(4), Some(7.0)))
      q.processAllAvailable()
      val rows = spark.sql("select * from si order by ts")
        .as[(String, java.sql.Timestamp, Option[Double])].collect().toSeq
      assert(rows.map(_._3) == Seq(None, Some(2.0), Some(0.5), None, None))
    } finally q.stop()
  }

  test("streaming increments: rows inside one millisecond diff in microsecond order") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.TimeMicros
    val t0 = TimeMicros.micros(day(0))
    def at(offsetUs: Long) = TimeMicros.timestamp(t0 + offsetUs)
    val input = MemoryStream[(String, java.sql.Timestamp, Option[Double])]
    val q = graft.streaming.StreamingStations.increments(
        input.toDF().toDF("station_id", "ts", "accum"))
      .writeStream.format("memory").queryName("sius").outputMode(OutputMode.Append()).start()
    try {
      // one batch, out of order, all three rows inside one millisecond
      input.addData(("a", at(200L), Some(6.0)), ("a", at(0L), Some(1.0)),
        ("a", at(100L), Some(3.0)))
      q.processAllAvailable()
      val rows = spark.sql("select * from sius order by ts")
        .as[(String, java.sql.Timestamp, Option[Double])].collect().toSeq
      assert(rows.map(r => (TimeMicros.micros(r._2) - t0, r._3)) ==
        Seq((0L, None), (100L, Some(2.0)), (200L, Some(3.0))), rows)
    } finally q.stop()
  }

  test("streaming mixture sample: static rates, stateless membership equals batch fate") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val rates = Seq(("s1", 10000L), ("s2", 5000L), ("s3", 0L)).toDF("source", "rate_bp")
    val input = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamingCorpus.mixtureSample(
        input.toDF().toDF("doc_id", "source", "text"), rates)
      .writeStream.format("memory").queryName("smx").outputMode(OutputMode.Append()).start()
    try {
      val docs = (0L until 40L).map(i => (i, s"s${(i % 3) + 1}", s"doc $i"))
      val (b1, b2) = docs.splitAt(20)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val kept = spark.sql("select doc_id, source, bucket from smx")
        .as[(Long, String, Long)].collect().toSeq
      // the batch-side fate, recomputed independently
      def hash(id: Long): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
        java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 10000
      }
      val expect = docs.filter { case (id, src, _) =>
        val rate = Map("s1" -> 10000L, "s2" -> 5000L, "s3" -> 0L)(src)
        hash(id) < rate
      }.map(d => (d._1, d._2)).toSet
      assert(kept.map(k => (k._1, k._2)).toSet == expect)
      // rate 10000 keeps everything in its domain; rate 0 keeps nothing
      assert(kept.count(_._2 == "s1") == docs.count(_._2 == "s1"))
      assert(!kept.exists(_._2 == "s3"))
      kept.foreach { case (id, _, b) => assert(b == hash(id)) }
    } finally q.stop()
  }

  test("streaming mixture sample: unknown domain fails loudly; keep/drop policies apply") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val rates = Seq(("s1", 10000L)).toDF("source", "rate_bp")
    def run(onUnknown: String): Seq[(Long, String)] = {
      val input = MemoryStream[(Long, String, String)]
      val name = s"smx_$onUnknown"
      val q = graft.streaming.StreamingCorpus.mixtureSample(
          input.toDF().toDF("doc_id", "source", "text"), rates, onUnknown)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData((1L, "s1", "a"), (2L, "sNEW", "b"))
        q.processAllAvailable()
        spark.sql(s"select doc_id, source from $name").as[(Long, String)].collect().toSeq
      } finally q.stop()
    }
    // default: a domain missing from the snapshot kills the batch
    val e = intercept[Exception] { run("fail") }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("no rate for domain")), msgs(e).mkString("; "))
    // keep: unrated domains pass wholesale; drop: they vanish
    assert(run("keep").map(_._1).toSet == Set(1L, 2L))
    assert(run("drop").map(_._1).toSet == Set(1L))
  }

  test("station readStream over PAGED: admitted window bounds event time, paging bounds each fetch") {
    // loopback offset/limit server: 10 daily records, 3 per page
    val days = (1 to 10).map(d => (f"2022-12-$d%02d", d * 0.1))
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/page", (ex: com.sun.net.httpserver.HttpExchange) => {
      hits.incrementAndGet()
      val q = ex.getRequestURI.getQuery.split("&").map(_.split("=", 2))
        .map(kv => (kv(0), kv(1))).toMap
      val window = days.filter { case (d, _) => d >= q("start") && d <= q("stop") }
      val page = window.slice(q("offset").toInt, q("offset").toInt + q("limit").toInt)
      val results = page.map { case (d, v) => s"""{"date":"$d","value":$v}""" }
        .mkString("[", ",", "]")
      val body = s"""{"count":${window.size},"results":$results}""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      val q = spark.readStream.format("graft-station")
        .option("source", "PAGED")
        .option("endpoint", s"http://127.0.0.1:${server.getAddress.getPort}/page")
        .option("pagelimit", "3")
        .option("stations", "TUM")
        .option("start", "2022-12-01").option("stop", "2022-12-10")
        .option("maxbatchstep", "4D")
        .load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = df.count()
          batches.synchronized { batches += n }
          ()
        }
        .start()
      try {
        q.processAllAvailable()
        val counts = batches.synchronized(batches.filter(_ > 0).toSeq)
        // 10 daily rows, at most 4 event-time days admitted per trigger
        assert(counts.sum == 10, counts)
        assert(counts == Seq(4L, 4L, 2L), counts)
        // each 4-day batch pages at 3 rows/request: 2 requests for the
        // 4-row windows, 1 for the 2-row tail → strictly more requests
        // than batches, none exceeding the page limit
        assert(hits.get() >= 5, s"paging inside batches not engaged: ${hits.get()} requests")
      } finally q.stop()
    } finally server.stop(0)
  }

  test("station readStream → increments → storms: continuous from_station end-to-end") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val accum = spark.readStream.format("graft-station")
      .option("source", "CSV").option("path", fixturePath)
      .option("stations", "TUM")
      .option("start", "2022-12-01").option("stop", "2022-12-20")
      .option("maxbatchstep", "5D")
      .load()
    val storms = StreamingDetectors.storms(
      instantMassToStart = 0.1, minStormTotal = 0.5,
      hoursToStop = 24, maxStormHours = 336, frequency = "D")(
      graft.streaming.StreamingStations.increments(accum))
    val q = storms.writeStream.format("memory").queryName("ss2")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val ev = spark.sql("select * from ss2").as[Event].collect().toSeq
      // the fixture's first storm (days 4-6, total 1.3) closes when the
      // second storm's first flagged point arrives; the second stays
      // open — a stream has no end-of-data. n_points=4 covers the
      // back-extended day-3 point too, as in batch
      assert(ev.length == 1)
      assert(ev(0).total.contains(1.3) && ev(0).n_points == 4L)
      val batchAccum = spark.read.format("graft-station")
        .option("source", "CSV").option("path", fixturePath)
        .option("stations", "TUM")
        .option("start", "2022-12-01").option("stop", "2022-12-20")
        .load()
      assert(ev == batchStorms(graft.streaming.StreamingStations.increments(batchAccum), "D"))
    } finally q.stop()
  }

  test("streaming session funnel: gap-reset state across batches equals batch sf1 counts") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val stages = Seq("view", "click", "signup", "purchase")
    val gapUs = 6L * 3600L * 1000000L
    val events = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
      .sortBy(r => (Math.floorDiv(r._2.getTime, 1000L) * 1000000L
        + r._2.getNanos / 1000L, r._3))
    // split mid-stream so sessions SPAN the micro-batch boundary —
    // the lastUs/reached state carry is what the test proves
    val split = events.length / 2
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val q = graft.streaming.StreamingFunnel.sessionFunnelReaches(
        input.toDF().toDF("user_id", "ts", "event_id", "event_type"),
        stages, gapUs)
      .writeStream.format("memory").queryName("ssf")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events.take(split).toSeq: _*)
      q.processAllAvailable()
      input.addData(events.drop(split).toSeq: _*)
      q.processAllAvailable()
      // each (user, session, stage) emits at most once -> plain count
      val streamed = spark.sql(
          "select stage, count(*) as n from ssf group by stage")
        .as[(String, Long)].collect().toMap
      val batch = graft.queries.TemporalQueries.sessionFunnel(
          graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
            .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
          stages, gapUs)
        .as[(String, Long)].collect().toMap
      assert(batch.values.sum > 0)
      assert(stages.forall(st => streamed.getOrElse(st, 0L) == batch(st)),
        s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming new-vs-returning: cohort-feed derivation equals batch nr1 exactly") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)].collect()
      .sortBy(_._2.getTime)
    val split = events.length / 2
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = graft.streaming.StreamingCohort.newVsReturningFeed(
        input.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("snr")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(events.take(split).toSeq: _*)
      q.processAllAvailable()
      input.addData(events.drop(split).toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
          """select day_idx, count(*) as n_active,
            |  sum(cast(is_new as long)) as n_new,
            |  count(*) - sum(cast(is_new as long)) as n_returning
            |from snr group by 1""".stripMargin)
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = graft.queries.TemporalQueries.newVsReturning(
          graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "events"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming n-gram novelty: bloom-bounded state equals batch ng1 on a replayed corpus") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docsSeq = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight and more"),
      (3L, "completely different content with no overlap whatsoever in here"),
      (4L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 1
      (5L, "xx")) // < 3 tokens -> zero grams -> null frac
    // batch twin: the ng1 key's chain verbatim (same hash kernel —
    // graft_shingle_hashes IS shingleHashes(wordShingles(.., 3)))
    val d = docsSeq.toDF("doc_id", "text")
    val grams = d.select(col("doc_id"), explode(array_distinct(
      graft.dedup.Dedup.shingleHashes(
        graft.dedup.Dedup.wordShingles(col("text"), 3)))).as("g"))
    val per = grams
      .withColumn("first_doc", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("ng"),
        sum((col("doc_id") === col("first_doc")).cast("long")).as("nn"))
    val batch = d.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ng"), lit(0L)).as("n_grams"),
        coalesce(col("nn"), lit(0L)).as("n_novel"),
        when(col("ng") > 0,
          floor(col("nn").cast("double") / col("ng") * lit(1e6) + lit(0.5))
            / lit(1e6)).as("novel_frac6"))
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    // streaming twin, replayed in doc_id order across micro-batches
    // split MID-duplicate (doc 4's grams were first held by doc 1 two
    // batches earlier — the state must remember them)
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingCorpus.streamingNgramNovelty(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sng")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docsSeq(0), docsSeq(1))
      q.processAllAvailable()
      input.addData(docsSeq(2), docsSeq(3))
      q.processAllAvailable()
      input.addData(docsSeq(4))
      q.processAllAvailable()
      val streamed = spark.sql("select * from sng order by doc_id")
        .as[(Long, Long, Long, Option[Double])].collect().toSeq
      // hard one-sided bound (no false negatives -> novelty is never
      // over-counted), THEN exactness on this fixture: at 12 bits/gram
      // the fpp is ~3e-4 and the positions are deterministic, so the
      // replay reproduces batch ng1 bit for bit
      streamed.zip(batch).foreach { case ((sid, _, snn, _), (bid, _, bnn, _)) =>
        assert(sid == bid && snn <= bnn,
          s"novelty over-counted for doc $sid: stream $snn > batch $bnn")
      }
      assert(streamed == batch)
    } finally q.stop()
    // the oversized-state refusal mirrors the bloom builders' guard
    val err = intercept[IllegalArgumentException] {
      graft.streaming.StreamingCorpus.streamingNgramNovelty(
        input.toDF().toDF("doc_id", "text"), expectedGrams = 1L << 40)
    }
    assert(err.getMessage.contains("streamingNgramNovelty"))
  }

  test("one ordered fold: event time is converted once, stateful folds go through OrderedFold") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main", "scala", "graft")
    assert(Files.isDirectory(root), s"no source tree at $root")
    def sources(dir: Path): Seq[Path] = Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def count(p: Path, re: scala.util.matching.Regex): Int =
      re.findAllMatchIn(Files.readString(p)).size
    val getTime = """\.getTime\b""".r
    val msUsers = (sources(root.resolve("streaming")) ++ sources(root.resolve("operators")))
      .filter(count(_, getTime) > 0).map(_.getFileName.toString).toSet
    assert(msUsers == Set("TimeMicros.scala"), s"millisecond event time in $msUsers")
    // the six folds that are not event-time-ordered folds keep their own
    val folds = sources(root).map(p => p.getFileName.toString ->
      count(p, """flatMapGroupsWithState\(""".r)).filter(_._2 > 0).toMap
    assert(folds == Map("OrderedFold.scala" -> 1, "StreamingReorder.scala" -> 1,
      "StreamingSketches.scala" -> 2, "StreamingCorpus.scala" -> 1,
      "StreamingCohort.scala" -> 1, "StreamingBurst.scala" -> 1), folds)
  }
}
