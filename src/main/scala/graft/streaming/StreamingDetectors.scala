package graft.streaming

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Event
import graft.operators.{DataGapEvents, ExtremeChangeEvents, ExtremeValueEvents, FlatLineEvents, StormEvents}
import graft.operators.RunFolds._

/**
 * Streaming variants of the detectors (SURVEY.md §2.3 — the reference
 * is batch-only; §7.1/L5). Two shapes:
 *
 *  - [[stormSessions]]: the storm `hours_to_stop` merge is exactly a
 *    session window — `session_window(ts, gap)` + watermark. Late
 *    station data inside the watermark re-opens its session; the
 *    output is append-mode finalized sessions. This is the declarative
 *    path (Catalyst-managed state store, no custom state), covering
 *    the sessionization half of StormEvents (metevents/events.py:105);
 *    the min_storm_total/max_storm_hours refinements run in the
 *    storm twin below.
 *
 *  - [[runEvents]] and the other stateful twins: per-series state in
 *    an [[OrderedFold]] carries the open run across micro-batches; a
 *    non-flagged row closes and emits the run. The five fold twins
 *    (storm, extreme value, flat line, extreme change, data gap) run
 *    their batch detector's own step ([[graft.operators.RunFolds]]);
 *    only the end-of-input close is batch's, so a stream withholds the
 *    run, or the final storm, a series is still inside. Spike-valley
 *    buffers a window and emits on data finality ([[spikeValley]]).
 *
 * Assumptions documented for scale: keys = series_id (state is O(1)
 * per series, the storm ring and the spike-valley window aside);
 * within a micro-batch [[OrderedFold]] sorts rows by event time at
 * full microseconds; batches arrive in event-time order per series
 * (true for station feeds; out-of-order ACROSS batches needs
 * [[StreamingReorder.reorderByEventTime]] in front).
 */
object StreamingDetectors {

  /** Streaming gaps-and-islands: emit an Event per closed run of rows
    * satisfying `flag` (a boolean column already computed upstream,
    * null-safe). */
  def runEvents(eventType: String)(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    OrderedFold(flagged(df))(_._1, _._2)(runs(eventType).step).toDF()
  }

  /** Extreme-value detector as a stream: the batch detector's mask,
    * then [[runEvents]]. Works on a streaming or batch canonical frame. */
  def extremeValue(expectedMax: Double, expectedMin: Double)(ts: DataFrame): DataFrame = {
    val d = ExtremeValueEvents(expectedMax, expectedMin)
    runEvents(d.eventType)(ts.withColumn("flag", d.flag))
  }

  /** Flat-line detector as a stream: the fold's state carries the last
    * value (for the diff) and the open run across micro-batches. */
  def flatLine(minLen: Long, slopeThresh: Double)(ts: DataFrame): DataFrame =
    overPoints(FlatLineEvents(minLen, slopeThresh).fold)(ts)

  /** Extreme-change detector as a stream — same diff-state machine,
    * the batch ExtremeChangeEvents mask. */
  def extremeChange(
      minLen: Long,
      positiveSlopeThresh: Option[Double],
      negativeSlopeThresh: Option[Double])(ts: DataFrame): DataFrame =
    overPoints(ExtremeChangeEvents(minLen, positiveSlopeThresh, negativeSlopeThresh).fold)(ts)

  /** Data-gap detection on a stream — both halves of the batch
    * detector ([[graft.operators.RunFolds.dataGaps]]). */
  def dataGaps(minLen: Long, expectedFrequency: String)(ts: DataFrame): DataFrame =
    overPoints(DataGapEvents(minLen, expectedFrequency).fold)(ts)

  /** A diff, gap or storm fold's step over a stream of points, its
    * state carried per series. */
  private def overPoints[S <: Product : TypeTag](fold: RunFold[Point, S])(
      ts: DataFrame): DataFrame = {
    val spark = ts.sparkSession
    import spark.implicits._
    OrderedFold(points(ts))(_._1, _._2)(fold.step).toDF()
  }

  /**
   * The storm detector (d1) as a stream: the batch detector's own walk
   * ([[graft.operators.RunFolds.storms]]) with its state — the
   * candidate, the latest group stop and the back-extension ring —
   * carried across micro-batches. Every storm it emits is the batch
   * detector's storm, bit for bit (span back-extension rows, `n_points`
   * and `total` included). Only the end-of-input close is batch's: the
   * final storm closes when its series ends, which a stream never
   * reaches, so the stream withholds it. The ring holds the rows within
   * one step of the latest row: two for a feed at its native step.
   */
  def storms(
      instantMassToStart: Double,
      minStormTotal: Double,
      hoursToStop: Double,
      maxStormHours: Double,
      frequency: String)(ts: DataFrame): DataFrame =
    overPoints(StormEvents(instantMassToStart, minStormTotal, hoursToStop, maxStormHours,
      Some(frequency)).fold)(ts)

  /** Per-series buffered state for [[spikeValley]]: the retained
    * window as (micros, value) plus the emission frontier (index of
    * the first not-yet-emitted position, relative to the window —
    * rebased when the safe prefix is dropped). */
  final case class SvState(rows: List[(Long, Option[Double])], emittedUpTo: Int)

  /** [[spikeValley]] state windows at or above this many rows log a
    * warning (review r18: the safe-prefix drop bounds retention at
    * "since one sample before the first occurrence of the running
    * max/min", which a signal that never renews its extremes can
    * still grow — the warning names the shape). */
  val SvStateWarnRows: Int = 1 << 17

  /** JVM-local spec observability for the state-size warning. */
  val svStateWarnCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /**
   * Spike-valley detector as a stream (round 18 — the last detector
   * without a streaming twin). find_peaks needs LOOKAHEAD, and the
   * lookahead is DATA-bounded, not time-bounded: a peak's prominence
   * scan extends right until a strictly higher value (or a NaN, which
   * stops the `<= height` scan identically) appears — so a
   * watermark alone cannot finalize a peak (more data inside any
   * delay can still deepen an open peak's right base and change its
   * width). This variant therefore emits on DATA-FINALITY, which
   * gives EXACT batch parity for everything emitted:
   *
   *  - per-series state buffers a RETAINED WINDOW of the series: the
   *    safe prefix — everything before the emission frontier (minus a
   *    reach margin), before one sample ahead of the first occurrence
   *    of the running max/min (what future candidates' scans stop at
   *    or fall back to), AND before every still-unemitted candidate's
   *    own left-scan stop (its last strictly-higher-or-NaN position,
   *    or its prefix argmin when it is its own prefix maximum —
   *    ADVICE r18) — is dropped each trigger. Retention is bounded by
   *    "since the last record extreme" for series that renew records;
   *    a signal holding an unemitted prefix-maximum candidate retains
   *    back to that candidate's base, and crossing
   *    [[SvStateWarnRows]] logs the shape;
   *  - each trigger re-runs the batch mask over the buffer and takes
   *    the STABLE prefix: every position more than ceil(widthMax)+1
   *    samples before the earliest OPEN candidate, where open =
   *    a local maximum (of the series, or of its sign-flip for
   *    valleys) with no strictly-higher (resp. lower) value after it,
   *    or the trailing equal-value plateau (a future sample can turn
   *    it into a peak whose midpoint reaches back). Prominence only
   *    GROWS as a right base extends and kept widths are capped at
   *    widthMax, so nothing outside that reach can repaint the stable
   *    prefix — emitted events are the batch's own, bit for bit;
   *  - flagged runs CLOSED inside the stable prefix emit; the open
   *    tail (typically the last few samples, or a monotone tail whose
   *    top peak never sees a higher value) stays pending until data
   *    closes it — the documented "minus the open tail" delta vs
   *    batch.
   *
   * Contract: rows must arrive in per-series event-time order ACROSS
   * batches (in-batch disorder is sorted away) — chain
   * [[StreamingReorder.reorderByEventTime]] for general feeds, same
   * as [[runEvents]].
   */
  def spikeValley(
      height: Option[Double] = None,
      threshold: Option[Double] = None,
      prominence: Option[Double] = Some(100.0),
      widthMin: Double = 0.0,
      widthMax: Double = 3.0)(ts: DataFrame): DataFrame = {
    val params = graft.operators.FindPeaks.Params(
      height, threshold, prominence, widthMin, widthMax)
    val reach = math.ceil(widthMax).toInt + 1
    val spark = ts.sparkSession
    import spark.implicits._

    OrderedFold(ts.select(col("series_id"), col("ts"), col("value")).as[Point])(
      _._1, _._2)(
      (sid: String, rows: Iterator[(Long, Point)], prev: Option[SvState]) => {
        val incoming = rows.map { case (us, (_, _, v)) => (us, v) }
        // nearly-sorted input (retained window is sorted, incoming
        // appends) — TimSort's run detection keeps this ~O(n)
        val all = (prev.map(_.rows).getOrElse(Nil) ++ incoming)
          .sortBy(_._1).toArray
        val emitted0 = prev.map(_.emittedUpTo).getOrElse(0)
        val xs = all.map(_._2.getOrElse(Double.NaN))
        // one negated copy per trigger, shared by the valley-side
        // open-candidate scan and the drop-bound scan (review r19)
        val negXs = xs.map(v => -v)
        val n = xs.length

        // earliest UNDECIDED local maximum. A maximum is right-open
        // when no strictly-higher value (a NaN counts as +Inf — it
        // stops the prominence scan exactly like a higher value)
        // exists to its right; but a right-open maximum is still
        // DECIDED when (a) the local height/threshold filters
        // exclude it (final — they never change), or (b) its width
        // at the CURRENT bases already exceeds widthMax: prominence
        // only grows as the right base extends, so the crossing
        // height only drops and width only grows — once past the
        // cap it is painted never (this is what retires the
        // global-minimum valleys a snow series holds open forever).
        // A prominence-filter failure does NOT decide (prominence
        // grows, it may pass later); a width below widthMin does
        // not either (it may grow into range).
        def earliestOpenPeak(x: Array[Double]): Int = {
          val sh = new Array[Double](x.length + 1)
          sh(x.length) = Double.NegativeInfinity
          var j = x.length - 1
          while (j >= 0) {
            val v = if (x(j).isNaN) Double.PositiveInfinity else x(j)
            sh(j) = math.max(v, sh(j + 1)); j -= 1
          }
          var maxima = graft.operators.FindPeaks.localMaxima(x)
          params.height.foreach { hMin =>
            maxima = maxima.filter(p => x(p) >= hMin)
          }
          params.threshold.foreach { tMin =>
            maxima = maxima.filter(p =>
              math.min(x(p) - x(p - 1), x(p) - x(p + 1)) >= tMin)
          }
          val rightOpen = maxima.filter(p => sh(p + 1) <= x(p))
          if (rightOpen.isEmpty) Int.MaxValue
          else {
            val proms = graft.operators.FindPeaks.prominences(x, rightOpen)
            rightOpen.indices.iterator
              .filter { i =>
                graft.operators.FindPeaks.width(
                  x, rightOpen(i), proms(i), params.relHeight) <= params.widthMax
              }
              .map(rightOpen(_))
              .foldLeft(Int.MaxValue)(math.min)
          }
        }
        val openIdx =
          if (n == 0) 0
          else {
            // trailing equal-value plateau (NaN != NaN breaks it)
            var t = n - 1
            while (t > 0 && xs(t - 1) == xs(t)) t -= 1
            math.min(t, math.min(earliestOpenPeak(xs),
              earliestOpenPeak(negXs)))
          }
        val stableEnd = math.max(0, math.min(openIdx.toLong - reach, n.toLong)).toInt

        val out = Array.newBuilder[Event]
        var newEmitted = emitted0
        if (n >= 3 && stableEnd > emitted0) {
          val mask = graft.operators.FindPeaks.spikeValleyMask(xs, params)
          // runs a row inside the stable prefix closes emit; a run still
          // open at its end straddles it and waits for finality
          var run: Option[RunState] = None
          (emitted0 until stableEnd).foreach { i =>
            run = RunState.step(run, mask(i), all(i)._1, all(i)._2.filterNot(_.isNaN)) { r =>
              out += r.event(sid, "spike_valley")
              newEmitted = i
            }
          }
        }
        // SAFE-PREFIX DROP (review r18; left-scan bound tightened
        // for ADVICE r18): rows may be dropped only when no
        // prominence/width computation that can still affect
        // UNEMITTED output will read them. Three retention bounds:
        //  - reach margin behind the emission frontier: a candidate
        //    below newEmitted - reach paints at most widthMax past
        //    its midpoint, strictly below the frontier;
        //  - first occurrences of the running max AND min: a FUTURE
        //    candidate below the running max stops its left scan at
        //    or after fMax; one at/above it scans to the head,
        //    where the retained running min (<= every value ever
        //    dropped, by induction) supplies the exact base;
        //  - per-candidate left-scan stops for the CURRENT unemitted
        //    candidates (local maxima of the series and of its sign
        //    flip at index >= newEmitted - reach): each scan reads
        //    back to the last strictly-higher-or-NaN position, and a
        //    candidate that is its own prefix maximum has NO stop —
        //    its base is the rightmost prefix argmin, which must
        //    stay. The old first-running-extreme bound alone let a
        //    LATE new global extreme unpin exactly that prefix
        //    (ADVICE r18: record high closed by a newer record while
        //    a new global min lands after it — the truncated head
        //    then inflated leftMin, diverging prominence/width from
        //    the batch mask). Exiting the scan at the buffer head is
        //    equivalent to exiting at the stop position itself, so
        //    keeping [stop+1, ...] preserves leftMin/leftBase/width
        //    bit for bit. NaNs never win the extremes (they stop
        //    scans themselves, like the window edge they may
        //    become).
        val dropPoint = {
          var maxV = Double.NegativeInfinity; var minV = Double.PositiveInfinity
          var i = 0
          while (i < n) {
            val v = xs(i)
            if (!v.isNaN) {
              if (v > maxV) maxV = v
              if (v < minV) minV = v
            }
            i += 1
          }
          if (maxV.isNegInfinity) 0 // all-NaN window: keep everything
          else {
            var fMax = -1; var fMin = -1
            i = 0
            while (i < n && (fMax < 0 || fMin < 0)) {
              if (xs(i) == maxV && fMax < 0) fMax = i
              if (xs(i) == minV && fMin < 0) fMin = i
              i += 1
            }
            val lo = math.max(0, newEmitted - reach)
            // earliest buffer position any unemitted candidate's
            // left prominence scan can read, over one sign
            def minKeepFrom(x: Array[Double]): Int = {
              val cands = graft.operators.FindPeaks.localMaxima(x)
                .filter(_ >= lo)
              if (cands.isEmpty) Int.MaxValue
              else {
                // previous strictly-greater-or-NaN position via a
                // monotonic stack (equal values pop: they don't stop
                // the scan; a NaN acts as +Inf and never pops)
                val prevStop = new Array[Int](n)
                val stack = new Array[Int](n); var top = -1
                // rightmost argmin of x(0..i) (ties -> right, the
                // scan's own tie rule), NaN skipped
                val argmin = new Array[Int](n); var bm = -1
                var j2 = 0
                while (j2 < n) {
                  val v = x(j2)
                  if (!v.isNaN) {
                    while (top >= 0 && {
                      val tv = x(stack(top)); !tv.isNaN && tv <= v
                    }) top -= 1
                    if (bm < 0 || v <= x(bm)) bm = j2
                  }
                  prevStop(j2) = if (top >= 0) stack(top) else -1
                  top += 1; stack(top) = j2
                  argmin(j2) = bm
                  j2 += 1
                }
                var kf = Int.MaxValue
                cands.foreach { p =>
                  val s0 = prevStop(p)
                  // unbounded scan: no NaN and no higher value
                  // before p, so argmin(p-1) >= 0
                  val k = if (s0 >= 0) s0 + 1 else argmin(p - 1)
                  if (k < kf) kf = k
                }
                kf
              }
            }
            val scanBound = math.min(
              minKeepFrom(xs), minKeepFrom(negXs))
            math.max(0, math.min(scanBound,
              math.min(newEmitted - reach, math.min(fMax, fMin) - 1)))
          }
        }
        val kept = if (dropPoint > 0) all.drop(dropPoint) else all
        if (prev.forall(_.rows.length < SvStateWarnRows) && kept.length >= SvStateWarnRows) {
          svStateWarnCount.incrementAndGet()
          org.slf4j.LoggerFactory.getLogger(StreamingDetectors.getClass).warn(
            s"streaming spike-valley: series '$sid' retains ${kept.length} rows " +
              "(the window since the first running max/min — a signal that " +
              "never renews its extremes retains from the last record on). " +
              s"Warn threshold $SvStateWarnRows rows.")
        }
        (Some(SvState(kept.toList, newEmitted - dropPoint)), out.result().iterator)
      }).toDF()
  }

  /** Streaming twin of ff1's forward-fill (pandas `ffill`): carry the
    * last non-missing value forward within each series. Per-series
    * state is ONE double — every row emits immediately, because the
    * filled value depends only on rows at or before it (finality is
    * trivial, no watermark needed). The BACKWARD direction (lead
    * IGNORE NULLS / `bfill`) is the one that pends: a row's fill
    * value arrives arbitrarily later, bounded by the longest missing
    * run — gr10's lead-pend shape, data-final by nature (PLANS.md
    * round 19 spike). NaN values canonicalize to missing here, same
    * as the batch key's ingest (`Kernels.nanToNull`), so the twin is
    * drop-in. Contract: per-series event-time order ACROSS batches
    * (in-batch disorder is sorted away, at micros precision like the
    * other detectors) — chain
    * [[StreamingReorder.reorderByEventTime]] for general feeds. */
  def forwardFill(ts: DataFrame): DataFrame = {
    val spark = ts.sparkSession
    import spark.implicits._
    OrderedFold(ts.select(col("series_id"), col("ts"),
        graft.operators.Kernels.nanToNull(col("value")).as("value")).as[Point])(
      _._1, _._2)(
      (sid: String, rows: Iterator[(Long, Point)], prev: Option[Double]) => {
        var last = prev
        val out = rows.map { case (_, (_, t, v)) =>
          if (v.isDefined) last = v
          (sid, t, v, last)
        }.toArray
        (last, out.iterator)
      }).toDF("series_id", "ts", "value", "value_filled")
  }

  /** Storm sessionization on a stream: mass-threshold filter, then a
    * session window with `hoursToStop` gap per series — the streaming
    * twin of the storm group-merge. Emits one row per finalized
    * session (append mode requires the watermark). */
  def stormSessions(
      instantMassToStart: Double,
      hoursToStop: Double,
      watermark: String = "1 hour")(ts: DataFrame): DataFrame = {
    val v = graft.operators.Kernels.nanToNull(col("value"))
    ts.withWatermark("ts", watermark)
      .where(graft.operators.Kernels.safeMask(v >= instantMassToStart))
      .groupBy(col("series_id"),
        session_window(col("ts"), s"${(hoursToStop * 3600).toLong} seconds"))
      .agg(
        count(lit(1)).as("n_points"),
        sum(v).as("total"))
      .select(
        col("series_id"),
        col("session_window.start").as("start"),
        col("session_window.end").as("stop"),
        col("n_points"),
        col("total"))
  }
}
