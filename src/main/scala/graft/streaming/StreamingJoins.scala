package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.TimeMicros

/**
 * Streaming temporal joins — the continuous twin of
 * [[graft.operators.Joins]] (the one operator family that had no
 * streaming counterpart through round 9). First increment:
 * stream-vs-STATIC as-of, the production shape where the right side
 * is a slowly-changing reference (calibration tables, sensor
 * metadata, exchange rates) that changes on deploy cadence, not row
 * cadence.
 *
 * Design: because the right side is static, the join needs NO state
 * store and no watermark at all — each arriving left row resolves
 * independently against the frozen right index, so the query is
 * STATELESS append mode (the same posture as
 * [[StreamingDedup.streamingDecontaminate]]: broadcast reference +
 * per-row lookup). A watermark only becomes necessary for the
 * stream-vs-stream form, where the right side itself arrives late —
 * that form composes Spark's interval join (`right.ts BETWEEN
 * left.ts - staleness AND left.ts` under watermarks) with a
 * latest-match selection, and its batch semantics are already owned
 * by [[graft.operators.Joins.asofJoin]] run per micro-batch via
 * foreachBatch; the guard message below names that route.
 *
 * Semantics match [[graft.operators.Joins.asofJoin]] exactly
 * (spec-proven equal on a replayed corpus, StreamingSpec): for each
 * left row the LATEST right row with `right.ts <= left.ts` in the
 * same series (inclusive on ties; with several right rows at one
 * (series, ts) the last in storage order wins — feed a
 * one-row-per-(series, ts) right frame for determinism, the same
 * contract the aj1 gate key establishes with its pre-aggregation),
 * nulled when staler than `toleranceUs`.
 */
object StreamingJoins {

  private type Row = (String, java.sql.Timestamp, Option[Double], Int)

  /** The static right side at or below this many rows may be
    * collected and broadcast as the per-series sorted lookup index
    * (~24 B/row → 5M rows ≈ 120 MB). LOUD BOUND, same shape as
    * [[StreamingDedup.maxDriverGramSet]]: above it the collect
    * REFUSES with the foreachBatch alternative named, instead of
    * silently OOMing the driver on a fact-sized right side. */
  val maxStaticRightRows: Long = 5000000L

  /** Per-series right index: event-time micros (sorted ascending, the
    * binary-search key), the original timestamp, and the (nullable)
    * value at that timestamp. */
  private final case class RightIndex(
      tsUs: Array[Long], ts: Array[java.sql.Timestamp], value: Array[java.lang.Double])

  /**
   * Stream-vs-static as-of join. `left` is a streaming frame with the
   * canonical (series_id, ts, value) columns; `right` is a STATIC
   * frame of the same shape. Output matches the batch
   * [[graft.operators.Joins.asofJoin]]: left columns + `asof_ts`,
   * `asof_value` (null when no right row precedes / none within
   * `toleranceUs`).
   *
   * Scale posture: the broadcast index is O(right) and guarded by
   * `maxRightRows`; per-row cost is one binary search (O(log r) in
   * the series' right rows); zero exchanges, zero state store — the
   * stream side never shuffles and nothing accumulates across
   * micro-batches.
   */
  def streamingAsofJoinStatic(
      left: DataFrame, right: DataFrame,
      toleranceUs: Option[Long] = None,
      maxRightRows: Long = maxStaticRightRows): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    val n = right.count()
    require(n <= maxRightRows,
      s"streamingAsofJoinStatic: static right side has $n rows > " +
        s"maxStaticRightRows=$maxRightRows — too large to broadcast as a " +
        "driver index; run the batch as-of join per micro-batch via " +
        "foreachBatch instead (graft.operators.Joins.asofJoin)")
    val rows = right
      .select(col("series_id").cast("string"), col("ts"), col("value"))
      .as[(String, java.sql.Timestamp, Option[Double])].collect()
    val index: Map[String, RightIndex] = rows.groupBy(_._1).map {
      case (sid, rs) =>
        // stable sort: equal-ts right rows keep storage order, and the
        // search below picks the LAST at-or-before match — the batch
        // last(...) carry's tie behavior
        val sorted = rs.sortBy(r => TimeMicros.micros(r._2))
        sid -> RightIndex(
          sorted.map(r => TimeMicros.micros(r._2)),
          sorted.map(_._2),
          sorted.map(r => r._3.map(Double.box).orNull))
    }
    val bc = spark.sparkContext.broadcast(index)
    val tol = toleranceUs
    left.select(col("series_id").cast("string"), col("ts"), col("value"))
      .as[(String, java.sql.Timestamp, Option[Double])]
      .map { case (sid, ts, v) =>
        val hit: Option[Int] = bc.value.get(sid).flatMap { idx =>
          val t = TimeMicros.micros(ts)
          // last position with tsUs <= t (upper bound - 1)
          var lo = 0
          var hi = idx.tsUs.length // exclusive
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (idx.tsUs(mid) <= t) lo = mid + 1 else hi = mid
          }
          if (lo == 0) None
          else if (tol.exists(tl => t - idx.tsUs(lo - 1) > tl)) None
          else Some(lo - 1)
        }
        val m = hit.map { i =>
          val idx = bc.value(sid)
          (idx.ts(i), Option(idx.value(i)).map(_.doubleValue))
        }
        (sid, ts, v, m.map(_._1), m.flatMap(_._2))
      }
      .toDF("series_id", "ts", "value", "asof_ts", "asof_value")
  }

  /** Carried right-side state for [[streamingAsofJoin]]: the right
    * rows still able to match a FUTURE left row — the latest right at
    * or before the left high-water mark, plus every right beyond it
    * (sorted ascending; parallel ts/value lists because GroupState
    * needs a flat product encoding). `maxLeftUs` is the high-water
    * mark of emitted left rows. */
  final case class AsofJoinState(
      maxLeftUs: Long, rTsUs: List[Long], rVal: List[Option[Double]])

  /** Per-series right-buffer bound for [[streamingAsofJoin]]: the
    * buffer only grows when the right side runs AHEAD of the left
    * high-water mark, so this bounds the sides' desync, not the data.
    * LOUD BOUND (the maxDriverFoldEdges convention): exceeding it
    * means the left side has stalled or lags structurally — the
    * error names the remedies rather than letting state grow
    * unbounded. */
  val maxRightBufferRows: Int = 1000000

  /**
   * Stream-vs-STREAM as-of join: both sides arrive continuously; for
   * each left row, the latest right row with `right.ts <= left.ts` in
   * the same series (nulled when staler than `toleranceUs`) — the
   * [[graft.operators.Joins.asofJoin]] semantics under the engine's
   * streaming contract.
   *
   * Shape: the two streams are side-tagged and UNIONED — exactly the
   * batch operator's union trick — then one [[OrderedFold]] keyed on
   * series_id walks each micro-batch's rows in (µs, side) order
   * (right first on ties, the batch inclusive-<= tie rule),
   * matching each left row against the carried right buffer.
   *
   * State bound: per series, the buffer holds ONE right row at or
   * before the left high-water mark plus the rights AHEAD of it — so
   * when the two sides progress through event time together (the
   * production case: both feeds replay the same clock) the state is
   * O(1), and if the right side runs ahead by a batch or two the
   * state is O(that lead), never O(history). Contrast Spark's
   * built-in stream-stream interval join, which buffers every right
   * row inside the watermark bound regardless — as-of needs only the
   * last match, and rights the left has passed are dropped the moment
   * the high-water mark moves. A permanently-lagging left side grows
   * the buffer with the lag — guarded by `maxBufferRows`
   * ([[maxRightBufferRows]]): past it the query FAILS LOUDLY with the
   * remedies named, rather than accumulating unbounded state.
   *
   * Ordering contract (the [[StreamingDetectors.runEvents]] posture):
   * each SIDE arrives in event-time order per series across batches —
   * within a batch the handler sorts, and the sides may be
   * arbitrarily interleaved or lag each other (the buffer absorbs
   * that). A LEFT row is matched with whatever rights have arrived by
   * its batch: a right row arriving after a later-ts left was already
   * emitted does NOT retro-match the emitted row (append mode — no
   * retraction), though it still serves future lefts. Out-of-order
   * sources compose [[StreamingReorder.reorderByEventTime]] in front
   * (watermark-buffered); the batch operator owns reprocessing.
   *
   * `onOverflow` policies for [[streamingAsofJoin]]'s right buffer:
   *
   *  - `"fail"` (default): the loud-bound convention — exceeding
   *    `maxBufferRows` kills the query with the remedies named. The
   *    right choice when a lagging left is a pipeline bug.
   *  - `"evict"`: bounded-state-over-completeness — the OLDEST
   *    buffered rights drop first (the newest `maxBufferRows` stay),
   *    the query keeps running, and only lefts lagging behind the
   *    eviction horizon degrade: their backward match surfaces as
   *    null, exactly like a tolerance miss. Current lefts are
   *    unaffected (their matches are the newest rights). The right
   *    choice for a best-effort live feed where availability beats a
   *    complete join on stragglers — reprocessing (the batch asofJoin
   *    over the lake) recovers the dropped matches later, the
   *    lambda-layout contract every streaming twin here follows.
   */
  def streamingAsofJoin(
      left: DataFrame, right: DataFrame,
      toleranceUs: Option[Long] = None,
      maxBufferRows: Int = maxRightBufferRows,
      onOverflow: String = "fail"): DataFrame = {
    require(maxBufferRows >= 1,
      s"streamingAsofJoin: maxBufferRows must be >= 1: $maxBufferRows")
    require(onOverflow == "fail" || onOverflow == "evict",
      s"streamingAsofJoin: onOverflow must be 'fail' or 'evict': $onOverflow")
    val spark = left.sparkSession
    import spark.implicits._
    val l = left.select(col("series_id").cast("string").as("series_id"),
      col("ts"), col("value"), lit(1).as("side"))
    val r = right.select(col("series_id").cast("string").as("series_id"),
      col("ts"), col("value"), lit(0).as("side"))
    val tol = toleranceUs
    // tie = side: right rows (side 0) sort before left rows at the
    // same µs — the batch inclusive-<= tie behavior
    OrderedFold(l.unionByName(r).as[Row])(_._1, _._2, _._4.toLong)(
      (sid: String, rows: Iterator[(Long, Row)], state: Option[AsofJoinState]) => {
        val prev = state.getOrElse(AsofJoinState(Long.MinValue, Nil, Nil))
        // merge: carried buffer ∪ this batch's rights, ascending.
        // Each side is in order per series, so batch rights append
        // after the carried tail in the common case; a right older
        // than the buffer head (late vs the OTHER side's progress)
        // still inserts in place and serves future lefts.
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Double])]
        prev.rTsUs.lazyZip(prev.rVal).foreach((t, v) => buf += ((t, v)))
        var maxLeft = prev.maxLeftUs
        val out = Array.newBuilder[
          (String, java.sql.Timestamp, Option[Double],
            Option[java.sql.Timestamp], Option[Double])]
        rows.foreach { case (t, (_, ts, v, side)) =>
          if (side == 0) {
            // insertion point: after all buffered rights <= t (a
            // same-ts later arrival wins, the batch last() rule)
            var i = buf.length
            while (i > 0 && buf(i - 1)._1 > t) i -= 1
            buf.insert(i, (t, v))
          } else {
            var i = buf.length
            while (i > 0 && buf(i - 1)._1 > t) i -= 1
            val m = if (i == 0) None else {
              val (rt, rv) = buf(i - 1)
              if (tol.forall(tl => t - rt <= tl)) Some((rt, rv)) else None
            }
            out += ((sid, ts, v, m.map(x => TimeMicros.timestamp(x._1)), m.flatMap(_._2)))
            if (t > maxLeft) maxLeft = t
          }
        }
        // prune: keep the latest right <= maxLeft (still the match
        // for the next left) and everything ahead of maxLeft
        var keepFrom = 0
        var i = 0
        while (i < buf.length && buf(i)._1 <= maxLeft) { keepFrom = i; i += 1 }
        var kept = if (buf.isEmpty) buf else buf.slice(keepFrom, buf.length)
        if (kept.length > maxBufferRows) {
          if (onOverflow == "fail") throw new IllegalArgumentException(
            s"streamingAsofJoin: series '$sid' buffers ${kept.length} right " +
              s"rows > maxBufferRows=$maxBufferRows — the left side lags the " +
              "right by more than the bound. Slow the right feed, raise " +
              "maxBufferRows explicitly, use onOverflow='evict' for bounded " +
              "best-effort state, or run the batch asofJoin per micro-batch " +
              "via foreachBatch (graft.operators.Joins.asofJoin)")
          // evict: newest maxBufferRows survive; lefts lagging past
          // the eviction horizon degrade to null matches
          kept = kept.slice(kept.length - maxBufferRows, kept.length)
        }
        (Some(AsofJoinState(maxLeft, kept.map(_._1).toList, kept.map(_._2).toList)),
          out.result().iterator)
      })      .toDF("series_id", "ts", "value", "asof_ts", "asof_value")
  }

}
