package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Streaming ordered-funnel tracking — the continuous twin of
 * [[graft.queries.TemporalQueries.funnel]]: as events arrive, each
 * user's progress through the stage sequence advances in
 * [[OrderedFold]] state, and a row is EMITTED the moment a
 * stage is first reached (live conversion feed; downstream counts per
 * stage are an ordinary streaming aggregate over this output).
 *
 * State per user is one boolean per stage — O(#stages) bytes, the
 * smallest state any funnel can carry; no event is ever retained.
 * Semantics match the batch operator exactly: stage k+1 is reached at
 * the first stage-(k+1) event at-or-after stage k's reach, ties
 * within a timestamp resolve by event_id (rows are sorted by
 * (ts, event_id) inside each micro-batch). Same ordering assumption
 * as [[StreamingDetectors.runEvents]], documented there: batches
 * arrive in event-time order per user; out-of-order feeds compose
 * with [[StreamingReorder]] first.
 */
object StreamingFunnel {

  final case class FunnelReach(
      user_id: Long, stage: String, stage_idx: Int,
      reached_at: java.sql.Timestamp)

  /** Per-user progress: reached(i) = stage i has been reached. */
  final case class FunnelState(reached: Array[Boolean])

  private type Row = (Long, java.sql.Timestamp, Long, String)

  /** `events` must carry (user_id, ts, event_id, event_type); returns
    * the append-mode (user_id, stage, stage_idx, reached_at) feed. */
  def funnelReaches(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"funnel: stages must be non-empty and distinct: $stages")
    val spark = events.sparkSession
    import spark.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    OrderedFold(events
        .select(col("user_id").cast("long"), col("ts"),
          col("event_id").cast("long"), col("event_type"))
        .as[Row])(_._1, _._2, _._3)(
      (uid: Long, rows: Iterator[(Long, Row)], prev: Option[FunnelState]) => {
        val reached = prev.map(_.reached.clone())
          .getOrElse(Array.fill(stages.length)(false))
        val out = Array.newBuilder[FunnelReach]
        rows.foreach { case (_, (_, ts, _, typ)) =>
          stageIdx.get(typ).foreach { k =>
            if (!reached(k) && (k == 0 || reached(k - 1))) {
              reached(k) = true
              out += FunnelReach(uid, stages(k), k, ts)
            }
          }
        }
        (Some(FunnelState(reached)), out.result().iterator)
      }).toDF()
  }

  final case class SessionReach(
      user_id: Long, session_id: Long, stage: String, stage_idx: Int,
      reached_at: java.sql.Timestamp)

  /** Per-user session-funnel progress: the CURRENT session's id, its
    * last event's microseconds, and the stage flags — O(#stages)
    * state, no events retained (the fn1/at1 posture). */
  final case class SessionFunnelState(
      sessionId: Long, lastUs: Long, reached: Array[Boolean])

  /** Streaming twin of
    * [[graft.queries.TemporalQueries.sessionFunnel]] (sf1): stage
    * progress resets whenever a gap > `gapUs` of per-user inactivity
    * opens a NEW session, and a row is emitted the first time each
    * stage is reached WITHIN a session. sf1's per-stage session
    * counts are then an ordinary aggregate —
    * `groupBy(stage).agg(count(*))` (each (user, session, stage)
    * emits at most once). Ordering contract as [[funnelReaches]]:
    * in event-time order per user (rows sorted by (ts, event_id)
    * inside each micro-batch; compose with
    * [[StreamingReorder]] for disordered feeds). */
  def sessionFunnelReaches(
      events: DataFrame, stages: Seq[String], gapUs: Long): DataFrame = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"sessionFunnel: stages must be non-empty and distinct: $stages")
    require(gapUs > 0, s"sessionFunnel: gapUs must be positive: $gapUs")
    val spark = events.sparkSession
    import spark.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    OrderedFold(events
        .select(col("user_id").cast("long"), col("ts"),
          col("event_id").cast("long"), col("event_type"))
        .as[Row])(_._1, _._2, _._3)(
      (uid: Long, rows: Iterator[(Long, Row)], prev: Option[SessionFunnelState]) => {
        var st = prev.map(s => s.copy(reached = s.reached.clone()))
          .getOrElse(SessionFunnelState(
            0L, Long.MinValue, Array.fill(stages.length)(false)))
        val out = Array.newBuilder[SessionReach]
        // `us` is the full event-time µs — the batch twin's unix_micros
        rows.foreach { case (us, (_, ts, _, typ)) =>
          if (st.lastUs != Long.MinValue && us - st.lastUs > gapUs)
            st = SessionFunnelState(st.sessionId + 1, us,
              Array.fill(stages.length)(false))
          else st = st.copy(lastUs = us)
          stageIdx.get(typ).foreach { k =>
            if (!st.reached(k) && (k == 0 || st.reached(k - 1))) {
              st.reached(k) = true
              out += SessionReach(uid, st.sessionId, stages(k), k, ts)
            }
          }
        }
        (Some(st), out.result().iterator)
      }).toDF()
  }
}
