package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.TimeMicros

/**
 * Streaming cohort-activity tracking — the continuous twin of
 * [[graft.queries.Relational.ch1CohortRetention]]: as events arrive,
 * each user's cohort day (the epoch day of their first event) pins on
 * first sight, and a row is EMITTED once per NEW (user, day) with the
 * cohort and the day offset. The retention matrix is then an ordinary
 * aggregate over this feed — `groupBy(cohort_day, day_offset)
 * .agg(countDistinct(user_id))` — batch or streaming.
 *
 * State per user is TWO LONGS — the cohort day and the last emitted
 * day: under the in-order-per-user arrival contract (same as
 * [[StreamingFunnel]] / [[StreamingDetectors.runEvents]]; compose
 * with [[StreamingReorder]] for disordered feeds) a new activity day
 * is always strictly greater than the last one seen, so `day >
 * lastDay` is a complete dedup test and no day SET is ever retained —
 * state is O(1) regardless of stream lifetime. Day indexing matches
 * the batch
 * operator: floor(epoch_us / 86400e6), through [[TimeMicros.micros]].
 */
object StreamingCohort {

  final case class CohortReach(
      user_id: Long, cohort_day: Long, day_idx: Long, day_offset: Long)

  final case class CohortState(cohortDay: Long, lastDay: Long)

  /** `events` must carry (user_id, ts); returns the append-mode
    * (user_id, cohort_day, day_idx, day_offset) activity feed. */
  def cohortActivity(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select("user_id", "ts").as[(Long, java.sql.Timestamp)]
      .map { case (u, ts) => (u, Math.floorDiv(TimeMicros.micros(ts), 86400000000L)) }
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (uid: Long, rows: Iterator[(Long, Long)],
         state: GroupState[CohortState]) => {
          val days = rows.map(_._2).toArray.sorted
          val prev = state.getOption
          val cohort = prev.map(_.cohortDay).getOrElse(days.head)
          var lastDay = prev.map(_.lastDay).getOrElse(Long.MinValue)
          val out = Array.newBuilder[CohortReach]
          days.foreach { d =>
            if (d > lastDay) {
              lastDay = d
              out += CohortReach(uid, cohort, d, d - cohort)
            }
          }
          state.update(CohortState(cohort, lastDay))
          out.result().iterator
        })
      .toDF()
  }

  /** Streaming twin of
    * [[graft.queries.TemporalQueries.newVsReturning]] (nr1), derived
    * from [[cohortActivity]]'s feed with ZERO extra state: a user-day
    * row is NEW exactly when its day offset is 0 (the cohort day is
    * the first-ever activity day — the same min the batch operator
    * aggregates). Downstream `groupBy(day_idx)` of (count, sum(is_new))
    * reproduces nr1's (n_active, n_new, n_returning) exactly; the
    * spec proves it across a micro-batch boundary. */
  def newVsReturningFeed(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    cohortActivity(events).select(col("user_id"), col("day_idx"),
      (col("day_offset") === 0L).as("is_new"))
  }
}
