package graft.streaming

import org.apache.spark.sql.DataFrame

/**
 * Streaming path analysis — the continuous twin of
 * [[graft.queries.TemporalQueries.transitionMatrix]]: as events
 * arrive, each user's (from_type → to_type) STEPS are emitted
 * append-mode, including the step that SPANS a micro-batch boundary
 * (the carried state makes the feed exactly the batch operator's
 * transition multiset). The transition matrix is then an ordinary
 * aggregate over this feed — `groupBy(from_type, to_type).count()` —
 * batch or streaming, which is why the operator emits the raw steps
 * rather than running counts: counts are trivially mergeable, the
 * steps are the part that needs state.
 *
 * State per user is ONE (type) string: under the
 * in-order-per-user arrival contract (the [[StreamingCohort]] /
 * [[StreamingFunnel]] posture; compose with [[StreamingReorder]] for
 * disordered feeds) only the most recent event can pair with a future
 * arrival, so state is O(1) regardless of stream lifetime. Within a
 * batch, rows sort by (ts, event_id) — the batch operator's exact
 * tie rule.
 */
object StreamingPaths {

  private type Row = (Long, java.sql.Timestamp, Long, String)

  final case class Transition(user_id: Long, from_type: String, to_type: String)

  /** `events` must carry (user_id, ts, event_id, event_type); returns
    * the append-mode (user_id, from_type, to_type) step feed,
    * spec-proven count-equal to the batch transitionMatrix on a
    * replayed corpus (StreamingSpec). */
  def transitionSteps(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    OrderedFold(events.select("user_id", "ts", "event_id", "event_type").as[Row])(
      _._1, _._2, _._3)(
      (uid: Long, rows: Iterator[(Long, Row)], prev: Option[String]) => {
        val out = Array.newBuilder[Transition]
        var last = prev
        rows.foreach { case (_, (_, _, _, typ)) =>
          last.foreach(from => out += Transition(uid, from, typ))
          last = Some(typ)
        }
        (last, out.result().iterator)
      }).toDF()
  }
}
