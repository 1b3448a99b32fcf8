package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Joins
import graft.operators.Kernels.nanToNull
import graft.sources.Tables

/** Driver-contract queries for the temporal join operators (as-of,
  * interval containment, sessionization), cross-checked against
  * DuckDB's native ASOF JOIN / BETWEEN semantics. */
object TemporalQueries {

  /** One event_type slice of the events table as a canonical series
    * frame, pre-aggregated to one row per (series, ts) so as-of tie
    * behavior is deterministic. */
  private def typedSeries(spark: SparkSession, dir: String, typ: String): DataFrame =
    Tables.read(spark, dir, "events")
      .where(col("event_type") === typ)
      .select(col("user_id").cast("string").as("series_id"), col("ts"),
        nanToNull(col("value")).as("value"))
      .groupBy("series_id", "ts")
      .agg(max(col("value")).as("value"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "aj1_asof_join" -> ((s, dir) =>
      Joins.asofJoin(
        typedSeries(s, dir, "click"), typedSeries(s, dir, "purchase"))),
    // forward direction with a 3-day tolerance — matches farther out
    // null (pandas merge_asof direction='forward', tolerance)
    "aj2_asof_forward" -> ((s, dir) =>
      Joins.asofJoinForward(
        typedSeries(s, dir, "click"), typedSeries(s, dir, "purchase"),
        toleranceUs = Some(3L * 86400L * 1000000L))),
    // backward direction with the same 3-day staleness bound — the
    // pandas merge_asof (backward, tolerance) pair to aj2
    "aj3_asof_tolerance" -> ((s, dir) =>
      Joins.asofJoin(
        typedSeries(s, dir, "click"), typedSeries(s, dir, "purchase"),
        toleranceUs = Some(3L * 86400L * 1000000L))),
    // nearest direction with the same 3-day tolerance — ties resolve
    // backward; `direction` records which side won (pandas
    // merge_asof direction='nearest')
    "aj4_asof_nearest" -> ((s, dir) =>
      Joins.asofJoinNearest(
        typedSeries(s, dir, "click"), typedSeries(s, dir, "purchase"),
        toleranceUs = Some(3L * 86400L * 1000000L))),
    "ij1_interval_stats" -> ((s, dir) =>
      Joins.intervalStats(
        SparkEntryBridge.canonical(s, dir),
        graft.operators.ExtremeValueEvents(expectedMax = 300.0, expectedMin = 0.05)
          .detect(SparkEntryBridge.canonical(s, dir)))),
    "ss1_session_stats" -> ((s, dir) =>
      Joins.sessionStats(SparkEntryBridge.canonical(s, dir), gap = "6H")),
    "fn1_funnel" -> (fn1Funnel _),
    // conversion LATENCY per funnel step: exact-integer microsecond
    // diffs, rank-pick median, one-division mean
    "ft1_funnel_timing" -> ((s, dir) =>
      funnelTiming(
        Tables.read(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
        Seq("view", "click", "signup", "purchase"))),
    // SCD2 dimension-history construction: each user's event_type
    // stream collapses into type-2 validity rows
    "scd1_scd2_history" -> ((s, dir) =>
      scd2History(Tables.read(s, dir, "events"))),
    // first-order Markov transition matrix over user event paths
    "mk1_transition_matrix" -> ((s, dir) =>
      transitionMatrix(Tables.read(s, dir, "events"))),
    // Kaplan-Meier view->purchase conversion survival curve
    "km1_survival" -> ((s, dir) =>
      kaplanMeier(Tables.read(s, dir, "events"), "view", "purchase")),
    // DAU + trailing 7/28-day rolling active users per day
    "au1_active_users" -> ((s, dir) =>
      activeUsers(Tables.read(s, dir, "events"))),
    // last-touch revenue attribution of purchases
    "at1_last_touch" -> ((s, dir) =>
      lastTouchAttribution(Tables.read(s, dir, "events"), "purchase")),
    // fn1's funnel with a 7-day per-step conversion window
    "fn2_windowed_funnel" -> ((s, dir) =>
      windowedFunnel(
        Tables.read(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
        Seq("view", "click", "signup", "purchase"),
        windowUs = 7L * 86400L * 1000000L)),
    // new vs returning users per active day
    "nr1_new_vs_returning" -> ((s, dir) =>
      newVsReturning(Tables.read(s, dir, "events"))),
    // hour-of-day x day-of-week activity heatmap
    "cal2_hod_dow" -> ((s, dir) =>
      hodDowHeatmap(Tables.read(s, dir, "events"))),
    // funnel completed within ONE 6-hour-gap session
    "sf1_session_funnel" -> ((s, dir) =>
      sessionFunnel(
        Tables.read(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
        Seq("view", "click", "signup", "purchase"),
        gapUs = 6L * 3600L * 1000000L))
  )

  /** SESSION FUNNEL — [[funnel]] scoped to ONE session: stages must
    * complete in order WITHIN a single gap-bounded session (> `gapUs`
    * of per-user inactivity opens a new session — ss1's rule, made
    * deterministic under same-instant events by the (ts, event_id)
    * tie-break). Counts SESSIONS reaching each stage prefix — the
    * "did they convert in one sitting" metric fn1's lifetime window
    * and fn2's deadline both miss.
    *
    * Scale shape: still ONE exchange on user_id — the session-id
    * running sum shares the (ts, event_id) sort with the staged
    * chain, whose windows then partition by (user, session) over the
    * already-sorted partition (a session is a contiguous slice of the
    * user partition, so no re-exchange, no re-sort). */
  def sessionFunnel(
      events: DataFrame, stages: Seq[String], gapUs: Long): DataFrame = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"sessionFunnel: stages must be non-empty and distinct: $stages")
    require(stages.forall(_.matches("[A-Za-z0-9_\\- ]+")),
      s"sessionFunnel: stage names must match [A-Za-z0-9_- ]+: $stages")
    require(gapUs > 0, s"sessionFunnel: gapUs must be positive: $gapUs")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessioned = events
      .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(w)))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(wRun))
    val ws = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = stages.zipWithIndex.foldLeft(sessioned) { case (df, (typ, i)) =>
      val hit = if (i == 0) when(col("event_type") === typ, col("ts"))
      else when(col("event_type") === typ && col(s"t_${i - 1}").isNotNull, col("ts"))
      df.withColumn(s"t_$i", min(hit).over(ws))
    }
    val perSession = staged.groupBy(col("user_id"), col("session_id")).agg(
      max(col("t_0").isNotNull.cast("long")).as("s0"),
      stages.indices.drop(1).map(i =>
        max(col(s"t_$i").isNotNull.cast("long")).as(s"s$i")): _*)
    val totals = perSession.agg(
      coalesce(sum(col("s0")), lit(0L)).as("c0"),
      stages.indices.drop(1).map(i =>
        coalesce(sum(col(s"s$i")), lit(0L)).as(s"c$i")): _*)
    val stackArgs = stages.zipWithIndex
      .map { case (typ, i) => s"'$typ', c$i" }.mkString(", ")
    totals.selectExpr(
      s"stack(${stages.length}, $stackArgs) AS (stage, n_sessions)")
  }

  /** NEW vs RETURNING users per day — the acquisition-vs-retention
    * split every growth dashboard opens with: per active day, users
    * whose FIRST-ever activity is that day vs users seen before.
    * Integer epoch-days (ch1 discipline); counts are exact.
    * Shape: one user-day distinct, one per-user min aggregate
    * (first day), one day-grain partial-combined rollup — all keyed,
    * no windows. */
  def newVsReturning(events: DataFrame): DataFrame = {
    val ud = events.select(col("user_id"),
      floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("d"))
      .distinct()
    val first = ud.groupBy(col("user_id")).agg(min(col("d")).as("fd"))
    ud.join(first, Seq("user_id"))
      .groupBy(col("d").as("day_idx"))
      .agg(count(lit(1)).as("n_active"),
        sum((col("d") === col("fd")).cast("long")).as("n_new"))
      .withColumn("n_returning", col("n_active") - col("n_new"))
  }

  /** HOUR-OF-DAY × DAY-OF-WEEK activity heatmap — the "when are our
    * users awake" calendar matrix: event count and quantized mean
    * value per (dow, hour) cell. Weekday numbering is the cal1
    * portability trap (Spark `weekday` == DuckDB `isodow − 1`);
    * hour() is identical under the pinned UTC session. One
    * partial-combined aggregate over a ≤168-cell key. */
  def hodDowHeatmap(events: DataFrame): DataFrame = {
    val vq = when(isnan(col("value")), lit(null)).otherwise(col("value"))
    val yu = when(vq >= 0, floor(vq * lit(1e6) + lit(0.5)))
      .otherwise(-floor(-vq * lit(1e6) + lit(0.5))).cast("long")
    events
      .select(weekday(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hod"), yu.as("yu"))
      .groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("n"),
        count(col("yu")).as("n_val"),
        sum(col("yu")).as("syu"))
      .select(col("dow"), col("hod"), col("n"), col("n_val"),
        when(col("n_val") > 0,
          floor(col("syu").cast("double") / col("n_val") + lit(0.5)) / lit(1e6))
          .as("mean_value6"))
  }

  /** ROLLING ACTIVE USERS — the DAU/WAU/MAU stickiness dashboard:
    * per active day, the count of distinct users active that day plus
    * the trailing 7- and 28-day distinct actives. Days are integer
    * epoch-day indices (the ch1 discipline — no date dtype exposure).
    *
    * Scale shape: the rolling counts come from EXPANSION, not a range
    * self-join — each (user, day) contributes itself to the w
    * window-end days it covers (explode of an integer sequence), then
    * one distinct-count per day; the exchange carries ≤ w·|user-days|
    * keyed rows, partial-combined, with no day×corpus join. The
    * user-day distinct feeds THREE consumers, and ReuseExchange does
    * NOT collapse them (verified in the captured plan): column
    * pruning gives each consumer a different distinct-aggregate
    * output list, so the subtrees never canonicalize equal — the
    * barrier below is what actually dedups the scan, size-gated on
    * the ft1 precedent (skip the checkpoint when three re-scans are
    * cheaper than one write). */
  def activeUsers(events: DataFrame): DataFrame = {
    val ud = graft.Materialize.barrierAbove(
      events.select(col("user_id"),
        floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("d"))
        .distinct(),
      sizeOf = events)
    val dau = ud.groupBy(col("d").as("day_idx")).agg(count(lit(1)).as("dau"))
    def rolling(w: Int, name: String): DataFrame = ud
      .select(col("user_id"),
        explode(sequence(col("d"), col("d") + lit(w - 1))).as("day_idx"))
      .groupBy(col("day_idx"))
      .agg(countDistinct(col("user_id")).as(name))
    // inner joins: rolling frames carry trailing days past the last
    // active day; joining back to dau keeps exactly the active days
    // (every dau day is covered — a window always includes its end)
    dau.join(rolling(7, "wau7"), Seq("day_idx"))
      .join(rolling(28, "mau28"), Seq("day_idx"))
      .select(col("day_idx"), col("dau"), col("wau7"), col("mau28"))
  }

  /** LAST-TOUCH ATTRIBUTION — credit each `creditType` event's value
    * to the most recent STRICTLY-PRECEDING event of any other type
    * (the touch), per user: the classic marketing-attribution rule.
    * Output one row per touch type (null = unattributed first
    * purchases): purchase count and attributed revenue. Revenue sums
    * the q6-quantized integer micro-units (exact in any order on both
    * engines — the rg1/exp1 discipline); ordering ties break by
    * event_id (the fn1/scd1 contract).
    *
    * Scale shape: one exchange on user_id, one running-max window
    * (the struct max carries (ts, event_id, type) — latest preceding
    * touch), then a partial-combined aggregate over the touch-type
    * grain (bounded by the type taxonomy). */
  def lastTouchAttribution(events: DataFrame, creditType: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val vq = when(isnan(col("value")), lit(null)).otherwise(col("value"))
    val yu = when(vq >= 0, floor(vq * lit(1e6) + lit(0.5)))
      .otherwise(-floor(-vq * lit(1e6) + lit(0.5))).cast("long")
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        yu.as("yu"))
      .withColumn("touch",
        max(when(col("event_type") =!= creditType,
          struct(col("ts"), col("event_id"), col("event_type")))).over(w))
      .where(col("event_type") === creditType)
      .groupBy(col("touch.event_type").as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        (sum(col("yu")) / lit(1e6)).as("revenue6"))
  }

  /** [[funnel]] with a PER-STEP conversion window: stage k+1 counts
    * only when it occurs within `windowUs` of the stage-k reach time
    * — "converted within 7 days", the form growth reporting actually
    * uses (an unbounded funnel credits conversions months later).
    * Same one-exchange chained-running-min shape as fn1; the window
    * guard rides inside each stage's gating condition, so the plan is
    * unchanged. */
  def windowedFunnel(
      events: DataFrame, stages: Seq[String], windowUs: Long): DataFrame = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"windowedFunnel: stages must be non-empty and distinct: $stages")
    require(stages.forall(_.matches("[A-Za-z0-9_\\- ]+")),
      s"windowedFunnel: stage names must match [A-Za-z0-9_- ]+: $stages")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = stages.zipWithIndex.foldLeft(events) { case (df, (typ, i)) =>
      val hit = if (i == 0) when(col("event_type") === typ, col("ts"))
      else when(col("event_type") === typ && col(s"t_${i - 1}").isNotNull &&
        unix_micros(col("ts")) - unix_micros(col(s"t_${i - 1}")) <= windowUs,
        col("ts"))
      df.withColumn(s"t_$i", min(hit).over(w))
    }
    val perUser = staged.groupBy(col("user_id")).agg(
      max(col("t_0").isNotNull.cast("long")).as("s0"),
      stages.indices.drop(1).map(i =>
        max(col(s"t_$i").isNotNull.cast("long")).as(s"s$i")): _*)
    val totals = perUser.agg(
      coalesce(sum(col("s0")), lit(0L)).as("c0"),
      stages.indices.drop(1).map(i =>
        coalesce(sum(col(s"s$i")), lit(0L)).as(s"c$i")): _*)
    val stackArgs = stages.zipWithIndex
      .map { case (typ, i) => s"'$typ', c$i" }.mkString(", ")
    totals.selectExpr(
      s"stack(${stages.length}, $stackArgs) AS (stage, users)")
  }

  /** First-order MARKOV TRANSITION MATRIX over per-user event paths —
    * the "what do users do next" path-analysis primitive (and the
    * sufficient statistic for a first-order behavioral model): for
    * every ordered (from_type → to_type) step in a user's event
    * stream, the count and the row-normalized transition probability
    * P(to | from). Ordering ties break by event_id (the scd1/fn1
    * contract). p6 is one IEEE division of two exact integers,
    * rounded to 6dp — cross-engine exact.
    *
    * Scale shape: one exchange on user_id for the lead window, one
    * partial-combined (from, to) count aggregate (state-type² rows at
    * most — tiny for any real taxonomy), and the row-normalize window
    * runs over that bounded matrix, not the corpus. */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
    val counts = trans
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    counts.withColumn("p6",
      round(col("n").cast("double")
        / sum(col("n")).over(Window.partitionBy(col("from_type"))).cast("double"), 6))
  }

  /** Slowly-changing-dimension TYPE 2 history — turn a change-event
    * stream into the validity-interval dimension table (valid_from,
    * valid_to, is_current, version) every warehouse join expects.
    * Consecutive events carrying the SAME attribute value collapse
    * into one row (the gaps-and-islands kernel, §2.1, applied to
    * attribute changes instead of masks); `valid_to` is the NEXT
    * version's valid_from (closed-open convention, so intervals tile
    * with no gaps), null + is_current for the latest row. Ordering
    * ties at one timestamp break by event_id, so the history is
    * deterministic even under same-instant updates.
    *
    * Scale shape: one exchange keyed on the dimension key (user_id),
    * then windows + one aggregate all within the partition — the same
    * single-shuffle budget as every detector; version counts are
    * per-key, so no global ordering exists anywhere. */
  def scd2History(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val runs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("version"))
    runs.groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("event_type"),
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"), col("valid_to"), col("n_events"), col("is_current"))
  }

  /** Ordered-funnel analysis (view → click → signup → purchase): how
    * many users completed each prefix of the stage sequence IN ORDER.
    * A user reaches stage k+1 at the first stage-(k+1) event at or
    * after their stage-k reach time.
    *
    * Execution shape: ONE shuffle (hash on user_id) and ONE sort —
    * the four running-min windows share the same spec, so each
    * dependent stage is another Window operator over the
    * already-sorted partition with no re-exchange and no re-sort
    * (each stage's input column is the previous window's output, so
    * they chain rather than collapse, but the expensive work — the
    * exchange and the sort — happens once). No self-joins, no one
    * scan per stage: this is the shape that survives a 100 TB event
    * log (running state per user is four timestamps). The per-user
    * flags then partial-aggregate to four counters, so the final
    * exchange carries one row per partition.
    *
    * Tie semantics: events sort by (ts, event_id); a click at the
    * exact ts of the user's first view counts iff its event_id orders
    * after the view's — deterministic on both engines. Integer
    * outputs end-to-end, so the gate compare is hash-exact. */
  def fn1Funnel(spark: SparkSession, dir: String): DataFrame =
    funnel(
      Tables.read(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
      Seq("view", "click", "signup", "purchase"))

  /** Generic form of [[fn1Funnel]]: `events` must carry (user_id, ts,
    * event_id, event_type); `stages` is the ordered stage sequence
    * (≥ 1, distinct). Returns one (stage, users) row per stage. */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    val perUser = stagedFunnel(events, stages).groupBy(col("user_id")).agg(
      max(col("t_0").isNotNull.cast("long")).as("s0"),
      stages.indices.drop(1).map(i =>
        max(col(s"t_$i").isNotNull.cast("long")).as(s"s$i")): _*)
    // coalesce: an empty events frame yields one all-null totals row
    // (sum over zero groups); a funnel count is never null — emit 0s.
    val totals = perUser.agg(
      coalesce(sum(col("s0")), lit(0L)).as("c0"),
      stages.indices.drop(1).map(i =>
        coalesce(sum(col(s"s$i")), lit(0L)).as(s"c$i")): _*)
    val stackArgs = stages.zipWithIndex
      .map { case (typ, i) => s"'$typ', c$i" }.mkString(", ")
    totals.selectExpr(
      s"stack(${stages.length}, $stackArgs) AS (stage, users)")
  }

  /** Per-user stage reach TIMES for [[funnel]]'s semantics: one row
    * per (user, stage) the user actually reached, with the timestamp
    * of the first qualifying event. Same staged running-min chain;
    * the final value of each running min is its whole-partition min,
    * so the per-user reach time is a plain min-aggregate over the
    * staged frame. [[graft.streaming.StreamingFunnel]] proves
    * batch-equivalence against this frame. */
  def funnelReachTimes(events: DataFrame, stages: Seq[String]): DataFrame = {
    val stackArgs = stages.zipWithIndex
      .map { case (typ, i) => s"'$typ', t_$i" }.mkString(", ")
    funnelReachWide(events, stages)
      .selectExpr("user_id",
        s"stack(${stages.length}, $stackArgs) AS (stage, reached_at)")
      .where(col("reached_at").isNotNull)
  }

  /** Per-user WIDE reach frame (user_id, t_0..t_k) — the one
    * aggregation both [[funnelReachTimes]] (which stacks it) and
    * [[funnelTiming]] (which diffs adjacent columns directly) share,
    * so neither pays a stack/unstack round-trip. */
  private[graft] def funnelReachWide(
      events: DataFrame, stages: Seq[String]): DataFrame =
    stagedFunnel(events, stages).groupBy(col("user_id")).agg(
      min(col("t_0")).as("t_0"),
      stages.indices.drop(1).map(i => min(col(s"t_$i")).as(s"t_$i")): _*)

  /** FUNNEL TIMING — fn1 answers "how many convert"; this answers
    * "how LONG conversion takes": per adjacent stage pair, among the
    * users who reached the later stage, the count plus the median and
    * mean seconds between the two reach times. Reach times come from
    * the same gated running-min chain as [[funnel]] (so stage k+1's
    * time is always at-or-after stage k's — diffs are non-negative by
    * construction); diffs are exact integer MICROSECONDS, the median
    * is the rz1 rank-pick ((a+b)/2.0 on integers — engine-exact, no
    * interpolation), and the mean divides an exact integer sum once.
    *
    * Scale shape: fn1's one user_id exchange + window chain, a
    * per-user aggregate, then all remaining work runs on the
    * (stage-pair)-keyed frame — stage-pair cardinality is the funnel
    * length, so the median windows are the bm1 harmless tail. */
  def funnelTiming(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.length >= 2, s"funnelTiming: need >= 2 stages: $stages")
    // barrier: the stage-pair union below reads this frame once per
    // adjacent pair — without it the 4-window staged chain over the
    // full event log recomputes per branch (measured 2.8× at 10M
    // events on a funnel-shaped mix). Size-gated (the q15/e6
    // precedent): skipped when the estimated input is small enough
    // that k−1 recomputes are cheaper than the fixed ~0.5 s
    // checkpoint write (a wash at gate SF).
    val wide = graft.Materialize.barrierAbove(
      funnelReachWide(events, stages), sizeOf = events)
    val pairs = stages.sliding(2).zipWithIndex.map { case (Seq(a, b), i) =>
      wide.where(col(s"t_${i + 1}").isNotNull)
        .select(lit(s"$a->$b").as("step"), col("user_id"),
          (unix_micros(col(s"t_${i + 1}")) - unix_micros(col(s"t_$i"))).as("d"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("step"))
    val byD = w.orderBy(col("d"), col("user_id"))
    pairs
      .withColumn("rv", row_number().over(byD).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("med",
        (min(when(col("rv") === floor((col("n") + 1) / lit(2)).cast("long"), col("d"))).over(w)
          + min(when(col("rv") === floor((col("n") + 2) / lit(2)).cast("long"), col("d"))).over(w))
          / lit(2.0))
      .groupBy(col("step"))
      .agg(min(col("n")).as("n_users"),
        round(min(col("med")) / lit(1e6), 6).as("median_s6"),
        round(sum(col("d")).cast("double") / min(col("n")) / lit(1e6), 6)
          .as("mean_s6"))
  }

  /** KAPLAN–MEIER survival curve (Kaplan & Meier 1958) for
    * time-to-conversion: origin = each user's first `originType`
    * event, terminal event = the first `eventType` AT OR AFTER the
    * origin, right-censoring at the user's last observed event — the
    * "how long until users convert, counting the ones who never did"
    * estimator naive mean-latency (ft1) cannot express. One row per
    * distinct day step: (day, n_risk, n_events, n_censored, surv6)
    * with S(t) = Π_{s ≤ t} (1 − d_s/n_s).
    *
    * Portability: durations are exact integer days (double division
    * of exact integer micros is < 2^53 — exact floor on both
    * engines); the risk sets are integer window sums; and the product
    * folds SEQUENTIALLY with the boundary-deterministic
    * floor(x·1e6 + 0.5)/1e6 rounding after every step (the s3/ew1
    * drift-reset), mirrored by a DuckDB recursive CTE running the
    * identical IEEE sequence.
    *
    * Scale shape: per-user origin/event/censor times are two keyed
    * aggregates; everything after runs on the DAY-STEP frame, whose
    * size is the observation horizon in days — not the data — so the
    * sequential fold is a one-group flatMapGroups over a bounded
    * frame (the d1 storm-fold posture), never a corpus-wide
    * single partition. */
  def kaplanMeier(
      events: DataFrame, originType: String, eventType: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val base = events.select(col("user_id"), col("ts"), col("event_type"))
    val origins = base.groupBy(col("user_id")).agg(
      min(when(col("event_type") === originType, col("ts"))).as("t0"))
    val per = base.join(origins, Seq("user_id"))
      .where(col("t0").isNotNull)
      .groupBy(col("user_id")).agg(
        min(col("t0")).as("t0"),
        min(when(col("event_type") === eventType && col("ts") >= col("t0"),
          col("ts"))).as("te"),
        max(col("ts")).as("tl"))
    // barrier: the denominator aggregate and the step plan both
    // consume durs — without it the whole per-user chain (scan + two
    // aggregates) runs twice
    val durs = graft.Materialize.barrier(per.select(
      floor((unix_micros(coalesce(col("te"), col("tl")))
        - unix_micros(col("t0"))).cast("double") / lit(86400000000.0))
        .cast("long").as("day"),
      when(col("te").isNotNull, 1L).otherwise(0L).as("ev")))
    val steps = durs.groupBy(col("day")).agg(
      sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
    // risk-set denominator rides a broadcast scalar aggregate (the
    // hist1/bm1 pattern) instead of a driver count(): the returned
    // frame stays lazy — no job runs before the caller acts
    val nTot = durs.agg(count(lit(1)).as("__n_total"))
    val wDay = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    steps
      .crossJoin(broadcast(nTot))
      .withColumn("n_risk",
        col("__n_total") - coalesce(sum(col("d") + col("c")).over(wDay), lit(0L)))
      .select(col("day"), col("n_risk"), col("d"), col("c"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_ => true)
      .flatMapGroups { (_, it) =>
        var surv = 1.0
        it.toArray.sortBy(_._1).iterator.map { case (day, nr, d, c) =>
          surv = math.floor(surv * (1.0 - d.toDouble / nr) * 1e6 + 0.5) / 1e6
          (day, nr, d, c, surv)
        }
      }
      .toDF("day", "n_risk", "n_events", "n_censored", "surv6")
  }

  /** Shared stage chain for [[funnel]] / [[funnelReachTimes]]: one
    * running-min window per stage, each gated on the previous stage's
    * reach column — see funnel's scaladoc for the one-exchange/
    * one-sort execution argument. */
  private def stagedFunnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"funnel: stages must be non-empty and distinct: $stages")
    // stage names are interpolated into the stack(...) selectExpr as
    // SQL string literals — restrict to a safe charset rather than
    // letting a quoted name break parsing (or inject an expression)
    require(stages.forall(_.matches("[A-Za-z0-9_\\- ]+")),
      s"funnel: stage names must match [A-Za-z0-9_- ]+: $stages")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def reachedAt(typ: String, after: Option[String]): Column = {
      val hit = after match {
        case None => when(col("event_type") === typ, col("ts"))
        case Some(prev) =>
          when(col("event_type") === typ && col(prev).isNotNull, col("ts"))
      }
      min(hit).over(w)
    }
    stages.zipWithIndex.foldLeft(events) {
      case (df, (typ, i)) =>
        df.withColumn(s"t_$i",
          reachedAt(typ, if (i == 0) None else Some(s"t_${i - 1}")))
    }
  }

  private val typedCte = (typ: String) =>
    s"""SELECT series_id, ts, max(value) AS value FROM (
       |  SELECT CAST(user_id AS VARCHAR) AS series_id, ts,
       |    CASE WHEN isnan(value) THEN NULL ELSE value END AS value
       |  FROM events WHERE event_type = '$typ') GROUP BY series_id, ts""".stripMargin

  private val ptsCte =
    """SELECT CAST(user_id AS VARCHAR) AS series_id, ts,
      | CASE WHEN isnan(value) THEN NULL ELSE value END AS value FROM events""".stripMargin

  /** The d6 oracle (extreme-value events) inlined as a subquery for
    * the interval join twin. */
  private def d6Sql: String = graft.SparkEntry.detectorOracle("d6_extreme_value")

  val oracle: Map[String, String] = Map(
    "aj1_asof_join" ->
      s"""WITH l AS (${typedCte("click")}),
         |r AS (SELECT series_id, ts AS r_ts, value AS r_val FROM (${typedCte("purchase")}))
         |SELECT l.series_id, l.ts, l.value, r.r_ts AS asof_ts, r.r_val AS asof_value
         |FROM l ASOF LEFT JOIN r
         |ON l.series_id = r.series_id AND r.r_ts <= l.ts""".stripMargin,
    "aj2_asof_forward" -> {
      val tol = 3L * 86400L * 1000000L
      s"""WITH l AS (${typedCte("click")}),
         |r AS (SELECT series_id, ts AS r_ts, value AS r_val FROM (${typedCte("purchase")})),
         |j AS (SELECT l.series_id, l.ts, l.value, r.r_ts, r.r_val
         |  FROM l ASOF LEFT JOIN r
         |  ON l.series_id = r.series_id AND r.r_ts >= l.ts)
         |SELECT series_id, ts, value,
         |  CASE WHEN r_ts IS NOT NULL AND epoch_us(r_ts) - epoch_us(ts) <= $tol
         |    THEN r_ts END AS asof_ts,
         |  CASE WHEN r_ts IS NOT NULL AND epoch_us(r_ts) - epoch_us(ts) <= $tol
         |    THEN r_val END AS asof_value
         |FROM j""".stripMargin
    },
    "aj3_asof_tolerance" -> {
      val tol = 3L * 86400L * 1000000L
      s"""WITH l AS (${typedCte("click")}),
         |r AS (SELECT series_id, ts AS r_ts, value AS r_val FROM (${typedCte("purchase")})),
         |j AS (SELECT l.series_id, l.ts, l.value, r.r_ts, r.r_val
         |  FROM l ASOF LEFT JOIN r
         |  ON l.series_id = r.series_id AND r.r_ts <= l.ts)
         |SELECT series_id, ts, value,
         |  CASE WHEN r_ts IS NOT NULL AND epoch_us(ts) - epoch_us(r_ts) <= $tol
         |    THEN r_ts END AS asof_ts,
         |  CASE WHEN r_ts IS NOT NULL AND epoch_us(ts) - epoch_us(r_ts) <= $tol
         |    THEN r_val END AS asof_value
         |FROM j""".stripMargin
    },
    "ij1_interval_stats" ->
      s"""WITH pts AS ($ptsCte),
         |ev AS (SELECT * FROM ($d6Sql))
         |SELECT pts.series_id, "start", "stop",
         |  count(*) AS n_points,
         |  ROUND(COALESCE(SUM(value), 0.0), 6) AS total,
         |  ROUND(AVG(value), 6) AS mean
         |FROM pts JOIN ev ON pts.series_id = ev.series_id
         |  AND pts.ts BETWEEN "start" AND "stop"
         |GROUP BY 1, 2, 3""".stripMargin,
    "ss1_session_stats" ->
      s"""WITH t AS ($ptsCte),
         |s AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY series_id ORDER BY ts
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM (SELECT *, CASE WHEN prev_us IS NULL
         |      OR epoch_us(ts) - prev_us > ${6L * 3600L * 1000000L} THEN 1 ELSE 0 END AS is_new
         |    FROM (SELECT *, epoch_us(lag(ts) OVER (PARTITION BY series_id ORDER BY ts)) AS prev_us
         |      FROM t)))
         |SELECT series_id, session_id, min(ts) AS "start", max(ts) AS "stop",
         |  count(*) AS n_points, ROUND(COALESCE(SUM(value), 0.0), 6) AS total
         |FROM s GROUP BY series_id, session_id""".stripMargin,
    // aj4: candidate sides via correlated min/max scalar subqueries
    // (DuckDB decorrelates), values joined back on the unique
    // (series_id, ts) key; identical tolerance + tie-backward pick.
    // Timestamps are exact integers, so any correct formulation
    // hash-matches — no op-sequence mirroring needed here
    "aj4_asof_nearest" -> {
      val tol = 3L * 86400L * 1000000L
      s"""WITH l AS (${typedCte("click")}), r AS (${typedCte("purchase")}),
         |b AS (SELECT l.series_id, l.ts, l.value,
         |  (SELECT max(r.ts) FROM r
         |    WHERE r.series_id = l.series_id AND r.ts <= l.ts) AS b_ts,
         |  (SELECT min(r.ts) FROM r
         |    WHERE r.series_id = l.series_id AND r.ts >= l.ts) AS f_ts
         | FROM l),
         |v AS (SELECT b.*, rb.value AS b_val, rf.value AS f_val,
         |  b.b_ts IS NOT NULL
         |    AND epoch_us(b.ts) - epoch_us(b.b_ts) <= $tol AS ok_b,
         |  b.f_ts IS NOT NULL
         |    AND epoch_us(b.f_ts) - epoch_us(b.ts) <= $tol AS ok_f
         | FROM b
         | LEFT JOIN r rb ON rb.series_id = b.series_id AND rb.ts = b.b_ts
         | LEFT JOIN r rf ON rf.series_id = b.series_id AND rf.ts = b.f_ts),
         |p AS (SELECT *,
         |  COALESCE(ok_b, FALSE) AND (NOT COALESCE(ok_f, FALSE)
         |    OR epoch_us(ts) - epoch_us(b_ts)
         |       <= epoch_us(f_ts) - epoch_us(ts)) AS pick_b
         | FROM v)
         |SELECT series_id, ts, value,
         |  CASE WHEN pick_b THEN b_ts WHEN ok_f THEN f_ts END AS asof_ts,
         |  CASE WHEN pick_b THEN b_val WHEN ok_f THEN f_val END AS asof_value,
         |  CASE WHEN pick_b THEN 'backward'
         |       WHEN ok_f THEN 'forward' END AS direction
         |FROM p""".stripMargin
    },
    // fn1: the identical running-min window chain — stage k+1's CASE
    // reads stage k's window output from the same (ts, event_id)
    // order, so reach times (and the integer counts) match exactly
    "fn1_funnel" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
        |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
        |  OVER w AS t_view FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click'
        |    AND t_view IS NOT NULL THEN ts END) OVER w AS t_click FROM s1
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s3 AS (SELECT *, MIN(CASE WHEN event_type = 'signup'
        |    AND t_click IS NOT NULL THEN ts END) OVER w AS t_signup FROM s2
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s4 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase'
        |    AND t_signup IS NOT NULL THEN ts END) OVER w AS t_purchase FROM s3
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |u AS (SELECT user_id,
        |  MAX(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS f1,
        |  MAX(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS f2,
        |  MAX(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS f3,
        |  MAX(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS f4
        | FROM s4 GROUP BY user_id)
        |SELECT 'view' AS stage, CAST(COALESCE(SUM(f1), 0) AS BIGINT) AS users FROM u
        |UNION ALL
        |SELECT 'click' AS stage, CAST(COALESCE(SUM(f2), 0) AS BIGINT) AS users FROM u
        |UNION ALL
        |SELECT 'signup' AS stage, CAST(COALESCE(SUM(f3), 0) AS BIGINT) AS users FROM u
        |UNION ALL
        |SELECT 'purchase' AS stage, CAST(COALESCE(SUM(f4), 0) AS BIGINT) AS users FROM u""".stripMargin,
    // km1: per-user origin/event/censor aggregates, integer day
    // durations, and the KM product as a recursive CTE folding the
    // IDENTICAL floor(x·1e6+0.5)/1e6-rounded IEEE sequence in day
    // order (the ew1/d1 recursion pattern)
    "km1_survival" ->
      """WITH RECURSIVE
        |e AS (SELECT user_id, ts, event_type FROM events),
        |o AS (SELECT user_id,
        |   MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0
        |  FROM e GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(o.t0) AS t0,
        |   MIN(CASE WHEN event_type = 'purchase' AND e.ts >= o.t0 THEN e.ts END)
        |     AS te,
        |   MAX(e.ts) AS tl
        |  FROM e JOIN o USING (user_id) WHERE o.t0 IS NOT NULL
        |  GROUP BY e.user_id),
        |dd AS (SELECT
        |   CAST(floor(CAST(epoch_us(COALESCE(te, tl)) - epoch_us(t0) AS DOUBLE)
        |     / 86400000000.0) AS BIGINT) AS day,
        |   CASE WHEN te IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM p),
        |st AS (SELECT day, SUM(ev) AS d, SUM(1 - ev) AS c FROM dd GROUP BY 1),
        |si AS (SELECT *, row_number() OVER (ORDER BY day) AS i,
        |   COALESCE(SUM(d + c) OVER (ORDER BY day
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS removed,
        |   (SELECT COUNT(*) FROM dd) AS nn
        |  FROM st),
        |rs AS (SELECT i, day, CAST(nn - removed AS BIGINT) AS n_risk,
        |   CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c FROM si),
        |f AS (
        |  SELECT i, day, n_risk, d, c,
        |    floor(CAST(1.0 AS DOUBLE) * (1 - CAST(d AS DOUBLE) / n_risk)
        |      * 1000000.0 + 0.5) / 1000000.0 AS surv
        |  FROM rs WHERE i = 1
        |  UNION ALL
        |  SELECT rs.i, rs.day, rs.n_risk, rs.d, rs.c,
        |    floor(f.surv * (1 - CAST(rs.d AS DOUBLE) / rs.n_risk)
        |      * 1000000.0 + 0.5) / 1000000.0
        |  FROM f JOIN rs ON rs.i = f.i + 1)
        |SELECT day, n_risk, d AS n_events, c AS n_censored, surv AS surv6
        |FROM f""".stripMargin,
    // ft1: fn1's gated running-min chain, per-user reach mins, exact
    // integer microsecond diffs, rz1's rank-pick median per step
    "ft1_funnel_timing" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
        |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
        |  OVER w AS t_view FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click'
        |    AND t_view IS NOT NULL THEN ts END) OVER w AS t_click FROM s1
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s3 AS (SELECT *, MIN(CASE WHEN event_type = 'signup'
        |    AND t_click IS NOT NULL THEN ts END) OVER w AS t_signup FROM s2
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s4 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase'
        |    AND t_signup IS NOT NULL THEN ts END) OVER w AS t_purchase FROM s3
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |u AS (SELECT user_id, MIN(t_view) AS t0, MIN(t_click) AS t1,
        |   MIN(t_signup) AS t2, MIN(t_purchase) AS t3
        |  FROM s4 GROUP BY 1),
        |p AS (
        |  SELECT 'view->click' AS step, user_id,
        |    epoch_us(t1) - epoch_us(t0) AS d FROM u WHERE t1 IS NOT NULL
        |  UNION ALL
        |  SELECT 'click->signup' AS step, user_id,
        |    epoch_us(t2) - epoch_us(t1) AS d FROM u WHERE t2 IS NOT NULL
        |  UNION ALL
        |  SELECT 'signup->purchase' AS step, user_id,
        |    epoch_us(t3) - epoch_us(t2) AS d FROM u WHERE t3 IS NOT NULL),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY step ORDER BY d, user_id) AS rv,
        |  count(*) OVER (PARTITION BY step) AS n FROM p),
        |m AS (SELECT *,
        |  (min(CASE WHEN rv = (n + 1) // 2 THEN d END) OVER (PARTITION BY step)
        |   + min(CASE WHEN rv = (n + 2) // 2 THEN d END) OVER (PARTITION BY step))
        |    / CAST(2.0 AS DOUBLE) AS med
        | FROM r)
        |SELECT step, CAST(min(n) AS BIGINT) AS n_users,
        |  ROUND(min(med) / 1000000.0, 6) AS median_s6,
        |  ROUND(CAST(SUM(d) AS DOUBLE) / min(n) / 1000000.0, 6) AS mean_s6
        |FROM m GROUP BY step""".stripMargin,
    // scd1: identical (ts, event_id) ordering and change rule; the
    // closed-open tiling comes from lead() over the per-key versions
    "scd1_scd2_history" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
        |c AS (SELECT *,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM e),
        |r AS (SELECT *, CAST(SUM(CASE WHEN prev IS NULL OR prev <> event_type
        |    THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS version
        | FROM c),
        |h AS (SELECT user_id, version, MIN(event_type) AS event_type,
        |   MIN(ts) AS valid_from, COUNT(*) AS n_events
        |  FROM r GROUP BY user_id, version)
        |SELECT user_id, version, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
        |  n_events,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL
        |    AS is_current
        |FROM h""".stripMargin,
    // au1: ch1's integer epoch-day discipline; the rolling counts are
    // a range join here (gate-scale) vs the engine's expansion form —
    // different algorithm, identical distinct-count semantics
    "au1_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d FROM events),
        |dau AS (SELECT d AS day_idx, COUNT(*) AS dau FROM ud GROUP BY 1),
        |w7 AS (SELECT dy.day_idx, COUNT(DISTINCT u.user_id) AS wau7
        |  FROM dau dy JOIN ud u ON u.d BETWEEN dy.day_idx - 6 AND dy.day_idx
        |  GROUP BY 1),
        |w28 AS (SELECT dy.day_idx, COUNT(DISTINCT u.user_id) AS mau28
        |  FROM dau dy JOIN ud u ON u.d BETWEEN dy.day_idx - 27 AND dy.day_idx
        |  GROUP BY 1)
        |SELECT day_idx, dau, wau7, mau28
        |FROM dau JOIN w7 USING (day_idx) JOIN w28 USING (day_idx)""".stripMargin,
    // at1: identical (ts, event_id) ordering, the same struct-max
    // running window via max_by-free argmax (row_number over preceding
    // touches), q6 integer micro-unit revenue
    "at1_last_touch" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN isnan(value) THEN NULL ELSE value END AS v FROM events),
        |q AS (SELECT user_id, ts, event_id, event_type,
        |  CAST(CASE WHEN v >= 0 THEN floor(v * 1000000.0 + 0.5)
        |       ELSE -floor(-(v) * 1000000.0 + 0.5) END AS BIGINT) AS yu FROM e),
        |t AS (SELECT *, max(CASE WHEN event_type <> 'purchase'
        |    THEN struct_pack(ts := ts, event_id := event_id,
        |                     event_type := event_type) END)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        | FROM q)
        |SELECT touch.event_type AS touch_type, COUNT(*) AS n_purchases,
        |  CAST(SUM(yu) AS DOUBLE) / 1000000.0 AS revenue6
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY touch.event_type""".stripMargin,
    // fn2: fn1's CTE chain with the 7-day per-step window guard in
    // each stage's gating condition
    "fn2_windowed_funnel" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
        |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
        |  OVER w AS t_0 FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click'
        |    AND t_0 IS NOT NULL
        |    AND epoch_us(ts) - epoch_us(t_0) <= 604800000000 THEN ts END)
        |  OVER w AS t_1 FROM s1
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s3 AS (SELECT *, MIN(CASE WHEN event_type = 'signup'
        |    AND t_1 IS NOT NULL
        |    AND epoch_us(ts) - epoch_us(t_1) <= 604800000000 THEN ts END)
        |  OVER w AS t_2 FROM s2
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s4 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase'
        |    AND t_2 IS NOT NULL
        |    AND epoch_us(ts) - epoch_us(t_2) <= 604800000000 THEN ts END)
        |  OVER w AS t_3 FROM s3
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |u AS (SELECT user_id,
        |  MAX(CASE WHEN t_0 IS NOT NULL THEN 1 ELSE 0 END) AS f0,
        |  MAX(CASE WHEN t_1 IS NOT NULL THEN 1 ELSE 0 END) AS f1,
        |  MAX(CASE WHEN t_2 IS NOT NULL THEN 1 ELSE 0 END) AS f2,
        |  MAX(CASE WHEN t_3 IS NOT NULL THEN 1 ELSE 0 END) AS f3
        | FROM s4 GROUP BY user_id)
        |SELECT 'view' AS stage, CAST(COALESCE(SUM(f0), 0) AS BIGINT) AS users FROM u
        |UNION ALL
        |SELECT 'click' AS stage, CAST(COALESCE(SUM(f1), 0) AS BIGINT) AS users FROM u
        |UNION ALL
        |SELECT 'signup' AS stage, CAST(COALESCE(SUM(f2), 0) AS BIGINT) AS users FROM u
        |UNION ALL
        |SELECT 'purchase' AS stage, CAST(COALESCE(SUM(f3), 0) AS BIGINT) AS users FROM u""".stripMargin,
    // nr1: ch1's integer epoch-days; the SUM casts BIGINT (§8 rule)
    "nr1_new_vs_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d FROM events),
        |f AS (SELECT user_id, MIN(d) AS fd FROM ud GROUP BY 1),
        |g AS (SELECT d AS day_idx, COUNT(*) AS n_active,
        |  CAST(SUM(CASE WHEN d = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        | FROM ud JOIN f USING (user_id) GROUP BY 1)
        |SELECT day_idx, n_active, n_new, n_active - n_new AS n_returning
        |FROM g""".stripMargin,
    // cal2: Spark weekday == DuckDB isodow - 1 (the cal1 mapping);
    // hour() identical under UTC; quantized mean (cr2 mqi pattern)
    "cal2_hod_dow" ->
      """WITH e AS (SELECT CAST(isodow(ts) - 1 AS BIGINT) AS dow,
        |  CAST(hour(ts) AS BIGINT) AS hod,
        |  CASE WHEN isnan(value) THEN NULL ELSE value END AS v FROM events),
        |q AS (SELECT dow, hod,
        |  CAST(CASE WHEN v >= 0 THEN floor(v * 1000000.0 + 0.5)
        |       ELSE -floor(-(v) * 1000000.0 + 0.5) END AS BIGINT) AS yu
        | FROM e),
        |g AS (SELECT dow, hod, COUNT(*) AS n, COUNT(yu) AS n_val,
        |  CAST(SUM(yu) AS BIGINT) AS syu FROM q GROUP BY 1, 2)
        |SELECT dow, hod, n, n_val,
        |  CASE WHEN n_val > 0
        |    THEN floor(CAST(syu AS DOUBLE) / n_val + 0.5) / 1000000.0 END
        |    AS mean_value6
        |FROM g""".stripMargin,
    // sf1: the fn1 CTE chain partitioned by (user, session); session
    // ids from the identical (ts, event_id)-ordered gap rule
    "sf1_session_funnel" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
        |g AS (SELECT *, epoch_us(ts)
        |   - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |       ORDER BY ts, event_id) AS gap_us FROM e),
        |sn AS (SELECT *, CAST(SUM(CASE WHEN gap_us IS NULL
        |    OR gap_us > 21600000000 THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id FROM g),
        |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
        |  OVER w AS t_0 FROM sn
        |  WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click'
        |    AND t_0 IS NOT NULL THEN ts END) OVER w AS t_1 FROM s1
        |  WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s3 AS (SELECT *, MIN(CASE WHEN event_type = 'signup'
        |    AND t_1 IS NOT NULL THEN ts END) OVER w AS t_2 FROM s2
        |  WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s4 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase'
        |    AND t_2 IS NOT NULL THEN ts END) OVER w AS t_3 FROM s3
        |  WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |u AS (SELECT user_id, session_id,
        |  MAX(CASE WHEN t_0 IS NOT NULL THEN 1 ELSE 0 END) AS f0,
        |  MAX(CASE WHEN t_1 IS NOT NULL THEN 1 ELSE 0 END) AS f1,
        |  MAX(CASE WHEN t_2 IS NOT NULL THEN 1 ELSE 0 END) AS f2,
        |  MAX(CASE WHEN t_3 IS NOT NULL THEN 1 ELSE 0 END) AS f3
        | FROM s4 GROUP BY user_id, session_id)
        |SELECT 'view' AS stage, CAST(COALESCE(SUM(f0), 0) AS BIGINT) AS n_sessions FROM u
        |UNION ALL
        |SELECT 'click' AS stage, CAST(COALESCE(SUM(f1), 0) AS BIGINT) AS n_sessions FROM u
        |UNION ALL
        |SELECT 'signup' AS stage, CAST(COALESCE(SUM(f2), 0) AS BIGINT) AS n_sessions FROM u
        |UNION ALL
        |SELECT 'purchase' AS stage, CAST(COALESCE(SUM(f3), 0) AS BIGINT) AS n_sessions FROM u""".stripMargin,
    // mk1: identical (ts, event_id) ordering; n and the per-from total
    // are exact BIGINTs, one double division, ROUND(,6)
    "mk1_transition_matrix" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
        |tr AS (SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS to_type
        | FROM e),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM tr
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  ROUND(CAST(n AS DOUBLE)
        |    / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p6
        |FROM c""".stripMargin
  )
}

/** Small indirection to avoid a circular val-initialization between
  * SparkEntry.queries and this object (SparkEntry references
  * TemporalQueries.queries; our queries only need the canonical
  * loader, resolved at call time). */
private object SparkEntryBridge {
  def canonical(s: SparkSession, dir: String): DataFrame =
    graft.SparkEntry.canonicalEvents(s, dir)
}
