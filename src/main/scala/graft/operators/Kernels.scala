package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/**
 * L1 kernel library (SURVEY.md §2.1, §7.1): small, composable, pure
 * DataFrame transforms over the canonical frame
 * (series_id STRING, ts TIMESTAMP, value DOUBLE). Every detector runs
 * over [[bySeries]], so a plan shuffles exactly once and then
 * parallelizes across series — the scalability story the single-series
 * reference lacks (metevents/events.py:18-22). The run detectors walk
 * each series in one sorted fold ([[RunFolds]]); [[withRunId]] and
 * [[assembleEvents]] are the window formulation of the same runs, kept
 * as the fold's test reference and for ad-hoc masks.
 *
 * Skew note: one series is one group, so a pathological
 * multi-billion-row series runs on one task. The run folds keep O(1)
 * state per series and Spark's sort spills, so it is slow, not out of
 * memory (SCALE_NOTES.md).
 */
object Kernels {

  /** The one `series_id` exchange under every detector: hash-partition
    * into `spark.sql.shuffle.partitions` parts. The explicit count keeps
    * AQE from coalescing the reduce side (a small detector shuffle falls
    * under its 1 MiB floor and would run in one task), and
    * `HashPartitioning(series_id)` satisfies every series window and
    * every `series_id`-keyed grouping above it, so Spark plans no second
    * exchange. */
  def bySeries(ts: DataFrame): DataFrame =
    ts.repartition(ts.sparkSession.sessionState.conf.numShufflePartitions, col("series_id"))

  /** pandas treats NaN as missing everywhere (NaN-skipping sums,
    * periods.py:40-45); Spark distinguishes NaN from null. Normalize at
    * ingest so null-skipping aggregates match. */
  def nanToNull(c: Column): Column = when(isnan(c), lit(null)).otherwise(c)

  /** pandas semantics: `NaN cmp x -> False`; Spark: `null cmp x -> null`
    * and `NOT null -> null`. Every mask must pass through this before
    * negation or run-id arithmetic (SURVEY.md §7.4.1). */
  def safeMask(c: Column): Column = coalesce(c, lit(false))

  /** Per-series event-time ordering; ties broken by a caller-supplied
    * column list for determinism. */
  def seriesWindow(tieBreak: Column*): WindowSpec =
    Window.partitionBy("series_id").orderBy((col("ts") +: tieBreak): _*)

  /**
   * Gaps-and-islands run id — the reference's shared grouping primitive
   * `group_condition_by_time` (metevents/events.py:39-47):
   * `ind.eq(False).cumsum()` is constant across each maximal run of
   * `true`. A running sum over a ROWS frame is O(n) per series.
   *
   * Adds columns `cond` (null-safe boolean) and `run_id` (long).
   */
  def withRunId(df: DataFrame, cond: Column): DataFrame =
    df.withColumn("cond", safeMask(cond))
      .withColumn(
        "run_id",
        sum(when(!col("cond"), 1L).otherwise(0L))
          .over(seriesWindow().rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /**
   * Collapse flagged runs into events: one hash aggregation keyed by
   * (series_id, run_id). Because a run is contiguous, the rows between
   * min(ts) and max(ts) are exactly the flagged rows, so n_points/total
   * match the reference's inclusive label slice `data.loc[start:stop]`
   * (metevents/events.py:118,196 and periods.py:15-45).
   *
   * `minPoints` maps the reference's `len(event.data) >= min_len`
   * post-filters (metevents/events.py:329,410).
   *
   * All-missing runs yield `total = null` here (documented divergence:
   * these detectors emit `BaseTimePeriod`, which has NO total in the
   * reference — periods.py:1-32; null-as-unknown is our extension).
   * Storm events, whose reference counterpart `CumulativePeriod.total`
   * is a NaN-skipping sum returning 0.0 on all-missing (periods.py:43),
   * coalesce to 0.0 in [[StormEvents]].
   */
  def assembleEvents(flagged: DataFrame, eventType: String, minPoints: Long = 1L): DataFrame = {
    val agg = flagged
      .where(col("cond"))
      .groupBy(col("series_id"), col("run_id"))
      .agg(
        min(col("ts")).as("start"),
        max(col("ts")).as("stop"),
        count(lit(1)).as("n_points"),
        sum(nanToNull(col("value"))).as("total"))
    val filtered = if (minPoints > 1L) agg.where(col("n_points") >= minPoints) else agg
    filtered.select(
      col("series_id"),
      lit(eventType).as("event_type"),
      col("start"),
      col("stop"),
      (unix_micros(col("stop")) - unix_micros(col("start"))).as("duration_us"),
      col("n_points"),
      col("total"))
  }

  /**
   * Per-series frequency inference with the reference's exact semantics
   * (metevents/utilities.py:10-15): consider the consecutive-diff set
   * `index[1:-1] - index[0:-2]`, i.e. diffs d_1..d_{n-2} — the FINAL
   * interval is skipped; if exactly one distinct diff remains, that is
   * the step, else unknown (null).
   *
   * Returns (series_id, step_us nullable long). `step_us` is the raw
   * unique diff; see [[Steps.resolutionStep]] for the `to_offset`
   * 1-unit quirk used by storms.
   */
  def inferStep(df: DataFrame): DataFrame = {
    val w = seriesWindow()
    bySeries(df.select(col("series_id"), col("ts")))
      .withColumn("d_us", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .withColumn("has_next", lead(col("ts"), 1).over(w).isNotNull)
      // keep d_1..d_{n-2}: rows with BOTH a predecessor (d_us non-null)
      // and a successor — one window pass (lag+lead share the sort)
      // instead of a second count-over-partition
      .where(col("d_us").isNotNull && col("has_next"))
      .groupBy("series_id")
      .agg(
        countDistinct(col("d_us")).as("n_distinct"),
        min(col("d_us")).as("d_min"))
      .select(
        col("series_id"),
        when(col("n_distinct") === 1, col("d_min")).otherwise(lit(null)).as("step_us"))
  }
}

/** Frequency-string parsing: the subset of pandas offset aliases the
  * reference exercises ('1D', 'D', 'H', min/S/ms) as microsecond steps
  * (metevents/events.py:76-79,272). */
object Steps {
  val Us: Long = 1L
  val Ms: Long = 1000L
  val Second: Long = 1000L * Ms
  val Minute: Long = 60L * Second
  val Hour: Long = 60L * Minute
  val Day: Long = 24L * Hour
  val Week: Long = 7L * Day

  private val Pattern = """^\s*(\d*)\s*([A-Za-z]+)\s*$""".r

  def parseMicros(freq: String): Long = freq match {
    case Pattern(numStr, unit) =>
      val n = if (numStr.isEmpty) 1L else numStr.toLong
      val u = unit match {
        case "W" | "w"                        => Week
        case "D" | "d" | "day" | "days"       => Day
        case "H" | "h" | "hr" | "hour"        => Hour
        case "T" | "t" | "min" | "m"          => Minute
        case "S" | "s" | "sec"                => Second
        case "ms" | "L"                       => Ms
        case "us" | "U"                       => Us
        case other => throw new IllegalArgumentException(s"unsupported frequency unit: $other")
      }
      n * u
    case other => throw new IllegalArgumentException(s"unparseable frequency: $other")
  }

  /** pandas `to_timedelta(to_offset(freq))` where freq is a
    * `resolution_string`: one unit of the SMALLEST nonzero component of
    * the diff (so a 2-day spacing still yields a 1-day tstep — quirk
    * preserved from metevents/events.py:76-77 + utilities.py:14). */
  def resolutionStep(diffUs: Long): Long =
    if (diffUs % Day == 0) Day
    else if (diffUs % Hour == 0) Hour
    else if (diffUs % Minute == 0) Minute
    else if (diffUs % Second == 0) Second
    else if (diffUs % Ms == 0) Ms
    else Us

  /** Pandas-style frequency string for a step (`determine_freq`
    * returns 'D'/'H' strings in the reference, utilities.py:10-14). */
  def toFreqStr(stepUs: Long): String =
    if (stepUs % Day == 0) { val n = stepUs / Day; if (n == 1) "D" else s"${n}D" }
    else if (stepUs % Hour == 0) { val n = stepUs / Hour; if (n == 1) "H" else s"${n}H" }
    else if (stepUs % Minute == 0) { val n = stepUs / Minute; if (n == 1) "min" else s"${n}min" }
    else if (stepUs % Second == 0) { val n = stepUs / Second; if (n == 1) "S" else s"${n}S" }
    else if (stepUs % Ms == 0) { val n = stepUs / Ms; if (n == 1) "ms" else s"${n}ms" }
    else s"${stepUs}us"
}
