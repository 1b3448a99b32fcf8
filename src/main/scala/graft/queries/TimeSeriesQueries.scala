package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkEntry.canonicalCte
import graft.operators.Kernels

/**
 * Time-series transforms beyond the reference's detectors — the
 * operations a pandas user of metevents reaches for next
 * (`Series.resample`, `Series.ffill`, `Series.rolling`) re-expressed as
 * lazy DataFrame transforms over the canonical frame (SURVEY.md §1.3).
 * All are single-shuffle (hash on series_id), window/agg only — at
 * 100 TB they parallelize across series exactly like the detectors.
 *
 * NaN→null normalization happens at canonical ingest
 * ([[graft.SparkEntry.canonicalEvents]]), so null-skipping aggregates
 * match pandas' NaN-skipping semantics on both engines.
 */
object TimeSeriesQueries {

  /** The repo's portable explicit rounding (STATUS lesson 11):
    * floor(|u|·1e6 + 0.5)/1e6 — the identical IEEE op sequence on
    * both engines at every input, unlike round()'s engine-specific
    * half behavior. [[r6Sql]] is its verbatim DuckDB twin; [[q6]] /
    * [[q6Sql]] are the quantize-to-integer-micro-units variants the
    * exact-integer-sum operators (rg1, cr2, rs5) build on. */
  private def r6(c: Column): Column = Round6.r6(c)
  private def q6(c: Column): Column = Round6.q6(c)
  private def r6Sql(e: String): String = Round6.r6Sql(e)
  private def q6Sql(e: String): String = Round6.q6Sql(e)

  /** Downsample to fixed buckets (pandas `resample('1D').agg(...)`):
    * date_trunc is deterministic and identical across engines, unlike
    * bucket-index arithmetic on epoch micros. One partial+final hash
    * aggregation; the shuffle key (series_id, bucket) keeps all
    * cardinality. */
  def r1Resample(spark: SparkSession, dir: String): DataFrame =
    graft.SparkEntry.canonicalEvents(spark, dir)
      .groupBy(col("series_id"), date_trunc("DAY", col("ts")).as("bucket"))
      .agg(
        count(col("value")).as("n_present"),
        count(lit(1)).as("n_rows"),
        round(sum(col("value")), 6).as("sum_val"),
        round(avg(col("value")), 6).as("avg_val"),
        round(min(col("value")), 6).as("min_val"),
        round(max(col("value")), 6).as("max_val"))

  /** Canonical frame + the source row id: ROWS-frame windows over
    * (series_id, ts) are tie-order-dependent if a series ever carries
    * duplicate timestamps, so the ordered transforms below break ties
    * on event_id — deterministic on both engines regardless of input
    * partitioning (the detector queries aggregate per run and are
    * tie-insensitive; these per-row outputs are not). */
  private def canonicalWithId(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.read(spark, dir, "events").select(
      col("user_id").cast("string").as("series_id"),
      col("ts"), col("event_id"),
      graft.operators.Kernels.nanToNull(col("value")).as("value"))

  /** Gap-fill (pandas `Series.ffill()`): carry the last non-null value
    * forward within each series. `last(ignoreNulls).over(unbounded
    * preceding)` is a running O(1)-per-row window state — no join, no
    * self-lookup. */
  def ff1ForwardFill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("series_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    canonicalWithId(spark, dir)
      .select(
        col("series_id"), col("ts"),
        round(col("value"), 6).as("value"),
        round(last(col("value"), ignoreNulls = true).over(w), 6).as("value_filled"))
  }

  /** Linear interpolation of missing values (pandas
    * `Series.interpolate()`): interior nulls get the time-weighted
    * line between the nearest non-null neighbors, trailing nulls carry
    * the last value forward, leading nulls stay null — pandas'
    * default limit behavior. Two window passes (running last non-null
    * backward, running first non-null forward) — no self-join, no
    * point lookup; both engines evaluate the identical double
    * expression so the rounded results hash-match. */
  def r2Interpolate(spark: SparkSession, dir: String): DataFrame = {
    val ord = Seq(col("ts"), col("event_id"))
    val wPrev = Window.partitionBy("series_id").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("series_id").orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val known = when(col("value").isNotNull,
      struct(unix_micros(col("ts")).as("us"), col("value").as("v")))
    canonicalWithId(spark, dir)
      .withColumn("prev", last(known, ignoreNulls = true).over(wPrev))
      .withColumn("nxt", first(known, ignoreNulls = true).over(wNext))
      .select(
        col("series_id"), col("ts"),
        round(col("value"), 6).as("value"),
        round(
          when(col("value").isNotNull, col("value"))
            .when(col("nxt").isNull, col("prev.v"))
            .when(col("prev").isNull, lit(null))
            .otherwise(col("prev.v") + (col("nxt.v") - col("prev.v")) *
              ((unix_micros(col("ts")) - col("prev.us")) /
                (col("nxt.us") - col("prev.us")))), 6).as("value_interp"))
  }

  /** Rolling statistics + z-score anomaly signal (pandas
    * `Series.rolling(7).mean()/std()`): one window sort yields all
    * three frames; the z-score guards against near-zero variance so
    * float noise cannot flip a division. */
  def rs1RollingStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("series_id")
      .orderBy(col("ts"), col("event_id")).rowsBetween(-6, 0)
    val mean = avg(col("value")).over(w)
    val sd = stddev_samp(col("value")).over(w)
    canonicalWithId(spark, dir)
      .select(
        col("series_id"), col("ts"),
        round(col("value"), 6).as("value"),
        round(mean, 6).as("roll_mean"),
        round(sd, 6).as("roll_sd"),
        round(when(sd > 1e-9, (col("value") - mean) / sd), 3).as("zscore"))
  }

  /** Exact rolling median over the trailing 7-row frame — the order
    * statistic rolling stats (rs1) cannot express with running
    * moments. The frame's non-null values are collected and sorted
    * per row (O(w log w) with w = 7 — the documented exact-order-
    * statistics cost; approximate sketches are the lever if w grows
    * to thousands), and the median is an EXPLICIT element pick —
    * `(a + b) / 2.0` for even counts on BOTH engines — because
    * DuckDB's `median()` is quantile_cont interpolation
    * (`a + 0.5·(b−a)`), a different IEEE sequence. Same partitioning
    * posture as rs1: one exchange on series_id. */
  def rs3RollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("series_id")
      .orderBy(col("ts"), col("event_id")).rowsBetween(-6, 0)
    canonicalWithId(spark, dir)
      .withColumn("sorted", array_sort(collect_list(col("value")).over(w)))
      .withColumn("n_window", size(col("sorted")).cast("long"))
      .select(col("series_id"), col("ts"),
        round(col("value"), 6).as("value"),
        col("n_window"),
        round(
          when(col("n_window") === 0, lit(null).cast("double"))
            .when(col("n_window") % 2 === 1,
              element_at(col("sorted"), ((col("n_window") + 1) / 2).cast("int")))
            .otherwise(
              (element_at(col("sorted"), (col("n_window") / 2).cast("int")) +
                element_at(col("sorted"), (col("n_window") / 2 + 1).cast("int"))) / 2.0),
          6).as("roll_med"))
  }

  /** Exact rolling 90th percentile over the trailing 20-row frame —
    * the NEAREST-RANK method (index = ⌈0.9·n⌉, an exact element pick,
    * computed as integer ⌊(9n+9)/10⌋ on both engines) rather than any
    * interpolating quantile: interpolation is engine-specific IEEE
    * arithmetic, a rank pick is not. Same collected-frame shape and
    * O(w log w) cost note as [[rs3RollingMedian]]; one exchange on
    * series_id. */
  def rs4RollingP90(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("series_id")
      .orderBy(col("ts"), col("event_id")).rowsBetween(-19, 0)
    canonicalWithId(spark, dir)
      .withColumn("sorted", array_sort(collect_list(col("value")).over(w)))
      .withColumn("n_window", size(col("sorted")).cast("long"))
      .select(col("series_id"), col("ts"),
        round(col("value"), 6).as("value"),
        col("n_window"),
        round(
          when(col("n_window") === 0, lit(null).cast("double"))
            .otherwise(element_at(col("sorted"),
              floor((col("n_window") * 9 + 9) / lit(10)).cast("int"))),
          6).as("roll_p90"))
  }

  /** OHLC downsampling (pandas `resample('1D').ohlc()`): per (series,
    * day) the first/highest/lowest/last value. Open and close are
    * argmin/argmax by (ts, event_id) via the repo's struct-ordering
    * aggregate (min/max of struct(us, event_id, value) — us and
    * event_id are never null, so the comparison is decided before the
    * value field and the pick is deterministic under duplicate
    * timestamps). One partial-combined aggregation; raw values out
    * (actual data — identical across engines without rounding). */
  def r3Ohlc(spark: SparkSession, dir: String): DataFrame = {
    val keyed = struct(unix_micros(col("ts")).as("us"),
      col("event_id").as("eid"), col("value").as("v"))
    canonicalWithId(spark, dir)
      .where(col("value").isNotNull)
      .groupBy(col("series_id"), date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        min(keyed).getField("v").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(keyed).getField("v").as("close"))
  }

  /** Shift/diff transforms (pandas `.shift()` / `.diff()` /
    * `.pct_change()`): previous value, first difference, and percent
    * change per series in (ts, event_id) order. lag and subtraction
    * are raw (identical single ops); the percent change — the one
    * division — rounds through the explicit formula (lesson 11), and
    * a zero previous value yields null rather than ±inf. */
  def r4ShiftDiff(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("series_id").orderBy(col("ts"), col("event_id"))
    canonicalWithId(spark, dir)
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .select(col("series_id"), col("ts"), col("value"), col("prev_value"),
        (col("value") - col("prev_value")).as("diff"),
        r6(when(col("prev_value") =!= 0.0,
          (col("value") - col("prev_value")) / col("prev_value")))
          .as("pct_change6"))
  }

  /** Cumulative transforms (pandas `.cumsum()` / `.cummax()` /
    * `.cummin()` + running non-null count): running windows over the
    * same one-sort (ts, event_id) order every per-row transform here
    * uses. The running sum is NOT emitted raw: DuckDB evaluates
    * window sums with a segment tree, so its in-frame accumulation
    * ORDER differs from Spark's sequential add even on an identical
    * frame (verified — raw cum sums diverge in the last ulp);
    * rounding through the explicit formula absorbs it, exactly as
    * cp1 does. max/min/count are order-insensitive and stay raw. */
  def r5Cumulative(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("series_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    canonicalWithId(spark, dir)
      .select(col("series_id"), col("ts"), col("value"),
        r6(sum(col("value")).over(w)).as("cum_sum6"),
        max(col("value")).over(w).as("cum_max"),
        min(col("value")).over(w).as("cum_min"),
        count(col("value")).over(w).as("cum_n"))
  }

  /** Rolling lag-1 AUTOCORRELATION (pandas
    * `Series.rolling(20).corr(Series.shift(1))` — the mean-reversion
    * vs momentum diagnostic): Pearson over the trailing 20
    * (value, previous value) pairs per row. Portability is the
    * integer-sums discipline taken all the way: both pair members
    * quantize to micro-units, and ALL FIVE frame aggregates
    * (Σy, Σp, Σy², Σp², Σyp) are LONG sums — exact on both engines
    * regardless of how the window evaluates (this is what defeats
    * the r5 segment-tree finding: integer sums cannot pick up
    * accumulation-order ulps). The correlation is then a fixed double
    * op sequence over identically-cast sums, rounded through the
    * explicit formula; degenerate frames (n < 2 or zero variance)
    * yield null. Long-range check: |yu| ≤ 3e8 ⇒ Σy² over 20 rows
    * ≤ 1.8e18 < 2^63. One exchange on series_id. */
  def rs5RollingCorr(spark: SparkSession, dir: String): DataFrame =
    rollingCorr(canonicalWithId(spark, dir))

  /** Generic form of [[rs5RollingCorr]]: `series` must carry
    * (series_id, ts, event_id, value). */
  def rollingCorr(series: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("series_id").orderBy(col("ts"), col("event_id"))
    val wFrame = wOrd.rowsBetween(-19, 0)
    val paired = series
      .withColumn("prev", lag(col("value"), 1).over(wOrd))
      .where(col("value").isNotNull && col("prev").isNotNull)
      .withColumn("yu", q6(col("value")))
      .withColumn("pu", q6(col("prev")))
    val d = (c: Column) => c.cast("double")
    val sums = paired
      .withColumn("n", count(lit(1)).over(wFrame))
      .withColumn("sy", sum(col("yu")).over(wFrame))
      .withColumn("sp", sum(col("pu")).over(wFrame))
      .withColumn("syy", sum(col("yu") * col("yu")).over(wFrame))
      .withColumn("spp", sum(col("pu") * col("pu")).over(wFrame))
      .withColumn("syp", sum(col("yu") * col("pu")).over(wFrame))
    val varY = d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))
    val varP = d(col("n")) * d(col("spp")) - d(col("sp")) * d(col("sp"))
    val cov = d(col("n")) * d(col("syp")) - d(col("sy")) * d(col("sp"))
    sums.select(col("series_id"), col("ts"),
      round(col("value"), 6).as("value"),
      col("n").as("n_window"),
      r6(when(col("n") >= 2 && varY > 0.0 && varP > 0.0,
        cov / sqrt(varY * varP))).as("roll_autocorr6"))
  }

  /** Robust per-series outlier screen: median + MAD (median absolute
    * deviation) instead of mean + stddev — the classic robust z-score,
    * immune to the outliers it is hunting (a single extreme value
    * drags a mean/stddev fence toward itself; it moves the median by
    * at most one rank). A value is flagged when |x − med| > 3·MAD.
    *
    * Both medians are the rs3 portable pick — row_number over
    * (value, event_id), element at integer ranks ⌊(n+1)/2⌋ and
    * ⌊(n+2)/2⌋, averaged with the same (a+b)/2.0 on both engines — so
    * no interpolating quantile ever runs. Execution: one exchange on
    * series_id, two sorts within it (by value, then by deviation);
    * the rank picks are whole-partition conditional MINs, not
    * collected arrays, so per-row state is O(1) and a series never
    * has to fit in one task's memory the way a collect_list would
    * require. Final shape is one partial-combined row per series. */
  def rz1MadOutliers(spark: SparkSession, dir: String): DataFrame =
    madOutliers(canonicalWithId(spark, dir))

  /** Generic form of [[rz1MadOutliers]]: `series` must carry
    * (series_id, ts, event_id, value); nulls are dropped (missing,
    * per the canonical-frame contract). `k` is the MAD-multiple
    * fence. */
  def madOutliers(series: DataFrame, k: Double = 3.0): DataFrame = {
    val part = Window.partitionBy("series_id")
    val byVal = part.orderBy(col("value"), col("event_id"))
    val ranked = series
      .where(col("value").isNotNull)
      .withColumn("rv", row_number().over(byVal).cast("long"))
      .withColumn("n", count(lit(1)).over(part))
      .withColumn("med",
        (min(when(col("rv") === floor((col("n") + 1) / lit(2)).cast("long"), col("value"))).over(part) +
          min(when(col("rv") === floor((col("n") + 2) / lit(2)).cast("long"), col("value"))).over(part)) / 2.0)
      .withColumn("dev", abs(col("value") - col("med")))
    val byDev = part.orderBy(col("dev"), col("event_id"))
    ranked
      .withColumn("rv", row_number().over(byDev).cast("long"))
      .withColumn("mad",
        (min(when(col("rv") === floor((col("n") + 1) / lit(2)).cast("long"), col("dev"))).over(part) +
          min(when(col("rv") === floor((col("n") + 2) / lit(2)).cast("long"), col("dev"))).over(part)) / 2.0)
      .groupBy(col("series_id"))
      .agg(
        min(col("n")).as("n_values"),
        // r6, not round(): a deseasonalized input (sea2) has medians
        // EXACTLY on the x.xxxxxx5 grid — half-boundaries where
        // engine round() conventions diverge; the explicit
        // floor(|u|·1e6+0.5) formula is boundary-deterministic
        r6(min(col("med"))).as("med6"),
        r6(min(col("mad"))).as("mad6"),
        sum(when(col("dev") > lit(k) * col("mad"), 1L).otherwise(0L)).as("n_outliers"),
        r6(max(col("dev"))).as("max_dev6"))
  }

  /** Per-series linear TREND: the OLS slope of value against time
    * (units: value per day) via the centered formulation
    * Σ(x−x̄)(y−ȳ) / Σ(x−x̄)² — centered because the raw
    * (nΣxy − ΣxΣy) form subtracts two enormous near-equal sums and
    * catastrophic cancellation would amplify summation-order ulps
    * into the displayed digits; centered products are small and the
    * q14 round-after-divide discipline absorbs what remains. The
    * means are rounded to 6dp BEFORE centering (both engines center
    * on identical doubles) and both centered sums round to 6dp before
    * the ratio. One exchange on series_id: two whole-partition
    * windows (the means) and a partial-combined final aggregate.
    * Degenerate series (a single point, or zero time variance) yield
    * a null slope rather than ±inf. */
  def rg1TrendSlope(spark: SparkSession, dir: String): DataFrame =
    trendSlope(canonicalWithId(spark, dir))

  /** Generic form of [[rg1TrendSlope]]: `series` must carry
    * (series_id, ts, event_id, value); nulls are dropped. */
  def trendSlope(series: DataFrame): DataFrame = {
    // The means are computed as EXACT INTEGER sums (micro-days and
    // micro-value units — both well inside 2^53, so the sums are
    // exact in ANY order on BOTH engines) divided once in double:
    // a float mean over n = 2^k points is an exact binary fraction
    // that lands exactly on the rounding half-boundary, where the
    // engines' one-ulp summation-order difference becomes a visible
    // last-digit flip (observed: 48.5609375). Integer sums remove
    // the order-dependence at the source. The centered product sums
    // remain order-dependent doubles, but their boundary exposure is
    // the usual measure-zero kind, absorbed by the explicit
    // floor(|u|·1e6+0.5)/1e6 rounding (the s3 formula — round()
    // half-behavior also differs across engines, so it is never used
    // where a boundary is structurally reachable).
    val part = Window.partitionBy("series_id")
    val centered = series
      .where(col("value").isNotNull)
      .withColumn("xu",                       // micro-days, integer-valued
        floor(unix_micros(col("ts")).cast("double") / lit(86400.0)))
      .withColumn("yu",                       // micro-value units, integer
        when(col("value") >= 0, floor(col("value") * lit(1e6) + lit(0.5)))
          .otherwise(-floor(-col("value") * lit(1e6) + lit(0.5))))
      .withColumn("n", count(lit(1)).over(part))
      .withColumn("xbar_u",
        sum(col("xu")).over(part).cast("double") / col("n"))
      .withColumn("ybar",
        sum(col("yu")).over(part).cast("double") / col("n") / lit(1e6))
      .withColumn("cx", (col("xu").cast("double") - col("xbar_u")) / lit(1e6))
      .withColumn("cy", col("value") - col("ybar"))
    centered
      .groupBy(col("series_id"))
      .agg(
        count(lit(1)).as("n_values"),
        r6(min(col("ybar"))).as("mean6"),
        r6(sum(col("cx") * col("cy"))).as("sxy6"),
        r6(sum(col("cx") * col("cx"))).as("sxx6"))
      .select(col("series_id"), col("n_values"), col("mean6"),
        r6(when(col("sxx6") > 0.0, col("sxy6") / col("sxx6")))
          .as("slope_per_day6"))
  }

  /** Day-of-week SEASONAL DECOMPOSITION — the additive
    * value = seasonal(dow) + residual split, with Hyndman's seasonal
    * STRENGTH 1 − SS_resid/SS_total as the per-series "is this series
    * actually weekly-periodic" score (the triage a fleet of 10^6
    * sensor series needs before any calendar-aware model). Output one
    * row per (series_id, dow): the slot's 6dp seasonal mean and point
    * count, with the series' strength repeated on each row.
    *
    * Portability (the rg1/cr2 discipline): values quantize to integer
    * micro-units, so every mean is an exact-integer sum divided once;
    * the seasonal mean is quantized BACK to integer micro-units
    * before residuals, so both engines subtract identical doubles.
    * The two sums of squares are the one order-dependent step —
    * rounded to 6dp like rg1's centered products — and the strength
    * ratio divides the ROUNDED sums. Degenerate series (zero total
    * variance) yield null strength.
    *
    * Scale shape: two partial-combined aggregates over (series) and
    * (series, dow), one keyed join back to rows for residuals, one
    * more aggregate — every exchange keyed on series_id (dow only
    * fans it out 7×). No window over raw rows, no global ordering. */
  def sea1SeasonalDecompose(spark: SparkSession, dir: String): DataFrame =
    seasonalDecompose(canonicalWithId(spark, dir))

  /** Generic form of [[sea1SeasonalDecompose]] over a (series_id, ts,
    * event_id, value) frame; nulls are dropped. */
  def seasonalDecompose(series: DataFrame): DataFrame = {
    val rows = series.where(col("value").isNotNull)
      .withColumn("dow", weekday(col("ts")).cast("long"))
      .withColumn("yu", q6(col("value")))
    val ser = rows.groupBy(col("series_id")).agg(
        count(lit(1)).as("nv"), sum(col("yu")).as("syu"))
      .withColumn("mean_u", col("syu").cast("double") / col("nv"))
    // size-gated barrier (PlanAudit finding): dowAgg feeds the
    // residual join AND the final select with different prunings —
    // (series × 7) grain output, gated on the input
    val dowAgg = graft.Materialize.barrierAbove(
      rows.groupBy(col("series_id"), col("dow")).agg(
          count(lit(1)).as("n"), sum(col("yu")).as("syud"))
        .withColumn("s_u", floor(col("syud").cast("double") / col("n") + lit(0.5))),
      sizeOf = series)
    val en = rows
      .join(dowAgg.select(col("series_id"), col("dow"), col("s_u")),
        Seq("series_id", "dow"))
      .join(ser.select(col("series_id"), col("mean_u")), Seq("series_id"))
      .withColumn("c", (col("yu").cast("double") - col("mean_u")) / lit(1e6))
      .withColumn("r", (col("yu").cast("double") - col("s_u")) / lit(1e6))
    val stats = en.groupBy(col("series_id")).agg(
      r6(sum(col("c") * col("c"))).as("sst6"),
      r6(sum(col("r") * col("r"))).as("ssr6"))
    dowAgg.join(stats, Seq("series_id"))
      .select(col("series_id"), col("dow"), col("n"),
        r6(col("s_u") / lit(1e6)).as("seasonal6"),
        r6(when(col("sst6") > 0.0,
          greatest(lit(0.0), lit(1.0) - col("ssr6") / col("sst6"))))
          .as("strength6"))
  }

  /** A/B EXPERIMENT readout — per event_type, the two-sample Welch
    * t statistic between variant A (even user ids — the deterministic
    * stand-in for an assignment column) and variant B:
    * t = (m̄_A − m̄_B) / √(s²_A/n_A + s²_B/n_B). The core analytics
    * op behind every experimentation platform, built on the repo's
    * exactness stack: means are exact integer micro-unit sums
    * quantized back before centering (nm1's discipline), the two sums
    * of squares round to 6dp, and the t statistic is a fixed IEEE op
    * sequence over engine-identical doubles. Degenerate cells (a
    * single observation, or zero variance in both arms) yield null t.
    *
    * Scale shape: one conditional-aggregate pass per event_type, a
    * keyed join back for the centered squares, one more aggregate —
    * the sea1 shape, all exchanges on event_type. */
  def exp1AbTest(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.read(spark, dir, "events")
      .select(col("event_type"), (col("user_id") % 2 === 0).as("va"),
        graft.operators.Kernels.nanToNull(col("value")).as("value"))
      .where(col("value").isNotNull)
      .withColumn("yu", q6(col("value")))
    val stats = ev.groupBy(col("event_type")).agg(
        sum(when(col("va"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("va"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("va"), col("yu")).otherwise(0L)).as("sa"),
        sum(when(!col("va"), col("yu")).otherwise(0L)).as("sb"))
      // guard the empty arm: 0/0 is NaN and floor(NaN) diverges
      // between engines — an absent variant yields null mean/t instead
      .withColumn("ma_u", when(col("n_a") > 0,
        floor(col("sa").cast("double") / col("n_a") + lit(0.5))))
      .withColumn("mb_u", when(col("n_b") > 0,
        floor(col("sb").cast("double") / col("n_b") + lit(0.5))))
    val ss = ev
      .join(stats.select(col("event_type"), col("ma_u"), col("mb_u")),
        Seq("event_type"))
      .withColumn("c",
        when(col("va"), (col("yu").cast("double") - col("ma_u")) / lit(1e6))
          .otherwise((col("yu").cast("double") - col("mb_u")) / lit(1e6)))
      .groupBy(col("event_type")).agg(
        r6(sum(when(col("va"), col("c") * col("c")).otherwise(0.0))).as("ssa6"),
        r6(sum(when(!col("va"), col("c") * col("c")).otherwise(0.0))).as("ssb6"))
    stats.join(ss, Seq("event_type"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        r6(col("ma_u") / lit(1e6)).as("mean_a6"),
        r6(col("mb_u") / lit(1e6)).as("mean_b6"),
        r6(when(col("n_a") > 1 && col("n_b") > 1
              && (col("ssa6") > 0.0 || col("ssb6") > 0.0),
          (col("ma_u") / lit(1e6) - col("mb_u") / lit(1e6))
            / sqrt(col("ssa6") / (col("n_a") - 1) / col("n_a")
                 + col("ssb6") / (col("n_b") - 1) / col("n_b"))))
          .as("welch_t6"))
  }

  /** Residual frame after removing the dow seasonal component —
    * [[seasonalDecompose]]'s subtraction exposed row-wise, so
    * downstream screens run on the DESEASONALIZED signal. Output
    * (series_id, ts, event_id, value = residual); the residual is a
    * difference of integer micro-unit values divided once, so both
    * engines carry identical doubles into whatever follows. */
  def deseasonalize(series: DataFrame): DataFrame = {
    val rows = series.where(col("value").isNotNull)
      .withColumn("dow", weekday(col("ts")).cast("long"))
      .withColumn("yu", q6(col("value")))
    val dowAgg = rows.groupBy(col("series_id"), col("dow")).agg(
        count(lit(1)).as("n"), sum(col("yu")).as("syud"))
      .withColumn("s_u", floor(col("syud").cast("double") / col("n") + lit(0.5)))
    rows.join(dowAgg.select(col("series_id"), col("dow"), col("s_u")),
        Seq("series_id", "dow"))
      .select(col("series_id"), col("ts"), col("event_id"),
        ((col("yu").cast("double") - col("s_u")) / lit(1e6)).as("value"))
  }

  /** Seasonally-adjusted robust outliers — the composition a real
    * alerting pipeline ships: a Monday-shaped spike is NORMAL on a
    * weekly-periodic series, so the MAD fence ([[madOutliers]], rz1's
    * machinery unchanged) runs on [[deseasonalize]]'s residuals
    * instead of raw values. Same single-shuffle-per-stage budget;
    * every rank pick operates on engine-identical residual doubles. */
  def sea2SeasonalOutliers(spark: SparkSession, dir: String): DataFrame =
    madOutliers(deseasonalize(canonicalWithId(spark, dir)))

  /** Per-series FEATURE SCALING — the model-prep normalization pass:
    * each value emitted with its z-score ((v − mean)/std, sample std)
    * and min-max position ((v − min)/(max − min)). Means are exact
    * integer micro-unit sums quantized back before centering (the
    * rg1 discipline); the centered sum of squares rounds to 6dp, the
    * std is one correctly-rounded sqrt of the rounded ratio, and both
    * normalized outputs round to 6dp after one division of
    * engine-identical doubles. Single-point series yield null z
    * (sample std undefined); constant series yield null z and mm.
    *
    * Scale shape: one partial-combined stats aggregate per series,
    * then a keyed join back to rows (broadcastable when the series
    * count is small; hash join keyed on series_id otherwise) — the
    * projection itself is stateless. Two passes over the rows (stats,
    * then normalize), no windows, no global state. */
  def nm1FeatureScale(spark: SparkSession, dir: String): DataFrame =
    featureScale(canonicalWithId(spark, dir))

  /** Generic form of [[nm1FeatureScale]] over a (series_id, ts,
    * event_id, value) frame; nulls are dropped. */
  def featureScale(series: DataFrame): DataFrame = {
    val rows = series.where(col("value").isNotNull)
      .withColumn("yu", q6(col("value")))
    // size-gated barrier (PlanAudit finding): stats feeds the
    // centered-squares join AND the full join with different pruned
    // outputs — without it the per-series aggregate pass over the
    // corpus runs twice; series-grain output, gated on the input
    val stats = graft.Materialize.barrierAbove(
      rows.groupBy(col("series_id")).agg(
          count(lit(1)).as("n"), sum(col("yu")).as("syu"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
        .withColumn("mean_u", floor(col("syu").cast("double") / col("n") + lit(0.5))),
      sizeOf = series)
    val ss = rows
      .join(stats.select(col("series_id"), col("mean_u")), Seq("series_id"))
      .withColumn("c", (col("yu").cast("double") - col("mean_u")) / lit(1e6))
      .groupBy(col("series_id")).agg(r6(sum(col("c") * col("c"))).as("ss6"))
    val full = stats.join(ss, Seq("series_id"))
      .withColumn("std6",
        when(col("n") > 1,
          r6(sqrt(col("ss6") / (col("n") - 1).cast("double")))))
    rows.join(full.select(col("series_id"), col("n"), col("mean_u"),
        col("vmin"), col("vmax"), col("std6")), Seq("series_id"))
      .select(col("series_id"), col("event_id"), col("value"),
        r6(when(col("std6") > 0.0,
          (col("value") - col("mean_u") / lit(1e6)) / col("std6"))).as("z6"),
        r6(when(col("vmax") > col("vmin"),
          (col("value") - col("vmin")) / (col("vmax") - col("vmin")))).as("mm6"))
  }

  /** Cross-series Pearson correlation matrix: which event types move
    * together day-to-day. Daily mean value per type, then every type
    * pair (a < b) correlates over their shared days. Built on the
    * rg1 portability machinery: daily means are exact-integer
    * micro-unit sums divided once in double, then QUANTIZED BACK to
    * integer-valued doubles (floor(mu+0.5), micro-units), so the
    * second-level sums (over ≤31 days) are exact in any order; the
    * centered product sums carry ~1e-14 relative ulp noise into a
    * value in [−1, 1] rounded at 1e-6 — the q14 margin argument. The
    * one sqrt is the m2/t8 libm exposure. Self-join columns are
    * RENAMED per side (STATUS lesson 4: alias-qualified self-joins
    * can silently bind both sides to one attribute). Shape: one
    * (type, day) aggregate, a day-keyed self-join of the tiny daily
    * frame, one partial-combined row per pair. */
  def cr2TypeCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.sources.Tables.read(spark, dir, "events")
      .select(col("event_type"), col("ts"),
        Kernels.nanToNull(col("value")).as("value"))
      .where(col("value").isNotNull)
      .withColumn("day", date_trunc("DAY", col("ts")))
      .withColumn("yu",
        when(col("value") >= 0, floor(col("value") * lit(1e6) + lit(0.5)))
          .otherwise(-floor(-col("value") * lit(1e6) + lit(0.5))))
      .groupBy(col("event_type"), col("day"))
      .agg((sum(col("yu")).cast("double") / count(lit(1))).as("mu"))
      .withColumn("mqi",
        when(col("mu") >= 0, floor(col("mu") + lit(0.5)))
          .otherwise(-floor(-col("mu") + lit(0.5))).cast("double"))
    val a = daily.select(col("event_type").as("type_a"), col("day"),
      col("mqi").as("ma"))
    val b = daily.select(col("event_type").as("type_b"),
      col("day").as("day_b"), col("mqi").as("mb"))
    val paired = a.join(b,
      col("day") === col("day_b") && col("type_a") < col("type_b"))
    val centered = paired
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("type_a"), col("type_b"))))
      .withColumn("abar", sum(col("ma")).over(
        Window.partitionBy(col("type_a"), col("type_b"))) / col("n"))
      .withColumn("bbar", sum(col("mb")).over(
        Window.partitionBy(col("type_a"), col("type_b"))) / col("n"))
      .withColumn("ca", col("ma") - col("abar"))
      .withColumn("cb", col("mb") - col("bbar"))
    centered.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("ca") * col("cb")).as("sab"),
        sum(col("ca") * col("ca")).as("saa"),
        sum(col("cb") * col("cb")).as("sbb"))
      .select(col("type_a"), col("type_b"), col("n_days"),
        r6(when(col("saa") > 0.0 && col("sbb") > 0.0,
          col("sab") / sqrt(col("saa") * col("sbb")))).as("corr6"))
  }

  /** PERCENTILE BANDS — daily p50/p90/p99 of value per event type:
    * the latency-dashboard staple (a2's exact interpolated
    * percentiles, taken to the (type, day) grain). Integer epoch-day
    * indices (ch1 discipline); Spark `percentile` and DuckDB
    * `quantile_cont` implement the same linear interpolation (the a2
    * precedent), rounded at 4dp. Shape: one partial aggregate is NOT
    * possible for exact percentiles (sort-based), but the exchange is
    * keyed on (type, day) — full cardinality, no single partition. */
  def pb1PercentileBands(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.read(spark, dir, "events")
      .select(col("event_type"),
        floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("day_idx"),
        Kernels.nanToNull(col("value")).as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("event_type"), col("day_idx"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(v, 0.5)"), 4).as("p50"),
        round(expr("percentile(v, 0.9)"), 4).as("p90"),
        round(expr("percentile(v, 0.99)"), 4).as("p99"))

  /** EQUI-WIDTH HISTOGRAM of the value column (20 bins over the
    * global [min, max]): the profiling companion to pk2's equi-depth
    * buckets. Bin index = min(⌊(v−min)/w⌋, 19) with w = (max−min)/20
    * — identical double arithmetic on both engines, so every value
    * lands in the same bin; edges are emitted r6-rounded. Shape: one
    * scalar min/max aggregate broadcast back over the scan, one
    * partial-combined count per bin — two passes, no sort. */
  def hist1ValueHistogram(spark: SparkSession, dir: String): DataFrame = {
    val v = graft.sources.Tables.read(spark, dir, "events")
      .select(Kernels.nanToNull(col("value")).as("v"))
      .where(col("v").isNotNull)
    val mm = v.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    v.crossJoin(broadcast(mm))
      .withColumn("w", (col("vmax") - col("vmin")) / lit(20.0))
      .withColumn("bin",
        when(col("w") > 0.0,
          least(floor((col("v") - col("vmin")) / col("w")), lit(19.0)))
          .otherwise(lit(0.0)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        r6(min(col("vmin") + col("bin") * col("w"))).as("bin_lo6"),
        r6(min(col("vmin") + (col("bin") + 1) * col("w"))).as("bin_hi6"))
  }

  /** LAGGED CROSS-CORRELATION — cr2's correlation matrix swept over
    * day lags 0..maxLag: "does type A lead type B by k days" (the
    * lead-lag discovery step behind causal/forecast feature
    * selection). Per (type_a < type_b, lag): corr of A's day-d mean
    * with B's day-(d+lag) mean over shared days. All of cr2's
    * portability machinery applies verbatim (quantized integer daily
    * means, exact second-level sums, one division + sqrt, r6). Shape:
    * the (type, day) aggregate once, an 8-row lag frame broadcast
    * into the day-keyed self-join of the tiny daily frame, one
    * partial-combined row per (pair, lag). */
  /** (event_type, day_idx, mqi) daily quantized means — the shared
    * input frame of [[xc1LagCorrelation]] and [[acf1Autocorrelation]]
    * (ONE definition so the two keys' quantization cannot drift; cr2
    * keeps its own timestamp-day variant for oracle-compat). */
  private def dailyQuantizedMeans(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.read(spark, dir, "events")
      .select(col("event_type"),
        floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("day_idx"),
        Kernels.nanToNull(col("value")).as("value"))
      .where(col("value").isNotNull)
      .withColumn("yu",
        when(col("value") >= 0, floor(col("value") * lit(1e6) + lit(0.5)))
          .otherwise(-floor(-col("value") * lit(1e6) + lit(0.5))))
      .groupBy(col("event_type"), col("day_idx"))
      .agg((sum(col("yu")).cast("double") / count(lit(1))).as("mu"))
      .withColumn("mqi",
        when(col("mu") >= 0, floor(col("mu") + lit(0.5)))
          .otherwise(-floor(-col("mu") + lit(0.5))).cast("double"))

  def xc1LagCorrelation(
      spark: SparkSession, dir: String, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 0 && maxLag <= 60, s"xc1: maxLag in [0, 60]: $maxLag")
    val daily = dailyQuantizedMeans(spark, dir)
    val lags = spark.range(0L, maxLag + 1L).select(col("id").as("lag"))
    val a = daily.select(col("event_type").as("type_a"), col("day_idx"),
      col("mqi").as("ma"))
    val b = daily.select(col("event_type").as("type_b"),
      col("day_idx").as("day_b"), col("mqi").as("mb"))
    val paired = a.crossJoin(broadcast(lags))
      .join(b, col("day_b") === col("day_idx") + col("lag") &&
        col("type_a") < col("type_b"))
    val grp = Window.partitionBy(col("type_a"), col("type_b"), col("lag"))
    val centered = paired
      .withColumn("n", count(lit(1)).over(grp))
      .withColumn("abar", sum(col("ma")).over(grp) / col("n"))
      .withColumn("bbar", sum(col("mb")).over(grp) / col("n"))
      .withColumn("ca", col("ma") - col("abar"))
      .withColumn("cb", col("mb") - col("bbar"))
    centered.groupBy(col("type_a"), col("type_b"), col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("ca") * col("cb")).as("sab"),
        sum(col("ca") * col("ca")).as("saa"),
        sum(col("cb") * col("cb")).as("sbb"))
      .select(col("type_a"), col("type_b"), col("lag"), col("n_days"),
        r6(when(col("saa") > 0.0 && col("sbb") > 0.0,
          col("sab") / sqrt(col("saa") * col("sbb")))).as("corr6"))
  }

  /** AUTOCORRELATION FUNCTION — per event type, the Pearson
    * correlation of its daily-mean series with itself at day lags
    * 1..maxLag: the periodicity detector (a weekly cycle spikes lag
    * 7) that complements sea1's FIXED dow decomposition — ACF finds
    * the period, sea1 assumes it. Exactly [[xc1LagCorrelation]]'s
    * machinery with the self-pair join (shared
    * [[dailyQuantizedMeans]] frame, so the two keys cannot drift);
    * all of cr2's integer-quantized portability applies. */
  def acf1Autocorrelation(
      spark: SparkSession, dir: String, maxLag: Int = 14): DataFrame = {
    require(maxLag >= 1 && maxLag <= 60, s"acf1: maxLag in [1, 60]: $maxLag")
    val daily = dailyQuantizedMeans(spark, dir)
    val lags = spark.range(1L, maxLag + 1L).select(col("id").as("lag"))
    val a = daily.select(col("event_type"), col("day_idx"), col("mqi").as("ma"))
    val b = daily.select(col("event_type").as("type_b"),
      col("day_idx").as("day_b"), col("mqi").as("mb"))
    val paired = a.crossJoin(broadcast(lags))
      .join(b, col("day_b") === col("day_idx") + col("lag") &&
        col("type_b") === col("event_type"))
    val grp = Window.partitionBy(col("event_type"), col("lag"))
    val centered = paired
      .withColumn("n", count(lit(1)).over(grp))
      .withColumn("abar", sum(col("ma")).over(grp) / col("n"))
      .withColumn("bbar", sum(col("mb")).over(grp) / col("n"))
      .withColumn("ca", col("ma") - col("abar"))
      .withColumn("cb", col("mb") - col("bbar"))
    centered.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("ca") * col("cb")).as("sab"),
        sum(col("ca") * col("ca")).as("saa"),
        sum(col("cb") * col("cb")).as("sbb"))
      .select(col("event_type"), col("lag"), col("n_days"),
        r6(when(col("saa") > 0.0 && col("sbb") > 0.0,
          col("sab") / sqrt(col("saa") * col("sbb")))).as("acf6"))
  }

  /** BURST DETECTION — days where an event type's volume exceeds
    * `factor`× its trailing 7-day mean (current day excluded): the
    * rate-anomaly triage (incident spikes, crawler storms, campaign
    * pops) that value-based fences (d6/rz1) cannot see because it is
    * the COUNT that bursts, not the values. The trailing window is a
    * RANGE frame over integer epoch-day indices, so calendar gaps
    * shrink the baseline correctly (a row frame would silently reach
    * across missing days). Counts are exact integers; the baseline
    * mean is one division; the burst compare runs on raw doubles
    * (identical on both engines) and only the emitted ratio is
    * r6-rounded. Days with NO trailing history are not flaggable
    * (null baseline → is_burst false, ratio null).
    *
    * Scale shape: one partial-combined (type, day) count, then one
    * range window per type over the DAY-grain frame (horizon-sized,
    * not data-sized) — the km1 bounded-frame posture. */
  def bd1BurstDetection(
      spark: SparkSession, dir: String, factor: Double = 3.0): DataFrame = {
    val daily = graft.sources.Tables.read(spark, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("day_idx"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
      .rangeBetween(-7, -1)
    daily
      .withColumn("trail_n", sum(col("n")).over(w))
      .withColumn("trail_days", count(col("n")).over(w))
      .withColumn("base",
        col("trail_n").cast("double") / col("trail_days"))
      .select(col("event_type"), col("day_idx"), col("n"),
        coalesce(col("trail_n"), lit(0L)).as("trail_n"),
        col("trail_days"),
        r6(when(col("base") > 0.0, col("n") / col("base"))).as("ratio6"),
        coalesce(col("n") > lit(factor) * col("base"), lit(false)).as("is_burst"))
  }

  /** QUANTILE NORMALIZATION (the bioinformatics/batch-effect
    * standard, Bolstad et al. 2003): force every series onto one
    * common distribution — rank each series' values, average the
    * quantized values AT each rank across series (series shorter
    * than a rank simply don't contribute — the available-series
    * convention), and replace each value by its rank's cross-series
    * reference. Ranks tie-break by event_id (the nm1/scd1 contract);
    * the reference mean is an exact integer micro-unit sum divided
    * once and re-quantized (the cr2 mqi discipline), so ref6 is
    * engine-exact.
    *
    * Scale shape: one series-keyed window (rank), one partial-
    * combined aggregate on the RANK key (cardinality = max series
    * length), one rank-keyed join back — no global sort, no
    * single partition. */
  def qn1QuantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val rows = canonicalWithId(spark, dir)
      .where(col("value").isNotNull)
      .withColumn("yu", q6(col("value")))
    val r = rows.withColumn("rank",
      row_number().over(Window.partitionBy(col("series_id"))
        .orderBy(col("value"), col("event_id"))).cast("long"))
    val ref = r.groupBy(col("rank"))
      .agg((sum(col("yu")).cast("double") / count(lit(1))).as("mu"))
      .withColumn("ref_u",
        when(col("mu") >= 0, floor(col("mu") + lit(0.5)))
          .otherwise(-floor(-col("mu") + lit(0.5))))
    r.join(ref.select(col("rank"), col("ref_u")), Seq("rank"))
      .select(col("series_id"), col("event_id"), col("rank"),
        round(col("value"), 6).as("value"),
        (col("ref_u") / lit(1e6)).as("ref6"))
  }

  /** One-sided (upper) CUSUM change detection (Page 1954): the
    * textbook recursion `s_n = max(0, s_{n−1} + (x_n − target −
    * slack))` looks inherently sequential, but the reflection
    * identity `s_n = P_n − min(0, min_{k≤n} P_k)` (P = running prefix
    * sum of the drift terms) turns it into TWO running windows over
    * ONE sort — no recursion, no per-series loop, no custom state.
    * Both engines evaluate the prefix sums in the same
    * (ts, event_id) order, so the float sequence is identical and
    * the 6-dp outputs hash-match (the s3/ew1 op-sequence argument —
    * here without even needing per-step rounding, because there is
    * no cross-engine recursion to drift). Null values are skipped
    * (the CUSUM stream is the observed points). Flags where the
    * statistic exceeds `h`. */
  def cp1Cusum(
      spark: SparkSession, dir: String,
      target: Double = 150.0, slack: Double = 10.0, h: Double = 300.0): DataFrame = {
    val w = Window.partitionBy("series_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    canonicalWithId(spark, dir)
      .where(col("value").isNotNull)
      .withColumn("p", sum(col("value") - lit(target) - lit(slack)).over(w))
      .withColumn("mn", min(col("p")).over(w))
      .select(col("series_id"), col("ts"),
        round(col("value"), 6).as("value"),
        round(col("p") - least(col("mn"), lit(0.0)), 6).as("cusum6"))
      .withColumn("alarm", col("cusum6") > h)
  }

  // canonicalCte plus event_id for the tie-break
  private val canonicalIdCte =
    "SELECT CAST(user_id AS VARCHAR) AS series_id, ts, event_id, " +
      "CASE WHEN isnan(value) THEN NULL ELSE value END AS value FROM events"

  val oracle: Map[String, String] = Map(
    // sea1: Spark weekday() == DuckDB isodow − 1 (the cal1 mapping);
    // integer micro-unit sums, quantized seasonal means, 6dp-rounded
    // sums of squares, ratio of the ROUNDED sums — rg1's discipline
    "sea1_seasonal_decompose" -> {
      s"""WITH t AS ($canonicalCte),
         |nn AS (SELECT series_id, CAST(isodow(ts) - 1 AS BIGINT) AS dow, value,
         |  ${q6Sql("value")} AS yu
         | FROM t WHERE value IS NOT NULL),
         |ser AS (SELECT series_id, COUNT(*) AS nv, SUM(yu) AS syu FROM nn GROUP BY 1),
         |se AS (SELECT *, CAST(syu AS DOUBLE) / nv AS mean_u FROM ser),
         |da AS (SELECT series_id, dow, COUNT(*) AS n, SUM(yu) AS syud
         |  FROM nn GROUP BY 1, 2),
         |ds AS (SELECT *, floor(CAST(syud AS DOUBLE) / n + 0.5) AS s_u FROM da),
         |en AS (SELECT nn.series_id,
         |  (CAST(yu AS DOUBLE) - mean_u) / 1000000.0 AS c,
         |  (CAST(yu AS DOUBLE) - s_u) / 1000000.0 AS r
         | FROM nn JOIN ds ON nn.series_id = ds.series_id AND nn.dow = ds.dow
         |   JOIN se ON nn.series_id = se.series_id),
         |st AS (SELECT series_id, ${r6Sql("SUM(c * c)")} AS sst6,
         |   ${r6Sql("SUM(r * r)")} AS ssr6
         |  FROM en GROUP BY 1)
         |SELECT ds.series_id, ds.dow, ds.n,
         |  ${r6Sql("s_u / 1000000.0")} AS seasonal6,
         |  ${r6Sql("CASE WHEN sst6 > CAST(0.0 AS DOUBLE) THEN " +
                    "greatest(CAST(0.0 AS DOUBLE), 1.0 - ssr6 / sst6) END")}
         |    AS strength6
         |FROM ds JOIN st USING (series_id)""".stripMargin
    },
    // nm1: identical quantized mean, 6dp ss, correctly-rounded sqrt,
    // one division per output — every step engine-identical
    "nm1_feature_scale" -> {
      s"""WITH t AS ($canonicalIdCte),
         |nn AS (SELECT series_id, event_id, value, ${q6Sql("value")} AS yu
         | FROM t WHERE value IS NOT NULL),
         |st AS (SELECT series_id, COUNT(*) AS n, SUM(yu) AS syu,
         |   MIN(value) AS vmin, MAX(value) AS vmax
         |  FROM nn GROUP BY 1),
         |sq AS (SELECT *, floor(CAST(syu AS DOUBLE) / n + 0.5) AS mean_u FROM st),
         |ss AS (SELECT nn.series_id,
         |   ${r6Sql("SUM(((CAST(yu AS DOUBLE) - mean_u) / 1000000.0) * " +
                     "((CAST(yu AS DOUBLE) - mean_u) / 1000000.0))")} AS ss6
         |  FROM nn JOIN sq USING (series_id) GROUP BY 1),
         |fu AS (SELECT sq.*, ss.ss6,
         |   CASE WHEN n > 1 THEN ${r6Sql("sqrt(ss6 / CAST(n - 1 AS DOUBLE))")} END
         |     AS std6
         |  FROM sq JOIN ss USING (series_id))
         |SELECT nn.series_id, nn.event_id, nn.value,
         |  ${r6Sql("CASE WHEN std6 > CAST(0.0 AS DOUBLE) THEN " +
                    "(nn.value - mean_u / 1000000.0) / std6 END")} AS z6,
         |  ${r6Sql("CASE WHEN vmax > vmin THEN " +
                    "(nn.value - vmin) / (vmax - vmin) END")} AS mm6
         |FROM nn JOIN fu USING (series_id)""".stripMargin
    },
    "r1_resample" ->
      s"""WITH t AS ($canonicalCte)
         |SELECT series_id, date_trunc('day', ts) AS bucket,
         |  count(value) AS n_present, count(*) AS n_rows,
         |  ROUND(sum(value), 6) AS sum_val,
         |  ROUND(avg(value), 6) AS avg_val,
         |  ROUND(min(value), 6) AS min_val,
         |  ROUND(max(value), 6) AS max_val
         |FROM t GROUP BY series_id, date_trunc('day', ts)""".stripMargin,
    "ff1_forward_fill" ->
      s"""WITH t AS ($canonicalIdCte)
         |SELECT series_id, ts, ROUND(value, 6) AS value,
         |  ROUND(last_value(value IGNORE NULLS) OVER (
         |    PARTITION BY series_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value_filled
         |FROM t""".stripMargin,
    "r2_interpolate" ->
      s"""WITH t AS ($canonicalIdCte),
         |w AS (SELECT series_id, ts, value, epoch_us(ts) AS us,
         |  last_value(CASE WHEN value IS NOT NULL
         |      THEN struct_pack(us := epoch_us(ts), v := value) END IGNORE NULLS)
         |    OVER (PARTITION BY series_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
         |  first_value(CASE WHEN value IS NOT NULL
         |      THEN struct_pack(us := epoch_us(ts), v := value) END IGNORE NULLS)
         |    OVER (PARTITION BY series_id ORDER BY ts, event_id
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
         | FROM t)
         |SELECT series_id, ts, ROUND(value, 6) AS value,
         |  ROUND(CASE WHEN value IS NOT NULL THEN value
         |        WHEN nxt IS NULL THEN prev.v
         |        WHEN prev IS NULL THEN NULL
         |        ELSE prev.v + (nxt.v - prev.v) * ((us - prev.us) / (nxt.us - prev.us))
         |        END, 6) AS value_interp
         |FROM w""".stripMargin,
    "rs1_rolling_stats" ->
      s"""WITH t AS ($canonicalIdCte),
         |w AS (SELECT series_id, ts, value,
         |  avg(value) OVER (PARTITION BY series_id ORDER BY ts, event_id
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS m,
         |  stddev_samp(value) OVER (PARTITION BY series_id ORDER BY ts, event_id
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS sd
         | FROM t)
         |SELECT series_id, ts, ROUND(value, 6) AS value,
         |  ROUND(m, 6) AS roll_mean, ROUND(sd, 6) AS roll_sd,
         |  ROUND(CASE WHEN sd > 1e-9 THEN (value - m) / sd END, 3) AS zscore
         |FROM w""".stripMargin,
    // rs3: list window aggregate mirrored (null-filtered, sorted, the
    // SAME explicit (a+b)/2.0 even-count pick — not median(), whose
    // quantile_cont interpolation is a different IEEE sequence)
    "rs3_rolling_median" ->
      s"""WITH t AS ($canonicalIdCte),
         |ls AS (SELECT series_id, ts, value,
         |  list_sort(list_filter(list(value) OVER (PARTITION BY series_id
         |    ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
         |    x -> x IS NOT NULL)) AS sorted
         | FROM t),
         |m AS (SELECT series_id, ts, value, len(sorted) AS n,
         |  CASE WHEN len(sorted) = 0 THEN NULL
         |       WHEN len(sorted) % 2 = 1 THEN sorted[((len(sorted) + 1) // 2)::INTEGER]
         |       ELSE (sorted[(len(sorted) // 2)::INTEGER]
         |             + sorted[(len(sorted) // 2 + 1)::INTEGER]) / 2.0 END AS med
         | FROM ls)
         |SELECT series_id, ts, ROUND(value, 6) AS value,
         |  CAST(n AS BIGINT) AS n_window, ROUND(med, 6) AS roll_med FROM m""".stripMargin,
    // rs4: nearest-rank p90 — the same integer ⌊(9n+9)/10⌋ = ⌈0.9n⌉
    // rank pick on both engines; no quantile interpolation anywhere
    "rs4_rolling_p90" ->
      s"""WITH t AS ($canonicalIdCte),
         |ls AS (SELECT series_id, ts, value,
         |  list_sort(list_filter(list(value) OVER (PARTITION BY series_id
         |    ORDER BY ts, event_id ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         |    x -> x IS NOT NULL)) AS sorted
         | FROM t)
         |SELECT series_id, ts, ROUND(value, 6) AS value,
         |  CAST(len(sorted) AS BIGINT) AS n_window,
         |  ROUND(CASE WHEN len(sorted) = 0 THEN NULL
         |    ELSE sorted[((9 * len(sorted) + 9) // 10)::INTEGER] END, 6) AS roll_p90
         |FROM ls""".stripMargin,
    // cp1: the same reflection identity — running prefix sum and
    // running min over the identical (ts, event_id) order, drift
    // terms written as the same op sequence (value − 150.0 − 10.0)
    "cp1_cusum" ->
      s"""WITH t AS ($canonicalIdCte),
         |nn AS (SELECT * FROM t WHERE value IS NOT NULL),
         |pp AS (SELECT series_id, ts, event_id, value,
         |  sum(value - CAST(150.0 AS DOUBLE) - CAST(10.0 AS DOUBLE)) OVER
         |    (PARTITION BY series_id ORDER BY ts, event_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
         | FROM nn),
         |mm AS (SELECT series_id, ts, value, p,
         |  min(p) OVER (PARTITION BY series_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
         | FROM pp)
         |SELECT series_id, ts, ROUND(value, 6) AS value,
         |  ROUND(p - LEAST(mn, CAST(0.0 AS DOUBLE)), 6) AS cusum6,
         |  ROUND(p - LEAST(mn, CAST(0.0 AS DOUBLE)), 6) > CAST(300.0 AS DOUBLE) AS alarm
         |FROM mm""".stripMargin,
    "ew1_ewma" -> ewmaSql(alpha = 0.3),
    "hw1_holt" -> holtSql(alpha = 0.5, beta = 0.3),
    // acf1: xc1's oracle with the self-pair join and lag 1..14
    "acf1_autocorrelation" ->
      s"""WITH e AS (SELECT event_type,
         |   CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_idx,
         |   CASE WHEN isnan(value) THEN NULL ELSE value END AS value
         |  FROM events),
         |q AS (SELECT event_type, day_idx,
         |   CASE WHEN value >= 0 THEN floor(value * 1000000.0 + 0.5)
         |        ELSE -floor(-(value) * 1000000.0 + 0.5) END AS yu
         |  FROM e WHERE value IS NOT NULL),
         |d AS (SELECT event_type, day_idx,
         |   CAST(SUM(yu) AS DOUBLE) / COUNT(*) AS mu FROM q GROUP BY 1, 2),
         |dq AS (SELECT event_type, day_idx,
         |   CAST(CASE WHEN mu >= 0 THEN floor(mu + 0.5)
         |        ELSE -floor(-(mu) + 0.5) END AS DOUBLE) AS mqi FROM d),
         |l AS (SELECT CAST(unnest(generate_series(1, 14)) AS BIGINT) AS lag),
         |p AS (SELECT a.event_type, l.lag, a.mqi AS ma, b.mqi AS mb
         |  FROM dq a CROSS JOIN l JOIN dq b
         |    ON b.day_idx = a.day_idx + l.lag AND b.event_type = a.event_type),
         |c AS (SELECT *, COUNT(*) OVER w AS n,
         |   SUM(ma) OVER w / (COUNT(*) OVER w) AS abar,
         |   SUM(mb) OVER w / (COUNT(*) OVER w) AS bbar
         |  FROM p WINDOW w AS (PARTITION BY event_type, lag)),
         |g AS (SELECT event_type, lag, COUNT(*) AS n_days,
         |   SUM((ma - abar) * (mb - bbar)) AS sab,
         |   SUM((ma - abar) * (ma - abar)) AS saa,
         |   SUM((mb - bbar) * (mb - bbar)) AS sbb
         |  FROM c GROUP BY 1, 2)
         |SELECT event_type, lag, n_days,
         |  ${r6Sql("CASE WHEN saa > CAST(0.0 AS DOUBLE) AND sbb > CAST(0.0 AS DOUBLE) " +
              "THEN sab / sqrt(saa * sbb) END")} AS acf6
         |FROM g""".stripMargin,
    // bd1: integer day counts, RANGE trailing frame, one baseline
    // division; windowed SUM cast BIGINT (§8 rule), raw-double burst
    // compare
    "bd1_burst_detection" ->
      s"""WITH d AS (SELECT event_type,
         |   CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_idx,
         |   COUNT(*) AS n
         |  FROM events GROUP BY 1, 2),
         |t AS (SELECT *,
         |   SUM(n) OVER w AS trail_n,
         |   COUNT(n) OVER w AS trail_days,
         |   CAST(SUM(n) OVER w AS DOUBLE) / (COUNT(n) OVER w) AS base
         |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
         |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
         |SELECT event_type, day_idx, n,
         |  CAST(COALESCE(trail_n, 0) AS BIGINT) AS trail_n,
         |  trail_days,
         |  ${r6Sql("CASE WHEN base > CAST(0.0 AS DOUBLE) THEN n / base END")}
         |    AS ratio6,
         |  COALESCE(n > 3.0 * base, FALSE) AS is_burst
         |FROM t""".stripMargin,
    // qn1: identical (value, event_id) rank order, integer micro-unit
    // rank means re-quantized (the cr2 mqi discipline)
    "qn1_quantile_normalize" ->
      s"""WITH t AS ($canonicalIdCte),
         |nn AS (SELECT series_id, event_id, value, ${q6Sql("value")} AS yu
         |  FROM t WHERE value IS NOT NULL),
         |r AS (SELECT *, row_number() OVER (PARTITION BY series_id
         |    ORDER BY value, event_id) AS rank FROM nn),
         |ref AS (SELECT rank, CAST(SUM(yu) AS DOUBLE) / COUNT(*) AS mu
         |  FROM r GROUP BY 1),
         |rq AS (SELECT rank, CASE WHEN mu >= 0 THEN floor(mu + 0.5)
         |    ELSE -floor(-(mu) + 0.5) END AS ref_u FROM ref)
         |SELECT series_id, event_id, CAST(r.rank AS BIGINT) AS rank,
         |  ROUND(value, 6) AS value, ref_u / 1000000.0 AS ref6
         |FROM r JOIN rq USING (rank)""".stripMargin,
    // pb1: quantile_cont == Spark percentile interpolation (a2), ch1
    // integer days
    "pb1_percentile_bands" ->
      """WITH e AS (SELECT event_type,
        |  CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_idx,
        |  CASE WHEN isnan(value) THEN NULL ELSE value END AS v FROM events)
        |SELECT event_type, day_idx, COUNT(*) AS n,
        |  ROUND(quantile_cont(v, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(v, 0.9), 4) AS p90,
        |  ROUND(quantile_cont(v, 0.99), 4) AS p99
        |FROM e WHERE v IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // hist1: identical bin arithmetic ((v-min)/((max-min)/20), floored,
    // capped) — same doubles, same bins on both engines
    "hist1_value_histogram" -> {
      val w = "((vmax - vmin) / 20.0)"
      s"""WITH e AS (SELECT CASE WHEN isnan(value) THEN NULL ELSE value END AS v
         |  FROM events),
         |nn AS (SELECT v FROM e WHERE v IS NOT NULL),
         |mm AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM nn),
         |b AS (SELECT CAST(CASE WHEN $w > 0.0
         |    THEN LEAST(floor((v - vmin) / $w), 19.0)
         |    ELSE 0.0 END AS BIGINT) AS bin, vmin, vmax
         |  FROM nn CROSS JOIN mm)
         |SELECT bin, COUNT(*) AS n,
         |  ${r6Sql(s"MIN(vmin + bin * $w)")} AS bin_lo6,
         |  ${r6Sql(s"MIN(vmin + (bin + 1) * $w)")} AS bin_hi6
         |FROM b GROUP BY bin""".stripMargin
    },
    // xc1: cr2's oracle with the lag join key; integer days, quantized
    // means, identical centered-sum ops
    "xc1_lag_correlation" ->
      s"""WITH e AS (SELECT event_type,
         |   CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_idx,
         |   CASE WHEN isnan(value) THEN NULL ELSE value END AS value
         |  FROM events),
         |q AS (SELECT event_type, day_idx,
         |   CASE WHEN value >= 0 THEN floor(value * 1000000.0 + 0.5)
         |        ELSE -floor(-(value) * 1000000.0 + 0.5) END AS yu
         |  FROM e WHERE value IS NOT NULL),
         |d AS (SELECT event_type, day_idx,
         |   CAST(SUM(yu) AS DOUBLE) / COUNT(*) AS mu FROM q GROUP BY 1, 2),
         |dq AS (SELECT event_type, day_idx,
         |   CAST(CASE WHEN mu >= 0 THEN floor(mu + 0.5)
         |        ELSE -floor(-(mu) + 0.5) END AS DOUBLE) AS mqi FROM d),
         |l AS (SELECT CAST(unnest(generate_series(0, 7)) AS BIGINT) AS lag),
         |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
         |   a.mqi AS ma, b.mqi AS mb
         |  FROM dq a CROSS JOIN l JOIN dq b
         |    ON b.day_idx = a.day_idx + l.lag AND a.event_type < b.event_type),
         |c AS (SELECT *, COUNT(*) OVER w AS n,
         |   SUM(ma) OVER w / (COUNT(*) OVER w) AS abar,
         |   SUM(mb) OVER w / (COUNT(*) OVER w) AS bbar
         |  FROM p WINDOW w AS (PARTITION BY type_a, type_b, lag)),
         |g AS (SELECT type_a, type_b, lag, COUNT(*) AS n_days,
         |   SUM((ma - abar) * (mb - bbar)) AS sab,
         |   SUM((ma - abar) * (ma - abar)) AS saa,
         |   SUM((mb - bbar) * (mb - bbar)) AS sbb
         |  FROM c GROUP BY 1, 2, 3)
         |SELECT type_a, type_b, lag, n_days,
         |  ${r6Sql("CASE WHEN saa > CAST(0.0 AS DOUBLE) AND sbb > CAST(0.0 AS DOUBLE) " +
              "THEN sab / sqrt(saa * sbb) END")} AS corr6
         |FROM g""".stripMargin,
    // r3: identical struct-ordering argmin/argmax (us, event_id never
    // null → comparison decided before the value field)
    "r3_ohlc" ->
      s"""WITH t AS ($canonicalIdCte),
         |nn AS (SELECT * FROM t WHERE value IS NOT NULL)
         |SELECT series_id, date_trunc('day', ts) AS day, COUNT(*) AS n,
         |  (min(struct_pack(us := epoch_us(ts), eid := event_id, v := value))).v
         |    AS open,
         |  max(value) AS high, min(value) AS low,
         |  (max(struct_pack(us := epoch_us(ts), eid := event_id, v := value))).v
         |    AS close
         |FROM nn GROUP BY series_id, date_trunc('day', ts)""".stripMargin,
    // r4: raw lag/subtract; the one division through the explicit
    // rounding formula, zero-previous → null
    "r4_shift_diff" -> {
      s"""WITH t AS ($canonicalIdCte),
         |w AS (SELECT series_id, ts, value,
         |  lag(value) OVER (PARTITION BY series_id ORDER BY ts, event_id)
         |    AS prev_value
         | FROM t)
         |SELECT series_id, ts, value, prev_value,
         |  value - prev_value AS diff,
         |  ${r6Sql("CASE WHEN prev_value <> CAST(0.0 AS DOUBLE) " +
                "THEN (value - prev_value) / prev_value END")} AS pct_change6
         |FROM w""".stripMargin
    },
    // r5: running aggregates over the identical ordered frame; the
    // running SUM rounds (DuckDB's segment-tree window accumulation
    // order differs from Spark's sequential add in the last ulp),
    // max/min/count are order-insensitive
    "r5_cumulative" -> {
      s"""WITH t AS ($canonicalIdCte)
         |SELECT series_id, ts, value,
         |  ${r6Sql("sum(value) OVER w")} AS cum_sum6,
         |  max(value) OVER w AS cum_max,
         |  min(value) OVER w AS cum_min,
         |  count(value) OVER w AS cum_n
         |FROM t
         |WINDOW w AS (PARTITION BY series_id ORDER BY ts, event_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
    },
    // rs5: all five frame aggregates are exact BIGINT sums (immune to
    // the window-evaluation order), then one fixed double sequence
    "rs5_rolling_corr" -> {
      s"""WITH t AS ($canonicalIdCte),
         |lg AS (SELECT series_id, ts, event_id, value,
         |  lag(value) OVER (PARTITION BY series_id ORDER BY ts, event_id) AS prev
         | FROM t),
         |p AS (SELECT series_id, ts, event_id, value,
         |  ${q6Sql("value")} AS yu, ${q6Sql("prev")} AS pu
         | FROM lg WHERE value IS NOT NULL AND prev IS NOT NULL),
         |s AS (SELECT series_id, ts, value,
         |  COUNT(*) OVER w AS n,
         |  CAST(SUM(yu) OVER w AS BIGINT) AS sy,
         |  CAST(SUM(pu) OVER w AS BIGINT) AS sp,
         |  CAST(SUM(yu * yu) OVER w AS BIGINT) AS syy,
         |  CAST(SUM(pu * pu) OVER w AS BIGINT) AS spp,
         |  CAST(SUM(yu * pu) OVER w AS BIGINT) AS syp
         | FROM p WINDOW w AS (PARTITION BY series_id ORDER BY ts, event_id
         |   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         |f AS (SELECT series_id, ts, value, n,
         |  CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary,
         |  CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
         |    - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) AS varp,
         |  CAST(n AS DOUBLE) * CAST(syp AS DOUBLE)
         |    - CAST(sy AS DOUBLE) * CAST(sp AS DOUBLE) AS cov
         | FROM s)
         |SELECT series_id, ts, ROUND(value, 6) AS value,
         |  CAST(n AS BIGINT) AS n_window,
         |  ${r6Sql("CASE WHEN n >= 2 AND vary > CAST(0.0 AS DOUBLE) " +
               "AND varp > CAST(0.0 AS DOUBLE) " +
               "THEN cov / sqrt(vary * varp) END")} AS roll_autocorr6
         |FROM f""".stripMargin
    },
    // cr2: the rg1 machinery at two levels — exact-integer daily
    // means quantized back to integers, exact second-level sums, the
    // one sqrt is the m2 libm exposure, corr rounds via the explicit
    // formula
    "cr2_type_correlation" -> {
      s"""WITH e AS (SELECT event_type, ts,
         |  CASE WHEN isnan(value) THEN NULL ELSE value END AS value FROM events),
         |q AS (SELECT event_type, date_trunc('day', ts) AS day,
         |  CASE WHEN value >= 0 THEN floor(value * 1000000.0 + 0.5)
         |       ELSE -floor(-(value) * 1000000.0 + 0.5) END AS yu
         | FROM e WHERE value IS NOT NULL),
         |d AS (SELECT event_type, day,
         |  CAST(SUM(yu) AS DOUBLE) / COUNT(*) AS mu
         | FROM q GROUP BY event_type, day),
         |dq AS (SELECT event_type, day,
         |  CAST(CASE WHEN mu >= 0 THEN floor(mu + 0.5)
         |       ELSE -floor(-(mu) + 0.5) END AS DOUBLE) AS mqi FROM d),
         |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |  a.day, a.mqi AS ma, b.mqi AS mb
         | FROM dq a JOIN dq b ON a.day = b.day AND a.event_type < b.event_type),
         |c AS (SELECT *, COUNT(*) OVER w AS n,
         |  SUM(ma) OVER w / (COUNT(*) OVER w) AS abar,
         |  SUM(mb) OVER w / (COUNT(*) OVER w) AS bbar
         | FROM p WINDOW w AS (PARTITION BY type_a, type_b)),
         |g AS (SELECT type_a, type_b, COUNT(*) AS n_days,
         |  SUM((ma - abar) * (mb - bbar)) AS sab,
         |  SUM((ma - abar) * (ma - abar)) AS saa,
         |  SUM((mb - bbar) * (mb - bbar)) AS sbb
         | FROM c GROUP BY type_a, type_b)
         |SELECT type_a, type_b, n_days,
         |  ${r6Sql("CASE WHEN saa > CAST(0.0 AS DOUBLE) AND sbb > CAST(0.0 AS DOUBLE) " +
                "THEN sab / sqrt(saa * sbb) END")} AS corr6
         |FROM g""".stripMargin
    },
    // rg1: identical centered-OLS op sequence — means and centered
    // sums pass through the explicit floor(|u|·1e6+0.5)/1e6 formula
    // (the s3 pattern), because round() half-behavior differs across
    // engines exactly when a 2^k-point mean lands on the boundary
    // exp1: conditional integer sums, quantized means, 6dp sums of
    // squares, one fixed op sequence for t — the nm1 discipline
    "exp1_ab_test" -> {
      def csq(mu: String) =
        s"((CAST(yu AS DOUBLE) - $mu) / 1000000.0) * ((CAST(yu AS DOUBLE) - $mu) / 1000000.0)"
      s"""WITH e AS (SELECT event_type, user_id % 2 = 0 AS va,
         |  CASE WHEN isnan(value) THEN NULL ELSE value END AS value FROM events),
         |nn AS (SELECT event_type, va, ${q6Sql("value")} AS yu
         | FROM e WHERE value IS NOT NULL),
         |st AS (SELECT event_type,
         |  CAST(SUM(CASE WHEN va THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |  CAST(SUM(CASE WHEN va THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         |  SUM(CASE WHEN va THEN yu ELSE 0 END) AS sa,
         |  SUM(CASE WHEN va THEN 0 ELSE yu END) AS sb
         | FROM nn GROUP BY 1),
         |sq AS (SELECT *,
         |   CASE WHEN n_a > 0 THEN floor(CAST(sa AS DOUBLE) / n_a + 0.5) END AS ma_u,
         |   CASE WHEN n_b > 0 THEN floor(CAST(sb AS DOUBLE) / n_b + 0.5) END AS mb_u
         | FROM st),
         |ss AS (SELECT nn.event_type,
         |  ${r6Sql("SUM(CASE WHEN va THEN " + csq("ma_u") + " ELSE 0 END)")} AS ssa6,
         |  ${r6Sql("SUM(CASE WHEN NOT va THEN " + csq("mb_u") + " ELSE 0 END)")} AS ssb6
         | FROM nn JOIN sq USING (event_type) GROUP BY 1)
         |SELECT sq.event_type, n_a, n_b,
         |  ${r6Sql("ma_u / 1000000.0")} AS mean_a6,
         |  ${r6Sql("mb_u / 1000000.0")} AS mean_b6,
         |  ${r6Sql("CASE WHEN n_a > 1 AND n_b > 1 AND (ssa6 > 0 OR ssb6 > 0) THEN " +
                    "(ma_u / 1000000.0 - mb_u / 1000000.0) " +
                    "/ sqrt(ssa6 / (n_a - 1) / n_a + ssb6 / (n_b - 1) / n_b) END")}
         |    AS welch_t6
         |FROM sq JOIN ss USING (event_type)""".stripMargin
    },
    // sea2: sea1's residual chain feeding rz1's rank-pick body — the
    // residual is identical doubles on both engines, so every median
    // pick and the 3·MAD fence compare exactly
    "sea2_seasonal_outliers" ->
      s"""WITH t0 AS ($canonicalIdCte),
         |nn0 AS (SELECT series_id, ts, event_id,
         |   CAST(isodow(ts) - 1 AS BIGINT) AS dow, ${q6Sql("value")} AS yu
         |  FROM t0 WHERE value IS NOT NULL),
         |da AS (SELECT series_id, dow, COUNT(*) AS nd, SUM(yu) AS syud
         |  FROM nn0 GROUP BY 1, 2),
         |ds AS (SELECT *, floor(CAST(syud AS DOUBLE) / nd + 0.5) AS s_u FROM da),
         |nn AS (SELECT nn0.series_id, ts, event_id,
         |   (CAST(yu AS DOUBLE) - s_u) / 1000000.0 AS value
         |  FROM nn0 JOIN ds USING (series_id, dow)),
         |r AS (SELECT *,
         |  row_number() OVER (PARTITION BY series_id ORDER BY value, event_id) AS rv,
         |  count(*) OVER (PARTITION BY series_id) AS n FROM nn),
         |m AS (SELECT *,
         |  (min(CASE WHEN rv = (n + 1) // 2 THEN value END)
         |     OVER (PARTITION BY series_id)
         |   + min(CASE WHEN rv = (n + 2) // 2 THEN value END)
         |     OVER (PARTITION BY series_id)) / CAST(2.0 AS DOUBLE) AS med
         | FROM r),
         |d AS (SELECT *, abs(value - med) AS dev FROM m),
         |r2 AS (SELECT *,
         |  row_number() OVER (PARTITION BY series_id ORDER BY dev, event_id) AS rd
         | FROM d),
         |m2 AS (SELECT *,
         |  (min(CASE WHEN rd = (n + 1) // 2 THEN dev END)
         |     OVER (PARTITION BY series_id)
         |   + min(CASE WHEN rd = (n + 2) // 2 THEN dev END)
         |     OVER (PARTITION BY series_id)) / CAST(2.0 AS DOUBLE) AS mad
         | FROM r2)
         |SELECT series_id, CAST(min(n) AS BIGINT) AS n_values,
         |  ${r6Sql("min(med)")} AS med6, ${r6Sql("min(mad)")} AS mad6,
         |  CAST(SUM(CASE WHEN dev > CAST(3.0 AS DOUBLE) * mad THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_outliers,
         |  ${r6Sql("max(dev)")} AS max_dev6
         |FROM m2 GROUP BY series_id""".stripMargin,
    "rg1_trend_slope" -> {
      s"""WITH t AS ($canonicalIdCte),
         |nn AS (SELECT series_id, value,
         |  floor(epoch_us(ts) / CAST(86400.0 AS DOUBLE)) AS xu,
         |  CASE WHEN value >= 0 THEN floor(value * 1000000.0 + 0.5)
         |       ELSE -floor(-(value) * 1000000.0 + 0.5) END AS yu
         | FROM t WHERE value IS NOT NULL),
         |c AS (SELECT *,
         |  COUNT(*) OVER w AS n,
         |  CAST(SUM(xu) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS xbar_u,
         |  CAST(SUM(yu) OVER w AS DOUBLE) / (COUNT(*) OVER w) / 1000000.0 AS ybar
         | FROM nn WINDOW w AS (PARTITION BY series_id)),
         |d AS (SELECT series_id, ybar,
         |  (CAST(xu AS DOUBLE) - xbar_u) / 1000000.0 AS cx,
         |  value - ybar AS cy
         | FROM c),
         |g AS (SELECT series_id, COUNT(*) AS n_values,
         |  ${r6Sql("MIN(ybar)")} AS mean6,
         |  ${r6Sql("SUM(cx * cy)")} AS sxy6,
         |  ${r6Sql("SUM(cx * cx)")} AS sxx6
         | FROM d GROUP BY series_id)
         |SELECT series_id, n_values, mean6,
         |  ${r6Sql("CASE WHEN sxx6 > CAST(0.0 AS DOUBLE) THEN sxy6 / sxx6 END")}
         |    AS slope_per_day6
         |FROM g""".stripMargin
    },
    // rz1: identical rank picks over identical (value|dev, event_id)
    // orders; every double op ((a+b)/2, abs-sub, 3·mad compare) is the
    // same IEEE sequence on both engines — no tolerance anywhere
    "rz1_mad_outliers" ->
      s"""WITH t AS ($canonicalIdCte),
         |nn AS (SELECT * FROM t WHERE value IS NOT NULL),
         |r AS (SELECT *,
         |  row_number() OVER (PARTITION BY series_id ORDER BY value, event_id) AS rv,
         |  count(*) OVER (PARTITION BY series_id) AS n FROM nn),
         |m AS (SELECT *,
         |  (min(CASE WHEN rv = (n + 1) // 2 THEN value END)
         |     OVER (PARTITION BY series_id)
         |   + min(CASE WHEN rv = (n + 2) // 2 THEN value END)
         |     OVER (PARTITION BY series_id)) / CAST(2.0 AS DOUBLE) AS med
         | FROM r),
         |d AS (SELECT *, abs(value - med) AS dev FROM m),
         |r2 AS (SELECT *,
         |  row_number() OVER (PARTITION BY series_id ORDER BY dev, event_id) AS rd
         | FROM d),
         |m2 AS (SELECT *,
         |  (min(CASE WHEN rd = (n + 1) // 2 THEN dev END)
         |     OVER (PARTITION BY series_id)
         |   + min(CASE WHEN rd = (n + 2) // 2 THEN dev END)
         |     OVER (PARTITION BY series_id)) / CAST(2.0 AS DOUBLE) AS mad
         | FROM r2)
         |SELECT series_id, CAST(min(n) AS BIGINT) AS n_values,
         |  ${r6Sql("min(med)")} AS med6, ${r6Sql("min(mad)")} AS mad6,
         |  CAST(SUM(CASE WHEN dev > CAST(3.0 AS DOUBLE) * mad THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_outliers,
         |  ${r6Sql("max(dev)")} AS max_dev6
         |FROM m2 GROUP BY series_id""".stripMargin
  )

  /** ew1 oracle: the pandas `ewm(alpha, adjust=True).mean()` recurrence
    * as a per-series DuckDB recursive CTE — the same advance-every-
    * series-one-row-per-iteration pattern as the d1 storm fold oracle
    * ([[graft.SparkEntry]]). Both engines run the identical IEEE-double
    * sequence `num = num·decay + x; den = den·decay + 1` (nulls age
    * both sums, pandas ignore_na=False), so the round-6 outputs
    * hash-match bit-for-bit. Two traps pinned here: (1) the decay
    * constant is computed in SCALA (`1.0 - alpha`) and embedded as a
    * double literal — DuckDB would otherwise evaluate `1.0 - 0.3` in
    * DECIMAL arithmetic; (2) the anchor's num/den are CAST to DOUBLE,
    * because bare `1.0`/`0.0` literals would type the recursion as
    * DECIMAL(2,1) and silently truncate every product to one decimal
    * digit (observed: den 2.19 → 2.1). */
  private def ewmaSql(alpha: Double): String = {
    val decay = (1.0 - alpha).toString
    s"""WITH RECURSIVE
       |t AS ($canonicalCte),
       |p AS (SELECT series_id, ts, value,
       |   row_number() OVER (PARTITION BY series_id ORDER BY ts) AS rn FROM t),
       |f AS (
       |  SELECT series_id, ts, value, rn,
       |    CAST(COALESCE(value, 0.0) AS DOUBLE) AS num,
       |    CAST(CASE WHEN value IS NOT NULL THEN 1.0 ELSE 0.0 END AS DOUBLE) AS den
       |  FROM p WHERE rn = 1
       |  UNION ALL
       |  SELECT n.series_id, n.ts, n.value, n.rn,
       |    CASE WHEN n.value IS NOT NULL THEN f.num * CAST($decay AS DOUBLE) + n.value
       |         ELSE f.num * CAST($decay AS DOUBLE) END,
       |    CASE WHEN n.value IS NOT NULL THEN f.den * CAST($decay AS DOUBLE) + CAST(1.0 AS DOUBLE)
       |         ELSE f.den * CAST($decay AS DOUBLE) END
       |  FROM f JOIN p n ON n.series_id = f.series_id AND n.rn = f.rn + 1)
       |SELECT series_id, ts, ROUND(value, 6) AS value,
       |  ROUND(CASE WHEN den > 0.0 THEN num / den END, 6) AS ewma
       |FROM f""".stripMargin
  }

  /** pandas `ewm(alpha).mean()` — sequential per-series recurrence
    * (see [[graft.operators.Ewma]]). Oracle: recursive CTE
    * ([[ewmaSql]]); value semantics additionally pinned by EwmaSpec
    * against hand-computed pandas goldens. */
  def ew1Ewma(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Ewma.ewmaMean(
      graft.SparkEntry.canonicalEvents(spark, dir), alpha = 0.3)
      .select(col("series_id"), col("ts"),
        round(col("value"), 6).as("value"), round(col("ewma"), 6).as("ewma"))

  /** Holt double exponential smoothing per series (see
    * [[graft.operators.Ewma.holtLinear]]); oracle = [[holtSql]]
    * running the identical IEEE recurrence. */
  def hw1Holt(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Ewma.holtLinear(
      graft.SparkEntry.canonicalEvents(spark, dir), alpha = 0.5, beta = 0.3)
      .select(col("series_id"), col("ts"),
        round(col("value"), 6).as("value"),
        // r6, not round(): one gate row landed exactly on a .5e-6
        // boundary, where ROUND's half-rule is engine-specific
        r6(col("level")).as("level6"),
        r6(col("trend")).as("trend6"))

  /** hw1 oracle: Holt's level/trend recurrence as a per-series DuckDB
    * recursive CTE — the ewmaSql pattern with TWO state columns. The
    * new level's expression is textually duplicated inside the trend
    * update (a recursive SELECT cannot reference its own output
    * column); identical expression → identical IEEE value, so the
    * duplication is semantically free. All decay constants are
    * Scala-computed doubles embedded via toString (the ewmaSql
    * DECIMAL-recursion trap), and the anchor CASTs its state to
    * DOUBLE for the same reason. */
  private def holtSql(alpha: Double, beta: Double): String = {
    val a = alpha.toString
    val oma = (1.0 - alpha).toString
    val b = beta.toString
    val omb = (1.0 - beta).toString
    val nl = s"""CAST($a AS DOUBLE) * n.value
       | + CAST($oma AS DOUBLE) * (f.lvl + f.tr)""".stripMargin
    s"""WITH RECURSIVE
       |t AS ($canonicalCte),
       |p AS (SELECT series_id, ts, value,
       |   row_number() OVER (PARTITION BY series_id ORDER BY ts) AS rn FROM t),
       |f AS (
       |  SELECT series_id, ts, value, rn,
       |    value IS NOT NULL AS seeded,
       |    CAST(COALESCE(value, 0.0) AS DOUBLE) AS lvl,
       |    CAST(0.0 AS DOUBLE) AS tr
       |  FROM p WHERE rn = 1
       |  UNION ALL
       |  SELECT n.series_id, n.ts, n.value, n.rn,
       |    f.seeded OR n.value IS NOT NULL,
       |    CASE WHEN n.value IS NULL THEN f.lvl
       |         WHEN NOT f.seeded THEN CAST(n.value AS DOUBLE)
       |         ELSE $nl END,
       |    CASE WHEN n.value IS NULL THEN f.tr
       |         WHEN NOT f.seeded THEN CAST(0.0 AS DOUBLE)
       |         ELSE CAST($b AS DOUBLE) * (($nl) - f.lvl)
       |            + CAST($omb AS DOUBLE) * f.tr END
       |  FROM f JOIN p n ON n.series_id = f.series_id AND n.rn = f.rn + 1)
       |SELECT series_id, ts, ROUND(value, 6) AS value,
       |  ${r6Sql("CASE WHEN seeded THEN lvl END")} AS level6,
       |  ${r6Sql("CASE WHEN seeded THEN tr END")} AS trend6
       |FROM f""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ew1_ewma" -> (ew1Ewma _),
    "hw1_holt" -> (hw1Holt _),
    "pb1_percentile_bands" -> (pb1PercentileBands _),
    "hist1_value_histogram" -> (hist1ValueHistogram _),
    "xc1_lag_correlation" -> ((s: SparkSession, dir: String) =>
      xc1LagCorrelation(s, dir)),
    "qn1_quantile_normalize" -> (qn1QuantileNormalize _),
    "bd1_burst_detection" -> ((s: SparkSession, dir: String) =>
      bd1BurstDetection(s, dir)),
    "acf1_autocorrelation" -> ((s: SparkSession, dir: String) =>
      acf1Autocorrelation(s, dir)),
    "r1_resample" -> (r1Resample _),
    "r3_ohlc" -> (r3Ohlc _),
    "r4_shift_diff" -> (r4ShiftDiff _),
    "r5_cumulative" -> (r5Cumulative _),
    "ff1_forward_fill" -> (ff1ForwardFill _),
    "r2_interpolate" -> (r2Interpolate _),
    "rs1_rolling_stats" -> (rs1RollingStats _),
    "rs3_rolling_median" -> (rs3RollingMedian _),
    "rs4_rolling_p90" -> (rs4RollingP90 _),
    "rz1_mad_outliers" -> (rz1MadOutliers _),
    "rg1_trend_slope" -> (rg1TrendSlope _),
    "cr2_type_correlation" -> (cr2TypeCorrelation _),
    "rs5_rolling_corr" -> (rs5RollingCorr _),
    "cp1_cusum" -> ((s: SparkSession, dir: String) => cp1Cusum(s, dir)),
    "sea1_seasonal_decompose" -> (sea1SeasonalDecompose _),
    "sea2_seasonal_outliers" -> (sea2SeasonalOutliers _),
    "nm1_feature_scale" -> (nm1FeatureScale _),
    "exp1_ab_test" -> (exp1AbTest _)
  )
}
