package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 run over
  * the driver testdata; [[oracleSql]] carries a DuckDB-equivalent SQL
  * replica of the same semantics for the correctness gate. Query keys
  * reference the §2 operator IDs (D4-D7, U1, ...).
  */
object SparkEntry {

  /** events(event_id, ts, user_id, event_type, value, props) → canonical
    * TimeSeriesFrame: one series per user (SURVEY.md §1.3 — scale = many
    * series, parallel across series_id). NaN→null at ingest (SURVEY.md
    * §7.4.1): pandas treats NaN as missing in every comparison, while
    * Spark and DuckDB both order NaN above all numerics — normalizing
    * once here keeps every downstream mask pandas-faithful on both the
    * Spark and the oracle side. */
  def canonicalEvents(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.read(spark, sfDir, "events")
      .select(
        col("user_id").cast("string").as("series_id"),
        col("ts"),
        graft.operators.Kernels.nanToNull(col("value")).as("value"))

  /** Totals are double sums whose addition order differs between Spark
    * partial aggregation and DuckDB's sequential scan; round so ulp
    * noise cannot break the driver's hash compare. */
  private def roundTotal(df: DataFrame): DataFrame =
    df.withColumn("total", round(col("total"), 6))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ExtremeValueEvents(expectedMax = 300.0, expectedMin = 0.05)
      .detect(canonicalEvents(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = detectorQueries ++
    graft.queries.Relational.queries ++
    graft.queries.TextAnalysis.queries ++
    graft.queries.PipelineQueries.queries ++
    graft.queries.TemporalQueries.queries ++
    graft.queries.TimeSeriesQueries.queries ++
    graft.queries.CorpusQueries.queries

  private def detectorQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d6_extreme_value" -> ((s, dir) =>
      roundTotal(ExtremeValueEvents(expectedMax = 300.0, expectedMin = 0.05)
        .detect(canonicalEvents(s, dir)))),
    "d5_flat_line" -> ((s, dir) =>
      roundTotal(FlatLineEvents(minLen = 2L, slopeThresh = 5.0)
        .detect(canonicalEvents(s, dir)))),
    "d7_extreme_change" -> ((s, dir) =>
      roundTotal(ExtremeChangeEvents(minLen = 1L,
        positiveSlopeThresh = Some(200.0), negativeSlopeThresh = Some(-200.0))
        .detect(canonicalEvents(s, dir)))),
    "d4_data_gap" -> ((s, dir) =>
      roundTotal(DataGapEvents(minLen = 2L, expectedFrequency = "6H")
        .detect(canonicalEvents(s, dir)))),
    "u1_infer_step" -> ((s, dir) =>
      Kernels.inferStep(canonicalEvents(s, dir))),
    "d3_spike_valley" -> ((s, dir) =>
      roundTotal(SpikeValleyEvents(prominence = Some(150.0))
        .detect(canonicalEvents(s, dir)))),
    "d1_storm" -> ((s, dir) =>
      roundTotal(StormEvents(instantMassToStart = 50.0, minStormTotal = 500.0,
        hoursToStop = 12, maxStormHours = 48, frequency = Some("1H"))
        .detect(canonicalEvents(s, dir))))
  )

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL. Shared shape: canonical frame `t`, lag-diff `d`,
  // null-safe mask `m`, gaps-and-islands run id `r` (SURVEY.md §2.1),
  // then the event assembly aggregation.
  // ---------------------------------------------------------------------

  // NaN→null mirrors canonicalEvents' ingest normalization: DuckDB
  // shares Spark's NaN-orders-above-all semantics, so masks must see
  // null (→ COALESCE false), matching pandas' NaN-compare-is-False.
  // The one canonical-frame CTE of every layer oracle.
  private[graft] val canonicalCte =
    "SELECT CAST(user_id AS VARCHAR) AS series_id, ts, " +
      "CASE WHEN isnan(value) THEN NULL ELSE value END AS value FROM events"

  private def runIdSql(maskSql: String, withDiff: Boolean): String = {
    val diffCte =
      if (withDiff)
        s""", d AS (SELECT series_id, ts, value,
           |  value - lag(value) OVER (PARTITION BY series_id ORDER BY ts) AS diff
           |  FROM t)""".stripMargin
      else ", d AS (SELECT series_id, ts, value FROM t)"
    s"""WITH t AS ($canonicalCte)$diffCte,
       | m AS (SELECT *, COALESCE($maskSql, FALSE) AS cond FROM d),
       | r AS (SELECT *, SUM(CASE WHEN cond THEN 0 ELSE 1 END)
       |   OVER (PARTITION BY series_id ORDER BY ts
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
       |   FROM m)""".stripMargin
  }

  private def assembleSql(eventType: String, havingPoints: Long = 1L): String = {
    val having = if (havingPoints > 1L) s" HAVING COUNT(*) >= $havingPoints" else ""
    s""" SELECT series_id, '$eventType' AS event_type,
       |  MIN(ts) AS "start", MAX(ts) AS "stop",
       |  epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
       |  COUNT(*) AS n_points,
       |  ROUND(SUM(CASE WHEN isnan(value) THEN NULL ELSE value END), 6) AS total
       | FROM r WHERE cond GROUP BY series_id, run_id$having""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = detectorOracle ++
    graft.queries.Relational.oracle ++
    graft.queries.TextAnalysis.oracle ++
    graft.queries.PipelineQueries.oracle ++
    graft.queries.TemporalQueries.oracle ++
    graft.queries.TimeSeriesQueries.oracle ++
    graft.queries.CorpusQueries.oracle

  /** Detector-only oracles (no cross-module references — temporal
    * twins compose d6 from here without a cycle). */
  private[graft] def detectorOracle: Map[String, String] = Map(
    "d6_extreme_value" ->
      (runIdSql("value > 300.0 OR value < 0.05", withDiff = false) +
        assembleSql("extreme_value")),
    "d5_flat_line" ->
      (runIdSql("abs(diff) <= 5.0", withDiff = true) +
        assembleSql("flat_line", havingPoints = 2L)),
    // an `inf - inf` diff is NaN, which DuckDB, like Spark, orders above
    // every number, so this mask flags it; the engine's fold does not
    // (pandas NaN-compare is False). No sf input holds an infinity.
    "d7_extreme_change" ->
      (runIdSql("diff >= 200.0 OR diff <= -200.0", withDiff = true) +
        assembleSql("extreme_change")),
    "d3_spike_valley" -> spikeValleySql(prominence = 150.0,
      widthMin = 0.0, widthMax = 3.0, relHeight = 0.5),
    "d4_data_gap" -> dataGapSql(minLen = 2L, stepUs = 6L * 3600L * 1000000L),
    "d1_storm" -> stormSql(mass = 50.0, minTotal = 500.0,
      dtUs = 12L * 3600L * 1000000L, maxUs = 48L * 3600L * 1000000L,
      stepUs = 3600L * 1000000L),
    "u1_infer_step" ->
      s"""WITH t AS ($canonicalCte),
         | w AS (SELECT series_id,
         |   epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY series_id ORDER BY ts)) AS d_us,
         |   row_number() OVER (PARTITION BY series_id ORDER BY ts) AS rn,
         |   count(*) OVER (PARTITION BY series_id) AS n
         |  FROM t)
         | SELECT series_id,
         |  CASE WHEN count(DISTINCT d_us) = 1 THEN min(d_us) END AS step_us
         | FROM w WHERE rn >= 2 AND rn <= n - 1 GROUP BY series_id""".stripMargin
  )

  /** Storm delineation (D1) as a DuckDB recursive CTE: the reference's
    * sequential fold (metevents/events.py:85-121) carries candidate
    * state group-by-group; the recursion advances every series one
    * group per iteration, then spans get the one-step back-extension
    * and an interval join recovers exact label-slice stats. Mirrors
    * [[graft.operators.StormEvents]]. */
  private def stormSql(
      mass: Double, minTotal: Double, dtUs: Long, maxUs: Long, stepUs: Long): String = {
    val closed =
      s"""((((next_start_us - g_stop_us > $dtUs) OR (g_stop_us - cand_start_us > $maxUs))
         |  AND (cum_incl_stop - cand_cum_excl >= $minTotal)) OR i = n_groups - 1)""".stripMargin
    s"""WITH RECURSIVE
       |t AS ($canonicalCte),
       |p AS (SELECT series_id, ts,
       |   CASE WHEN isnan(value) THEN NULL ELSE value END AS v,
       |   COALESCE(value >= $mass, FALSE) AS cond,
       |   row_number() OVER (PARTITION BY series_id ORDER BY ts) AS rn,
       |   SUM(COALESCE(CASE WHEN isnan(value) THEN NULL ELSE value END, 0.0))
       |     OVER (PARTITION BY series_id ORDER BY ts
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_incl
       |  FROM t),
       |r AS (SELECT *, SUM(CASE WHEN cond THEN 0 ELSE 1 END)
       |   OVER (PARTITION BY series_id ORDER BY ts
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id FROM p),
       |g0 AS (SELECT series_id, run_id,
       |   min(epoch_us(ts)) AS g_start_us, max(epoch_us(ts)) AS g_stop_us,
       |   min(rn) AS rn_start,
       |   min_by(cum_incl - COALESCE(v, 0.0), ts) AS cum_excl_start,
       |   max_by(cum_incl, ts) AS cum_incl_stop
       |  FROM r WHERE cond GROUP BY series_id, run_id),
       |g AS (SELECT *,
       |   row_number() OVER (PARTITION BY series_id ORDER BY g_start_us) - 1 AS i,
       |   count(*) OVER (PARTITION BY series_id) AS n_groups,
       |   COALESCE(lead(g_start_us) OVER (PARTITION BY series_id ORDER BY g_start_us),
       |            g_stop_us) AS next_start_us
       |  FROM g0),
       |fold AS (
       |  SELECT series_id, i, g_stop_us, n_groups, next_start_us, cum_incl_stop,
       |         g_start_us AS cand_start_us, cum_excl_start AS cand_cum_excl,
       |         rn_start AS cand_rn_start
       |  FROM g WHERE i = 0
       |  UNION ALL
       |  SELECT gn.series_id, gn.i, gn.g_stop_us, gn.n_groups, gn.next_start_us,
       |         gn.cum_incl_stop,
       |         CASE WHEN f.closed THEN gn.g_start_us ELSE f.cand_start_us END,
       |         CASE WHEN f.closed THEN gn.cum_excl_start ELSE f.cand_cum_excl END,
       |         CASE WHEN f.closed THEN gn.rn_start ELSE f.cand_rn_start END
       |  FROM (SELECT *, $closed AS closed FROM fold) f
       |  JOIN g gn ON gn.series_id = f.series_id AND gn.i = f.i + 1),
       |spans AS (
       |  SELECT series_id,
       |    CASE WHEN cand_rn_start > 1 THEN cand_start_us - $stepUs
       |         ELSE cand_start_us END AS span_start_us,
       |    g_stop_us AS span_stop_us
       |  FROM (SELECT *, $closed AS closed FROM fold) WHERE closed)
       |SELECT series_id, 'storm' AS event_type, "start", "stop",
       |  epoch_us("stop") - epoch_us("start") AS duration_us, n_points, total
       |FROM (
       |  SELECT t.series_id, span_start_us, span_stop_us,
       |    min(ts) AS "start", max(ts) AS "stop", count(*) AS n_points,
       |    ROUND(COALESCE(SUM(value), 0.0), 6) AS total
       |  FROM t JOIN spans s ON t.series_id = s.series_id
       |    AND epoch_us(ts) BETWEEN span_start_us AND span_stop_us
       |  GROUP BY t.series_id, span_start_us, span_stop_us)""".stripMargin
  }

  /** SpikeValley (D3) — the scipy find_peaks chain
    * ([[graft.operators.FindPeaks]], metevents/events.py:206-247) as
    * declarative SQL. The sequential walks become order-statistics:
    *
    *  - plateau local-maxima: a rising edge's plateau ends at the first
    *    later index with a DIFFERENT value (`i_ahead`, capped at n);
    *    peak iff that sample is strictly lower; midpoint = integer mean
    *    of the plateau edges;
    *  - prominence: the outward walk's stop is the nearest STRICTLY
    *    GREATER element (NULL acts as a barrier — see below); the base
    *    is the window min, ties resolved toward the peak exactly as the
    *    first-strictly-less update rule does;
    *  - width at `ph − prom·relHeight`: the crossing index is the
    *    nearest window sample at-or-below the height, linear
    *    interpolation mirrors the Scala op order term-for-term (IEEE-
    *    identical doubles, so the `trunc(p ± w)` paint boundaries are
    *    bit-equal across engines);
    *  - valleys = peaks of the sign-flipped series (`sg = ±1` doubles
    *    the frame); the painted spans union via EXISTS; flagged runs
    *    assemble like every other detector.
    *
    * NaN discipline: the canonical frame stores NaN as NULL, and every
    * comparison against NULL is coalesced false — the same "comparison
    * with NaN is false" contract the Scala kernel gets from C-float
    * semantics (NULLs never form peaks, stop plateau scans, and wall
    * off both walks). Correlated subqueries are fine at gate SF;
    * DuckDB decorrelates them into joins. */
  private def spikeValleySql(
      prominence: Double, widthMin: Double, widthMax: Double, relHeight: Double): String =
    s"""WITH t AS ($canonicalCte),
       |s AS (SELECT series_id, ts, value,
       |  row_number() OVER (PARTITION BY series_id ORDER BY ts) AS rn,
       |  count(*) OVER (PARTITION BY series_id) AS n
       | FROM t),
       |sv AS (SELECT series_id, sg, rn, n, sg * value AS v
       | FROM s CROSS JOIN (SELECT unnest([1.0, -1.0]) AS sg)),
       |edges AS (SELECT *, lag(v) OVER (PARTITION BY series_id, sg ORDER BY rn) AS vp
       | FROM sv),
       |cand AS (
       |  SELECT e.series_id, e.sg, e.rn, e.n, e.v,
       |    least(coalesce((SELECT min(x.rn) FROM sv x
       |      WHERE x.series_id = e.series_id AND x.sg = e.sg AND x.rn > e.rn
       |        AND (x.v IS NULL OR x.v <> e.v)), e.n), e.n) AS i_ahead
       |  FROM edges e
       |  WHERE e.rn >= 2 AND e.rn <= e.n - 1 AND coalesce(e.vp < e.v, FALSE)),
       |pk AS (
       |  SELECT c.series_id, c.sg, c.n, c.v AS ph,
       |    ((c.rn - 1) + (c.i_ahead - 2)) // 2 + 1 AS m
       |  FROM cand c
       |  JOIN sv a ON a.series_id = c.series_id AND a.sg = c.sg AND a.rn = c.i_ahead
       |  WHERE coalesce(a.v < c.v, FALSE)),
       |pb AS (
       |  SELECT p.*,
       |    coalesce((SELECT max(b.rn) FROM sv b WHERE b.series_id = p.series_id
       |      AND b.sg = p.sg AND b.rn < p.m AND (b.v IS NULL OR b.v > p.ph)), 0) AS lbar,
       |    coalesce((SELECT min(b.rn) FROM sv b WHERE b.series_id = p.series_id
       |      AND b.sg = p.sg AND b.rn > p.m AND (b.v IS NULL OR b.v > p.ph)), p.n + 1)
       |      AS rbar
       |  FROM pk p),
       |pm AS (
       |  SELECT p.*,
       |    (SELECT min(b.v) FROM sv b WHERE b.series_id = p.series_id AND b.sg = p.sg
       |      AND b.rn > p.lbar AND b.rn <= p.m) AS lmin,
       |    (SELECT min(b.v) FROM sv b WHERE b.series_id = p.series_id AND b.sg = p.sg
       |      AND b.rn >= p.m AND b.rn < p.rbar) AS rmin
       |  FROM pb p),
       |pp AS (
       |  SELECT p.*, p.ph - greatest(p.lmin, p.rmin) AS prom,
       |    (SELECT max(b.rn) FROM sv b WHERE b.series_id = p.series_id AND b.sg = p.sg
       |      AND b.rn > p.lbar AND b.rn <= p.m AND b.v = p.lmin) AS lbase,
       |    (SELECT min(b.rn) FROM sv b WHERE b.series_id = p.series_id AND b.sg = p.sg
       |      AND b.rn >= p.m AND b.rn < p.rbar AND b.v = p.rmin) AS rbase
       |  FROM pm p
       |  WHERE p.ph - greatest(p.lmin, p.rmin) >= $prominence),
       |wi AS (
       |  SELECT p.*,
       |    coalesce((SELECT max(b.rn) FROM sv b WHERE b.series_id = p.series_id
       |      AND b.sg = p.sg AND b.rn > p.lbase AND b.rn <= p.m
       |      AND b.v <= p.ph - p.prom * $relHeight), p.lbase) AS li,
       |    coalesce((SELECT min(b.rn) FROM sv b WHERE b.series_id = p.series_id
       |      AND b.sg = p.sg AND b.rn >= p.m AND b.rn < p.rbase
       |      AND b.v <= p.ph - p.prom * $relHeight), p.rbase) AS ri
       |  FROM pp p),
       |wx AS (
       |  SELECT w.series_id, w.sg, w.n, w.m,
       |    (w.ri + CASE WHEN vri.v < w.ph - w.prom * $relHeight
       |       THEN -((w.ph - w.prom * $relHeight - vri.v) / (vri1.v - vri.v)) ELSE 0 END)
       |    - (w.li + CASE WHEN vli.v < w.ph - w.prom * $relHeight
       |       THEN (w.ph - w.prom * $relHeight - vli.v) / (vli1.v - vli.v) ELSE 0 END)
       |      AS width
       |  FROM wi w
       |  JOIN sv vli  ON vli.series_id = w.series_id AND vli.sg = w.sg AND vli.rn = w.li
       |  JOIN sv vli1 ON vli1.series_id = w.series_id AND vli1.sg = w.sg
       |    AND vli1.rn = w.li + 1
       |  JOIN sv vri  ON vri.series_id = w.series_id AND vri.sg = w.sg AND vri.rn = w.ri
       |  JOIN sv vri1 ON vri1.series_id = w.series_id AND vri1.sg = w.sg
       |    AND vri1.rn = w.ri - 1),
       |spans AS (
       |  SELECT series_id,
       |    CAST(greatest(trunc((m - 1) - width), 0) AS BIGINT) + 1 AS p1,
       |    CAST(least(trunc((m - 1) + width), n - 1) AS BIGINT) + 1 AS p2
       |  FROM wx WHERE width >= $widthMin AND width <= $widthMax),
       |f AS (SELECT s.*, EXISTS(SELECT 1 FROM spans sp
       |    WHERE sp.series_id = s.series_id AND s.rn BETWEEN sp.p1 AND sp.p2) AS cond
       |  FROM s),
       |r AS (SELECT *, SUM(CASE WHEN cond THEN 0 ELSE 1 END)
       |   OVER (PARTITION BY series_id ORDER BY ts
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id FROM f)
       |SELECT series_id, 'spike_valley' AS event_type,
       |  MIN(ts) AS "start", MAX(ts) AS "stop",
       |  epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
       |  COUNT(*) AS n_points,
       |  ROUND(SUM(value), 6) AS total
       |FROM r WHERE cond GROUP BY series_id, run_id""".stripMargin

  /** DataGap (D4): union of missing-VALUE runs and missing-TIMESTAMP
    * synthetic 2-point events, filtered by duration >= min_len*step
    * (metevents/events.py:251-298; SURVEY.md §2.2/D4). */
  private def dataGapSql(minLen: Long, stepUs: Long): String = {
    val nanRuns = runIdSql("value IS NULL OR isnan(value)", withDiff = false) +
      assembleSql("data_gap")
    s"""SELECT * FROM (
       | $nanRuns
       | UNION ALL BY NAME
       | SELECT series_id, 'data_gap' AS event_type,
       |   prev_ts AS "start", ts AS "stop",
       |   epoch_us(ts) - epoch_us(prev_ts) AS duration_us,
       |   CAST(2 AS BIGINT) AS n_points,
       |   ROUND(CASE WHEN (v IS NULL OR isnan(v)) AND (pv IS NULL OR isnan(pv)) THEN NULL
       |     ELSE COALESCE(CASE WHEN isnan(v) THEN NULL ELSE v END, 0.0)
       |        + COALESCE(CASE WHEN isnan(pv) THEN NULL ELSE pv END, 0.0) END, 6) AS total
       | FROM (
       |   SELECT series_id, ts, value AS v,
       |     lag(ts) OVER (PARTITION BY series_id ORDER BY ts) AS prev_ts,
       |     lag(value) OVER (PARTITION BY series_id ORDER BY ts) AS pv
       |   FROM (SELECT * FROM ($canonicalCte)) )
       | WHERE prev_ts IS NOT NULL AND epoch_us(ts) - epoch_us(prev_ts) > $stepUs
       |) WHERE duration_us >= ${minLen * stepUs}""".stripMargin
  }
}
