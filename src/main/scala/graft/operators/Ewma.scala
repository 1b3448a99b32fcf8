package graft.operators

import org.apache.spark.sql.DataFrame
import graft.streaming.OrderedFold

/**
 * Exponentially-weighted moving average — pandas
 * `Series.ewm(alpha=α, adjust=True/False).mean()` over the canonical
 * frame. The recurrence is inherently sequential per series
 * (y_t depends on y_{t-1}), which no ANSI window expresses, and the
 * adjust=True normalizer (1-α)^i overflows any fixed-point rewrite at
 * realistic series lengths — so this is a per-series walk in the run
 * detectors' batch fold ([[graft.streaming.OrderedFold.batch]]) over
 * one `series_id` exchange ([[Kernels.bySeries]]): Spark sorts each
 * partition by (series_id, ts), the series run in parallel, and each
 * one streams through the recurrence without being buffered.
 *
 * pandas NaN semantics (verified against pandas 2.x): NaN samples
 * emit the running mean unchanged and do NOT decay the weights
 * (`ignore_na=False` default still skips the observation in both
 * numerator and denominator but ages prior weights by (1-α) per ROW;
 * we implement ignore_na=False). Leading NaNs emit NaN (null).
 */
object Ewma {

  /** adjust=True: y_t = Σ(1-α)^{t-i}·x_i / Σ(1-α)^{t-i} over non-null
    * x_i, weights aged per row (ignore_na=False). adjust=False:
    * y_t = (1-α)·w·y_{t-1} + α'·x_t normalized — implemented via the
    * same weighted-sums recurrence, which is numerically stable (both
    * sums decay, never grow). */
  def ewmaMean(ts: DataFrame, alpha: Double, adjust: Boolean = true): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1]: $alpha")
    val spark = ts.sparkSession
    import spark.implicits._
    val decay = 1.0 - alpha
    // adjust=True weights new obs at 1; adjust=False at α, with the
    // denominator tracking the same recurrence (pandas' ewm formula)
    val newW = if (adjust) 1.0 else alpha
    OrderedFold.batch(RunFolds.points(Kernels.bySeries(ts)), "series_id")(_._2)(
      (sid: String, rows: Iterator[(Long, RunFolds.Point)], _: Option[Unit]) => {
        var num = 0.0 // Σ w_i·x_i
        var den = 0.0 // Σ w_i
        // no state to close, so the output streams row by row
        (None, rows.map { case (_, (_, t, v)) =>
          v match {
            case Some(x) if !x.isNaN =>
              if (adjust) { num = num * decay + newW * x; den = den * decay + newW }
              else if (den == 0.0) { num = x; den = 1.0 } // first obs seeds y_0 = x_0
              else { num = num * decay + newW * x; den = den * decay + newW }
            case _ =>
              num *= decay; den *= decay // age weights, no observation
          }
          (sid, t, v, if (den > 0.0) Some(num / den) else None)
        })
      })
      .toDF("series_id", "ts", "value", "ewma")
  }

  /** HOLT'S LINEAR METHOD (double exponential smoothing, Holt 1957) —
    * [[ewmaMean]]'s trend-aware sibling: level l and trend b evolve as
    *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    * seeded l_0 = x_0, b_0 = 0 at each series' first non-null sample.
    * Null/NaN samples DO NOT advance the state (they emit the carried
    * level/trend; null before the seed). Sequential per series — the
    * [[ewmaMean]] shape: one sorted walk per series over one
    * `series_id` exchange. The op ORDER above is the contract: the
    * DuckDB oracle runs the identical IEEE sequence (hw1, recursive
    * CTE), so 6dp outputs hash-match with no per-step rounding needed. */
  def holtLinear(ts: DataFrame, alpha: Double, beta: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1]: $alpha")
    require(beta >= 0.0 && beta <= 1.0, s"beta must be in [0, 1]: $beta")
    val spark = ts.sparkSession
    import spark.implicits._
    val oneMinusAlpha = 1.0 - alpha // Scala-computed (the ew1 DECIMAL trap)
    val oneMinusBeta = 1.0 - beta
    OrderedFold.batch(RunFolds.points(Kernels.bySeries(ts)), "series_id")(_._2)(
      (sid: String, rows: Iterator[(Long, RunFolds.Point)], _: Option[Unit]) => {
        var seeded = false
        var level = 0.0
        var trend = 0.0
        (None, rows.map { case (_, (_, t, v)) =>
          v match {
            case Some(x) if !x.isNaN =>
              if (!seeded) { seeded = true; level = x; trend = 0.0 }
              else {
                val nl = alpha * x + oneMinusAlpha * (level + trend)
                val nt = beta * (nl - level) + oneMinusBeta * trend
                level = nl; trend = nt
              }
              (sid, t, v, Some(level), Some(trend))
            case _ =>
              (sid, t, v,
                if (seeded) Some(level) else None,
                if (seeded) Some(trend) else None)
          }
        })
      })
      .toDF("series_id", "ts", "value", "level", "trend")
  }
}
