package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, First, Last, Max, Min, StddevPop, StddevSamp, Sum, VariancePop, VarianceSamp}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode, Window}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * AUTOMATIC distributed global windows — the engine's one mechanism
 * for ranking over an unbounded key (VERDICT r13/r14 item 1), extended
 * in round 16 to global RUNNING AGGREGATES (VERDICT r15 item 1).
 *
 * `row_number()/rank()/dense_rank()/percent_rank()/ntile(k) OVER
 * (ORDER BY ...)` — and now `SUM/COUNT/AVG/MIN/MAX(x) OVER (ORDER BY
 * ... [ROWS|RANGE UNBOUNDED PRECEDING .. CURRENT ROW])`, the
 * cumulative-revenue shape every analyst writes — with NO partition
 * key plan as a single-partition window: every row of the frame moves
 * to ONE task. This file makes the scale path fire on ANY query — the
 * curated keys (w5/qb1/rfm1/gn1 write plain `Window.orderBy`) and user
 * SQL through [[graft.SqlSurface]] alike — lazily, with no pin
 * barrier:
 *
 *  - [[RangeRankRewrite]] (a `Rule[LogicalPlan]`, late slot — after
 *    column pruning and filter pushdown have settled around the
 *    Window) swaps an eligible above-gate Window for
 *    [[GlobalRankPlan]].
 *  - [[GlobalRankStrategy]] plans it as [[GlobalRankExec]], whose
 *    `requiredChildDistribution = OrderedDistribution(order)` makes
 *    EnsureRequirements insert exactly ONE range exchange + local
 *    sort.
 *  - [[GlobalRankExec]] then runs `RDD.zipWithIndex`'s own design:
 *    one bounded job collects per-partition (row, tie-run, aggregate
 *    total) states (≤ numPartitions tuples on the driver),
 *    prefix-combines them, and a second pass emits global ranks as
 *    partition offset + local position and running aggregates as
 *    prefix total + local running state. NO SinglePartition stage
 *    anywhere. All five aggregate kinds are prefix-combinable, so
 *    the rank family's two-job pattern extends verbatim.
 *
 * Why no pin barrier, although the range boundaries are sampled:
 * both of the exec's jobs run over the SAME `child.execute()` RDD,
 * i.e. one ShuffleDependency — the range boundaries are sampled once
 * when the dependency materializes and shuffle files are reused, so
 * there is no second execution that could re-sample them, and the
 * reduce-side sort is deterministic under a lost-block recompute.
 * (A DataFrame-level form re-plans per action and would have to pin
 * its sampled assignment; the physical node owns its RDD, so it need
 * not.)
 *
 * Exactness: ranks computed this way are NOT approximations.
 * RangePartitioning maps each key to a partition deterministically,
 * so a tie-run never straddles a boundary — `rank`/`dense_rank`/
 * `percent_rank` are bit-identical to the single-partition window,
 * and RANGE-framed running aggregates (the SQL default under ORDER
 * BY) see exactly their peer set: the whole tie run is absorbed
 * before any of its rows emit. `row_number`/`ntile`/ROWS-framed
 * aggregates agree whenever the order is total; under ties they
 * return A valid assignment, exactly as the single-partition plan's
 * tie order is itself arbitrary (it inherits shuffle order).
 * Floating-point running sums add partition prefix totals to local
 * sums, a different association order than the strictly sequential
 * single task — same ulp-level caveat as any partial aggregation,
 * and why this engine's oracle discipline rounds double sums.
 * Variance-class aggregates (round 17) combine per-partition Welford
 * states with Chan's merge — the SAME merge Spark's own
 * CentralMomentAgg partial aggregation uses — so they carry the same
 * ulp class, rounded by the oracle discipline like any double.
 *
 * OFFSET FUNCTIONS AND BOUNDED FRAMES UNDER TIED ORDER KEYS (ADVICE
 * r16, extended r17): lag/lead boundary slices AND the bounded
 * sliding frames' tail slices are captured in job 1 while
 * in-partition values come from job 2's iteration of the same shuffle
 * output. Within one partition both jobs see one consistent order,
 * but when the ORDER BY is NOT a total order the two jobs may order a
 * tie run differently, so a cross-partition offset or
 * k-PRECEDING-frame value can mix two tie orders at a partition
 * boundary (a tie-run row double-counted in, or absent from, a moving
 * frame) — strictly weaker than the "a valid assignment" guarantee
 * ranks give under ties. Use lag/lead and ROWS k-PRECEDING frames
 * here (as every shipped key and spec does) with a deterministic
 * tiebreaker in the ORDER BY; under ties the plain single-partition
 * window is itself shuffle-order-dependent, but at least
 * self-consistent.
 *
 * Gated on `spark.graft.rangerank.minBytes` (registered with
 * [[graft.Materialize.registeredGateKeys]] so the AuditProbe sweep
 * forces it open): below the threshold the plain window is cheaper
 * and the plan is left alone.
 */
object RangeRankRewrite extends Rule[LogicalPlan] {

  /** The size gate: windows whose child estimates under this many
    * bytes ([[graft.Materialize.DefaultMinBytes]] when unset) keep the
    * plain window. */
  val MinBytesKey = "spark.graft.rangerank.minBytes"

  private def aboveGate(child: LogicalPlan): Boolean = {
    val minBytes = BigInt(scala.util.Try(
      conf.getConfString(MinBytesKey).toLong).getOrElse(graft.Materialize.DefaultMinBytes))
    child.stats.sizeInBytes >= minBytes
  }

  /** A running frame: UNBOUNDED PRECEDING .. CURRENT ROW (the resolved
    * default under ORDER BY is the RANGE form). */
  private def runningFrame(f: WindowFrame): Option[Boolean] = f match {
    case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) => Some(true)
    case SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow) => Some(false)
    case _ => None
  }

  /** A bounded sliding frame: ROWS BETWEEN k PRECEDING AND CURRENT
    * ROW, the moving-average shape (VERDICT r16 item 2). The lower
    * bound arrives as a foldable negative IntegerType expression
    * (`-k`); RANGE k PRECEDING (value-based) stays on the plain
    * window. */
  private def boundedPrecedingRows(f: WindowFrame): Option[Int] = f match {
    case SpecifiedWindowFrame(RowFrame, lower, CurrentRow)
        if lower.foldable && lower.dataType == IntegerType =>
      Option(lower.eval()).collect {
        case v: Int if v < 0 && v != Int.MinValue => -v
      }
    case _ => None
  }

  /** Aggregates with a prefix-combinable running accumulator. AVG over
    * DECIMAL (decimal result type) is excluded — its scale bookkeeping
    * belongs to Spark's own Average — as are interval types; MIN/MAX
    * accept any orderable ATOMIC type (array/struct orderings stay on
    * the plain window). */
  /** Leaf (non-nested) type — keeps the accumulator's retained-value
    * copy semantics trivial. */
  private def atomicLeaf(dt: DataType): Boolean =
    !dt.isInstanceOf[ArrayType] && !dt.isInstanceOf[StructType] &&
      !dt.isInstanceOf[MapType] && !dt.isInstanceOf[UserDefinedType[_]] &&
      dt != NullType

  /** Orderable leaf type — array/struct orderings stay on the plain
    * window. */
  private def atomicOrderable(dt: DataType): Boolean =
    RowOrdering.isOrderable(dt) && atomicLeaf(dt)

  /** The five aggregate kinds BOTH frame shapes support — running
    * (UNBOUNDED PRECEDING) and bounded sliding (k PRECEDING) — as one
    * matcher, so the eligibility rules cannot silently diverge between
    * the two paths (review r17 finding). Returns (kind, valueExpr,
    * exact, tryMode).
    *
    * TRY mode (round 18, probe-verified): over a RUNNING frame
    * try_sum is STICKY-NULL — the buffer's checked add fails the
    * first time the true running prefix exits long range, and
    * null + x stays null even when later rows cancel the prefix back
    * in range; over a bounded/value frame each frame re-accumulates
    * independently, so it recovers per frame but still nulls when the
    * WITHIN-FRAME accumulation path ever exits range (not just the
    * final total). [[SumLongAcc]] reproduces both with 128-bit path
    * extremes under the sequential-combine contract. LONG try_sum
    * only; DOUBLE never overflows so TRY degenerates to plain;
    * DECIMAL TRY stays on the plain window (its overflow rides the
    * p+10 buffer precision during accumulation — Spark's own
    * bookkeeping). ANSI mode rides `exact` so a long overflow throws
    * here exactly as the plain window would. DECIMAL non-TRY sums
    * (round 17) accumulate in unbounded BigDecimal space and decide
    * overflow at value() against the result precision per emitted
    * row — throw in ANSI, null in legacy, exactly the plain window's
    * observable behavior (verified empirically: the window decimal
    * sum is NOT sticky-null; it recovers when the prefix cancels
    * back, exactly as exact-space re-decision does). */
  private def asCommonAgg(fn: aggregate.AggregateFunction,
      attr: Attribute): Option[(String, Expression, Boolean, Boolean)] = fn match {
    case Sum(e, ctx) if attr.dataType == LongType || attr.dataType == DoubleType ||
        (attr.dataType.isInstanceOf[DecimalType] && e.dataType.isInstanceOf[DecimalType] &&
          ctx.evalMode != EvalMode.TRY) =>
      if (ctx.evalMode == EvalMode.TRY) Some(("sum", e, false, true))
      else Some(("sum", e, ctx.evalMode == EvalMode.ANSI, false))
    case Count(Seq(e)) => Some(("count", e, false, false))
    case Average(e, _) if attr.dataType == DoubleType => Some(("avg", e, false, false))
    case Min(e) if atomicOrderable(e.dataType) => Some(("min", e, false, false))
    case Max(e) if atomicOrderable(e.dataType) => Some(("max", e, false, false))
    case _ => None
  }

  private def asAgg(fn: aggregate.AggregateFunction, rowsFrame: Boolean,
      attr: Attribute): Option[GlobalRunningAgg] = asCommonAgg(fn, attr).map {
    case (kind, e, exact, tryMode) =>
      GlobalRunningAgg(kind, e, rowsFrame, attr, exact = exact, tryMode = tryMode)
  }.orElse(fn match {
    // Welford-class running aggregates (VERDICT r16 item 3): the
    // (n, mean, M2) state prefix-combines with Chan's merge — the same
    // contract Spark's own CentralMomentAgg partial aggregation uses.
    // nullOnDivideByZero rides the accumulator so n==1 stddev_samp is
    // null (modern) or NaN (legacy flag), matching the plain window.
    case StddevSamp(e, nullOnDiv) if attr.dataType == DoubleType =>
      Some(GlobalRunningAgg("stddev_samp", e, rowsFrame, attr, nullOnDiv = nullOnDiv))
    case StddevPop(e, nullOnDiv) if attr.dataType == DoubleType =>
      Some(GlobalRunningAgg("stddev_pop", e, rowsFrame, attr, nullOnDiv = nullOnDiv))
    case VarianceSamp(e, nullOnDiv) if attr.dataType == DoubleType =>
      Some(GlobalRunningAgg("var_samp", e, rowsFrame, attr, nullOnDiv = nullOnDiv))
    case VariancePop(e, nullOnDiv) if attr.dataType == DoubleType =>
      Some(GlobalRunningAgg("var_pop", e, rowsFrame, attr, nullOnDiv = nullOnDiv))
    // first_value/last_value resolve to the First/Last aggregates over
    // the running frame — both prefix-combinable (first: keep the
    // earliest state; last: the latest overrides). ignoreNulls rides
    // the accumulator. Non-nested types only (retained-value copy
    // discipline, same as min/max).
    case First(e, ignoreNulls) if atomicLeaf(e.dataType) =>
      Some(GlobalRunningAgg(if (ignoreNulls) "first_nn" else "first", e, rowsFrame, attr))
    case Last(e, ignoreNulls) if atomicLeaf(e.dataType) =>
      Some(GlobalRunningAgg(if (ignoreNulls) "last_nn" else "last", e, rowsFrame, attr))
    case _ => None
  })

  /** A window output rewritten as HIDDEN exec columns plus a
    * restoring projection expression (round 17). */
  private[plans] final case class Composed(funcs: Seq[GlobalWinFunction],
      restore: NamedExpression)

  /** Decimal AVG over the running frame, by COMPOSITION: the exec
    * carries Average's own buffer attributes — the exact BigDecimal
    * running sum (in Average's DECIMAL(p+10, s) buffer type, null
    * when it cannot be represented, exactly the partial-agg
    * convention; ZERO when no row seen, Average's init) and the
    * non-null count — and the value is restored ABOVE the plan by
    * `Average.evaluateExpression` itself, so the division
    * scale/rounding, CheckOverflowInSum (legacy null / ANSI rethrow),
    * and null-on-empty semantics are Spark's own by construction,
    * not a reimplementation. DOUBLE avg keeps the direct accumulator
    * path; TRY mode stays on the plain window. */
  private def avgHidden(orderSpec: Seq[SortOrder])(
      we: WindowExpression): Option[(Seq[GlobalWinFunction], Expression)] = we match {
    case WindowExpression(
        AggregateExpression(af: Average, _, false, None, _),
        WindowSpecDefinition(Seq(), os, frame))
        if os == orderSpec && we.deterministic &&
          af.child.dataType.isInstanceOf[DecimalType] &&
          af.dataType.isInstanceOf[DecimalType] &&
          af.evalMode != EvalMode.TRY =>
      runningFrame(frame).map { rows =>
        (Seq(
          GlobalRunningAgg("sum", af.child, rows, af.sum, zeroEmpty = true),
          GlobalRunningAgg("count", af.child, rows, af.count)),
          af.evaluateExpression)
      }
    case _ => None
  }

  /** Composed path: the alias WRAPS its window expression(s) — the
    * shape optimizer rules synthesize (DecimalAggregates rewrites a
    * small-precision decimal AVG into `cast(avg(UnscaledValue(v)) /
    * 10^s as decimal)`), plus decimal AVG's two-buffer form. Every
    * inner WindowExpression must resolve — either as a direct
    * function into a fresh hidden attribute, or as decimal-AVG hidden
    * buffers — and the alias body is restored above the plan with the
    * window nodes substituted by their hidden outputs. */
  private def asComposed(orderSpec: Seq[SortOrder], maxOffset: Int)(
      ne: NamedExpression): Option[Composed] = ne match {
    case a: Alias if a.deterministic =>
      val wins = a.child.collect { case we: WindowExpression => we }.distinct
      if (wins.isEmpty) None
      else {
        val parsed: Seq[Option[(Seq[GlobalWinFunction], Expression)]] = wins.map { we =>
          val hidden = AttributeReference("__gwin", we.dataType, we.nullable)()
          asFunc(orderSpec, maxOffset)(we, hidden)
            .map(f => (Seq(f): Seq[GlobalWinFunction], hidden: Expression))
            .orElse(avgHidden(orderSpec)(we))
        }
        if (parsed.exists(_.isEmpty)) None
        else {
          val byWin = wins.zip(parsed.map(_.get)).toMap
          val restored = a.child.transform {
            case we: WindowExpression if byWin.contains(we) => byWin(we)._2
          }
          Some(Composed(parsed.flatMap(_.get._1),
            Alias(restored, a.name)(exprId = a.exprId, qualifier = a.qualifier,
              explicitMetadata = a.explicitMetadata,
              nonInheritableMetadataKeys = a.nonInheritableMetadataKeys)))
        }
      }
    case _ => None
  }

  /** Offset functions: `lag(x, k, default)` / `lead(x, k, default)`
    * with literal offsets and foldable defaults. Normalized to a
    * signed SHIFT (positive = look behind, negative = ahead): the
    * exec carries at most `maxOffset` boundary rows per partition, so
    * huge offsets stay on the plain window.
    *
    * IGNORE NULLS (VERDICT r17 item 1 — the forward-fill idiom): the
    * k-th NON-NULL value strictly behind/ahead. Lookback is unbounded
    * in ROWS but the STATE is not: lag-nn needs only the last k
    * non-null values (a k-bounded per-partition boundary slice under
    * the same prefix-combine contract as the row tails), and lead-nn
    * resolves each pending row exactly when its k-th following
    * non-null ARRIVES, so the value window never exceeds the pending
    * span. |k| ≥ 1 required — Spark pins ignoreNulls offset-0 edge
    * semantics to the plain window. */
  private def asOffset(fn: Expression, attr: Attribute,
      maxOffset: Int): Option[GlobalOffsetFunction] = {
    // |shift| in LONG space: math.abs(Int.MinValue) is negative and
    // would bypass the cap (review r16 finding)
    def mk(e: Expression, shift: Int, default: Expression,
        ignoreNulls: Boolean): Option[GlobalOffsetFunction] =
      if (math.abs(shift.toLong) > maxOffset || !atomicLeaf(e.dataType) ||
          (ignoreNulls && shift == 0) || !default.foldable ||
          !(default.dataType == e.dataType || default.dataType == NullType)) None
      else Some(GlobalOffsetFunction(e, shift, default.eval(), attr, ignoreNulls))
    fn match {
      case Lag(e, Literal(k: Int, IntegerType), default, ign) =>
        if (ign && k < 0) None else mk(e, k, default, ign)
      case Lead(e, Literal(k: Int, IntegerType), default, ign) =>
        if (k == Int.MinValue || (ign && k < 0)) None else mk(e, -k, default, ign)
      case _ => None
    }
  }

  /** Value-bounded trailing frame — RANGE BETWEEN k PRECEDING AND
    * CURRENT ROW over a SINGLE order key (VERDICT r17 item 3: the
    * time-windowed moving average). Returns the typed delta, or None
    * for shapes that stay on the plain window. Supported key/bound
    * matrix: integral keys with integral bounds, DATE with integral
    * (days) or whole-day intervals, TIMESTAMP/TIMESTAMP_NTZ with
    * day-time intervals (fixed micros), DATE/TIMESTAMP/TIMESTAMP_NTZ
    * with year-month intervals (gr13 — calendar bounds evaluated per
    * row via the plain window's own DateTimeUtils arithmetic, see
    * [[MonthsRangeDelta]]), FLOAT/DOUBLE with numeric bounds, DECIMAL
    * with decimal/integral bounds. */
  private def rangePrecedingDelta(f: WindowFrame,
      orderSpec: Seq[SortOrder]): Option[RangeDelta] = f match {
    case SpecifiedWindowFrame(RangeFrame, lower, CurrentRow)
        if orderSpec.length == 1 &&
          !lower.isInstanceOf[SpecialFrameBoundary] && lower.foldable =>
      val so = orderSpec.head
      val desc = so.direction == Descending
      val v = lower.eval()
      if (v == null) None
      else {
        val ansi = conf.ansiEnabled
        // (review r18 finding, reproduced) a ZONED timestamp key's
        // interval frame bound is computed by the plain window with
        // zone-aware WALL-CLOCK arithmetic (TimeAdd in the session
        // zone: 1 day = 23h/25h across a DST transition), while this
        // delta is fixed micros — identical ONLY under a fixed-offset
        // session zone (UTC, GMT, +HH:MM). DST zones stay on the
        // plain window. TIMESTAMP_NTZ and DATE arithmetic are
        // zone-free and rewrite unconditionally.
        def fixedOffsetZone: Boolean = scala.util.Try(
          java.time.ZoneId.of(conf.sessionLocalTimeZone)
            .getRules.isFixedOffset).getOrElse(false)
        def longMag(x: Long, typeMin: Long, typeMax: Long): Option[RangeDelta] =
          if (x > 0) None else Some(LongRangeDelta(-x, desc, typeMin, typeMax, ansi))
        (so.child.dataType, lower.dataType) match {
          case (kdt @ (ByteType | ShortType | IntegerType | LongType),
              ByteType | ShortType | IntegerType | LongType) =>
            // frame-bound overflow semantics ride the KEY's own type
            // (review r18 finding: the plain window evaluates
            // cur + lower in int space for an int key — ANSI throws
            // at the type edge, which the delta reproduces)
            val (mn, mx) = kdt match {
              case ByteType => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
              case ShortType => (Short.MinValue.toLong, Short.MaxValue.toLong)
              case IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
              case _ => (Long.MinValue, Long.MaxValue)
            }
            longMag(v.asInstanceOf[Number].longValue(), mn, mx)
          case (DateType, ByteType | ShortType | IntegerType) =>
            longMag(v.asInstanceOf[Number].longValue(),
              Int.MinValue.toLong, Int.MaxValue.toLong)
          case (DateType, _: DayTimeIntervalType) =>
            val us = v.asInstanceOf[Long]
            if (us % MicrosPerDay != 0L) None
            else longMag(us / MicrosPerDay, Int.MinValue.toLong, Int.MaxValue.toLong)
          case (TimestampNTZType, _: DayTimeIntervalType) =>
            longMag(v.asInstanceOf[Long], Long.MinValue, Long.MaxValue)
          case (TimestampType, _: DayTimeIntervalType) if fixedOffsetZone =>
            longMag(v.asInstanceOf[Long], Long.MinValue, Long.MaxValue)
          // year-month intervals (gr13): calendar-dependent bounds,
          // computed per row with the SAME DateTimeUtils arithmetic
          // the plain window's bound expressions call — any session
          // zone is exact, including DST zones, because the zone
          // rides into the identical computation
          case (DateType, _: YearMonthIntervalType) =>
            val m = v.asInstanceOf[Number].intValue()
            if (m > 0 || m == Int.MinValue) None
            else Some(MonthsRangeDelta(-m, desc, MonthsRangeDelta.DateKey, "UTC"))
          case (TimestampNTZType, _: YearMonthIntervalType) =>
            val m = v.asInstanceOf[Number].intValue()
            if (m > 0 || m == Int.MinValue) None
            else Some(MonthsRangeDelta(-m, desc, MonthsRangeDelta.MicrosKey, "UTC"))
          case (TimestampType, _: YearMonthIntervalType) =>
            val m = v.asInstanceOf[Number].intValue()
            if (m > 0 || m == Int.MinValue) None
            else Some(MonthsRangeDelta(-m, desc, MonthsRangeDelta.MicrosKey,
              conf.sessionLocalTimeZone))
          case (TimestampType, CalendarIntervalType) if fixedOffsetZone =>
            val ci = v.asInstanceOf[org.apache.spark.unsafe.types.CalendarInterval]
            if (ci.months != 0) None
            else longMag(ci.days.toLong * MicrosPerDay + ci.microseconds,
              Long.MinValue, Long.MaxValue)
          case (DoubleType, _: NumericType) =>
            val m = -numToDouble(v)
            if (m < 0 || m.isNaN) None else Some(DoubleRangeDelta(m, desc))
          case (FloatType, _: NumericType) =>
            val m = -numToDouble(v).toFloat
            if (m < 0 || m.isNaN) None else Some(FloatRangeDelta(m, desc))
          case (_: DecimalType, _) =>
            val m = v match {
              case d: Decimal => d.toJavaBigDecimal.negate()
              case n: Number => java.math.BigDecimal.valueOf(n.longValue()).negate()
              case _ => return None
            }
            if (m.signum() < 0) None else Some(DecimalRangeDelta(m, desc))
          case _ => None
        }
      }
    case _ => None
  }

  private val MicrosPerDay = 86400000000L

  private def numToDouble(v: Any): Double = v match {
    case d: Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }

  /** Bounded sliding aggregates over ROWS k PRECEDING .. CURRENT ROW:
    * the per-row frame is the last k boundary-slice rows plus the
    * current row, recomputed oldest-to-newest per row exactly as
    * Spark's SlidingWindowFunctionFrame replays its buffer (so doubles
    * agree association-order-for-association-order). k rides the same
    * boundary-slice cap as lag/lead. first/last (trivially the ring
    * edge / the row itself) and variance-class sliding aggregates are
    * excluded as rare — the plain window keeps them. */
  private def asBoundedAgg(fn: aggregate.AggregateFunction, k: Int,
      attr: Attribute): Option[GlobalBoundedAgg] = asCommonAgg(fn, attr).map {
    case (kind, e, exact, tryMode) =>
      GlobalBoundedAgg(kind, e, k, attr, exact = exact, tryMode = tryMode)
  }

  /** The supported window functions: the rank family (kinds are the
    * [[GlobalRankExec]] evaluation tags), running aggregates over
    * UNBOUNDED PRECEDING .. CURRENT ROW frames, bounded ROWS sliding
    * aggregates, and literal-offset lag/lead. */
  /** Core per-function matcher: a WindowExpression over the node's
    * ORDER BY (no PARTITION BY) to the GlobalWinFunction evaluated
    * into `attr`. Shared by the direct path (attr = the alias's own
    * attribute, no projection needed) and the composed path (attr =
    * a fresh hidden attribute restored by expression substitution).
    *
    * we.deterministic is defense-in-depth for HAND-BUILT plans:
    * analyzer-produced windows never trip it, because
    * ExtractWindowExpressions pulls every non-trivial argument
    * (incl. rand()) into a _w projection BELOW the window — under
    * the range exchange, drawn once on the map side, with job 1
    * and job 2 reading the same shuffle bytes (spec'd: the running
    * sum of non-negative draws is non-decreasing across partition
    * boundaries). A directly-constructed Window carrying a
    * nondeterministic arg INSIDE the function would be evaluated
    * twice by the two-job design, so it stays on the plain window
    * (review r17 finding). */
  private def asFunc(orderSpec: Seq[SortOrder], maxOffset: Int)(
      we: WindowExpression, attr: Attribute): Option[GlobalWinFunction] =
    we match {
      case WindowExpression(f, WindowSpecDefinition(Seq(), os, frame))
          if os == orderSpec && we.deterministic =>
        f match {
          case RowNumber() => Some(GlobalRankFunction("row_number", 0, attr))
          case _: Rank => Some(GlobalRankFunction("rank", 0, attr))
          case _: DenseRank => Some(GlobalRankFunction("dense_rank", 0, attr))
          case _: PercentRank => Some(GlobalRankFunction("percent_rank", 0, attr))
          case NTile(Literal(k: Int, IntegerType)) if k >= 1 =>
            Some(GlobalRankFunction("ntile", k, attr))
          case CumeDist() => Some(GlobalRankFunction("cume_dist", 0, attr))
          case AggregateExpression(fn, _, false, None, _) =>
            runningFrame(frame) match {
              case Some(rows) => asAgg(fn, rows, attr)
              case None => boundedPrecedingRows(frame)
                .filter(k => k >= 1 && k <= maxOffset)
                .flatMap(k => asBoundedAgg(fn, k, attr))
                .orElse(rangePrecedingDelta(frame, orderSpec).flatMap(d =>
                  asCommonAgg(fn, attr).map { case (kind, e, exact, tryMode) =>
                    GlobalRangeAgg(kind, e, d, attr, exact, tryMode)
                  }))
            }
          case o @ (_: Lag | _: Lead) => asOffset(o, attr, maxOffset)
          // nth_value is an AggregateWindowFunction (appears unwrapped,
          // pinned by Spark to the ROWS running frame): the running
          // n-th value needs only the first n values of the prefix — a
          // k-bounded state with the same sequential-combine contract
          // as first/last, capped by maxOffset like every bounded-state
          // function here. ignoreNulls rides the accumulator (skip
          // nulls on add).
          case NthValue(e, Literal(k: Int, IntegerType), ign)
              if k >= 1 && k <= maxOffset && atomicLeaf(e.dataType) =>
            runningFrame(frame).map(rows =>
              GlobalRunningAgg(if (ign) "nth_nn" else "nth", e,
                rows, attr, n = k))
          case _ => None
        }
      case _ => None
    }

  /** Direct path: the alias root IS the window expression, so the
    * function evaluates straight into the alias's own attribute — no
    * restoring projection needed and parents resolve unchanged. */
  private def asWinFunc(orderSpec: Seq[SortOrder], maxOffset: Int)(
      ne: NamedExpression): Option[GlobalWinFunction] =
    ne match {
      case a @ Alias(we: WindowExpression, _) =>
        asFunc(orderSpec, maxOffset)(we, a.toAttribute)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // hoisted out of the matchers (ADVICE r16): gate-key registration
    // and the cap-conf parse are side effects — matching stays pure
    // and the conf is read once per rule invocation, not twice per
    // Lag/Lead encountered. Only the size gate registers: the sweep
    // sets every registered key to 0, and a 0 offset cap would audit
    // every global lag/lead/bounded frame as the plain window
    graft.Materialize.registeredGateKeys.add(MinBytesKey)
    val maxOffset = scala.util.Try(
      conf.getConfString(GlobalRankExec.MaxOffsetKey).toInt).getOrElse(1024)
    plan.transform {
      case w @ Window(exprs, Seq(), orderSpec, child, _)
          if exprs.nonEmpty && orderSpec.nonEmpty && !w.isStreaming =>
        val parsed: Seq[Option[scala.util.Either[GlobalWinFunction, Composed]]] =
          exprs.map(ne => asWinFunc(orderSpec, maxOffset)(ne)
            .map(f => scala.util.Left(f): scala.util.Either[GlobalWinFunction, Composed])
            .orElse(asComposed(orderSpec, maxOffset)(ne).map(scala.util.Right(_))))
        if (parsed.forall(_.isDefined) && aboveGate(child)) {
          val items = parsed.map(_.get)
          val funcs = items.flatMap {
            case scala.util.Left(f) => Seq(f)
            case scala.util.Right(c) => c.funcs
          }
          val core = GlobalRankPlan(orderSpec, funcs, child)
          if (items.forall(_.isLeft)) core
          else {
            // composed functions: the exec emits the HIDDEN exact
            // buffer columns; each original output is restored by
            // Spark's OWN evaluateExpression over them (division,
            // CheckOverflowInSum, null-on-empty — all Spark's
            // semantics by construction), and the hidden columns are
            // narrowed away by this projection
            val outs: Seq[NamedExpression] = items.map {
              case scala.util.Left(f) => f.attr
              case scala.util.Right(c) => c.restore
            }
            Project(child.output ++ outs, core)
          }
        } else w
    }
  }
}

/** One global window output; `attr` keeps the original window alias's
  * exprId so parent operators resolve unchanged. */
sealed trait GlobalWinFunction { def attr: Attribute }

/** `kind` ∈ row_number | rank | dense_rank | percent_rank | ntile
  * (with `k`). */
case class GlobalRankFunction(kind: String, k: Int, attr: Attribute)
  extends GlobalWinFunction

/** `kind` ∈ sum | count | avg | min | max | first[_nn] | last[_nn] |
  * stddev_samp | stddev_pop | var_samp | var_pop over `valueExpr`,
  * running frame; `rowsFrame` = ROWS (per-row) vs RANGE (peer rows
  * share the value — the resolved SQL default under ORDER BY);
  * `exact` = ANSI sum overflow throws instead of wrapping (long) or
  * nulling (decimal); `nullOnDiv` = the variance-class
  * nullOnDivideByZero flag (n==1 samp → null vs legacy NaN); `n` =
  * nth_value's 1-based offset (kinds nth | nth_nn); `tryMode` = long
  * try_sum's sticky null-on-path-overflow semantics (round 18). */
case class GlobalRunningAgg(kind: String, valueExpr: Expression,
    rowsFrame: Boolean, attr: Attribute, exact: Boolean = false,
    nullOnDiv: Boolean = true, n: Int = 0, zeroEmpty: Boolean = false,
    tryMode: Boolean = false)
  extends GlobalWinFunction

/** A bounded sliding aggregate, ROWS BETWEEN `k` PRECEDING AND CURRENT
  * ROW: per row the value is recomputed over the last `k` boundary
  * rows plus the current row (oldest first, the plain window's replay
  * order). Cross-partition state is the same |k|-bounded tail slice
  * lag uses. `exact` = ANSI sum overflow semantics. */
case class GlobalBoundedAgg(kind: String, valueExpr: Expression,
    k: Int, attr: Attribute, exact: Boolean = false, tryMode: Boolean = false)
  extends GlobalWinFunction

/** Typed VALUE-distance test for RANGE k PRECEDING frames: whether a
  * buffered entry's order key falls outside the trailing window
  * anchored at a non-null current key. Frame-bound arithmetic matches
  * the plain window's own op (cur + lower in the KEY's numeric space,
  * incl. its type-edge overflow: ANSI throws exactly where the plain
  * window's Add would — review r18 finding). In LEGACY mode the plain
  * window WRAPS the bound in the key type — a bound past the type
  * edge lands on the key's other side, usually ABOVE the anchor, so
  * the anchor's own frame goes empty AND (because Spark's sliding
  * frame never moves its lower index backward) every buffered row up
  * to the anchor is evicted for all later rows too. r19 saturated
  * here instead (include everything); the differential fuzzer
  * (GlobalRankFuzzSpec, seed 1 trial 66: an int key at
  * Int.MinValue+33 under RANGE 51 PRECEDING) caught the divergence,
  * probed against the plain window (wrap → null, sticky eviction
  * confirmed on int/byte/ASC/DESC), and this version reproduces the
  * wrap bit for bit. */
sealed trait RangeDelta extends Serializable {
  def outside(entryKey: Any, curKey: Any): Boolean
  /** Evaluate the frame bound for a run anchor even when there is
    * nothing to evict, so ANSI overflow fails the query exactly where
    * the plain window (which computes every row's bound) would. */
  def check(curKey: Any): Unit = { outside(curKey, curKey); () }
  /** The anchor's own frame is empty — in legacy mode a wrapped bound
    * lands past the anchor, which also self-evicts the anchor's run
    * for every later row (the plain window's forward-only lower
    * index). False everywhere a bound stays on the anchor's side,
    * since `k PRECEDING` bounds are non-negative. */
  def emptiesFrame(curKey: Any): Boolean = outside(curKey, curKey)
}

/** Integral / date-days / timestamp-micros key space; `typeMin`/
  * `typeMax` are the KEY type's bounds (the plain window computes the
  * bound in that type) and `ansi` mirrors the session's overflow
  * posture at plan time. */
case class LongRangeDelta(k: Long, desc: Boolean,
    typeMin: Long, typeMax: Long, ansi: Boolean) extends RangeDelta {
  private def ansiThrow(): Nothing = throw new ArithmeticException(
    "RANGE frame bound overflows the ORDER BY key's type (ANSI mode) — " +
      "the plain single-partition window fails identically")
  /** Legacy bound: the unchecked subtraction/addition wrapped into the
    * key's own width — exactly the plain window's non-ANSI Add result
    * (java two's-complement for long keys; floorMod re-centering for
    * byte/short/int/date-days widths, which also reproduces the
    * multi-wrap of a bound magnitude larger than the whole domain). */
  private def wrapToWidth(raw: Long): Long =
    if (typeMin == Long.MinValue) raw
    else typeMin + java.lang.Math.floorMod(raw - typeMin, typeMax - typeMin + 1L)
  def outside(e: Any, c: Any): Boolean = {
    val ev = e.asInstanceOf[Number].longValue()
    val cv = c.asInstanceOf[Number].longValue()
    if (!desc) {
      if (ansi) {
        val bound = try Math.subtractExact(cv, k) catch {
          case _: ArithmeticException => ansiThrow()
        }
        if (bound < typeMin) ansiThrow()
        ev < bound
      } else ev < wrapToWidth(cv - k)
    } else {
      if (ansi) {
        val bound = try Math.addExact(cv, k) catch {
          case _: ArithmeticException => ansiThrow()
        }
        if (bound > typeMax) ansiThrow()
        ev > bound
      } else ev > wrapToWidth(cv + k)
    }
  }
}

/** Double keys. NaN sorts as the largest double in Spark's ordering,
  * so a NaN anchor admits only its NaN peers (ASC) and a NaN entry
  * under a non-NaN anchor is outside (DESC — the only direction where
  * a NaN entry can precede a non-NaN anchor). */
case class DoubleRangeDelta(k: Double, desc: Boolean) extends RangeDelta {
  def outside(e: Any, c: Any): Boolean = {
    val ev = e.asInstanceOf[Number].doubleValue()
    val cv = c.asInstanceOf[Number].doubleValue()
    if (cv.isNaN) return !ev.isNaN
    if (ev.isNaN) return true
    if (!desc) ev < cv - k else ev > cv + k
  }
}

/** Float keys — arithmetic stays in float space so the frame bound is
  * bit-identical to the plain window's float Add. */
case class FloatRangeDelta(k: Float, desc: Boolean) extends RangeDelta {
  def outside(e: Any, c: Any): Boolean = {
    val ev = e.asInstanceOf[Number].floatValue()
    val cv = c.asInstanceOf[Number].floatValue()
    if (cv.isNaN) return !ev.isNaN
    if (ev.isNaN) return true
    if (!desc) ev < cv - k else ev > cv + k
  }
}

/** Decimal keys — exact BigDecimal space, no overflow edge. */
case class DecimalRangeDelta(k: java.math.BigDecimal, desc: Boolean)
  extends RangeDelta {
  def outside(e: Any, c: Any): Boolean = {
    val ev = e.asInstanceOf[Decimal].toJavaBigDecimal
    val cv = c.asInstanceOf[Decimal].toJavaBigDecimal
    if (!desc) ev.compareTo(cv.subtract(k)) < 0
    else ev.compareTo(cv.add(k)) > 0
  }
}

/** Year-month interval frames (gr13): the bound is CALENDAR
  * arithmetic, so instead of a fixed delta this calls the very same
  * `DateTimeUtils` entry points the plain window's per-row bound
  * expressions evaluate (`DateAddYMInterval` -> `dateAddMonths`,
  * `TimestampAddYMInterval` -> `timestampAddMonths` with the
  * plan-time zone — UTC for NTZ, the session zone for zoned keys), so
  * end-of-month clamping, DST local-time resolution, and extreme-date
  * failures are identical by construction. Calendar bounds are NOT
  * monotone in the key (a bound landing in a DST spring-forward gap
  * shifts an hour later than a bound computed from a LATER key), but
  * both engines evict STICKILY — Spark's sliding frame never moves
  * its lower index backward, and the run deque only ever drops heads
  * in row order — so frames agree row for row even there (probed
  * under America/Los_Angeles in RangeRankRuleSpec). `months` is the
  * PRECEDING magnitude (>= 0). */
case class MonthsRangeDelta(months: Int, desc: Boolean, kind: Int,
    zoneId: String) extends RangeDelta {
  @transient private lazy val zone = java.time.ZoneId.of(zoneId)
  private def bound(cv: Long): Long = {
    val m = if (desc) months else -months
    if (kind == MonthsRangeDelta.DateKey)
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .dateAddMonths(cv.toInt, m).toLong
    else
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .timestampAddMonths(cv, m, zone)
  }
  def outside(e: Any, c: Any): Boolean = {
    val ev = e.asInstanceOf[Number].longValue()
    val cv = c.asInstanceOf[Number].longValue()
    if (!desc) ev < bound(cv) else ev > bound(cv)
  }
}
object MonthsRangeDelta {
  val DateKey = 0
  /** NTZ and zoned timestamps share the micros path; the zone encodes
    * the difference (UTC for NTZ — `zoneIdForType`'s rule). */
  val MicrosKey = 1
}

/** A value-bounded trailing aggregate, RANGE BETWEEN k PRECEDING AND
  * CURRENT ROW over the single order key: the frame is every row
  * whose key lies within `delta` of the current key, INCLUDING the
  * current row's whole peer run (RANGE upper CURRENT ROW absorbs
  * peers, so the value is computed once per tie run). Cross-partition
  * state is a per-run-compacted (key, accumulator) deque of the runs
  * still within `delta` of each partition's last key — bounded by the
  * number of distinct keys per value window, the data-density lever.
  * `exact` = ANSI sum overflow semantics. */
case class GlobalRangeAgg(kind: String, valueExpr: Expression,
    delta: RangeDelta, attr: Attribute, exact: Boolean = false,
    tryMode: Boolean = false)
  extends GlobalWinFunction

/** `lag`/`lead` normalized to a signed `shift` over the global row
  * order: positive looks behind, negative ahead, zero is the row
  * itself; `default` is the pre-evaluated foldable fallback. The exec
  * carries `|shift|`-bounded boundary-row slices between partitions —
  * the only cross-partition state offset functions need.
  * `ignoreNulls` counts only non-null values of `valueExpr` (the
  * forward-fill idiom); its boundary slices are per-COLUMN non-null
  * value slices rather than row slices, still `|shift|`-bounded. */
case class GlobalOffsetFunction(valueExpr: Expression, shift: Int,
    default: Any, attr: Attribute, ignoreNulls: Boolean = false)
  extends GlobalWinFunction

/** Logical twin of [[GlobalRankExec]] — opaque to further rewrites by
  * design: it is created AFTER pruning/pushdown settled (late rule
  * slot), so nothing needs to traverse it. `references` is overridden
  * because aggregate value expressions live inside [[GlobalWinFunction]]
  * payloads, invisible to QueryPlan's product-based expression walk. */
case class GlobalRankPlan(
    order: Seq[SortOrder],
    funcs: Seq[GlobalWinFunction],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ funcs.map(_.attr)
  override def producedAttributes: AttributeSet = AttributeSet(funcs.map(_.attr))
  override def references: AttributeSet = AttributeSet(
    order.flatMap(_.references) ++
      funcs.collect {
        case a: GlobalRunningAgg => a.valueExpr
        case b: GlobalBoundedAgg => b.valueExpr
        case r: GlobalRangeAgg => r.valueExpr
        case o: GlobalOffsetFunction => o.valueExpr
      }.flatMap(_.references))
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GlobalRankPlan =
    copy(child = newChild)
}

object GlobalRankStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = plan match {
    case GlobalRankPlan(order, funcs, child) =>
      GlobalRankExec(order, funcs, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Prefix-combinable running-aggregate state: built per partition in
  * job 1, prefix-merged on the driver (all five kinds are commutative
  * monoids), then replayed per row in job 2. Values arrive boxed from
  * `InternalRow.get` (UTF8String retained values are copied — the
  * projection reuses its buffer). */
private[plans] sealed trait RunningAcc extends Serializable {
  def add(v: Any): Unit
  def merge(o: RunningAcc): Unit
  def value: Any
  /** Back to the empty state — bounded sliding aggregates recompute
    * per row into ONE reused accumulator instead of allocating one per
    * row (round 17). */
  def reset(): Unit
}

/** Long running sum in 128-bit space (low word + overflow carry), so
  * every intermediate state is exact regardless of combine order. A
  * per-PARTITION subtotal may overflow while the true running prefix
  * never does (negative values elsewhere cancel it — review r16
  * finding), so overflow is decided only where the plain window would
  * decide it: at `value()`, per emitted row. `exact` (ANSI) throws
  * there; legacy mode returns the wrapped low word, which is exactly
  * Java's wrap of the true sum.
  *
  * `tryMode` (round 18): try_sum's STICKY null — Spark's buffer fails
  * its checked add the first time the accumulation path exits long
  * range and null + x stays null thereafter (probe-verified; bounded
  * frames recover only because each frame re-accumulates). The path's
  * 128-bit EXTREMES — (carry, s) pairs, lexicographically ordered
  * because true = carry·2^64 + s with |s| < 2^63 — compose under the
  * sequential-combine contract (the other path's points shift by this
  * total), and the path ever left long range ⇔ an extreme has
  * carry ≠ 0. */
private[plans] final class SumLongAcc(exact: Boolean, tryMode: Boolean = false,
    pathExact: Boolean = false)
  extends RunningAcc {
  var s = 0L; var carry = 0L; var seen = false
  // path extremes, meaningful in tryMode and pathExact (the empty
  // path's origin (0,0) is in-range and never triggers).
  //
  // `pathExact` (ADVICE r18): ANSI frames whose INTERMEDIATE prefixes
  // are never emitted — bounded ROWS, RANGE value frames, and the
  // within-tie-run stretch of running RANGE — must throw when the
  // accumulation PATH ever left long range, because the plain ANSI
  // window's checked add throws at that add even when the frame total
  // lands back in range (e.g. [Long.MaxValue, 1, -5]). Running ROWS
  // keeps pathExact=false: every prefix IS emitted there, so the
  // final-carry check already throws at exactly the first overflowing
  // row, while a per-partition subtotal overflow with an in-range
  // true prefix must NOT throw (review r16).
  var maxC = 0L; var maxS = 0L; var minC = 0L; var minS = 0L
  private def addRaw(x: Long): Unit = {
    val r = s + x
    if (((s ^ r) & (x ^ r)) < 0L) carry += (if (x > 0L) 1L else -1L)
    s = r
  }
  private def note(): Unit = if (tryMode || pathExact) {
    if (carry > maxC || (carry == maxC && s > maxS)) { maxC = carry; maxS = s }
    if (carry < minC || (carry == minC && s < minS)) { minC = carry; minS = s }
  }
  def add(v: Any): Unit = if (v != null) {
    addRaw(v.asInstanceOf[Number].longValue()); seen = true; note()
  }
  def merge(o: RunningAcc): Unit = {
    val t = o.asInstanceOf[SumLongAcc]
    if (t.seen) {
      if (tryMode || pathExact) {
        // o's rows come AFTER this state's (the sequential contract):
        // o's path points shift by THIS total, so the merged extremes
        // are this state's and (total + o's extremes)
        def shifted(oc: Long, os: Long): (Long, Long) = {
          val rs = s + os
          val rc = carry + oc +
            (if (((s ^ rs) & (os ^ rs)) < 0L) (if (os > 0L) 1L else -1L) else 0L)
          (rc, rs)
        }
        val (hc, hs) = shifted(t.maxC, t.maxS)
        if (hc > maxC || (hc == maxC && hs > maxS)) { maxC = hc; maxS = hs }
        val (lc, ls) = shifted(t.minC, t.minS)
        if (lc < minC || (lc == minC && ls < minS)) { minC = lc; minS = ls }
      }
      addRaw(t.s); carry += t.carry; seen = true
    }
  }
  def value: Any =
    if (!seen) null
    else if (tryMode && (maxC != 0L || minC != 0L)) null // sticky path overflow
    else if (pathExact && (maxC != 0L || minC != 0L)) throw new ArithmeticException(
      "long overflow in windowed SUM frame accumulation (ANSI mode)")
    else if (carry != 0L && exact) throw new ArithmeticException(
      "long overflow in running SUM (ANSI mode)")
    else java.lang.Long.valueOf(s)
  def reset(): Unit = {
    s = 0L; carry = 0L; seen = false
    maxC = 0L; maxS = 0L; minC = 0L; minS = 0L
  }
}

/** Exact decimal running sum in unbounded BigDecimal space; overflow
  * against the RESULT type's precision is decided only at `value()`,
  * per emitted row, exactly where Spark's Sum.checkOverflow decides
  * it: ANSI throws, legacy yields null (decimal sums never wrap). */
private[plans] final class SumDecimalAcc(resultType: DecimalType, exact: Boolean,
    zeroEmpty: Boolean = false)
  extends RunningAcc {
  var s: java.math.BigDecimal = java.math.BigDecimal.ZERO
  var seen = false
  def add(v: Any): Unit = if (v != null) {
    s = s.add(v.asInstanceOf[Decimal].toJavaBigDecimal); seen = true
  }
  def merge(o: RunningAcc): Unit = {
    val t = o.asInstanceOf[SumDecimalAcc]
    if (t.seen) { s = s.add(t.s); seen = true }
  }
  def value: Any =
    if (!seen) {
      // composed-avg buffer convention: Average's sum starts at ZERO,
      // not null (null would read as "overflowed during partial agg"
      // to CheckOverflowInSum)
      if (zeroEmpty) {
        val z = Decimal(java.math.BigDecimal.ZERO)
        z.changePrecision(resultType.precision, resultType.scale)
        z
      } else null
    }
    else {
      val d = Decimal(s)
      if (d.changePrecision(resultType.precision, resultType.scale)) d
      else if (exact) throw new ArithmeticException(
        s"Decimal overflow in running SUM: $s does not fit $resultType (ANSI mode)")
      else null
    }
  def reset(): Unit = { s = java.math.BigDecimal.ZERO; seen = false }
}

private[plans] final class SumDoubleAcc extends RunningAcc {
  var s = 0.0d; var seen = false
  def add(v: Any): Unit = if (v != null) { s += v.asInstanceOf[Number].doubleValue(); seen = true }
  def merge(o: RunningAcc): Unit = { val t = o.asInstanceOf[SumDoubleAcc]; if (t.seen) { s += t.s; seen = true } }
  def value: Any = if (seen) java.lang.Double.valueOf(s) else null
  def reset(): Unit = { s = 0.0d; seen = false }
}

private[plans] final class CountAcc extends RunningAcc {
  var n = 0L
  def add(v: Any): Unit = if (v != null) n += 1L
  def merge(o: RunningAcc): Unit = n += o.asInstanceOf[CountAcc].n
  def value: Any = java.lang.Long.valueOf(n)
  def reset(): Unit = n = 0L
}

private[plans] final class AvgAcc extends RunningAcc {
  var s = 0.0d; var n = 0L
  def add(v: Any): Unit = if (v != null) { s += v.asInstanceOf[Number].doubleValue(); n += 1L }
  def merge(o: RunningAcc): Unit = { val t = o.asInstanceOf[AvgAcc]; s += t.s; n += t.n }
  def value: Any = if (n == 0L) null else java.lang.Double.valueOf(s / n)
  def reset(): Unit = { s = 0.0d; n = 0L }
}

/** Welford running moments with Chan's parallel merge — the identical
  * (n, mean, M2) state and combine Spark's own CentralMomentAgg uses
  * for partial aggregation, so the prefix-combined result carries the
  * same ulp class as any partially-aggregated variance. `samp` picks
  * the n-1 divisor; `sqrtOut` takes the square root (stddev);
  * `nullOnDiv` is Spark's nullOnDivideByZero: n==1 sample variance is
  * null (modern default) or NaN (legacy flag). */
private[plans] final class MomentsAcc(samp: Boolean, sqrtOut: Boolean,
    nullOnDiv: Boolean) extends RunningAcc {
  var n = 0L; var mean = 0.0d; var m2 = 0.0d
  def add(v: Any): Unit = if (v != null) {
    val x = v.asInstanceOf[Number].doubleValue()
    n += 1L
    val d = x - mean
    mean += d / n
    m2 += d * (x - mean)
  }
  def merge(o: RunningAcc): Unit = {
    val t = o.asInstanceOf[MomentsAcc]
    if (t.n > 0L) {
      if (n == 0L) { n = t.n; mean = t.mean; m2 = t.m2 }
      else {
        val nn = n + t.n
        val d = t.mean - mean
        m2 += t.m2 + d * d * (n.toDouble * t.n.toDouble / nn.toDouble)
        mean += d * (t.n.toDouble / nn.toDouble)
        n = nn
      }
    }
  }
  def value: Any =
    if (n == 0L) null
    else if (samp && n == 1L) {
      if (nullOnDiv) null else java.lang.Double.valueOf(Double.NaN)
    } else {
      val v = m2 / (if (samp) n - 1L else n).toDouble
      java.lang.Double.valueOf(if (sqrtOut) math.sqrt(v) else v)
    }
  def reset(): Unit = { n = 0L; mean = 0.0d; m2 = 0.0d }
}

private[plans] final class MinMaxAcc(dt: DataType, isMin: Boolean) extends RunningAcc {
  var v: Any = null
  @transient private lazy val ord = TypeUtils.getInterpretedOrdering(dt)
  private def retain(x: Any): Any = x match {
    case u: UTF8String => u.copy()
    case other => other
  }
  def add(x: Any): Unit = if (x != null) {
    if (v == null) v = retain(x)
    else {
      val c = ord.compare(x, v)
      if (if (isMin) c < 0 else c > 0) v = retain(x)
    }
  }
  def merge(o: RunningAcc): Unit = {
    val t = o.asInstanceOf[MinMaxAcc]
    if (t.v != null) add(t.v)
  }
  def value: Any = v
  def reset(): Unit = v = null
}

/** first_value/last_value state. `merge(o)` treats `o`'s rows as
  * coming AFTER this state's rows — the sequential-combine contract
  * every accumulator here satisfies (the others are commutative, so
  * only this one cares). */
private[plans] final class FirstLastAcc(isFirst: Boolean, ignoreNulls: Boolean)
  extends RunningAcc {
  var v: Any = null; var seen = false
  private def retain(x: Any): Any = x match {
    case u: UTF8String => u.copy()
    case other => other
  }
  def add(x: Any): Unit = {
    if (ignoreNulls && x == null) return
    if (!isFirst || !seen) { v = retain(x); seen = true }
  }
  def merge(o: RunningAcc): Unit = {
    val t = o.asInstanceOf[FirstLastAcc]
    if (t.seen && (!isFirst || !seen)) { v = t.v; seen = true }
  }
  def value: Any = v
  def reset(): Unit = { v = null; seen = false }
}

/** nth_value state: the first `n` qualifying values of the prefix.
  * `merge(o)` treats `o`'s rows as coming AFTER this state's rows —
  * the sequential-combine contract (same as [[FirstLastAcc]]): the
  * prefix fills first, then `o`'s values top up to `n`. */
private[plans] final class NthValueAcc(n: Int, ignoreNulls: Boolean)
  extends RunningAcc {
  val buf = new scala.collection.mutable.ArrayBuffer[Any](math.min(n, 16))
  private def retain(x: Any): Any = x match {
    case u: UTF8String => u.copy()
    case other => other
  }
  def add(x: Any): Unit = {
    if (ignoreNulls && x == null) return
    if (buf.length < n) buf += retain(x)
  }
  def merge(o: RunningAcc): Unit = {
    val t = o.asInstanceOf[NthValueAcc]
    var i = 0
    // retain() again on merge (ADVICE r17): every buffered value already
    // passed add()'s retain, but re-copying here (n is maxOffset-capped,
    // so cheap) means no future state source can alias a reused
    // UnsafeRow-backed UTF8String through a merge
    while (buf.length < n && i < t.buf.length) { buf += retain(t.buf(i)); i += 1 }
  }
  def value: Any = if (buf.length >= n) buf(n - 1) else null
  def reset(): Unit = buf.clear()
}

/** Retained-value copy: boxed values read out of a reused projection
  * buffer must not alias it once they outlive the row (UTF8String is
  * the only InternalRow.get result that points into the row's bytes
  * for the atomic-leaf types the matchers admit). Top-level object so
  * both task closures use it without capturing the exec instance. */
private[plans] object RetainVal extends Serializable {
  def apply(x: Any): Any = x match {
    case u: UTF8String => u.copy()
    case other => other
  }
}

/** Per-partition job-1 state: row/tie-run counts, aggregate totals,
  * and the boundary slices offset functions need — the last `maxLag`
  * and first `maxLead` projected value rows, plus per-column NON-NULL
  * value slices for IGNORE NULLS offsets (`nnTails(f)` = the last
  * k_f non-null values of lag-nn function f's column; `nnHeads(f)` =
  * the first k_f non-null values of lead-nn function f's column). */
private[plans] case class GlobalRankPartStat(
    rows: Long, runs: Long, accs: Array[RunningAcc],
    tail: Array[InternalRow], head: Array[InternalRow],
    nnTails: Array[Array[Any]], nnHeads: Array[Array[Any]],
    rkTails: Array[Array[(Any, RunningAcc)]],
    // per RANGE-framed func: a legacy wrapped bound emptied the frame
    // somewhere in this partition, evicting every earlier buffered
    // run — the cross-partition prefix must be wiped before this
    // partition's tail replays (plain window's forward-only lower
    // index; GlobalRankFuzzSpec find, r20). For the shipped deltas the
    // wrap zone is always a key-PREFIX of the sort order (bound > cv
    // ⟺ cv within k·mod·width of the domain edge), so the wipe only
    // ever hits an already-empty prefix — carried as the invariant
    // any future non-prefix delta needs, not as a reachable branch.
    rkCleared: Array[Boolean])

object GlobalRankExec {
  /** Observability for the low-cardinality ORDER BY degrade warning
    * (VERDICT r15 item 2): total warnings logged by this JVM. */
  val degradeWarnCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Degrade detection fires only above this many input rows — below
    * it a handful of tasks is the right plan anyway. */
  val DegradeMinRows: Long = 1L << 20

  /** Largest |lag/lead offset| the rewrite accepts: the exec ships
    * up to this many boundary rows per partition to the driver. */
  val MaxOffsetKey = "spark.graft.globalrank.maxOffset"

  /** RANGE-path tie runs at or above this many rows log a task-side
    * warning and bump the `bigTieRuns` SQLMetric: a single hot peer
    * run is invisible to the driver-side degrade warning (which sees
    * only distinct-key counts), but it is the same scale cliff — the
    * run must be buffered whole. */
  val BigRunWarnRowsKey = "spark.graft.globalrank.bigRunWarnRows"

  /** JVM-local spec observability for the big-run warning (local mode
    * only — in cluster mode the SQLMetric and executor logs are the
    * real channel, exactly like degradeWarnCount's driver-side
    * counterpart). */
  val bigRunWarnCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** JVM-local spec observability for RANGE-path tie-run spills
    * (round 17): bumped once per fillRun whose buffer spilled to disk.
    * Cluster channel = the `tieRunSpillBytes` SQLMetric. */
  val tieRunSpillCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Lead-delay pending buffers at or above this many rows log a
    * task-side warning and bump the `bigLeadPends` SQLMetric (round
    * 18): an IGNORE NULLS lead's pending span is bounded by the
    * longest null run of its column — a mostly-null column is the
    * per-column twin of a hot tie run (the plain window buffers the
    * whole frame either way, but spillably; this buffer is heap). */
  val PendWarnRowsKey = "spark.graft.globalrank.pendWarnRows"

  /** JVM-local spec observability for the pending-lead warning. */
  val leadPendWarnCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Hard cap on a RANGE value window's per-partition (key, acc)
    * entries (round-18 review finding: unlike the ROWS path's
    * plan-time maxOffset cap, the value window's entry count is
    * data-dependent — distinct keys per window — and the per-partition
    * tails are driver-collected and broadcast, so an uncapped wide
    * window over dense unique keys OOMs the driver). Past the cap the
    * query fails LOUDLY with the remedy named; an eighth of the cap
    * logs a warning with the driver math. */
  val MaxRangeEntriesKey = "spark.graft.globalrank.maxRangeWindowEntries"

  /** JVM-local spec observability for the range-window-entries warn. */
  val rangeWindowWarnCount = new java.util.concurrent.atomic.AtomicLong(0L)
}

/**
 * Physical global ranking / running aggregation over a
 * range-partitioned, locally-sorted child (both REQUIRED below, both
 * inserted by EnsureRequirements — this node never shuffles or sorts
 * itself):
 *
 *  - job 1 (bounded): per-partition row counts, tie-run counts, and
 *    running-aggregate totals — ≤ numPartitions small states to the
 *    driver, prefix-combined there (`RDD.zipWithIndex`'s design; the
 *    shuffle's map side runs once and is REUSED by job 2, only the
 *    cheap local re-sort repeats).
 *  - job 2 (the output): per partition, global rank = offset + local
 *    position, running aggregate = prefix total then local adds, ties
 *    detected with the generated SortOrder comparator (NOT UnsafeRow
 *    byte equality — -0.0/0.0 and NaN-bit ties must not split a run).
 *    When any RANGE-framed aggregate is present the partition streams
 *    run-by-run (one tie run buffered at a time — the peer rows must
 *    all be absorbed before any of them emits; memory is bounded by
 *    the largest tie run, the same bound Spark's own WindowExec has
 *    for RANGE frames); otherwise it streams row-by-row with no
 *    buffering at all.
 *
 * Output types match Spark's window functions exactly (IntegerType
 * for the rank counts — including their documented wrap past 2^31
 * rows — DoubleType for percent_rank, Long/Double for sum by input
 * class, Long for count, Double for avg, input type for min/max).
 *
 * Degrade visibility (VERDICT r15 item 2): exactness requires tie
 * runs not to straddle range boundaries, so an ORDER BY with K
 * distinct values runs at most K tasks regardless of the target
 * partition count. Job 1 knows K exactly when runs are tracked
 * (Σ per-partition runs — equal keys never straddle partitions), and
 * the count of non-empty partitions bounds it otherwise; above
 * [[GlobalRankExec.DegradeMinRows]] input rows (1M) a
 * degenerate exchange logs a warning naming the composite-key remedy.
 */
case class GlobalRankExec(
    order: Seq[SortOrder],
    funcs: Seq[GlobalWinFunction],
    child: org.apache.spark.sql.execution.SparkPlan)
  extends org.apache.spark.sql.execution.UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ funcs.map(_.attr)
  override def producedAttributes: AttributeSet = AttributeSet(funcs.map(_.attr))
  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "bigTieRuns" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "tie runs over the buffer warn threshold"),
    "tieRunSpillBytes" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createSizeMetric(sparkContext, "tie-run buffer spill size"),
    "bigLeadPends" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "lead pending buffers over the warn threshold"))
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)
  override def outputOrdering: Seq[SortOrder] = order
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.execution.SparkPlan): GlobalRankExec =
    copy(child = newChild)

  private val rankFuncs = funcs.collect { case r: GlobalRankFunction => r }
  private val aggFuncs = funcs.collect { case a: GlobalRunningAgg => a }
  private val boundedFuncs = funcs.collect { case b: GlobalBoundedAgg => b }
  private val rangeKFuncs = funcs.collect { case r: GlobalRangeAgg => r }

  /** Tie-run boundaries are needed by the tie-aware ranks AND by any
    * RANGE-framed aggregate (running or value-bounded — peer rows
    * share its value). */
  private val needRuns = rankFuncs.exists(r =>
    r.kind == "rank" || r.kind == "dense_rank" || r.kind == "percent_rank" ||
      r.kind == "cume_dist") ||
    aggFuncs.exists(!_.rowsFrame) || rangeKFuncs.nonEmpty

  /** cume_dist needs the CURRENT run's length before any of its rows
    * emit (numerator = position of the run's LAST peer), so it forces
    * the run-buffered path even without RANGE aggregates; value-
    * bounded RANGE frames absorb peers the same way. */
  private val anyRangeAgg = aggFuncs.exists(!_.rowsFrame) ||
    rankFuncs.exists(_.kind == "cume_dist") || rangeKFuncs.nonEmpty

  /** Fresh attrs for the projected order keys, so the tie comparator
    * binds to the key row, not the full child row (no full-row copies
    * at run boundaries — only the key is retained). */
  private def keyAttrs: Seq[Attribute] = order.map(so =>
    AttributeReference("__grk", so.child.dataType, so.child.nullable)())

  /** The five kinds both frame shapes share get ONE constructor map,
    * mirroring [[RangeRankRewrite.asCommonAgg]] — the matcher and the
    * factory must stay in lockstep or the two paths silently diverge
    * (review r17 finding). */
  private def newCommonAcc(kind: String, resultDt: DataType,
      valueDt: DataType, exact: Boolean,
      zeroEmpty: Boolean = false, tryMode: Boolean = false,
      pathExact: Boolean = false): Option[RunningAcc] = kind match {
    case "sum" => Some(resultDt match {
      case LongType => new SumLongAcc(exact, tryMode, pathExact)
      case d: DecimalType => new SumDecimalAcc(d, exact, zeroEmpty)
      case _ => new SumDoubleAcc // double never overflows: TRY = plain
    })
    case "count" => Some(new CountAcc)
    case "avg" => Some(new AvgAcc)
    case "min" => Some(new MinMaxAcc(valueDt, isMin = true))
    case "max" => Some(new MinMaxAcc(valueDt, isMin = false))
    case _ => None
  }

  private def newAcc(a: GlobalRunningAgg): RunningAcc =
    newCommonAcc(a.kind, a.attr.dataType, a.valueExpr.dataType, a.exact, a.zeroEmpty,
        a.tryMode,
        // running RANGE absorbs whole tie runs before emitting — its
        // within-run prefixes are unemitted, so ANSI must throw on
        // path overflow there; running ROWS emits every prefix
        pathExact = a.exact && !a.rowsFrame)
      .getOrElse(a.kind match {
    case "first" => new FirstLastAcc(isFirst = true, ignoreNulls = false)
    case "first_nn" => new FirstLastAcc(isFirst = true, ignoreNulls = true)
    case "last" => new FirstLastAcc(isFirst = false, ignoreNulls = false)
    case "last_nn" => new FirstLastAcc(isFirst = false, ignoreNulls = true)
    case "nth" => new NthValueAcc(a.n, ignoreNulls = false)
    case "nth_nn" => new NthValueAcc(a.n, ignoreNulls = true)
    case "stddev_samp" => new MomentsAcc(samp = true, sqrtOut = true, a.nullOnDiv)
    case "stddev_pop" => new MomentsAcc(samp = false, sqrtOut = true, a.nullOnDiv)
    case "var_samp" => new MomentsAcc(samp = true, sqrtOut = false, a.nullOnDiv)
    case "var_pop" => new MomentsAcc(samp = false, sqrtOut = false, a.nullOnDiv)
    case other => throw new IllegalStateException(
      s"GlobalRankExec: unknown running aggregate $other")
  })

  private def newBoundedAcc(b: GlobalBoundedAgg): RunningAcc =
    newCommonAcc(b.kind, b.attr.dataType, b.valueExpr.dataType, b.exact,
        tryMode = b.tryMode, pathExact = b.exact)
      .getOrElse(throw new IllegalStateException(
        s"GlobalRankExec: unknown bounded sliding aggregate ${b.kind}"))

  protected override def doExecute(): RDD[InternalRow] = {
    val childRDD = child.execute()
    val orderExprs = order.map(_.child)
    val childOutput = child.output
    val ka = keyAttrs
    val keyOrder = order.zip(ka).map { case (so, a) => so.copy(child = a) }
    val trackRuns = needRuns
    val aggs = aggFuncs.toArray
    val aggExprs = aggs.map(_.valueExpr).toSeq
    val aggDts = aggs.map(_.valueExpr.dataType)
    val mkAccs: () => Array[RunningAcc] = { val fs = aggs; () => fs.map(newAcc) }
    val allOffs = funcs.collect { case o: GlobalOffsetFunction => o }.toArray
    // regular offsets keep the row-slice machinery; IGNORE NULLS
    // offsets carry per-COLUMN non-null value slices instead (a null
    // row contributes nothing to an nn slice, so row slices can't
    // serve them)
    val offs = allOffs.filter(!_.ignoreNulls)
    val nnLags = allOffs.filter(o => o.ignoreNulls && o.shift > 0)
    val nnLeads = allOffs.filter(o => o.ignoreNulls && o.shift < 0)
    val bnds = boundedFuncs.toArray
    // ONE boundary-value projection serves lag/lead (plain and IGNORE
    // NULLS) and bounded sliding aggregates: they need the same thing
    // — a |k|-bounded slice of projected values at each range-partition
    // boundary. Value expressions are DEDUPED by canonical form (lag(x)
    // + a moving SUM(x) ship x once per boundary row, not twice — the
    // slices ride every ring entry, job-1 tail/head row, and the
    // driver broadcast); bndSlotIdx maps each function's slot to its
    // shared column (review r17 finding).
    val bndSlotIdx: Array[Int] = {
      val seen = scala.collection.mutable.HashMap.empty[Expression, Int]
      ((offs ++ nnLags ++ nnLeads).map(_.valueExpr) ++ bnds.map(_.valueExpr)).map { e =>
        seen.getOrElseUpdate(e.canonicalized, seen.size)
      }.toArray
    }
    val nnLagColBase = offs.length
    val nnLeadColBase = nnLagColBase + nnLags.length
    val bndColBase = nnLeadColBase + nnLeads.length
    val bndExprs: Seq[Expression] = {
      val out = new Array[Expression](if (bndSlotIdx.isEmpty) 0 else bndSlotIdx.max + 1)
      ((offs ++ nnLags ++ nnLeads).map(_.valueExpr) ++ bnds.map(_.valueExpr))
        .zip(bndSlotIdx).foreach {
          case (e, i) => if (out(i) == null) out(i) = e
        }
      out.toSeq
    }
    val bndDts = bndExprs.map(_.dataType).toArray
    val maxLag = if (offs.isEmpty) 0 else math.max(0, offs.map(_.shift).max)
    val maxLead = if (offs.isEmpty) 0 else math.max(0, offs.map(-_.shift).max)
    val maxBoundedK = if (bnds.isEmpty) 0 else bnds.map(_.k).max
    val maxTail = math.max(maxLag, maxBoundedK)
    val nnLagKs = nnLags.map(_.shift)
    val nnLeadKs = nnLeads.map(o => -o.shift)
    // value-bounded RANGE frames: per-func value projection + the
    // single order key's type (matcher guarantees orderSpec.length==1
    // when rks is non-empty)
    val rks = rangeKFuncs.toArray
    val rkExprs = rks.map(_.valueExpr).toSeq
    val rkDts = rks.map(_.valueExpr.dataType)
    val rkDeltas = rks.map(_.delta)
    val keyDt0 = order.head.child.dataType
    val mkRkAcc: Int => RunningAcc = { val fs = rks
      f => newCommonAcc(fs(f).kind, fs(f).attr.dataType,
        fs(f).valueExpr.dataType, fs(f).exact,
        tryMode = fs(f).tryMode, pathExact = fs(f).exact).getOrElse(
          throw new IllegalStateException(
            s"GlobalRankExec: unknown range aggregate ${fs(f).kind}"))
    }
    val mkRkAccs: () => Array[RunningAcc] = { val fs = rks
      () => Array.tabulate(fs.length)(mkRkAcc)
    }
    val maxRangeEntries = scala.util.Try(conf.getConfString(
      GlobalRankExec.MaxRangeEntriesKey).toInt).getOrElse(1 << 20)
    // loud refusal + early warning on range-window entry growth (the
    // driver collects AND broadcasts per-partition tails); a function
    // val so both task closures share it without capturing the exec
    val guardRangeEntries: Int => Unit = { val cap = maxRangeEntries
      (len: Int) => {
        if (len > cap) throw new IllegalStateException(
          s"GlobalRankExec: a RANGE value window holds $len (key, accumulator) " +
            s"run entries in one partition, over ${GlobalRankExec.MaxRangeEntriesKey}=$cap. " +
            "Entries = distinct ORDER BY keys inside the value window, and " +
            "per-partition tails are driver-collected and broadcast " +
            "(partitions x entries x ~40 B on the driver). Remedies: a coarser " +
            "key or narrower frame; raise the cap; or set " +
            s"spark.graft.rangerank.minBytes=${Long.MaxValue} to keep the " +
            "plain single-partition window.")
        if (len == math.max(cap >> 3, 1)) {
          GlobalRankExec.rangeWindowWarnCount.incrementAndGet()
          org.slf4j.LoggerFactory.getLogger(classOf[GlobalRankExec]).warn(
            s"GlobalRankExec: RANGE value window reached $len run entries in one " +
              s"partition (warning at cap/8; ${GlobalRankExec.MaxRangeEntriesKey}=$cap). " +
              "Driver cost is partitions x entries x ~40 B — check the window " +
              "width against the key density.")
        }
      }
    }

    // job 1: per-partition row/run counts, aggregate totals, and the
    // boundary slices offsets + bounded frames need — the last
    // maxTail and first maxLead projected value rows per partition
    val stats: Array[GlobalRankPartStat] = childRDD
      .mapPartitionsWithIndex { (i, it) =>
        val keyProj = UnsafeProjection.create(orderExprs, childOutput)
        val cmp = RowOrdering.create(keyOrder, ka)
        val aggProj = if (aggs.isEmpty) null else UnsafeProjection.create(aggExprs, childOutput)
        val bndProj = if (bndExprs.isEmpty) null else UnsafeProjection.create(bndExprs, childOutput)
        val rkProj = if (rks.isEmpty) null else UnsafeProjection.create(rkExprs, childOutput)
        val accs = mkAccs()
        val headBuf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        val tailDq = new java.util.ArrayDeque[InternalRow]()
        // IGNORE NULLS boundary slices: last k_f non-null values (lag)
        // / first k_f non-null values (lead), per column — k-bounded
        // like the row slices
        val nnTailDqs = nnLags.map(_ => scala.collection.mutable.ArrayDeque.empty[Any])
        val nnHeadBufs = nnLeads.map(_ => scala.collection.mutable.ArrayBuffer.empty[Any])
        // RANGE k PRECEDING boundary slices: per func, the tie runs
        // still within delta of the partition's last key, compacted to
        // one (key, acc) entry per run. Null-key runs never enter (the
        // null peer group's frame is itself, and a null key can never
        // match a non-null anchor).
        val rkDqs = rks.map(_ => scala.collection.mutable.ArrayDeque.empty[(Any, RunningAcc)])
        val rkClearedArr = new Array[Boolean](rks.length)
        var rkRunAccs = if (rks.isEmpty) null else mkRkAccs()
        def closeRkRun(kv: Any): Unit = if (rks.nonEmpty) {
          if (kv != null) {
            var f = 0
            while (f < rks.length) {
              // bound evaluated per run even with nothing to evict —
              // ANSI overflow must fail exactly where the plain
              // window's per-row bound evaluation would
              rkDeltas(f).check(kv)
              val dq = rkDqs(f)
              if (rkDeltas(f).emptiesFrame(kv)) {
                // legacy wrapped bound: the run self-evicts along with
                // everything buffered before it (sticky lower index)
                dq.clear()
                rkClearedArr(f) = true
              } else {
                while (dq.nonEmpty && rkDeltas(f).outside(dq.head._1, kv)) dq.removeHead()
                dq.append((kv, rkRunAccs(f)))
                guardRangeEntries(dq.length)
              }
              f += 1
            }
            rkRunAccs = mkRkAccs()
          } else {
            var f = 0
            while (f < rks.length) { rkRunAccs(f).reset(); f += 1 }
          }
        }
        var prevKeyVal: Any = null
        var n = 0L; var runs = 0L
        var prev: UnsafeRow = null
        while (it.hasNext) {
          val row = it.next()
          if (trackRuns) {
            val k = keyProj(row)
            if (prev == null || cmp.compare(prev, k) != 0) {
              if (prev != null) closeRkRun(prevKeyVal)
              runs += 1; prev = k.copy()
              if (rks.nonEmpty)
                prevKeyVal = if (prev.isNullAt(0)) null
                  else RetainVal(prev.get(0, keyDt0))
            }
          }
          if (rks.nonEmpty) {
            val rr = rkProj(row)
            var f = 0
            while (f < rks.length) {
              rkRunAccs(f).add(if (rr.isNullAt(f)) null else rr.get(f, rkDts(f)))
              f += 1
            }
          }
          if (accs.nonEmpty) {
            val ar = aggProj(row)
            var j = 0
            while (j < accs.length) {
              accs(j).add(if (ar.isNullAt(j)) null else ar.get(j, aggDts(j)))
              j += 1
            }
          }
          if (bndProj != null) {
            val pr = bndProj(row)
            var f = 0
            while (f < nnLags.length) {
              val ci = bndSlotIdx(nnLagColBase + f)
              if (!pr.isNullAt(ci)) {
                val dq = nnTailDqs(f)
                if (dq.length == nnLagKs(f)) dq.removeHead()
                dq.append(RetainVal(pr.get(ci, bndDts(ci))))
              }
              f += 1
            }
            f = 0
            while (f < nnLeads.length) {
              val ci = bndSlotIdx(nnLeadColBase + f)
              if (!pr.isNullAt(ci) && nnHeadBufs(f).length < nnLeadKs(f))
                nnHeadBufs(f) += RetainVal(pr.get(ci, bndDts(ci)))
              f += 1
            }
            if (maxTail > 0 || maxLead > 0) {
              val prc = pr.copy()
              if (maxLead > 0 && headBuf.length < maxLead) headBuf += prc
              if (maxTail > 0) {
                if (tailDq.size == maxTail) tailDq.removeFirst()
                tailDq.addLast(prc)
              }
            }
          }
          n += 1L
        }
        if (prev != null) closeRkRun(prevKeyVal)
        Iterator.single((i, GlobalRankPartStat(n, runs, accs,
          tailDq.toArray(new Array[InternalRow](tailDq.size)), headBuf.toArray,
          nnTailDqs.map(_.toArray), nnHeadBufs.map(_.toArray),
          rkDqs.map(_.toArray), rkClearedArr)))
      }
      .collect().sortBy(_._1).map(_._2)

    val rowOffsets = stats.scanLeft(0L)(_ + _.rows)
    val runOffsets = stats.scanLeft(0L)(_ + _.runs)
    val total = rowOffsets.last
    // prefix aggregate states: prefixAccs(i) = combined totals of
    // partitions 0..i-1 (≤ numPartitions × |aggs| small objects)
    val prefixAccs: Array[Array[RunningAcc]] = {
      val out = new Array[Array[RunningAcc]](stats.length + 1)
      out(0) = mkAccs()
      var i = 0
      while (i < stats.length) {
        val next = mkAccs()
        var j = 0
        while (j < next.length) {
          next(j).merge(out(i)(j)); next(j).merge(stats(i).accs(j)); j += 1
        }
        out(i + 1) = next
        i += 1
      }
      out
    }
    // tail seeds: the last maxTail value rows BEFORE partition i (a
    // short partition contributes its whole tail, so concatenating
    // tails in order and keeping the last maxTail is exact) — consumed
    // by lag rings AND bounded sliding frames; lead seeds: the first
    // maxLead value rows AFTER partition i
    val prefixTails: Array[Array[InternalRow]] = {
      val out = new Array[Array[InternalRow]](stats.length)
      val dq = new java.util.ArrayDeque[InternalRow]()
      var i = 0
      while (i < stats.length) {
        out(i) = dq.toArray(new Array[InternalRow](dq.size))
        stats(i).tail.foreach { r =>
          if (maxTail > 0) {
            if (dq.size == maxTail) dq.removeFirst()
            dq.addLast(r)
          }
        }
        i += 1
      }
      out
    }
    val suffixHeads: Array[Array[InternalRow]] = {
      val out = new Array[Array[InternalRow]](stats.length)
      var acc = Vector.empty[InternalRow]
      var i = stats.length - 1
      while (i >= 0) {
        out(i) = acc.toArray
        acc = (stats(i).head.toVector ++ acc).take(maxLead)
        i -= 1
      }
      out
    }
    // IGNORE NULLS prefix/suffix slices: same shape as the row slices,
    // but per nn function — concatenating per-partition non-null tails
    // in order and keeping the last k_f is exact (a short partition
    // contributes its whole tail), mirroring prefixTails
    val prefixNnTails: Array[Array[Array[Any]]] = {
      val out = new Array[Array[Array[Any]]](stats.length)
      val dqs = nnLags.map(_ => scala.collection.mutable.ArrayDeque.empty[Any])
      var i = 0
      while (i < stats.length) {
        out(i) = dqs.map(_.toArray)
        var f = 0
        while (f < nnLags.length) {
          stats(i).nnTails(f).foreach { v =>
            val dq = dqs(f)
            if (dq.length == nnLagKs(f)) dq.removeHead()
            dq.append(v)
          }
          f += 1
        }
        i += 1
      }
      out
    }
    val suffixNnHeads: Array[Array[Array[Any]]] = {
      val out = new Array[Array[Array[Any]]](stats.length)
      var acc: Array[Vector[Any]] = nnLeads.map(_ => Vector.empty[Any])
      var i = stats.length - 1
      while (i >= 0) {
        out(i) = acc.map(_.toArray)
        acc = Array.tabulate(nnLeads.length)(f =>
          (stats(i).nnHeads(f).toVector ++ acc(f)).take(nnLeadKs(f)))
        i -= 1
      }
      out
    }
    // RANGE k PRECEDING prefix slices: per func, the runs from ALL
    // previous partitions still within delta of the running last key —
    // concatenating per-partition deques in order with the same
    // eviction is exact: eviction is STICKY (heads drop in row order
    // and never return), which is also precisely the plain sliding
    // frame's behavior — its lower index never moves backward — so
    // the two agree even for calendar bounds that are non-monotone in
    // the key (MonthsRangeDelta across a DST gap)
    val prefixRkTails: Array[Array[Array[(Any, RunningAcc)]]] = {
      val out = new Array[Array[Array[(Any, RunningAcc)]]](stats.length)
      val dqs = rks.map(_ => scala.collection.mutable.ArrayDeque.empty[(Any, RunningAcc)])
      var i = 0
      while (i < stats.length) {
        out(i) = dqs.map(_.toArray)
        var f = 0
        while (f < rks.length) {
          // a wrapped-bound clear inside partition i evicted every
          // run buffered before it — wipe the accumulated prefix
          // BEFORE replaying the (post-clear) tail entries
          if (stats(i).rkCleared(f)) dqs(f).clear()
          stats(i).rkTails(f).foreach { case (k, a) =>
            val dq = dqs(f)
            while (dq.nonEmpty && rkDeltas(f).outside(dq.head._1, k)) dq.removeHead()
            dq.append((k, a))
          }
          f += 1
        }
        i += 1
      }
      out
    }
    // BROADCAST the per-partition state (O(P × (|aggs| + maxLag +
    // maxLead + Σk_nn + range-window runs)) objects): in the task
    // closure it would serialize into EVERY task — O(P²) aggregate
    // shipping at cluster scale (review r16 finding). Tasks only read
    // it, never mutate.
    val bcState = sparkContext.broadcast(
      (prefixAccs, prefixTails, suffixHeads, prefixNnTails, suffixNnHeads,
        prefixRkTails))

    // degrade visibility: K distinct order keys < target partitions
    // means the range exchange degenerated to ≤K tasks on the whole
    // frame — correct, but a silent scale cliff without this warning
    // the baseline is the INTENDED parallelism, not stats.length: the
    // range partitioner itself collapses to ≤K partitions when the
    // sampled key has K distinct values, so the degenerate exchange
    // looks "full" by actual partition count
    val targetParts = scala.util.Try(
      conf.getConfString("spark.sql.shuffle.partitions").toInt).getOrElse(200)
    if (total >= GlobalRankExec.DegradeMinRows && targetParts > 1) {
      val nonEmpty = stats.count(_.rows > 0L)
      val distinct = if (trackRuns) runOffsets.last else -1L
      val degenerate =
        (trackRuns && distinct < targetParts) ||
          (!trackRuns && nonEmpty <= targetParts / 2 && targetParts >= 4)
      if (degenerate) {
        GlobalRankExec.degradeWarnCount.incrementAndGet()
        logWarning(s"GlobalRankExec: ORDER BY ${order.map(_.sql).mkString(", ")} has " +
          (if (distinct >= 0) s"only $distinct distinct values" else s"only $nonEmpty non-empty partitions") +
          s" over $total rows — the range exchange degenerated to ≤" +
          s"${if (distinct >= 0) distinct else nonEmpty} tasks of the $targetParts intended " +
          "(exactness requires tie runs not to straddle range boundaries; " +
          "'intended' is spark.sql.shuffle.partitions — under AQE " +
          "coalescing or an explicit repartition the real target may " +
          "differ, so treat this as a scale heuristic, not a plan fact). " +
          "Remedy: append a high-cardinality tiebreaker column to ORDER BY.")
      }
    }

    // output slots follow the ORIGINAL window-expression order: slot c
    // is a rank kind, an index into the accumulator arrays, or an
    // index into the offset-function array
    val slotRank: Array[(String, Int)] = funcs.map {
      case r: GlobalRankFunction => (r.kind, r.k)
      case _ => null
    }.toArray
    val slotAgg: Array[Int] = {
      var j = -1
      funcs.map {
        case _: GlobalRunningAgg => j += 1; j
        case _ => -1
      }.toArray
    }
    val slotRk: Array[Int] = {
      var j = -1
      funcs.map {
        case _: GlobalRangeAgg => j += 1; j
        case _ => -1
      }.toArray
    }
    // slot arrays are subset-filtered in the SAME funcs order as the
    // offs/nnLags/nnLeads splits above, so slot(j) pairs with subset(j)
    val offSlots: Array[Int] = funcs.zipWithIndex.collect {
      case (o: GlobalOffsetFunction, c) if !o.ignoreNulls => c
    }.toArray
    val nnLagSlots: Array[Int] = funcs.zipWithIndex.collect {
      case (o: GlobalOffsetFunction, c) if o.ignoreNulls && o.shift > 0 => c
    }.toArray
    val nnLeadSlots: Array[Int] = funcs.zipWithIndex.collect {
      case (o: GlobalOffsetFunction, c) if o.ignoreNulls && o.shift < 0 => c
    }.toArray
    val bndSlots: Array[Int] = funcs.zipWithIndex.collect {
      case (_: GlobalBoundedAgg, c) => c
    }.toArray
    val mkBndAccs: () => Array[RunningAcc] = { val fs = bnds; () => fs.map(newBoundedAcc) }
    val nSlots = funcs.length
    val rowsFrames = aggs.map(_.rowsFrame)
    val bufferRuns = anyRangeAgg
    // nn leads also ride the delay wrapper: a pending row emits once
    // its k-th following non-null has been pulled (or at drain)
    val delayLeads = maxLead > 0 || nnLeads.nonEmpty
    // spill posture (VERDICT r16 item 1): the RANGE-path tie-run
    // buffer rides WindowExec's own spillable array with WindowExec's
    // own thresholds, so a hot peer run spills to disk exactly where
    // the plain window would instead of OOMing
    val inMemThreshold = conf.windowExecBufferInMemoryThreshold
    val spillRowsThreshold = conf.windowExecBufferSpillThreshold
    val spillSizeThreshold = conf.windowExecBufferSpillSizeThreshold

    // job 2: emit child row ++ window columns (same shuffle, re-sorted)
    val numOutputRows = longMetric("numOutputRows")
    val bigTieRuns = longMetric("bigTieRuns")
    val tieRunSpillBytes = longMetric("tieRunSpillBytes")
    val bigRunWarnRows = scala.util.Try(conf.getConfString(
      GlobalRankExec.BigRunWarnRowsKey).toLong).getOrElse(4L << 20)
    val pendWarnRows = scala.util.Try(conf.getConfString(
      GlobalRankExec.PendWarnRowsKey).toLong).getOrElse(4L << 20)
    val bigLeadPends = longMetric("bigLeadPends")
    childRDD.mapPartitionsWithIndex { (i, it) =>
      val keyProj = UnsafeProjection.create(orderExprs, childOutput)
      val cmp = RowOrdering.create(keyOrder, ka)
      val aggProj = if (aggs.isEmpty) null else UnsafeProjection.create(aggExprs, childOutput)
      val funcRow = new GenericInternalRow(nSlots)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(
        childOutput ++ funcs.map(_.attr), childOutput ++ funcs.map(_.attr))
      val rowOff = rowOffsets(i)
      val runOff = runOffsets(i)
      val (prefixAccsB, prefixTailsB, suffixHeadsB, prefixNnTailsB, suffixNnHeadsB,
        prefixRkTailsB) = bcState.value
      // start from a FRESH state merged with the prefix: tasks must
      // never mutate the broadcast prefix objects (attempt re-runs)
      val rowsAccs = mkAccs()
      val rangeAccs = mkAccs()
      var j = 0
      while (j < aggs.length) {
        rowsAccs(j).merge(prefixAccsB(i)(j)); rangeAccs(j).merge(prefixAccsB(i)(j)); j += 1
      }
      var localIdx = 0L; var runStart = 0L; var localRuns = 0L
      var runLen = 0L // current tie run's length (run-buffered path only)

      // value-bounded RANGE frames: per-func (key, acc) deque seeded
      // with the cross-partition prefix slice; one value per tie run
      val rkProj = if (rks.isEmpty) null else UnsafeProjection.create(rkExprs, childOutput)
      var rkRunAccs = if (rks.isEmpty) null else mkRkAccs()
      val rkDqs = rks.indices.map { f =>
        val dq = scala.collection.mutable.ArrayDeque.empty[(Any, RunningAcc)]
        prefixRkTailsB(i)(f).foreach(dq.append)
        dq
      }.toArray
      val rkValues = new Array[Any](rks.length)

      def extract(ar: InternalRow, j: Int): Any =
        if (ar.isNullAt(j)) null else ar.get(j, aggDts(j))

      // boundary-value machinery: a ring of the last maxTail projected
      // value rows, seeded with the cross-partition prefix slice —
      // serves lag (distance = shift) AND bounded sliding frames
      // (distances 1..k); s = 0 reads the current row; s < 0 (lead)
      // slots are filled by the delay wrapper below
      val bndProj = if (bndExprs.isEmpty) null else UnsafeProjection.create(bndExprs, childOutput)
      val bndAccs = mkBndAccs()
      val lagCap = math.max(maxTail, 1)
      val lagRing = new Array[InternalRow](lagCap)
      var lagPushed = 0L
      prefixTailsB(i).foreach { r =>
        lagRing((lagPushed % lagCap).toInt) = r; lagPushed += 1
      }
      // IGNORE NULLS lag rings: per function, the last k_f NON-NULL
      // column values, seeded with the prefix-combined nn tail —
      // ring((pushed - k) % k) is the k-th most recent non-null
      // strictly before the current row
      val nnLagRings: Array[Array[Any]] = nnLagKs.map(k => new Array[Any](k))
      val nnLagPushed = new Array[Long](nnLags.length)
      locally {
        var f = 0
        while (f < nnLags.length) {
          prefixNnTailsB(i)(f).foreach { v =>
            nnLagRings(f)((nnLagPushed(f) % nnLagKs(f)).toInt) = v
            nnLagPushed(f) += 1
          }
          f += 1
        }
      }
      def extractOff(pr: InternalRow, oi: Int): Any =
        if (pr.isNullAt(oi)) null else pr.get(oi, bndDts(oi))
      // s == 0 reads the LIVE projection buffer, which the next row's
      // fillOffsets overwrites — unsafe once the lead-delay wrapper
      // holds the value past this row (review r16 finding). Ring/seed
      // reads are safe: those rows are retained copies. ONE retained-
      // value discipline for the whole file (review r18): delegate.
      def retainOff(v: Any): Any = RetainVal(v)
      def fillOffsets(row: InternalRow): Unit =
          if (offs.nonEmpty || bnds.nonEmpty || nnLags.nonEmpty) {
        val pr = bndProj(row)
        var oi = 0
        while (oi < offs.length) {
          val s = offs(oi).shift
          val c = offSlots(oi)
          val col = bndSlotIdx(oi)
          if (s > 0) funcRow.update(c,
            if (lagPushed >= s) extractOff(lagRing(((lagPushed - s) % lagCap).toInt), col)
            else offs(oi).default)
          else if (s == 0) funcRow.update(c,
            if (delayLeads) retainOff(extractOff(pr, col)) else extractOff(pr, col))
          else funcRow.update(c, null)
          oi += 1
        }
        // IGNORE NULLS lags: answer from the nn ring (strictly-before
        // semantics: the slot is written BEFORE the current row's
        // value is pushed), then push the current value if non-null
        var nf = 0
        while (nf < nnLags.length) {
          val k = nnLagKs(nf)
          val ci = bndSlotIdx(nnLagColBase + nf)
          funcRow.update(nnLagSlots(nf),
            if (nnLagPushed(nf) >= k) nnLagRings(nf)(((nnLagPushed(nf) - k) % k).toInt)
            else nnLags(nf).default)
          if (!pr.isNullAt(ci)) {
            // retained copy: the ring value outlives pr's reused buffer
            nnLagRings(nf)((nnLagPushed(nf) % k).toInt) =
              retainOff(pr.get(ci, bndDts(ci)))
            nnLagPushed(nf) += 1
          }
          nf += 1
        }
        // bounded sliding aggregates: recompute over the last
        // min(k, rows-behind) ring entries (oldest first) plus the
        // current row — SlidingWindowFunctionFrame's replay order, so
        // double results carry the same association order as the
        // plain window's per-row re-evaluation
        var bi = 0
        while (bi < bnds.length) {
          val colIdx = bndSlotIdx(bndColBase + bi)
          val acc = bndAccs(bi)
          acc.reset()
          var d = math.min(bnds(bi).k.toLong, lagPushed)
          while (d >= 1L) {
            acc.add(extractOff(lagRing(((lagPushed - d) % lagCap).toInt), colIdx))
            d -= 1L
          }
          acc.add(extractOff(pr, colIdx))
          funcRow.update(bndSlots(bi), acc.value)
          bi += 1
        }
        if (maxTail > 0) {
          lagRing((lagPushed % lagCap).toInt) = pr.copy(); lagPushed += 1
        }
      }

      def setFuncCols(rn: Long): Unit = {
        var c = 0
        while (c < nSlots) {
          val a = slotAgg(c)
          if (a >= 0) {
            funcRow.update(c,
              if (rowsFrames(a)) rowsAccs(a).value else rangeAccs(a).value)
          } else if (slotRk(c) >= 0) {
            // value-bounded RANGE frame: one value per tie run,
            // computed by fillRun before any of the run's rows emit
            funcRow.update(c, rkValues(slotRk(c)))
          } else if (slotRank(c) == null) {
            // offset or bounded-sliding slot: written by fillOffsets /
            // the delay wrapper
          } else slotRank(c) match {
            case ("row_number", _) => funcRow.setInt(c, rn.toInt)
            case ("rank", _) => funcRow.setInt(c, (rowOff + runStart + 1L).toInt)
            case ("dense_rank", _) => funcRow.setInt(c, (runOff + localRuns).toInt)
            case ("percent_rank", _) => funcRow.update(c,
              if (total > 1L) (rowOff + runStart).toDouble / (total - 1L).toDouble
              else 0.0d)
            case ("cume_dist", _) => funcRow.update(c,
              (rowOff + runStart + runLen).toDouble / total.toDouble)
            case ("ntile", k) =>
              // SQL-standard tiling in all-positive integer arithmetic
              // (floor == truncation): first n%k tiles take one extra
              // row; q = 0 (n < k) stays in the first branch
              val q = total / k; val r = total % k; val thr = r * (q + 1L)
              val tile = if (rn <= thr) (rn - 1L) / (q + 1L) + 1L
                         else r + (rn - thr - 1L) / q + 1L
              funcRow.setInt(c, tile.toInt)
            case (other, _) => throw new IllegalStateException(
              s"GlobalRankExec: unknown rank kind $other")
          }
          c += 1
        }
      }

      // both paths produce (childRow, funcRow) in row order; with
      // leads present they must be COPIES (the delay wrapper holds
      // maxLead of them), otherwise the reused objects flow straight
      // into the final projection
      def emitPair(row: InternalRow): (InternalRow, GenericInternalRow) =
        if (delayLeads) (row.copy(), funcRow.copy().asInstanceOf[GenericInternalRow])
        else (row, funcRow)

      val pairs: Iterator[(InternalRow, GenericInternalRow)] = if (!bufferRuns) {
        // streaming path: no per-row copies beyond the retained key
        var prev: UnsafeRow = null
        it.map { row =>
          if (trackRuns) {
            val k = keyProj(row)
            if (prev == null || cmp.compare(prev, k) != 0) {
              runStart = localIdx; localRuns += 1; prev = k.copy()
            }
          }
          if (aggs.nonEmpty) {
            val ar = aggProj(row)
            var a = 0
            while (a < aggs.length) { rowsAccs(a).add(extract(ar, a)); a += 1 }
          }
          val rn = rowOff + localIdx + 1L
          setFuncCols(rn)
          fillOffsets(row)
          localIdx += 1L
          emitPair(row)
        }
      } else {
        // run-buffered path: RANGE-framed aggregates must absorb the
        // whole tie run before any of its rows emit — buffer one run
        // at a time in WindowExec's own SPILLABLE row array (VERDICT
        // r16 item 1: a hot peer run past the in-memory threshold
        // spills to disk exactly where the plain window would, instead
        // of OOMing an ArrayBuffer of copies)
        new Iterator[(InternalRow, GenericInternalRow)] {
          private val buf = new org.apache.spark.sql.execution.ExternalAppendOnlyUnsafeRowArray(
            inMemThreshold, spillSizeThreshold, spillRowsThreshold, spillSizeThreshold)
          private val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
          private var runIter: scala.collection.Iterator[UnsafeRow] =
            scala.collection.Iterator.empty
          private var seenSpill = 0L
          private var pendingRow: UnsafeRow = null
          private var pendingKey: UnsafeRow = null

          // buf.add copies the row into its own storage, so the live
          // iterator/projection buffer can be passed straight in; only
          // the run-straddling pending row needs an explicit copy
          private def asUnsafe(r: InternalRow): UnsafeRow = r match {
            case u: UnsafeRow => u
            case other => toUnsafe(other)
          }

          // absorb-on-add: RANGE accs take each peer as it is buffered
          // (one pass), not from a second in-memory sweep — the
          // spillable buffer is only replayed for EMISSION
          private def absorb(r: InternalRow): Unit = {
            if (aggs.nonEmpty) {
              val ar = aggProj(r)
              var a = 0
              while (a < aggs.length) {
                if (!rowsFrames(a)) rangeAccs(a).add(extract(ar, a))
                a += 1
              }
            }
            if (rks.nonEmpty) {
              val rr = rkProj(r)
              var f = 0
              while (f < rks.length) {
                rkRunAccs(f).add(if (rr.isNullAt(f)) null else rr.get(f, rkDts(f)))
                f += 1
              }
            }
          }

          // spillSize is cumulative across clear(), so the delta since
          // the last reading is new spill volume. Sampled at every run
          // boundary AND at drain: a spill during EMISSION of run R
          // (the sorter's iterator can spill under memory pressure
          // while being read) is observed at run R+1's boundary — or,
          // for the partition's last run, by the drain call (review
          // r17 finding: the last run's emission spill was never
          // counted).
          private def sampleSpill(): Unit = {
            val sp = buf.spillSize
            if (sp > seenSpill) {
              tieRunSpillBytes += (sp - seenSpill)
              GlobalRankExec.tieRunSpillCount.incrementAndGet()
              seenSpill = sp
            }
          }

          private def fillRun(): Unit = {
            sampleSpill()
            buf.clear()
            if (pendingRow == null && !it.hasNext) { runIter = scala.collection.Iterator.empty; return }
            if (pendingRow == null) {
              val r = it.next()
              pendingKey = keyProj(r).copy()
              pendingRow = asUnsafe(r).copy()
            }
            val runKey = pendingKey
            absorb(pendingRow); buf.add(pendingRow)
            pendingRow = null; pendingKey = null
            var open = true
            while (open && it.hasNext) {
              val r = it.next()
              val k = keyProj(r)
              if (cmp.compare(runKey, k) == 0) { absorb(r); buf.add(asUnsafe(r)) }
              else {
                pendingKey = k.copy(); pendingRow = asUnsafe(r).copy(); open = false
              }
            }
            // run boundary: update the rank run trackers + telemetry
            runStart = localIdx; localRuns += 1; runLen = buf.length
            // value-bounded RANGE frames: the run is fully absorbed,
            // so compute each func's ONE value for this run — evict
            // window entries outside delta of the run key, merge the
            // surviving (older-run) accs oldest-first, then this run's
            // own acc; a null run key is its own peer group (Spark's
            // observed null semantics) and never enters the window
            if (rks.nonEmpty) {
              val kv = if (runKey.isNullAt(0)) null
                else RetainVal(runKey.get(0, keyDt0))
              var f = 0
              while (f < rks.length) {
                if (kv == null) rkValues(f) = rkRunAccs(f).value
                else {
                  rkDeltas(f).check(kv)
                  val dq = rkDqs(f)
                  if (rkDeltas(f).emptiesFrame(kv)) {
                    // legacy wrapped bound: empty frame for this run
                    // (null sum / zero count) and a sticky wipe — the
                    // run itself never enters the window either
                    dq.clear()
                    rkValues(f) = mkRkAcc(f).value
                  } else {
                    while (dq.nonEmpty && rkDeltas(f).outside(dq.head._1, kv))
                      dq.removeHead()
                    val res = mkRkAcc(f)
                    dq.foreach { case (_, a) => res.merge(a) }
                    res.merge(rkRunAccs(f))
                    rkValues(f) = res.value
                    dq.append((kv, rkRunAccs(f)))
                    guardRangeEntries(dq.length)
                  }
                }
                f += 1
              }
              rkRunAccs = mkRkAccs()
            }
            if (buf.length >= bigRunWarnRows) {
              bigTieRuns += 1
              GlobalRankExec.bigRunWarnCount.incrementAndGet()
              org.slf4j.LoggerFactory.getLogger(classOf[GlobalRankExec]).warn(
                s"GlobalRankExec: buffered a tie run of ${buf.length} rows " +
                  "(RANGE-frame peers must be absorbed whole; past the " +
                  "window-buffer threshold the run spills to disk). A hot " +
                  "peer run is the per-key twin of the low-cardinality " +
                  "degrade — consider a finer ORDER BY key.")
            }
            sampleSpill()
            runIter = buf.generateIterator()
          }

          override def hasNext: Boolean = {
            if (!runIter.hasNext) fillRun()
            runIter.hasNext
          }

          override def next(): (InternalRow, GenericInternalRow) = {
            if (!hasNext) throw new NoSuchElementException
            // when the run spilled, this row's backing buffer is only
            // valid until the next runIter.next() — every use below
            // (ROWS accs, funcRow, fillOffsets' retained copies, the
            // output projection / emitPair copy) completes before then
            val row = runIter.next()
            if (aggs.nonEmpty) {
              val ar = aggProj(row)
              var a = 0
              while (a < aggs.length) {
                if (rowsFrames(a)) rowsAccs(a).add(extract(ar, a))
                a += 1
              }
            }
            val rn = rowOff + localIdx + 1L
            setFuncCols(rn)
            fillOffsets(row)
            localIdx += 1L
            emitPair(row)
          }
        }
      }

      if (!delayLeads) {
        pairs.map { case (r, fr) =>
          numOutputRows += 1
          proj(joined(r, fr))
        }
      } else {
        // lead delay: hold pending rows until every lead slot is
        // resolvable — a plain lead k resolves exactly k pulls later
        // (so with only plain leads the buffer never exceeds
        // maxLead + 1 rows, the old fixed-ring behavior), and an
        // IGNORE NULLS lead resolves when its k-th following non-null
        // ARRIVES, so the needed value is always the newest in a
        // per-function value window bounded by the pending span.
        // Unresolved slots at input drain fall to the cross-partition
        // suffix slices, then the default. The pending buffer is heap
        // (bounded by the longest null run for nn leads); crossing
        // the warn threshold logs + bumps bigLeadPends.
        new Iterator[InternalRow] {
          // (childRow copy, funcRow copy, projected values copy,
          //  per-nn-lead non-null counts at pull time)
          private val pend = scala.collection.mutable.ArrayDeque
            .empty[(InternalRow, GenericInternalRow, InternalRow, Array[Long])]
          private var readPos = 0L
          private var emitPos = 0L
          private val suffix = suffixHeadsB(i)
          private val leadIdx = offs.indices.filter(offs(_).shift < 0).toArray
          // per nn-lead function: total non-nulls pulled, and the
          // retained value window [base, seen) as a deque
          private val nnSeen = new Array[Long](nnLeads.length)
          private val nnVals = nnLeads.map(_ =>
            scala.collection.mutable.ArrayDeque.empty[Any])
          private val nnBase = new Array[Long](nnLeads.length)
          private val suffixNn = suffixNnHeadsB(i)
          private var pendWarned = false

          private def pull(): Unit = {
            val (r, fr) = pairs.next()
            val pr = bndProj(r).copy()
            val cs = new Array[Long](nnLeads.length)
            var f = 0
            while (f < nnLeads.length) {
              val ci = bndSlotIdx(nnLeadColBase + f)
              if (!pr.isNullAt(ci)) {
                nnVals(f).append(retainOff(pr.get(ci, bndDts(ci))))
                nnSeen(f) += 1
              }
              cs(f) = nnSeen(f)
              f += 1
            }
            pend.append((r, fr, pr, cs))
            readPos += 1
            if (!pendWarned && pend.length >= pendWarnRows) {
              pendWarned = true
              bigLeadPends += 1
              GlobalRankExec.leadPendWarnCount.incrementAndGet()
              org.slf4j.LoggerFactory.getLogger(classOf[GlobalRankExec]).warn(
                s"GlobalRankExec: lead pending buffer reached ${pend.length} rows " +
                  "(an IGNORE NULLS lead waits for its k-th following non-null; " +
                  "the buffer is bounded by the longest null run of that column). " +
                  "A mostly-null lead column is the per-column twin of a hot tie " +
                  "run — consider forward-filling first or the plain window.")
            }
          }

          private def oldestResolved: Boolean = pend.nonEmpty && {
            val cs = pend.head._4
            var ok = readPos - emitPos > maxLead
            var f = 0
            while (ok && f < nnLeads.length) {
              ok = cs(f) + nnLeadKs(f) <= nnSeen(f)
              f += 1
            }
            ok
          }

          override def hasNext: Boolean = emitPos < readPos || pairs.hasNext

          override def next(): InternalRow = {
            while (!oldestResolved && pairs.hasNext) pull()
            if (emitPos >= readPos) throw new NoSuchElementException
            val t = emitPos
            val (row, fr, _, cs) = pend.head
            // plain leads: value from the pending row k ahead, else
            // the suffix row slice, else the default
            var li = 0
            while (li < leadIdx.length) {
              val oi = leadIdx(li)
              val col = bndSlotIdx(oi)
              val tpos = t - offs(oi).shift // shift < 0: position ahead
              val v =
                if (tpos < readPos) extractOff(pend((tpos - emitPos).toInt)._3, col)
                else {
                  val sIdx = tpos - readPos // input exhausted: readPos == n
                  if (sIdx < suffix.length) extractOff(suffix(sIdx.toInt), col)
                  else offs(oi).default
                }
              fr.update(offSlots(oi), v)
              li += 1
            }
            // nn leads: the (c_t + k)-th non-null overall — in the
            // value window when resolved, else (drain only) the
            // suffix non-null slice, else the default
            var f = 0
            while (f < nnLeads.length) {
              val needed = cs(f) + nnLeadKs(f) - 1L
              val v =
                if (needed < nnSeen(f)) nnVals(f)((needed - nnBase(f)).toInt)
                else {
                  val sIdx = needed - nnSeen(f)
                  if (sIdx < suffixNn(f).length) suffixNn(f)(sIdx.toInt)
                  else nnLeads(f).default
                }
              fr.update(nnLeadSlots(f), v)
              f += 1
            }
            pend.removeHead()
            emitPos += 1
            // compact each nn value window to the new oldest pending
            // row's needs (cs is non-decreasing in t, so nothing
            // dropped can be needed again)
            f = 0
            while (f < nnLeads.length) {
              if (pend.isEmpty) {
                nnVals(f).clear(); nnBase(f) = nnSeen(f)
              } else {
                val minNeeded = pend.head._4(f) + nnLeadKs(f) - 1L
                while (nnBase(f) < minNeeded && nnVals(f).nonEmpty) {
                  nnVals(f).removeHead(); nnBase(f) += 1
                }
              }
              f += 1
            }
            numOutputRows += 1
            proj(joined(row, fr))
          }
        }
      }
    }
  }
}
