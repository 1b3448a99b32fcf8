package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import scala.util.Random

/** Differential fuzzer for the automatic global-window rewrite
  * (VERDICT r19 task 1).
  *
  * [[graft.plans.RangeRankRewrite]] + [[graft.plans.GlobalRankExec]]
  * reimplement Spark window semantics, and the last three parity
  * defects there (DST wall-clock RANGE bounds, type-edge frame-bound
  * overflow, ANSI frame-path overflow) were each found by HAND review
  * — one per pass, which means more exist. This spec searches the
  * space systematically: seeded random draws over frame shapes
  * (running ROWS/RANGE, bounded ROWS k, value-RANGE with typed
  * deltas) x order-key types (byte/int/long/date/timestamp/
  * timestamp_ntz/float/double/decimal/string, including type-edge
  * values) x null/tie/dup patterns x ASC/DESC x NULLS FIRST/LAST x
  * ANSI on/off x try-mode x session zones (UTC, fixed offset, DST),
  * asserting on EVERY draw that the forced rewrite produces exactly
  * the plain single-partition window's rows — or fails with the same
  * error class (arithmetic overflow).
  *
  * Determinism discipline: draws that are only "a valid assignment"
  * under ties (row_number/ntile/offsets/ROWS frames/first/last/nth)
  * always carry the unique id as the final ORDER BY key; tie-heavy
  * single-key orders draw only tie-safe functions (rank family +
  * peer-framed aggregates). Double-typed aggregate inputs are dyadic
  * rationals (k/64), so sums are exact under any association order
  * and the comparison stays bitwise almost everywhere; only the
  * Welford family (whose merge is association-sensitive by
  * construction, exactly like Spark's own partial aggregation) and
  * double sums/avgs compare under a 1e-9 relative tolerance.
  *
  * On divergence the failing trial greedily minimizes its row set
  * while the divergence reproduces and fails with the seed, trial
  * index, confs, SQL, and the minimized data — a ready-to-pin
  * reproduction. Seed/draw volume are env-tunable
  * (GRAFT_FUZZ_SEED / GRAFT_FUZZ_MIN_DRAWS); defaults run >= 1000
  * function draws in the sbt gate.
  */
class GlobalRankFuzzSpec extends AnyFunSuite with graft.SparkTestBase {

  graft.functions.GraftFunctions.register(spark)

  private val GateKey = graft.plans.RangeRankRewrite.MinBytesKey
  private val seed: Long =
    sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(20260816L)
  private val minDraws: Int =
    sys.env.get("GRAFT_FUZZ_MIN_DRAWS").map(_.toInt).getOrElse(1000)

  // ---------------------------------------------------------------- draws

  private sealed trait Cmp
  private case object CEq extends Cmp
  private case object CTol extends Cmp

  /** One window-function column: SQL, compare mode, and whether the
    * rewrite is expected to fire for it (conservative per the
    * matcher's documented envelope — a false here never blocks the
    * equality assertion, only the fire assertion). */
  private case class FuncDraw(sql: String, cmp: Cmp, fire: Boolean)

  private case class Trial(
      idx: Int, zone: String, ansi: Boolean, keyKind: String,
      totalOrder: Boolean, hotLongs: Boolean, sql: String,
      funcs: Seq[FuncDraw], schema: StructType, rows: Seq[Row])

  private def fixedOffsetZone(z: String): Boolean =
    java.time.ZoneId.of(z).getRules.isFixedOffset

  private val zones = Seq("UTC", "+05:30", "America/Los_Angeles")
  private val keyKinds = Seq(
    "int", "byte", "long", "date", "timestamp", "timestamp_ntz",
    "double", "float", "decimal", "string")

  private def keyType(kind: String): DataType = kind match {
    case "int" => IntegerType
    case "byte" => ByteType
    case "long" => LongType
    case "date" => DateType
    case "timestamp" => TimestampType
    case "timestamp_ntz" => TimestampNTZType
    case "double" => DoubleType
    case "float" => FloatType
    case "decimal" => DecimalType(12, 2)
    case "string" => StringType
  }

  /** Spring-forward / fall-back instants in America/Los_Angeles, 2024
    * (epoch seconds): the gotcha memory says UTC-pinned tests cannot
    * see DST divergence, so timestamp keys cluster around both. */
  private val dstSpringUtcSec = 1710064800L // 2024-03-10T10:00:00Z
  private val dstFallUtcSec = 1730620800L   // 2024-11-03T08:00:00Z

  /** edge = values near the key type's numeric edges, so ANSI
    * frame-bound arithmetic (cur - k in the KEY's own type space)
    * trips exactly where the plain window's would. */
  private def genKey(kind: String, rnd: Random, tieCard: Int,
      edge: Boolean): Any = kind match {
    case "int" =>
      if (edge && rnd.nextBoolean()) Int.MinValue + rnd.nextInt(40)
      else rnd.nextInt(tieCard) - tieCard / 2
    case "byte" =>
      if (edge && rnd.nextBoolean()) (-128 + rnd.nextInt(12)).toByte
      else (rnd.nextInt(math.min(tieCard, 200)) - 90).toByte
    case "long" =>
      if (edge && rnd.nextBoolean()) Long.MinValue + rnd.nextInt(1000).toLong
      else (rnd.nextInt(tieCard) - tieCard / 2).toLong * 1000003L
    case "date" =>
      // month-end bias: year-month bounds clamp there
      val base = java.time.LocalDate.of(2024, 1, 31)
      if (rnd.nextBoolean()) base.plusDays(rnd.nextInt(tieCard).toLong)
      else base.plusMonths(rnd.nextInt(14).toLong)
    case "timestamp" | "timestamp_ntz" =>
      val sec = rnd.nextInt(4) match {
        case 0 => dstSpringUtcSec + (rnd.nextInt(2 * 96) - 96) * 900L
        case 1 => dstFallUtcSec + (rnd.nextInt(2 * 96) - 96) * 900L
        case _ => 1704067200L + rnd.nextInt(tieCard).toLong * 3600L
      }
      if (kind == "timestamp") java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
      else java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
    case "double" => (rnd.nextInt(tieCard) - tieCard / 2) / 4.0
    case "float" => ((rnd.nextInt(tieCard) - tieCard / 2) / 4.0).toFloat
    case "decimal" =>
      new java.math.BigDecimal(java.math.BigInteger.valueOf(
        (rnd.nextInt(tieCard) - tieCard / 2).toLong * 25L), 2)
    case "string" => "w" + (rnd.nextInt(tieCard) + 10)
  }

  private def genRows(kind: String, rnd: Random, n: Int, tieCard: Int,
      edge: Boolean, hotLongs: Boolean, nullFrac: Double): Seq[Row] = {
    val hotPool = Seq(Long.MaxValue / 3, Long.MinValue / 3,
      Long.MaxValue / 7, -17L, 23L)
    (0 until n).map { i =>
      def nul = rnd.nextDouble() < nullFrac
      val k = if (nul) null else genKey(kind, rnd, tieCard, edge)
      val vl: Any =
        if (nul) null
        else if (hotLongs) hotPool(rnd.nextInt(hotPool.size)) + rnd.nextInt(100).toLong
        else (rnd.nextInt(2001) - 1000).toLong
      val vd: Any =
        if (nul) null
        else if (rnd.nextInt(50) == 0) Double.NaN
        else (rnd.nextInt(32768) - 16384) / 64.0
      val vdec: Any = if (nul) null
        else new java.math.BigDecimal(java.math.BigInteger.valueOf(
          (rnd.nextInt(200001) - 100000).toLong), 2)
      val vs: Any = if (nul) null else "s" + rnd.nextInt(500)
      Row(i.toLong, k, vl, vd, vdec, vs)
    }
  }

  /** RANGE value-frame bound for this key type: (SQL bound snippet,
    * expected to fire under `zone`). None when the key type has no
    * supported value-frame bound (string). */
  private def rangeBound(kind: String, rnd: Random,
      zone: String): Option[(String, Boolean)] = kind match {
    case "int" => Some((s"${rnd.nextInt(60)}", true))
    case "byte" => Some((s"${1 + rnd.nextInt(20)}", true))
    case "long" => Some((s"${1 + rnd.nextInt(5000000)}", true))
    case "date" => Some(rnd.nextInt(3) match {
      case 0 => (s"${1 + rnd.nextInt(40)}", true)
      case 1 => (s"INTERVAL '${1 + rnd.nextInt(20)}' DAY", true)
      case _ => (s"INTERVAL '${1 + rnd.nextInt(26)}' MONTH", true)
    })
    case "timestamp" => Some(rnd.nextInt(3) match {
      case 0 => (s"INTERVAL '${1 + rnd.nextInt(96)}' HOUR", fixedOffsetZone(zone))
      case 1 => (s"INTERVAL '${1 + rnd.nextInt(26)}' MONTH", true)
      case _ => (s"INTERVAL '1-${rnd.nextInt(12)}' YEAR TO MONTH", true)
    })
    case "timestamp_ntz" => Some(rnd.nextInt(3) match {
      case 0 => (s"INTERVAL '${1 + rnd.nextInt(96)}' HOUR", true)
      case 1 => (s"INTERVAL '${1 + rnd.nextInt(26)}' MONTH", true)
      case _ => (s"INTERVAL '${rnd.nextInt(3)}-${rnd.nextInt(12)}' YEAR TO MONTH", true)
    })
    case "double" | "float" => Some((s"${rnd.nextInt(40)}.${rnd.nextInt(4) * 25}", true))
    case "decimal" => Some((s"${rnd.nextInt(300)}.${10 + rnd.nextInt(89)}", true))
    case "string" => None
    case _ => None
  }

  /** Tie-safe functions: values depend only on the peer SET, exact
    * under any tie order — legal for single-key (tie-heavy) orders. */
  private def tieSafeDraw(rnd: Random, over: String, kind: String,
      zone: String): FuncDraw = rnd.nextInt(10) match {
    case 0 => FuncDraw(s"rank() OVER ($over)", CEq, fire = true)
    case 1 => FuncDraw(s"dense_rank() OVER ($over)", CEq, fire = true)
    case 2 => FuncDraw(s"percent_rank() OVER ($over)", CEq, fire = true)
    case 3 => FuncDraw(s"cume_dist() OVER ($over)", CEq, fire = true)
    case 4 => FuncDraw(s"sum(vl) OVER ($over)", CEq, fire = true)
    case 5 => FuncDraw(s"sum(vdec) OVER ($over)", CEq, fire = true)
    case 6 => FuncDraw(s"count(vs) OVER ($over)", CEq, fire = true)
    case 7 => FuncDraw(s"min(vdec) OVER ($over)", CEq, fire = true)
    case 8 => FuncDraw(s"max(vd) OVER ($over)", CEq, fire = true)
    case _ => FuncDraw(s"avg(vd) OVER ($over)", CTol, fire = true)
  }

  /** Value-RANGE framed aggregates (single-key orders only — the
    * delta matcher requires orderSpec.length == 1). Peer-framed, so
    * tie-safe. */
  private def rangeFrameDraw(rnd: Random, over: String, kind: String,
      zone: String): Option[FuncDraw] =
    rangeBound(kind, rnd, zone).map { case (bound, fires) =>
      val frame = s"$over RANGE BETWEEN $bound PRECEDING AND CURRENT ROW"
      rnd.nextInt(6) match {
        case 0 => FuncDraw(s"sum(vl) OVER ($frame)", CEq, fires)
        case 1 => FuncDraw(s"sum(vd) OVER ($frame)", CTol, fires)
        case 2 => FuncDraw(s"sum(vdec) OVER ($frame)", CEq, fires)
        case 3 => FuncDraw(s"count(vl) OVER ($frame)", CEq, fires)
        case 4 => FuncDraw(s"min(vl) OVER ($frame)", CEq, fires)
        case _ => FuncDraw(s"max(vs) OVER ($frame)", CEq, fires)
      }
    }

  /** Functions needing a TOTAL order (the trailing unique id in the
    * ORDER BY): row-position semantics, offsets, ROWS frames,
    * first/last/nth, try-mode, Welford family. */
  private def totalOrderDraw(rnd: Random, over: String,
      hotLongs: Boolean): FuncDraw = {
    val rowsRunning = s"$over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    def bounded = s"$over ROWS BETWEEN ${1 + rnd.nextInt(5)} PRECEDING AND CURRENT ROW"
    rnd.nextInt(20) match {
      case 0 => FuncDraw(s"row_number() OVER ($over)", CEq, fire = true)
      case 1 => FuncDraw(s"ntile(${1 + rnd.nextInt(12)}) OVER ($over)", CEq, fire = true)
      case 2 => FuncDraw(s"sum(vl) OVER ($rowsRunning)", CEq, fire = true)
      case 3 => FuncDraw(s"try_sum(vl) OVER ($rowsRunning)", CEq, fire = true)
      case 4 => FuncDraw(s"try_sum(vl) OVER ($bounded)", CEq, fire = true)
      case 5 => FuncDraw(s"sum(vd) OVER ($bounded)", CTol, fire = true)
      case 6 => FuncDraw(s"sum(vl) OVER ($bounded)", CEq, fire = true)
      case 7 => FuncDraw(s"avg(vd) OVER ($bounded)", CTol, fire = true)
      case 8 => FuncDraw(s"min(vs) OVER ($bounded)", CEq, fire = true)
      case 9 => FuncDraw(s"max(vl) OVER ($bounded)", CEq, fire = true)
      case 10 => FuncDraw(s"count(vd) OVER ($bounded)", CEq, fire = true)
      case 11 =>
        val ign = if (rnd.nextBoolean()) " IGNORE NULLS" else ""
        FuncDraw(s"first_value(vs)$ign OVER ($over)", CEq, fire = true)
      case 12 =>
        val ign = if (rnd.nextBoolean()) " IGNORE NULLS" else ""
        FuncDraw(s"last_value(vdec)$ign OVER ($over)", CEq, fire = true)
      case 13 =>
        val ign = if (rnd.nextBoolean()) " IGNORE NULLS" else ""
        FuncDraw(s"nth_value(vl, ${1 + rnd.nextInt(7)})$ign OVER ($over)", CEq, fire = true)
      case 14 =>
        val k = rnd.nextInt(4)
        val dflt = if (rnd.nextBoolean()) ", -1" else ""
        val ign = if (k >= 1 && rnd.nextBoolean()) " IGNORE NULLS" else ""
        FuncDraw(s"lag(vl, $k$dflt)$ign OVER ($over)", CEq, fire = true)
      case 15 =>
        val k = rnd.nextInt(4)
        val ign = if (k >= 1 && rnd.nextBoolean()) " IGNORE NULLS" else ""
        FuncDraw(s"lead(vs, $k)$ign OVER ($over)", CEq, fire = true)
      case 16 => FuncDraw(s"stddev_samp(vd) OVER ($rowsRunning)", CTol, fire = true)
      case 17 => FuncDraw(s"var_pop(vd) OVER ($over)", CTol, fire = true)
      case 18 => FuncDraw(s"avg(vdec) OVER ($over)", CEq, fire = true)
      case _ => FuncDraw(s"count(*) OVER ($rowsRunning)", CEq, fire = true)
    }
  }

  private def mkTrial(idx: Int): Trial = {
    val rnd = new Random(seed ^ (idx.toLong * 0x9E3779B97F4A7C15L))
    val zone = zones(rnd.nextInt(zones.size))
    val ansi = rnd.nextBoolean()
    val keyKind = keyKinds(rnd.nextInt(keyKinds.size))
    val totalOrder = rnd.nextInt(10) < 7
    val hotLongs = rnd.nextInt(100) < 15
    val edge = (keyKind == "int" || keyKind == "byte") && rnd.nextInt(100) < 30
    val n = 150 + rnd.nextInt(250)
    val tieCard = if (totalOrder) 40 + rnd.nextInt(400) else 8 + rnd.nextInt(40)
    val nullFrac = rnd.nextInt(3) match {
      case 0 => 0.0
      case 1 => 0.08
      case _ => 0.25
    }
    val dir = if (rnd.nextBoolean()) "ASC" else "DESC"
    val nulls = rnd.nextInt(3) match {
      case 0 => ""
      case 1 => " NULLS FIRST"
      case _ => " NULLS LAST"
    }
    val over =
      if (totalOrder) s"ORDER BY k $dir$nulls, id"
      else s"ORDER BY k $dir$nulls"
    val nFuncs = 6 + rnd.nextInt(4)
    val funcs = (0 until nFuncs).map { _ =>
      if (totalOrder) totalOrderDraw(rnd, over, hotLongs)
      else if (rnd.nextInt(10) < 4)
        rangeFrameDraw(rnd, over, keyKind, zone)
          .getOrElse(tieSafeDraw(rnd, over, keyKind, zone))
      else tieSafeDraw(rnd, over, keyKind, zone)
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("k", keyType(keyKind), nullable = true),
      StructField("vl", LongType, nullable = true),
      StructField("vd", DoubleType, nullable = true),
      StructField("vdec", DecimalType(10, 2), nullable = true),
      StructField("vs", StringType, nullable = true)))
    val rows = genRows(keyKind, rnd, n, tieCard, edge, hotLongs, nullFrac)
    val cols = funcs.zipWithIndex
      .map { case (f, i) => s"  ${f.sql} AS c$i" }.mkString(",\n")
    val sql = s"SELECT id,\n$cols\nFROM fuzz_t"
    Trial(idx, zone, ansi, keyKind, totalOrder, hotLongs, sql, funcs, schema, rows)
  }

  // ------------------------------------------------------------- running

  private def isArithmetic(e: Throwable): Boolean = {
    var c = e; var seen = List.empty[Throwable]
    while (c != null && !seen.exists(_ eq c)) {
      val name = c.getClass.getName
      val msg = Option(c.getMessage).getOrElse("")
      if (c.isInstanceOf[ArithmeticException] || name.contains("Arithmetic") ||
          msg.contains("overflow") || msg.contains("ARITHMETIC") ||
          msg.contains("CAST_OVERFLOW")) return true
      seen = c :: seen; c = c.getCause
    }
    false
  }

  /** Outcome of one side: rows keyed by id, or an error class. */
  private def runSide(sql: String, gateOpen: Boolean): (Either[String, Map[Long, Row]], Boolean) = {
    if (gateOpen) spark.conf.set(GateKey, "0") else spark.conf.unset(GateKey)
    try {
      val df = spark.sql(sql)
      val fired = df.queryExecution.executedPlan.toString.contains("GlobalRank")
      val out = try Right(df.collect().map(r => r.getLong(0) -> r).toMap)
      catch {
        case e: Throwable if isArithmetic(e) => Left("arithmetic")
      }
      (out, fired)
    } finally spark.conf.unset(GateKey)
  }

  private def valEq(a: Any, b: Any, cmp: Cmp): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: java.lang.Double, y: java.lang.Double) =>
      if (cmp == CTol) tolClose(x, y)
      else java.lang.Double.compare(x, y) == 0
    case (x: java.lang.Float, y: java.lang.Float) =>
      if (cmp == CTol) tolClose(x.toDouble, y.toDouble)
      else java.lang.Float.compare(x, y) == 0
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case _ => a == b
  }

  private def tolClose(x: Double, y: Double): Boolean =
    (x.isNaN && y.isNaN) ||
      math.abs(x - y) <= 1e-9 + 1e-9 * math.max(math.abs(x), math.abs(y))

  /** Compares both sides on the given row set; Some(description) when
    * they diverge. */
  private def divergence(t: Trial, rows: Seq[Row]): Option[String] = {
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      t.schema)
    df.createOrReplaceTempView("fuzz_t")
    val (plain, plainFired) = runSide(t.sql, gateOpen = false)
    val (rewr, fired) = runSide(t.sql, gateOpen = true)
    if (plainFired) return Some("plain side fired GlobalRank below the gate")
    (plain, rewr) match {
      case (Left(a), Left(b)) =>
        if (a == b) None else Some(s"error-class mismatch: plain=$a rewrite=$b")
      case (Left(a), Right(_)) => Some(s"plain errored ($a) but rewrite succeeded")
      case (Right(_), Left(b)) => Some(s"rewrite errored ($b) but plain succeeded")
      case (Right(pa), Right(ra)) =>
        if (pa.keySet != ra.keySet)
          Some(s"row-id sets differ: plain ${pa.size} rows, rewrite ${ra.size}")
        else {
          val bad = pa.keys.toSeq.sorted.iterator.flatMap { id =>
            val (pr, rr) = (pa(id), ra(id))
            t.funcs.indices.collectFirst {
              case i if !valEq(pr.get(i + 1), rr.get(i + 1), t.funcs(i).cmp) =>
                s"id=$id col=c$i [${t.funcs(i).sql}]: plain=${pr.get(i + 1)} rewrite=${rr.get(i + 1)}"
            }
          }.take(3).toList
          if (bad.isEmpty) {
            val expectFire = t.funcs.forall(_.fire)
            if (expectFire && !fired)
              Some(s"rewrite did not fire though every draw is in the documented envelope")
            else None
          } else Some(bad.mkString("; "))
        }
    }
  }

  /** Greedy chunk-removal minimization: drop contiguous chunks while
    * the divergence reproduces; bounded re-evaluation budget. */
  private def minimize(t: Trial, rows: Seq[Row]): (Seq[Row], String) = {
    var cur = rows
    var why = divergence(t, cur).getOrElse("(divergence vanished during minimization)")
    var budget = 48
    var chunk = math.max(1, cur.size / 2)
    while (chunk >= 1 && budget > 0) {
      var i = 0
      var progressed = false
      while (i < cur.size && budget > 0) {
        val candidate = cur.take(i) ++ cur.drop(i + chunk)
        if (candidate.nonEmpty) {
          budget -= 1
          divergence(t, candidate) match {
            case Some(d) => cur = candidate; why = d; progressed = true
            case None => i += chunk
          }
        } else i += chunk
      }
      if (!progressed) chunk = chunk / 2
    }
    (cur, why)
  }

  private def withConfs[A](zone: String, ansi: Boolean)(f: => A): A = {
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.session.timeZone", zone)
    spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
    try f finally {
      spark.conf.set("spark.sql.session.timeZone", prevZone)
      spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
    }
  }

  test(s"differential fuzz: forced rewrite == plain window on every draw (seed=$seed)") {
    var draws = 0
    var trials = 0
    var firedTrials = 0
    var expectFireTrials = 0
    val firedByClass = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    while (draws < minDraws) {
      val t = mkTrial(trials)
      withConfs(t.zone, t.ansi) {
        divergence(t, t.rows) match {
          case None => ()
          case Some(_) =>
            val (minRows, why) = minimize(t, t.rows)
            val dataDump = minRows.map(_.toString).mkString("\n  ")
            fail(
              s"""DIVERGENCE (seed=$seed trial=${t.idx} zone=${t.zone} ansi=${t.ansi}
                 |key=${t.keyKind} totalOrder=${t.totalOrder} hotLongs=${t.hotLongs})
                 |$why
                 |SQL:
                 |${t.sql}
                 |minimized rows (${minRows.size} of ${t.rows.size}; schema id,k,vl,vd,vdec,vs):
                 |  $dataDump""".stripMargin)
        }
        // fire accounting (cheap re-probe of the open-gate plan)
        spark.conf.set(GateKey, "0")
        val fired = try spark.sql(t.sql).queryExecution.executedPlan.toString.contains("GlobalRank")
        finally spark.conf.unset(GateKey)
        if (fired) {
          firedTrials += 1
          val cls = if (!t.totalOrder) "tie-range" else "total-order"
          firedByClass(cls) += 1
        }
        if (t.funcs.forall(_.fire)) expectFireTrials += 1
      }
      draws += t.funcs.size
      trials += 1
    }
    info(s"$trials trials, $draws draws, fired=$firedTrials " +
      s"(expect-fire trials=$expectFireTrials) byClass=$firedByClass")
    assert(draws >= minDraws)
    // the generator is conservative, but the rewrite must fire on a
    // healthy share of trials or the fuzz is not testing the exec
    assert(firedTrials * 2 >= trials, s"fired only $firedTrials/$trials")
  }
}
