package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** The automatic distributed-ranking promotion
  * ([[graft.plans.RangeRankRewrite]] + [[graft.plans.GlobalRankExec]]):
  * user SQL `rank-family OVER (ORDER BY ...)` with no partition key
  * must plan WITHOUT a single-partition window once the frame is above
  * the gate, and the values must be EXACTLY the plain window's. */
class RangeRankRuleSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  graft.functions.GraftFunctions.register(spark)

  private val GateKey = graft.plans.RangeRankRewrite.MinBytesKey

  private def withOpenGate[A](f: => A): A = {
    spark.conf.set(GateKey, "0")
    try f finally spark.conf.unset(GateKey)
  }

  private def frame: DataFrame = {
    // duplicate keys on purpose: rank/dense_rank/percent_rank tie
    // semantics must hold across range-partition boundaries
    val rows = (1 to 4000).map(i => (i.toLong, (i % 97).toLong, s"u${i % 7}"))
    rows.toDF("id", "score", "tag")
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("below the gate the plain window plan is untouched") {
    frame.createOrReplaceTempView("rr_rule_t")
    val df = spark.sql(
      "SELECT id, ntile(10) OVER (ORDER BY score, id) AS t FROM rr_rule_t")
    val p = plan(df)
    assert(p.contains("Window"), p)
    assert(!p.contains("GlobalRank"), p)
  }

  test("above the gate: rank family rewrites to GlobalRankExec, no single-partition window") {
    frame.createOrReplaceTempView("rr_rule_t")
    val sql =
      """SELECT id, score,
        |  row_number()   OVER (ORDER BY score, id) AS rn,
        |  rank()         OVER (ORDER BY score, id) AS rk,
        |  dense_rank()   OVER (ORDER BY score, id) AS dr,
        |  percent_rank() OVER (ORDER BY score, id) AS pr,
        |  ntile(7)       OVER (ORDER BY score, id) AS nt
        |FROM rr_rule_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (rewrittenPlan, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(_.toSeq).toSet)
    }
    assert(rewrittenPlan.contains("GlobalRank"), rewrittenPlan)
    assert(!rewrittenPlan.contains("Window"), rewrittenPlan)
    assert(rewrittenPlan.toLowerCase.contains("rangepartitioning"), rewrittenPlan)
    assert(!rewrittenPlan.contains("SinglePartition"), rewrittenPlan)
    // (score, id) is a TOTAL order -> every function is exact, so the
    // full row set matches the single-partition window bit for bit
    assert(rewritten == baseline)
  }

  test("tie semantics: rank/dense_rank/percent_rank exact under duplicate keys") {
    frame.createOrReplaceTempView("rr_rule_t")
    // order by score ONLY: 97 tie-runs of ~41 rows each, straddling
    // any 4-partition range split if ties were mishandled
    val sql =
      """SELECT score,
        |  rank()         OVER (ORDER BY score) AS rk,
        |  dense_rank()   OVER (ORDER BY score) AS dr,
        |  percent_rank() OVER (ORDER BY score) AS pr,
        |  cume_dist()    OVER (ORDER BY score) AS cd
        |FROM rr_rule_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq)
      .sortBy(_.toString).toSeq
    val rewritten = withOpenGate {
      val df = spark.sql(sql)
      assert(plan(df).contains("GlobalRank"))
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    }
    assert(rewritten == baseline)
  }

  test("row_number/ntile under ties: a valid assignment (set of values per tie-run)") {
    frame.createOrReplaceTempView("rr_rule_t")
    val sql =
      "SELECT score, row_number() OVER (ORDER BY score) AS rn FROM rr_rule_t"
    val rewritten = withOpenGate(spark.sql(sql).collect().map(r =>
      (r.getLong(0), r.getInt(1))))
    // global: rn is a permutation of 1..n
    assert(rewritten.map(_._2).sorted.toSeq == (1 to 4000).toSeq)
    // per tie-run: the assigned numbers are exactly the run's rank range
    val counts = rewritten.groupBy(_._1).view.mapValues(_.length).toMap
    val keys = counts.keys.toSeq.sorted
    val startByKey = keys.zip(
      keys.scanLeft(1)((acc, k) => acc + counts(k)).dropRight(1)).toMap
    rewritten.groupBy(_._1).foreach { case (k, rows) =>
      val rns = rows.map(_._2).sorted.toSeq
      val s = startByKey(k)
      assert(rns == (s until s + rns.length).toSeq,
        s"tie-run $k got ${rns.take(5)}..., expected contiguous from $s")
    }
  }

  test("partitioned, unsupported-function, and mixed windows are untouched") {
    frame.createOrReplaceTempView("rr_rule_t")
    withOpenGate {
      val p1 = plan(spark.sql(
        "SELECT row_number() OVER (PARTITION BY tag ORDER BY id) AS rn FROM rr_rule_t"))
      assert(p1.contains("Window") && !p1.contains("GlobalRank"), p1)
      // frames reaching FOLLOWING (not a running or k-PRECEDING
      // sliding shape): untouched
      val p2 = plan(spark.sql(
        """SELECT sum(score) OVER (ORDER BY id
          |  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s FROM rr_rule_t""".stripMargin))
      assert(p2.contains("Window") && !p2.contains("GlobalRank"), p2)
      // value-based RANGE k PRECEDING: SUPPORTED since r18 (per-run
      // compacted value-window deque; parity is the dedicated r18
      // specs' job) — multi-key ORDER BY RANGE frames are anyway
      // rejected by the analyzer, so the remaining exclusions are
      // year-month intervals and TRY-mode sums
      val p2r = plan(spark.sql(
        """SELECT sum(score) OVER (ORDER BY id
          |  RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS s FROM rr_rule_t""".stripMargin))
      assert(p2r.contains("GlobalRank") && !p2r.contains("Window"), p2r)
      // unsupported running aggregate (skewness — not prefix-handled
      // here): untouched
      val p2b = plan(spark.sql(
        "SELECT skewness(score) OVER (ORDER BY id) AS c FROM rr_rule_t"))
      assert(p2b.contains("Window") && !p2b.contains("GlobalRank"), p2b)
      // decimal-result running avg: SUPPORTED since r17 by
      // composition — small precisions arrive via DecimalAggregates'
      // double-avg-over-UnscaledValue form, large precisions via the
      // Average sum/count buffer split; both rewrite (value parity is
      // the dedicated r17 composition spec's job)
      val p2c = plan(spark.sql(
        """SELECT avg(CAST(score AS DECIMAL(10,2))) OVER (ORDER BY id) AS a
          |FROM rr_rule_t""".stripMargin))
      assert(p2c.contains("GlobalRank") && !p2c.contains("Window"), p2c)
      // one supported + one unsupported in the SAME over clause set:
      // conservative skip (the single-partition skewness is needed anyway)
      val p3 = plan(spark.sql(
        """SELECT row_number()    OVER (ORDER BY id) AS rn,
          |       skewness(score) OVER (ORDER BY id) AS c FROM rr_rule_t""".stripMargin))
      assert(p3.contains("Window"), p3)
    }
  }

  test("running aggregates rewrite: sum/count/avg/min/max exact vs plain window (RANGE peers, ties)") {
    frame.createOrReplaceTempView("rr_rule_t")
    // ORDER BY score ONLY: 97 tie-runs — the resolved default RANGE
    // frame means PEER rows share the running value, which must hold
    // across range-partition boundaries. All inputs are exact-in-double
    // integers so the two association orders are bit-identical.
    val sql =
      """SELECT score,
        |  sum(id)        OVER (ORDER BY score) AS s,
        |  count(id)      OVER (ORDER BY score) AS c,
        |  count(*)       OVER (ORDER BY score) AS cs,
        |  avg(id)        OVER (ORDER BY score) AS a,
        |  min(tag)       OVER (ORDER BY score) AS mn,
        |  max(tag)       OVER (ORDER BY score) AS mx,
        |  sum(id * 0.5e0) OVER (ORDER BY score) AS sd
        |FROM rr_rule_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (p, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(_.toSeq).toSet)
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(rewritten == baseline)
  }

  test("ROWS-framed running aggregates mixed with the rank family in one window") {
    frame.createOrReplaceTempView("rr_rule_t")
    // total order -> ROWS and RANGE agree and every value is exact
    val sql =
      """SELECT id,
        |  sum(score) OVER (ORDER BY score, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
        |  row_number() OVER (ORDER BY score, id) AS rn,
        |  dense_rank() OVER (ORDER BY score, id) AS dr,
        |  count(*) OVER (ORDER BY score, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |FROM rr_rule_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (p, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(_.toSeq).toSet)
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(rewritten == baseline)
  }

  test("leading nulls: running sum/avg/min stay null until the first non-null") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    (1 to 2000).map(_.toLong).toDF("id")
      .withColumn("v", when(col("id") <= 500, lit(null)).otherwise(col("id")))
      .createOrReplaceTempView("rr_null_t")
    val sql =
      """SELECT id,
        |  sum(v) OVER (ORDER BY id) AS s,
        |  avg(v) OVER (ORDER BY id) AS a,
        |  min(v) OVER (ORDER BY id) AS mn,
        |  count(v) OVER (ORDER BY id) AS c
        |FROM rr_null_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val rewritten = withOpenGate {
      val df = spark.sql(sql)
      assert(plan(df).contains("GlobalRank"))
      df.collect().map(_.toSeq).toSet
    }
    assert(rewritten == baseline)
    // the property itself, independent of the baseline engine
    assert(rewritten.exists(r => r(0) == 500L && r(1) == null && r(2) == null))
    assert(rewritten.exists(r => r(0) == 501L && r(1) == 501L && r(3) == 501L))
  }

  test("lag/lead rewrite: exact vs plain window across range-partition boundaries") {
    frame.createOrReplaceTempView("rr_rule_t")
    // (score, id) is a total order; offsets 1/3/7 cross the 4-way
    // range split, exercising both the prefix-tail and suffix-head
    // boundary slices and literal defaults
    val sql =
      """SELECT id,
        |  lag(score, 1)       OVER (ORDER BY score, id) AS l1,
        |  lag(score, 3, -1)   OVER (ORDER BY score, id) AS l3,
        |  lag(tag, 2)         OVER (ORDER BY score, id) AS lt,
        |  lead(score, 1)      OVER (ORDER BY score, id) AS d1,
        |  lead(score, 7, -99) OVER (ORDER BY score, id) AS d7
        |FROM rr_rule_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (p, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(_.toSeq).toSet)
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(rewritten == baseline)
  }

  test("the whole family in ONE window: ranks, running aggs, lag, lead, first/last") {
    frame.createOrReplaceTempView("rr_rule_t")
    val sql =
      """SELECT id,
        |  row_number()     OVER (ORDER BY score, id) AS rn,
        |  sum(id)          OVER (ORDER BY score, id) AS s,
        |  lag(id, 1)       OVER (ORDER BY score, id) AS lg,
        |  lead(id, 2)      OVER (ORDER BY score, id) AS ld,
        |  first_value(tag) OVER (ORDER BY score, id) AS fv,
        |  last_value(id)   OVER (ORDER BY score, id) AS lv
        |FROM rr_rule_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (p, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(_.toSeq).toSet)
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(rewritten == baseline)
  }

  test("first_value/last_value null semantics: respect-nulls vs ignore-nulls") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    (1 to 2000).map(_.toLong).toDF("id")
      .withColumn("v", when(col("id") <= 500, lit(null)).otherwise(col("id")))
      .createOrReplaceTempView("rr_null_t")
    val sql =
      """SELECT id,
        |  first_value(v)       OVER (ORDER BY id) AS f,
        |  first_value(v, true) OVER (ORDER BY id) AS fn,
        |  last_value(v)        OVER (ORDER BY id) AS l,
        |  last_value(v, true)  OVER (ORDER BY id) AS ln
        |FROM rr_null_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val rewritten = withOpenGate {
      val df = spark.sql(sql)
      assert(plan(df).contains("GlobalRank"))
      df.collect().map(_.toSeq).toSet
    }
    assert(rewritten == baseline)
    // the semantics themselves: f stays null forever (first row is
    // null), fn is the first NON-null (501), ln carries the last
    // non-null through trailing-null-free tail = id itself past 500
    assert(rewritten.exists(r => r(0) == 2000L && r(1) == null && r(2) == 501L))
    assert(rewritten.exists(r => r(0) == 400L && r(3) == null && r(4) == null))
  }

  test("nth_value rewrite: respect/ignore nulls exact vs plain window; cap respected (r17)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    (1 to 2000).map(_.toLong).toDF("id")
      .withColumn("v", when(col("id") % 3 === 0, lit(null)).otherwise(col("id")))
      .createOrReplaceTempView("rr_nth_t")
    val sql =
      """SELECT id,
        |  nth_value(v, 4)              OVER (ORDER BY id) AS n4,
        |  nth_value(v, 4) IGNORE NULLS OVER (ORDER BY id) AS n4nn,
        |  nth_value(id, 700)           OVER (ORDER BY id) AS n700
        |FROM rr_nth_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val rewritten = withOpenGate {
      val df = spark.sql(sql)
      assert(plan(df).contains("GlobalRank") && !plan(df).contains("Window"), plan(df))
      df.collect().map(_.toSeq).toSet
    }
    assert(rewritten == baseline)
    // semantics: n4 counts null rows (4th row's v with id=4 ... v(3)=null
    // at id=3, so 4th row overall is id=4 → 4); n4nn skips nulls — the
    // 4th NON-null is id=5 (1,2,4,5); n700 spans range partitions
    assert(rewritten.exists(r => r(0) == 2000L && r(1) == 4L && r(2) == 5L &&
      r(3) == 700L))
    assert(rewritten.exists(r => r(0) == 3L && r(1) == null))
    // above the boundary-state cap: stays on the plain window
    withOpenGate {
      val p = plan(spark.sql(
        "SELECT nth_value(id, 2000) OVER (ORDER BY id) AS n FROM rr_nth_t"))
      assert(p.contains("Window") && !p.contains("GlobalRank"), p)
    }
  }

  test("offsets above the boundary-slice cap stay on the plain window") {
    frame.createOrReplaceTempView("rr_rule_t")
    withOpenGate {
      val p = plan(spark.sql(
        "SELECT lag(score, 2000) OVER (ORDER BY score, id) AS l FROM rr_rule_t"))
      assert(p.contains("Window") && !p.contains("GlobalRank"), p)
      // and the cap is a conf, not a constant
      spark.conf.set(graft.plans.GlobalRankExec.MaxOffsetKey, "4000")
      try {
        val p2 = plan(spark.sql(
          "SELECT lag(score, 2000) OVER (ORDER BY score, id) AS l FROM rr_rule_t"))
        assert(p2.contains("GlobalRank"), p2)
      } finally spark.conf.unset(graft.plans.GlobalRankExec.MaxOffsetKey)
    }
  }

  test("giant tie runs in the RANGE path log the buffered-run warning") {
    import org.apache.spark.sql.functions._
    spark.range(4000).select((col("id") % 3).as("k"), col("id"))
      .createOrReplaceTempView("rr_bigrun_t")
    val exec = graft.plans.GlobalRankExec
    spark.conf.set(exec.BigRunWarnRowsKey, "1000")
    try withOpenGate {
      val before = exec.bigRunWarnCount.get()
      // RANGE-framed sum over a 3-value key -> ~1333-row peer runs
      spark.sql(
        "SELECT sum(s) AS t FROM (SELECT sum(id) OVER (ORDER BY k) AS s FROM rr_bigrun_t)")
        .collect()
      assert(exec.bigRunWarnCount.get() > before,
        "a 1333-row tie run above the 1000-row threshold must warn")
      // fine-grained keys stay quiet
      val after = exec.bigRunWarnCount.get()
      spark.sql(
        "SELECT sum(s) AS t FROM (SELECT sum(k) OVER (ORDER BY id) AS s FROM rr_bigrun_t)")
        .collect()
      assert(exec.bigRunWarnCount.get() == after)
    } finally spark.conf.unset(exec.BigRunWarnRowsKey)
  }

  test("ANSI long-sum overflow throws through the rewrite, as the plain window would") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    assume(spark.conf.get("spark.sql.ansi.enabled", "true").toBoolean)
    Seq(1L, 2L).toDF("id")
      .withColumn("v", lit(Long.MaxValue))
      .createOrReplaceTempView("rr_ovf_t")
    val sql = "SELECT sum(v) OVER (ORDER BY id) AS s FROM rr_ovf_t"
    withOpenGate {
      val df = spark.sql(sql)
      assert(plan(df).contains("GlobalRank"))
      val e = intercept[Exception](df.collect())
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(c => c.isInstanceOf[ArithmeticException] ||
        String.valueOf(c.getMessage).toLowerCase.contains("overflow")), e.toString)
    }
  }

  test("low-cardinality ORDER BY logs the degrade warning; high-cardinality does not") {
    import org.apache.spark.sql.functions._
    val n = (1L << 20) + 64L
    spark.range(n).select((col("id") % 3).as("k"), col("id"))
      .createOrReplaceTempView("rr_degrade_t")
    val exec = graft.plans.GlobalRankExec
    withOpenGate {
      val before = exec.degradeWarnCount.get()
      // aggregate ABOVE the window so column pruning can't drop it
      val r = spark.sql(
        "SELECT sum(rk) AS t FROM (SELECT rank() OVER (ORDER BY k) AS rk FROM rr_degrade_t)")
      assert(plan(r).contains("GlobalRank"))
      r.collect()
      assert(exec.degradeWarnCount.get() > before,
        "3-distinct-value ORDER BY at 1M rows must log the degrade warning")
      // high-cardinality: no warning
      val after = exec.degradeWarnCount.get()
      spark.sql(
        "SELECT sum(rk) AS t FROM (SELECT rank() OVER (ORDER BY id) AS rk FROM rr_degrade_t)")
        .collect()
      assert(exec.degradeWarnCount.get() == after,
        "unique ORDER BY must not log the degrade warning")
    }
  }

  test("extensions-config path (injectPreCBORule + injectPlannerStrategy) rewrites too") {
    // the cluster deployment installs the rule via
    // spark.sql.extensions=graft.functions.GraftExtensions, not
    // register(); prove that placement fires on a fresh session
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    val prevDefault = org.apache.spark.sql.SparkSession.getDefaultSession
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions().apply(_))
        .getOrCreate()
      s2.conf.set(GateKey, "0")
      frame.createOrReplaceTempView("rr_rule_t") // registered on SharedSpark
      import s2.implicits._
      (1 to 100).map(i => (i, i % 5)).toDF("id", "v")
        .createOrReplaceTempView("rr_ext_t")
      val df = s2.sql(
        "SELECT id, ntile(3) OVER (ORDER BY v, id) AS t FROM rr_ext_t")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("GlobalRank") && !p.contains("Window"), p)
      assert(df.collect().map(_.getInt(1)).sorted.toSeq ==
        (Seq.fill(34)(1) ++ Seq.fill(33)(2) ++ Seq.fill(33)(3)))
    } finally {
      prevDefault.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
      prevActive.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
    }
  }

  test("forced spill: RANGE-path tie runs spill to disk with identical results (r17)") {
    import org.apache.spark.sql.functions._
    // 3-value order key over 4000 rows -> ~1333-row peer runs, far
    // past the forced 4-row in-memory threshold: every run must spill
    spark.range(4000).select((col("id") % 3).as("k"), col("id"), (col("id") % 7).as("v"))
      .createOrReplaceTempView("rr_spill_t")
    val sql =
      """SELECT k,
        |  sum(v)   OVER (ORDER BY k) AS s,
        |  count(*) OVER (ORDER BY k) AS c,
        |  max(id)  OVER (ORDER BY k) AS m,
        |  cume_dist() OVER (ORDER BY k) AS cd
        |FROM rr_spill_t""".stripMargin
    // baseline BEFORE the thresholds are lowered (plain window,
    // in-memory buffering)
    val baseline = spark.sql(sql).collect().map(_.toSeq).sorted(
      Ordering.by((s: Seq[Any]) => s.toString))
    val exec = graft.plans.GlobalRankExec
    spark.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "4")
    spark.conf.set("spark.sql.windowExec.buffer.spill.threshold", "8")
    try withOpenGate {
      val before = exec.tieRunSpillCount.get()
      val df = spark.sql(sql)
      assert(plan(df).contains("GlobalRank"))
      val rewritten = df.collect().map(_.toSeq).sorted(
        Ordering.by((s: Seq[Any]) => s.toString))
      assert(exec.tieRunSpillCount.get() > before,
        "1333-row tie runs above a 4-row in-memory threshold must spill")
      assert(rewritten.toSeq == baseline.toSeq)
    } finally {
      spark.conf.unset("spark.sql.windowExec.buffer.in.memory.threshold")
      spark.conf.unset("spark.sql.windowExec.buffer.spill.threshold")
    }
  }

  test("bounded ROWS frames (moving aggregates) rewrite and match the plain window (r17)") {
    frame.createOrReplaceTempView("rr_rule_t")
    // (score, id) is a total order; ks 3/5/6/9 cross the 4-way range
    // split so the boundary tail slices carry real cross-partition
    // frames. Exact integers -> bit-identical to the plain window.
    val sql =
      """SELECT id,
        |  sum(score) OVER (ORDER BY score, id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ms,
        |  avg(score) OVER (ORDER BY score, id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma,
        |  min(id)    OVER (ORDER BY score, id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mmn,
        |  max(tag)   OVER (ORDER BY score, id
        |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS mmx,
        |  count(*)   OVER (ORDER BY score, id
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS mc
        |FROM rr_rule_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (p, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(_.toSeq).toSet)
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(rewritten == baseline)
  }

  test("bounded frames compose with ranks, running aggs and lag in one window (r17)") {
    frame.createOrReplaceTempView("rr_rule_t")
    val sql =
      """SELECT id,
        |  sum(score) OVER (ORDER BY score, id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ms,
        |  sum(score) OVER (ORDER BY score, id) AS rs,
        |  row_number() OVER (ORDER BY score, id) AS rn,
        |  lag(score, 2) OVER (ORDER BY score, id) AS l2
        |FROM rr_rule_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (p, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(_.toSeq).toSet)
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(rewritten == baseline)
  }

  test("bounded frames above the boundary-slice cap stay on the plain window (r17)") {
    frame.createOrReplaceTempView("rr_rule_t")
    withOpenGate {
      val p = plan(spark.sql(
        """SELECT sum(score) OVER (ORDER BY score, id
          |  ROWS BETWEEN 2000 PRECEDING AND CURRENT ROW) AS s FROM rr_rule_t""".stripMargin))
      assert(p.contains("Window") && !p.contains("GlobalRank"), p)
    }
  }

  test("variance-class running aggregates rewrite; values match the plain window (r17)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    (1 to 3000).map(_.toLong).toDF("id")
      .withColumn("v", when(col("id") <= 100, lit(null))
        .otherwise(col("id") * lit(1.5e0) + lit(1.0e6)))
      .createOrReplaceTempView("rr_var_t")
    // +1e6 shift: the naive (n, Σ, Σx²) formula would lose ~12 digits
    // to cancellation here — the Welford/Chan state must not
    val sql =
      """SELECT id,
        |  stddev_samp(v) OVER (ORDER BY id) AS ss,
        |  stddev_pop(v)  OVER (ORDER BY id) AS sp,
        |  var_samp(v)    OVER (ORDER BY id) AS vs,
        |  var_pop(v)     OVER (ORDER BY id) AS vp
        |FROM rr_var_t""".stripMargin
    val baseline = spark.sql(sql).collect()
      .map(r => (r.getLong(0), r.toSeq.drop(1))).sortBy(_._1)
    val (p, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(r => (r.getLong(0), r.toSeq.drop(1))).sortBy(_._1))
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
    // prefix-combined Welford (Chan merge) vs the single task's purely
    // sequential Welford: same ulp class as any partial aggregation
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => true
      case (x: Double, y: Double) =>
        (x == y) || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
      case _ => a == b
    }
    baseline.zip(rewritten).foreach { case ((idB, vsB), (idR, vsR)) =>
      assert(idB == idR)
      vsB.zip(vsR).foreach { case (b, r) =>
        assert(close(b, r), s"id=$idB: $vsB vs $vsR")
      }
    }
    // the semantics: all-null prefix -> null; n==1 -> samp null
    // (modern nullOnDivideByZero), pop 0.0
    val m = rewritten.toMap
    assert(m(50L) == Seq(null, null, null, null))
    assert(m(101L) == Seq(null, 0.0d, null, 0.0d))
  }

  test("decimal running and sliding sums rewrite; values exact vs the plain window (r17)") {
    frame.createOrReplaceTempView("rr_rule_t")
    val sql =
      """SELECT id,
        |  sum(CAST(score AS DECIMAL(12,2)) * 1.25) OVER (ORDER BY score, id) AS ds,
        |  sum(CAST(score AS DECIMAL(12,2)))        OVER (ORDER BY score, id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mds
        |FROM rr_rule_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (p, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(_.toSeq).toSet)
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(rewritten == baseline)
  }

  test("ANSI decimal-sum overflow throws through the rewrite, as the plain window would (r17)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    assume(spark.conf.get("spark.sql.ansi.enabled", "true").toBoolean)
    Seq(1L, 2L).toDF("id")
      .withColumn("v", lit("99999999999999999999999999999999999999").cast("decimal(38,0)"))
      .createOrReplaceTempView("rr_decovf_t")
    val sql = "SELECT sum(v) OVER (ORDER BY id) AS s FROM rr_decovf_t"
    withOpenGate {
      val df = spark.sql(sql)
      assert(plan(df).contains("GlobalRank"))
      val e = intercept[Exception](df.collect())
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(c => c.isInstanceOf[ArithmeticException] ||
        String.valueOf(c.getMessage).toLowerCase.contains("overflow")), e.toString)
    }
  }

  test("nondeterministic args are safe: extracted below the ONE shuffle (r17)") {
    // sum(rand()) OVER (ORDER BY ...) through SQL: the analyzer
    // extracts rand() into a _w0 projection BELOW the window, so it
    // sits under the range exchange — drawn once on the map side,
    // and job 1 (prefix totals) and job 2 (emission) read the SAME
    // shuffle bytes. The discriminating property: a running sum of
    // non-negative draws must be non-decreasing ACROSS partition
    // boundaries — if the two jobs saw different draws, a seeded
    // prefix could undercut the previous partition's last emission.
    // (The matcher's a.deterministic guard therefore never fires on
    // analyzer-produced plans; it covers hand-built Window nodes
    // whose args were never extracted.)
    frame.createOrReplaceTempView("rr_rule_t")
    withOpenGate {
      val df = spark.sql(
        "SELECT sum(rand()) OVER (ORDER BY score, id) AS r FROM rr_rule_t")
      assert(plan(df).contains("GlobalRank"), plan(df))
      val vals = df.collect().map(_.getDouble(0))
      assert(vals.length == 4000)
      vals.sliding(2).foreach { case Array(a, b) =>
        assert(b >= a, s"running sum of non-negative draws decreased: $a -> $b " +
          "(job-1 prefix totals inconsistent with job-2 draws)")
      }
    }
  }

  test("decimal overflow recovery matches the plain window row-for-row (r17)") {
    // empirical plain-window semantics (pinned here): an intermediate
    // running-sum overflow yields NULL for THAT row only — the buffer
    // stays exact and later rows recover when the prefix cancels back
    // under the result precision; exact-space value() re-decision
    // reproduces it exactly
    val big = "9" * 38
    val values = (1 to 40).map { i =>
      val v = i % 4 match {
        case 1 | 2 => big
        case _ => s"-$big"
      }
      s"($i, CAST($v AS DECIMAL(38,0)))"
    }.mkString(", ")
    // legacy (non-ANSI) semantics are the ones with the recovery
    // story — ANSI throws at the first overflow on both paths (spec'd
    // separately above)
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      spark.sql(s"SELECT * FROM VALUES $values AS t(i, v)")
        .createOrReplaceTempView("rr_dec_t")
      val sql = "SELECT i, SUM(v) OVER (ORDER BY i) AS rs FROM rr_dec_t"
      val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
      // sanity: the scenario really exercises overflow-then-recovery
      assert(baseline.exists(r => r(1) == null))
      assert(baseline.exists(r => r(0) == 4 && r(1) != null))
      val rewritten = withOpenGate {
        val df = spark.sql(sql)
        assert(plan(df).contains("GlobalRank"), plan(df))
        df.collect().map(_.toSeq).toSet
      }
      assert(rewritten == baseline)
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }

  test("decimal AVG rewrites by composition: Spark's own division semantics (r17)") {
    // the exec emits Average's OWN buffer columns (exact decimal sum
    // with the zero-when-empty convention + non-null count); the
    // output is restored by Average.evaluateExpression above the
    // plan, so division scale/rounding and null-on-empty are Spark's
    // by construction. Leading nulls exercise the count==0 window.
    val values = (1 to 400).map { i =>
      val v = if (i <= 5 || i % 7 == 0) "NULL" else s"CAST(${i * 13}.${i % 100} AS DECIMAL(9,2))"
      s"($i, $v)"
    }.mkString(", ")
    spark.sql(s"SELECT i, CAST(v AS DECIMAL(9,2)) AS v FROM VALUES $values AS t(i, v)")
      .createOrReplaceTempView("rr_avg_t")
    val sql = "SELECT i, AVG(v) OVER (ORDER BY i) AS av FROM rr_avg_t"
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    // sanity: leading-null prefix is null, later rows are DECIMAL(13,6)
    assert(baseline.exists(r => r(0) == 1 && r(1) == null))
    assert(baseline.exists(r => r(0) == 400 && r(1) != null))
    val rewritten = withOpenGate {
      val df = spark.sql(sql)
      assert(plan(df).contains("GlobalRank") && !plan(df).contains("Window"), plan(df))
      df.collect().map(_.toSeq).toSet
    }
    assert(rewritten == baseline)
    // small-precision bounded avg ALSO rewrites (DecimalAggregates
    // hands us a double avg over UnscaledValue, which the bounded
    // path supports) — value parity against the plain window
    val mSql =
      """SELECT i, AVG(v) OVER (ORDER BY i
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m FROM rr_avg_t""".stripMargin
    val mBase = spark.sql(mSql).collect().map(_.toSeq).toSet
    withOpenGate {
      val df = spark.sql(mSql)
      assert(plan(df).contains("GlobalRank"), plan(df))
      assert(df.collect().map(_.toSeq).toSet == mBase)
      // LARGE-precision bounded decimal avg: no DecimalAggregates
      // rewrite (the exact form survives) and the composition only
      // covers the running frame — stays on the plain window
      val pb = plan(spark.sql(
        """SELECT AVG(CAST(v AS DECIMAL(18,4))) OVER (ORDER BY i
          |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m FROM rr_avg_t""".stripMargin))
      assert(pb.contains("Window") && !pb.contains("GlobalRank"), pb)
    }
    // LARGE-precision RUNNING avg: the true Average(decimal) buffer
    // split — exact sum (zero-when-empty convention across the
    // leading all-null prefix) + count, restored by Spark's own
    // evaluateExpression — row-for-row parity
    val bigSql =
      "SELECT i, AVG(CAST(v AS DECIMAL(18,4))) OVER (ORDER BY i) AS av FROM rr_avg_t"
    val bigBase = spark.sql(bigSql).collect().map(_.toSeq).toSet
    withOpenGate {
      val df = spark.sql(bigSql)
      assert(plan(df).contains("GlobalRank") && !plan(df).contains("Window"), plan(df))
      assert(df.collect().map(_.toSeq).toSet == bigBase)
    }
  }

  test("boundary slices spanning MULTIPLE short partitions stay exact (r17)") {
    // every range partition here holds ~2 rows, far fewer than the
    // offsets/frames need — the driver's tail/head seed assembly must
    // concatenate across partitions (a short partition contributes its
    // whole tail; keeping the last maxTail of the concatenation is
    // exact). lag(7)/lead(5)/ROWS 6 PRECEDING/nth_value(9) all span
    // several partitions at once.
    import spark.implicits._
    (1 to 60).map(i => (i.toLong, (i * 13 % 997).toLong)).toDF("id", "v")
      .createOrReplaceTempView("rr_tiny_t")
    val sql =
      """SELECT id,
        |  lag(v, 7)  OVER (ORDER BY v, id) AS l7,
        |  lead(v, 5) OVER (ORDER BY v, id) AS n5,
        |  SUM(v) OVER (ORDER BY v, id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7,
        |  nth_value(v, 9) OVER (ORDER BY v, id) AS nth9
        |FROM rr_tiny_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try withOpenGate {
      val df = spark.sql(sql)
      assert(plan(df).contains("GlobalRank") && !plan(df).contains("Window"), plan(df))
      assert(df.collect().map(_.toSeq).toSet == baseline)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("top-k rank filters keep Spark's group-limit/limit pushdowns below the rewrite (r17)") {
    // InferWindowGroupLimit (rank <= k) and LimitPushDownThroughWindow
    // (row_number <= k) both run in the main optimizer batches BEFORE
    // the preCBO rewrite slot; the rewrite must compose with — not
    // defeat — their pruning, so at scale only <= k rows per input
    // partition ever reach the exchange
    frame.createOrReplaceTempView("rr_topk_t")
    val rkSql =
      """SELECT * FROM (SELECT id, score,
        |  rank() OVER (ORDER BY score, id) AS rk FROM rr_topk_t) WHERE rk <= 10""".stripMargin
    val rnSql =
      """SELECT * FROM (SELECT id, score,
        |  row_number() OVER (ORDER BY score, id) AS rn FROM rr_topk_t) WHERE rn <= 10""".stripMargin
    val (rkBase, rnBase) =
      (spark.sql(rkSql).collect().map(_.toSeq).toSet,
       spark.sql(rnSql).collect().map(_.toSeq).toSet)
    withOpenGate {
      val rk = spark.sql(rkSql)
      assert(rk.queryExecution.optimizedPlan.toString.contains("WindowGroupLimit"),
        rk.queryExecution.optimizedPlan.toString)
      assert(plan(rk).contains("GlobalRank") && plan(rk).contains("WindowGroupLimit"),
        plan(rk))
      assert(rk.collect().map(_.toSeq).toSet == rkBase)
      val rn = spark.sql(rnSql)
      assert(plan(rn).contains("GlobalRank") &&
        plan(rn).contains("TakeOrderedAndProject"), plan(rn))
      assert(rn.collect().map(_.toSeq).toSet == rnBase)
    }
  }

  // --- IGNORE NULLS offsets (r18): the forward-fill idiom -----------------

  /** Sparse nullable columns: `v` non-null on ~1/9 of rows (runs of 8
    * nulls), `s` (string) non-null on ~1/5, `w` ALL null — null runs
    * straddle every 4-way range boundary, exercising the per-column
    * non-null prefix/suffix slices. */
  private def nnFrame: DataFrame = {
    val rows = (1 to 4000).map { i =>
      (i.toLong,
        if (i % 9 == 0) Some(i.toLong * 3) else None,
        if (i % 5 == 0) Some(s"v$i") else None,
        None: Option[Long])
    }
    rows.toDF("id", "v", "s", "w")
  }

  test("IGNORE NULLS lag: exact vs plain window across range boundaries (r18)") {
    nnFrame.createOrReplaceTempView("rr_nn_t")
    val sql =
      """SELECT id,
        |  lag(v, 1) IGNORE NULLS       OVER (ORDER BY id) AS ff,
        |  lag(v, 3, -1L) IGNORE NULLS  OVER (ORDER BY id) AS l3,
        |  lag(s, 2) IGNORE NULLS       OVER (ORDER BY id) AS ls,
        |  lag(w, 1, -7L) IGNORE NULLS  OVER (ORDER BY id) AS lw,
        |  lag(v, 2) OVER (ORDER BY id) AS plain
        |FROM rr_nn_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (p, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(_.toSeq).toSet)
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(rewritten == baseline)
  }

  test("IGNORE NULLS lead: exact vs plain window, incl. drain via suffix slices (r18)") {
    nnFrame.createOrReplaceTempView("rr_nn_t")
    // offsets deep enough that rows near each range boundary resolve
    // from the cross-partition suffix non-null slices, and rows near
    // the global tail fall to the default
    val sql =
      """SELECT id,
        |  lead(v, 1) IGNORE NULLS       OVER (ORDER BY id) AS n1,
        |  lead(v, 4, -1L) IGNORE NULLS  OVER (ORDER BY id) AS n4,
        |  lead(s, 2) IGNORE NULLS       OVER (ORDER BY id) AS ns,
        |  lead(w, 1, -7L) IGNORE NULLS  OVER (ORDER BY id) AS nw,
        |  lead(v, 3) OVER (ORDER BY id) AS plain
        |FROM rr_nn_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (p, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(_.toSeq).toSet)
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(rewritten == baseline)
  }

  test("IGNORE NULLS offsets compose with the whole family in ONE window (r18)") {
    nnFrame.createOrReplaceTempView("rr_nn_t")
    val sql =
      """SELECT id,
        |  row_number()                 OVER (ORDER BY id) AS rn,
        |  sum(id)                      OVER (ORDER BY id) AS cum,
        |  lag(v, 1) IGNORE NULLS       OVER (ORDER BY id) AS ff,
        |  lead(v, 2) IGNORE NULLS      OVER (ORDER BY id) AS nx,
        |  lag(id, 2)                   OVER (ORDER BY id) AS lg,
        |  lead(id, 3)                  OVER (ORDER BY id) AS ld,
        |  sum(id)                      OVER (ORDER BY id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mv,
        |  last_value(v) IGNORE NULLS   OVER (ORDER BY id) AS lv
        |FROM rr_nn_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (p, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(_.toSeq).toSet)
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(rewritten == baseline)
  }

  test("IGNORE NULLS lead pending buffer over the warn threshold logs + bumps the metric (r18)") {
    nnFrame.createOrReplaceTempView("rr_nn_t")
    spark.conf.set(graft.plans.GlobalRankExec.PendWarnRowsKey, "64")
    val before = graft.plans.GlobalRankExec.leadPendWarnCount.get()
    try withOpenGate {
      // w is ALL null: every row pends to drain — far past 64 per task
      val df = spark.sql(
        "SELECT id, lead(w, 1, -1L) IGNORE NULLS OVER (ORDER BY id) AS x FROM rr_nn_t")
      assert(plan(df).contains("GlobalRank"))
      val vals = df.collect().map(_.getLong(1))
      assert(vals.forall(_ == -1L))
      assert(graft.plans.GlobalRankExec.leadPendWarnCount.get() > before)
    } finally spark.conf.unset(graft.plans.GlobalRankExec.PendWarnRowsKey)
  }

  test("IGNORE NULLS shapes the rewrite must NOT take stay on the plain window (r18)") {
    nnFrame.createOrReplaceTempView("rr_nn_t")
    withOpenGate {
      // offset past the boundary-slice cap
      spark.conf.set(graft.plans.GlobalRankExec.MaxOffsetKey, "4")
      try {
        val p1 = plan(spark.sql(
          "SELECT lag(v, 9) IGNORE NULLS OVER (ORDER BY id) AS x FROM rr_nn_t"))
        assert(p1.contains("Window") && !p1.contains("GlobalRank"), p1)
      } finally spark.conf.unset(graft.plans.GlobalRankExec.MaxOffsetKey)
    }
  }

  // --- value-bounded RANGE k PRECEDING frames (r18) -----------------------

  test("RANGE value frames: long key with ties, ASC and DESC, exact vs plain window (r18)") {
    // duplicate keys (ties of ~41 rows): RANGE upper CURRENT ROW
    // absorbs the whole peer run — the per-run value must include
    // FOLLOWING peers, across 4-way range-partition boundaries
    frame.createOrReplaceTempView("rr_rule_t")
    val sql =
      """SELECT id, score,
        |  sum(id)   OVER (ORDER BY score RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS s5,
        |  count(*)  OVER (ORDER BY score RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS c5,
        |  min(id)   OVER (ORDER BY score RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS mn,
        |  max(tag)  OVER (ORDER BY score RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS mx,
        |  sum(id)   OVER (ORDER BY score DESC RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS sd,
        |  sum(id)   OVER (ORDER BY score RANGE BETWEEN 0 PRECEDING AND CURRENT ROW) AS peers
        |FROM rr_rule_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (p, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(_.toSeq).toSet)
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(rewritten == baseline)
  }

  test("RANGE value frames: timestamp + INTERVAL, date + days, null keys (r18)") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 3000).toDF("i")
      .withColumn("ts", when(col("i") % 97 =!= 0L,
        expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, i * 1000)")))
      .withColumn("d", when(col("i") % 89 =!= 0L,
        expr("date'2024-01-01' + cast(i % 400 as int)")))
      .withColumn("v", (col("i") % 1000).cast("long"))
    df.createOrReplaceTempView("rr_rng_t")
    val sql =
      """SELECT i,
        |  sum(v) OVER (ORDER BY ts RANGE BETWEEN INTERVAL 2 HOUR PRECEDING AND CURRENT ROW) AS sh,
        |  count(v) OVER (ORDER BY ts RANGE BETWEEN INTERVAL 45 MINUTE PRECEDING AND CURRENT ROW) AS cm,
        |  sum(v) OVER (ORDER BY d RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS sd,
        |  max(v) OVER (ORDER BY d RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS md
        |FROM rr_rng_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (p, rewritten) = withOpenGate {
      val q = spark.sql(sql)
      (plan(q), q.collect().map(_.toSeq).toSet)
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(rewritten == baseline)
  }

  test("RANGE value frames: double sums carry the partial-agg ulp class; doubles-exact families agree (r18)") {
    frame.createOrReplaceTempView("rr_rule_t")
    val sql =
      """SELECT id,
        |  sum(id * 0.5e0) OVER (ORDER BY score RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS sv,
        |  avg(id * 0.5e0) OVER (ORDER BY score RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS av
        |FROM rr_rule_t""".stripMargin
    val baseline = spark.sql(sql).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val rewritten = withOpenGate {
      val df = spark.sql(sql)
      assert(plan(df).contains("GlobalRank"))
      df.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    }
    baseline.foreach { case (id, (s, a)) =>
      val (s2, a2) = rewritten(id)
      assert(math.abs(s - s2) <= math.max(1e-9, math.abs(s) * 1e-12), s"id=$id sum $s vs $s2")
      assert(math.abs(a - a2) <= math.max(1e-9, math.abs(a) * 1e-12), s"id=$id avg $a vs $a2")
    }
  }

  test("RANGE value frames compose with ranks, running aggs and offsets in one window (r18)") {
    frame.createOrReplaceTempView("rr_rule_t")
    val sql =
      """SELECT id,
        |  rank()    OVER (ORDER BY score) AS rk,
        |  sum(id)   OVER (ORDER BY score) AS cum,
        |  sum(id)   OVER (ORDER BY score RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS s3,
        |  lag(id, 2) OVER (ORDER BY score) AS lg
        |FROM rr_rule_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (p, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(_.toSeq).toSet)
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(rewritten == baseline)
  }

  test("RANGE value-frame shapes the rewrite must NOT take stay on the plain window (r18)") {
    frame.createOrReplaceTempView("rr_rule_t")
    withOpenGate {
      // year-month interval bound over a timestamp key: rewrites
      // since r19 (gr13 — MonthsRangeDelta evaluates the calendar
      // bound with the plain window's own DateTimeUtils arithmetic)
      spark.range(10).toDF("i")
        .selectExpr("timestamp'2024-01-01' + make_interval(0,0,0, cast(i as int)) AS ts", "i AS v")
        .createOrReplaceTempView("rr_rng_ym")
      val p1 = plan(spark.sql(
        """SELECT sum(v) OVER (ORDER BY ts
          |  RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW) AS s
          |FROM rr_rng_ym""".stripMargin))
      assert(p1.contains("GlobalRank") && !p1.contains("Window"), p1)
      // mixed month+day CalendarInterval bounds stay excluded (frame
      // bounds must be literals; only legacy interval literals
      // produce CalendarIntervalType with months set)
      spark.conf.set("spark.sql.legacy.interval.enabled", "true")
      try {
        val pMix = plan(spark.sql(
          """SELECT sum(v) OVER (ORDER BY ts
            |  RANGE BETWEEN INTERVAL 1 MONTH 3 DAYS PRECEDING AND CURRENT ROW) AS s
            |FROM rr_rng_ym""".stripMargin))
        assert(pMix.contains("Window") && !pMix.contains("GlobalRank"), pMix)
      } finally spark.conf.unset("spark.sql.legacy.interval.enabled")
      // ZONED timestamp keys under a DST session zone: the plain
      // window's interval frame bound is wall-clock (1 day = 23h/25h
      // across a transition), the delta is fixed micros — excluded
      // unless the session zone is a fixed offset (review r18,
      // reproduced divergence)
      val tzSql =
        """SELECT sum(v) OVER (ORDER BY ts
          |  RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW) AS s
          |FROM rr_rng_ym""".stripMargin
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      try {
        val pDst = plan(spark.sql(tzSql))
        assert(pDst.contains("Window") && !pDst.contains("GlobalRank"), pDst)
      } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
      // back under UTC (fixed offset) the same shape rewrites; an NTZ
      // key rewrites regardless of the session zone
      val pUtc = plan(spark.sql(tzSql))
      assert(pUtc.contains("GlobalRank"), pUtc)
      spark.range(10).toDF("i")
        .selectExpr(
          "cast(timestamp'2024-01-01' + make_interval(0,0,0, cast(i as int)) as timestamp_ntz) AS ts",
          "i AS v")
        .createOrReplaceTempView("rr_rng_ntz")
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      try {
        val pNtz = plan(spark.sql(
          """SELECT sum(v) OVER (ORDER BY ts
            |  RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW) AS s
            |FROM rr_rng_ntz""".stripMargin))
        assert(pNtz.contains("GlobalRank"), pNtz)
      } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
  }

  test("year-month RANGE frames: calendar bounds match the plain window exactly (gr13/r19)") {
    import spark.implicits._
    // ~400 daily DATE keys with duplicates (peer runs) and end-of-
    // month coverage (every month-length transition clamps somewhere:
    // Mar 29/30/31 - 1 month all land on Feb 28 in a non-leap year)
    spark.range(400)
      .selectExpr("date_add(date'2023-01-05', cast(id / 2 AS int) * 3) AS d",
        "id AS v")
      .createOrReplaceTempView("rr_ym_dates")
    val shapes = Seq(
      """SELECT d, sum(v) OVER (ORDER BY d
        |  RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW) AS s,
        |  count(*) OVER (ORDER BY d
        |  RANGE BETWEEN INTERVAL 3 MONTH PRECEDING AND CURRENT ROW) AS n,
        |  min(v) OVER (ORDER BY d
        |  RANGE BETWEEN INTERVAL '1-2' YEAR TO MONTH PRECEDING AND CURRENT ROW) AS m
        |FROM rr_ym_dates""".stripMargin,
      """SELECT d, sum(v) OVER (ORDER BY d DESC
        |  RANGE BETWEEN INTERVAL 2 MONTH PRECEDING AND CURRENT ROW) AS s
        |FROM rr_ym_dates""".stripMargin)
    shapes.foreach { sql =>
      val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
      val (p, rewritten) = withOpenGate {
        val df = spark.sql(sql)
        (plan(df), df.collect().map(_.toSeq).toSet)
      }
      assert(p.contains("GlobalRank") && !p.contains("Window"), p)
      assert(rewritten == baseline, sql)
    }
  }

  test("year-month RANGE frames under a DST session zone: gap-shifted bounds stay exact (gr13/r19)") {
    // hourly ZONED timestamps from just before the US spring-forward
    // (2024-03-10 02:00 LA) for 40 days: the 1-month-preceding bounds
    // of the 2024-04-10 02:xx local rows land INSIDE the 02:00-03:00
    // gap and shift an hour later — making the bound NON-monotone in
    // the key, with data rows present right at the moving edge. Both
    // engines evict stickily, so frames must still agree row for row.
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      spark.range(24 * 40)
        .selectExpr(
          "timestamp'2024-03-09 23:30:00' + make_interval(0,0,0,0, cast(id AS int), 0, 0) AS ts",
          "id AS v")
        .createOrReplaceTempView("rr_ym_dst")
      val sql =
        """SELECT ts, sum(v) OVER (ORDER BY ts
          |  RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW) AS s,
          |  count(*) OVER (ORDER BY ts
          |  RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW) AS n
          |FROM rr_ym_dst""".stripMargin
      val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
      val (p, rewritten) = withOpenGate {
        val df = spark.sql(sql)
        (plan(df), df.collect().map(_.toSeq).toSet)
      }
      assert(p.contains("GlobalRank") && !p.contains("Window"), p)
      assert(rewritten == baseline)
      // NTZ keys under the same DST session zone are zone-free
      spark.range(24 * 40)
        .selectExpr(
          ("cast(timestamp_ntz'2024-03-09 23:30:00' + " +
            "make_interval(0,0,0,0, cast(id AS int), 0, 0) AS timestamp_ntz) AS ts"),
          "id AS v")
        .createOrReplaceTempView("rr_ym_dst_ntz")
      val sqlN = sql.replace("rr_ym_dst", "rr_ym_dst_ntz")
      val baseN = spark.sql(sqlN).collect().map(_.toSeq).toSet
      val (pN, rewN) = withOpenGate {
        val df = spark.sql(sqlN)
        (plan(df), df.collect().map(_.toSeq).toSet)
      }
      assert(pN.contains("GlobalRank") && !pN.contains("Window"), pN)
      assert(rewN == baseN)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("RANGE frames at the key type's edge: ANSI overflow fails like the plain window (r18)") {
    import org.apache.spark.sql.functions._
    // int key straddling Int.MinValue: the plain window's bound
    // arithmetic (cur + lower in INT space) overflows — under ANSI
    // both paths must FAIL; rows away from the edge are unaffected
    Seq(Int.MinValue, Int.MinValue + 50, 0, 100)
      .toDF("k").withColumn("v", lit(1L))
      .createOrReplaceTempView("rr_rng_edge")
    val sql =
      """SELECT k, sum(v) OVER (ORDER BY k
        |  RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS s
        |FROM rr_rng_edge""".stripMargin
    assume(spark.conf.get("spark.sql.ansi.enabled", "true").toBoolean)
    val plainErr = intercept[Exception](spark.sql(sql).collect())
    withOpenGate {
      val df = spark.sql(sql)
      assert(plan(df).contains("GlobalRank"), plan(df))
      val rewriteErr = intercept[Exception](df.collect())
      assert(rewriteErr.toString.toLowerCase.contains("overflow") ||
        Option(rewriteErr.getCause).exists(_.toString.toLowerCase.contains("overflow")),
        s"plain=${plainErr.getClass.getSimpleName} rewrite=$rewriteErr")
    }
  }

  test("RANGE window entries over the cap fail loudly with the remedy named (r18)") {
    frame.createOrReplaceTempView("rr_rule_t")
    spark.conf.set(graft.plans.GlobalRankExec.MaxRangeEntriesKey, "8")
    try withOpenGate {
      // unique keys with a window spanning far more than 8 of them
      val df = spark.sql(
        """SELECT id, sum(score) OVER (ORDER BY id
          |  RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS s
          |FROM rr_rule_t""".stripMargin)
      assert(plan(df).contains("GlobalRank"), plan(df))
      val e = intercept[Exception](df.collect())
      val msg = e.toString + Option(e.getCause).map(_.toString).getOrElse("")
      assert(msg.contains("maxRangeWindowEntries"), msg.take(500))
    } finally spark.conf.unset(graft.plans.GlobalRankExec.MaxRangeEntriesKey)
  }

  test("TRY sums rewrite: sticky running null, per-frame recovery — exact vs plain window (r18)") {
    import org.apache.spark.sql.functions._
    // oscillating near-Long.MaxValue values: the running path exits
    // long range INSIDE the frame (sticky from there on, even though
    // later rows cancel the prefix back in range), while bounded and
    // value frames re-accumulate per frame and recover — including
    // frames whose TOTAL fits but whose accumulation PATH exits range
    val big = Long.MaxValue / 2 + 10
    // per 7-cycle: big, big (the PATH exits long range here), -big,
    // -big (prefix cancels back in range), null, small, small — net
    // ~zero per cycle, so the running prefix keeps returning in range
    // while try_sum stays null from i=2 on
    val rows = (1 to 2000).map { i =>
      val v: java.lang.Long = (i % 7) match {
        case 1 => big
        case 2 => big
        case 3 => -big
        case 4 => -big
        case 5 => null
        case _ => i.toLong
      }
      (i.toLong, v)
    }
    rows.toDF("k", "v").createOrReplaceTempView("rr_try_t")
    val sql =
      """SELECT k,
        |  try_sum(v) OVER (ORDER BY k) AS run,
        |  try_sum(v) OVER (ORDER BY k ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mv3,
        |  try_sum(v) OVER (ORDER BY k RANGE BETWEEN 4 PRECEDING AND CURRENT ROW) AS rg5
        |FROM rr_try_t""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val (p, rewritten) = withOpenGate {
      val df = spark.sql(sql)
      (plan(df), df.collect().map(_.toSeq).toSet)
    }
    assert(p.contains("GlobalRank") && !p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(rewritten == baseline)
    // the data actually exercises both behaviors
    val byK = spark.sql(sql).collect().map(r => r.getLong(0) ->
      (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(byK(2000L)._1.isEmpty, "running try_sum should be sticky-null at the tail")
    assert(byK.values.exists(_._2.nonEmpty) && byK.values.exists(_._2.isEmpty),
      "bounded try_sum should both recover and null somewhere")
  }

  test("TRY sum stickiness crosses partition boundaries (overflow cancelled within one partition) (r18)") {
    import org.apache.spark.sql.functions._
    // the overflow happens EARLY and is cancelled back long before the
    // first range-partition boundary: the per-partition SUBTOTAL never
    // overflows, so only the path-extremes state can carry the
    // stickiness to later partitions
    val big = Long.MaxValue / 2 + 10
    val rows = (1 to 4000).map { i =>
      val v: java.lang.Long = i match {
        case 1 | 2 => big // prefix exits range at i=2
        case 3 | 4 => -big // ...and cancels back at i=4
        case _ => 1L
      }
      (i.toLong, v)
    }
    rows.toDF("k", "v").createOrReplaceTempView("rr_try_x")
    val sql = "SELECT k, try_sum(v) OVER (ORDER BY k) AS run FROM rr_try_x"
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val rewritten = withOpenGate {
      val df = spark.sql(sql)
      assert(plan(df).contains("GlobalRank"), plan(df))
      val out = df.collect()
      // every row from the overflow point on is null on BOTH paths
      assert(out.filter(_.getLong(0) >= 2L).forall(_.isNullAt(1)),
        "stickiness lost across partitions")
      out.map(_.toSeq).toSet
    }
    assert(rewritten == baseline)
  }

  test("ANSI frame-path overflow throws even when the frame TOTAL is in range (ADVICE r18)") {
    import spark.implicits._
    assume(spark.conf.get("spark.sql.ansi.enabled", "true").toBoolean)
    // accumulation path [Long.MaxValue, 1, -5]: every FRAME TOTAL that
    // contains all three lands back in long range (MaxValue - 4), but
    // the plain ANSI window's checked add throws at the +1 — the
    // rewrite must fail there too, not silently return the total
    Seq((1L, Long.MaxValue), (2L, 1L), (3L, -5L)).toDF("id", "v")
      .createOrReplaceTempView("rr_path_ovf_t")
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    def overflows(df: DataFrame): Unit = {
      val e = intercept[Exception](df.collect())
      assert(chain(e).exists(c => c.isInstanceOf[ArithmeticException] ||
        String.valueOf(c.getMessage).toLowerCase.contains("overflow")), e.toString)
    }
    // (running RANGE's intra-tie-run paths get the same treatment in
    // the accumulator, but whether a given tie run's path overflows
    // depends on the arbitrary tie order — on the plain window just as
    // much — so only the deterministic total-order shapes assert here)
    val shapes = Seq(
      "SELECT sum(v) OVER (ORDER BY id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS s FROM rr_path_ovf_t",
      "SELECT sum(v) OVER (ORDER BY id RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS s FROM rr_path_ovf_t")
    shapes.foreach { sql =>
      overflows(spark.sql(sql)) // the plain ANSI window (gate closed)
      withOpenGate {
        val df = spark.sql(sql)
        assert(plan(df).contains("GlobalRank"), plan(df))
        overflows(df)
      }
    }
    // control: running ROWS emits every prefix — an in-range path with
    // the same values reversed ([-5, 1, MaxValue-4]) never overflows
    // any prefix, and both plans agree on the values
    Seq((1L, -5L), (2L, 1L), (3L, Long.MaxValue - 4L)).toDF("id", "v")
      .createOrReplaceTempView("rr_path_ok_t")
    val okSql = "SELECT sum(v) OVER (ORDER BY id) AS s FROM rr_path_ok_t"
    val baseline = spark.sql(okSql).collect().map(_.toSeq).toSet
    val rewritten = withOpenGate {
      val df = spark.sql(okSql)
      assert(plan(df).contains("GlobalRank"), plan(df))
      df.collect().map(_.toSeq).toSet
    }
    assert(rewritten == baseline)
  }

  test("legacy wrapped RANGE bound: empty frame + sticky self-eviction, ASC/DESC/byte (GlobalRankFuzzSpec find, r20)") {
    import spark.implicits._
    // Non-ANSI, key within k of the type edge: the plain window
    // computes cur - k in the KEY's own type, WRAPS past the edge to
    // the other side of the domain, so the anchor's frame goes empty
    // (null sum) — and because the sliding frame's lower index never
    // moves backward, the wrapped rows stay evicted for every later
    // row too (probed against plain Spark on int/byte, both
    // directions). r19 saturated (include everything) here; the
    // seeded fuzzer minimized the divergence to one row
    // (seed=1 trial=66: k = Int.MinValue+33, RANGE 51 PRECEDING).
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val mn = Int.MinValue
      Seq((mn + 10, 1L), (mn + 30, 10L), (mn + 60, 100L), (mn + 200, 1000L))
        .toDF("k", "v").createOrReplaceTempView("rr_wrap_t")
      val ascSql =
        "SELECT k, sum(v) OVER (ORDER BY k RANGE BETWEEN 51 PRECEDING AND CURRENT ROW) AS s FROM rr_wrap_t"
      val baseline = spark.sql(ascSql).collect().map(_.toSeq).toSet
      val rewritten = withOpenGate {
        val df = spark.sql(ascSql)
        assert(plan(df).contains("GlobalRank"), plan(df))
        df.collect().map(_.toSeq).toSet
      }
      assert(rewritten == baseline)
      // shape: the two wrapped anchors are null; +60 sums ONLY itself
      // (the wrapped rows are sticky-evicted, though mathematically in
      // range); +200's frame is itself
      assert(baseline == Set(
        Seq(mn + 10, null), Seq(mn + 30, null),
        Seq(mn + 60, 100L), Seq(mn + 200, 1000L)), baseline.toString)

      val mx = Int.MaxValue
      Seq((mx - 10, 1L), (mx - 30, 10L), (mx - 60, 100L), (mx - 200, 1000L))
        .toDF("k", "v").createOrReplaceTempView("rr_wrap_d_t")
      val descSql =
        "SELECT k, sum(v) OVER (ORDER BY k DESC RANGE BETWEEN 51 PRECEDING AND CURRENT ROW) AS s FROM rr_wrap_d_t"
      val dBase = spark.sql(descSql).collect().map(_.toSeq).toSet
      val dRewr = withOpenGate {
        val df = spark.sql(descSql)
        assert(plan(df).contains("GlobalRank"), plan(df))
        df.collect().map(_.toSeq).toSet
      }
      assert(dRewr == dBase)
      assert(dBase == Set(
        Seq(mx - 10, null), Seq(mx - 30, null),
        Seq(mx - 60, 100L), Seq(mx - 200, 1000L)), dBase.toString)

      // byte key: the wrap re-centers at BYTE width (−120−20 lands at
      // +116), and count over the wrapped-empty frame is 0, not null
      spark.sql(
        "SELECT cast(k AS tinyint) AS k, v FROM VALUES (-120, 1L), (-100, 10L), (-70, 100L), (60, 1000L) AS t(k, v)"
      ).createOrReplaceTempView("rr_wrap_b_t")
      val bSql =
        """SELECT k,
          |  sum(v)   OVER (ORDER BY k RANGE BETWEEN 20 PRECEDING AND CURRENT ROW) AS s,
          |  count(v) OVER (ORDER BY k RANGE BETWEEN 20 PRECEDING AND CURRENT ROW) AS c
          |FROM rr_wrap_b_t""".stripMargin
      val bBase = spark.sql(bSql).collect().map(_.toSeq).toSet
      val bRewr = withOpenGate {
        val df = spark.sql(bSql)
        assert(plan(df).contains("GlobalRank"), plan(df))
        df.collect().map(_.toSeq).toSet
      }
      assert(bRewr == bBase)
      assert(bBase == Set(
        Seq(-120.toByte, null, 0L), Seq(-100.toByte, 10L, 1L),
        Seq(-70.toByte, 100L, 1L), Seq(60.toByte, 1000L, 1L)), bBase.toString)
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }

  test("downstream operators resolve over the rewritten node (filter + agg above)") {
    frame.createOrReplaceTempView("rr_rule_t")
    val sql =
      """SELECT tag, count(*) AS n FROM (
        |  SELECT tag, ntile(4) OVER (ORDER BY score, id) AS q FROM rr_rule_t
        |) WHERE q = 1 GROUP BY tag""".stripMargin
    val baseline = spark.sql(sql).collect().map(_.toSeq).toSet
    val rewritten = withOpenGate {
      val df = spark.sql(sql)
      assert(plan(df).contains("GlobalRank"))
      df.collect().map(_.toSeq).toSet
    }
    assert(rewritten == baseline)
  }
}
