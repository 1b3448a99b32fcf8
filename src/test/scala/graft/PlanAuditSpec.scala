package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.tools.PlanAudit

/** The duplicate-subtree detector must flag reuse-defeated duplicate
  * aggregates (the au1/tf1/ov1 class), stay silent on barriered
  * plans, on reuse-ELIGIBLE duplicates (canonical-equal self-joins),
  * and on genuinely-different branches that merely share a shape
  * (sk3's limit(r)-distinct audit columns). */
class PlanAuditSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$dir/events.parquet").exists()

  private def withConf[T](k: String, v: String)(body: => T): T = {
    spark.conf.set(k, v)
    try body finally spark.conf.unset(k)
  }

  test("un-barriered au1 twin is flagged; the barriered shape is silent") {
    assume(haveData)
    val k = Materialize.BarrierMinBytesKey
    val unb = withConf(k, Long.MaxValue.toString) {
      PlanAudit.audit(graft.queries.TemporalQueries.activeUsers(
        graft.sources.Tables.read(spark, dir, "events")))
    }
    assert(unb.exists(f => f.severity == "warn" && f.n == 3),
      s"expected the 3x distinct-aggregate warning, got: $unb")
    val bar = withConf(k, "0") {
      PlanAudit.audit(graft.queries.TemporalQueries.activeUsers(
        graft.sources.Tables.read(spark, dir, "events")))
    }
    assert(bar.isEmpty, s"barriered au1 must be silent, got: $bar")
  }

  test("basket shape is audit-silent on both sides of the gate (r20 pair rewrite)") {
    assume(haveData)
    // The r20 per-basket pair expansion replaced the okey self-join:
    // the distinct item frame dropped from four consumers to three,
    // and of those only the per-part count is duplicate-sensitive —
    // RemoveRedundantAggregates absorbs the inner distinct under
    // countDistinct and collect_set, so even the UN-barriered plan no
    // longer carries reuse-defeated duplicate aggregates (the old
    // shape was flagged 4x here). The gated barrier stays for the
    // one-pass-over-the-corpus posture at scale; both gate settings
    // must be audit-silent AND row-identical.
    val k = Materialize.BarrierMinBytesKey
    def q() = graft.queries.Relational.mb1MarketBasket(spark, dir)
    val unbFindings = withConf(k, Long.MaxValue.toString) { PlanAudit.audit(q()) }
    assert(unbFindings.forall(_.severity != "warn"), unbFindings.toString)
    assert(withConf(k, "0") { PlanAudit.audit(q()) }.isEmpty)
    val unb = withConf(k, Long.MaxValue.toString) { q().collect().toSeq }
    val bar = withConf(k, "0") { q().collect().toSeq }
    assert(unb == bar, "gate setting changed mb1 results")
  }

  test("reuse-eligible self-join (canonical-equal sides) is silent") {
    import spark.implicits._
    val d = (1 to 50).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "g")
    val agg = d.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val self = agg.as("a").join(agg.as("b"), Seq("g"))
      .select(col("g"), col("a.n"), (col("a.n") + col("b.n")).as("nn"))
    assert(PlanAudit.audit(self).forall(_.severity != "warn"),
      PlanAudit.audit(self).toString)
  }

  test("limit-distinct branches (sk3's audit columns) are not duplicates") {
    import spark.implicits._
    val d = (1 to 100).map(i => (i.toLong, (i * 13 % 97).toLong)).toDF("id", "v")
    val branches = Seq(10, 50, 90).map(r =>
      d.orderBy(col("v"), col("id")).limit(r).agg(max(col("v")).as(s"p$r")))
    val crossed = branches.reduce(_ crossJoin _)
    assert(PlanAudit.audit(crossed).isEmpty, PlanAudit.audit(crossed).toString)
  }

  test("PlanAuditLog rule: opt-in sweep fires on user queries, default-off is free") {
    assume(haveData)
    graft.functions.GraftFunctions.register(spark) // installs the rule
    val L = graft.plans.PlanAuditLog
    def optimizeBadPlan(): Unit =
      graft.queries.TemporalQueries.activeUsers(
        graft.sources.Tables.read(spark, dir, "events"))
        .queryExecution.optimizedPlan
    withConf(Materialize.BarrierMinBytesKey,
        Long.MaxValue.toString) {
      val before = L.warnCount.get()
      optimizeBadPlan() // flag off (default): observes nothing
      assert(L.warnCount.get() == before, "PlanAuditLog fired while disabled")
      withConf(L.FlagKey, "true") {
        optimizeBadPlan()
        assert(L.warnCount.get() > before,
          "PlanAuditLog missed the reuse-defeated duplicate aggregate")
        val after = L.warnCount.get()
        optimizeBadPlan() // same semantic plan: deduped, not re-logged
        assert(L.warnCount.get() == after, "PlanAuditLog re-logged a seen plan")
      }
    }
  }

  test("window duplicates: divergent pruning warns, equal children silent") {
    val d = java.nio.file.Files.createTempDirectory("graft_audit_w").toString
    import spark.implicits._
    (1 to 500).map(i => (i % 10L, i.toLong, (i % 3).toLong))
      .toDF("g", "x", "y").write.mode("overwrite").parquet(d)
    spark.read.parquet(d).createOrReplaceTempView("audit_w")
    // divergent pruning below the two window consumers: a needs (g,x),
    // b needs (g,x,y) — the shared scan+shuffle executes twice
    val bad = spark.sql(
      """WITH w AS (SELECT g, x, y,
        |             sum(x) OVER (PARTITION BY g ORDER BY x) AS cs,
        |             avg(y) OVER (PARTITION BY g ORDER BY x) AS ay
        |           FROM audit_w)
        |SELECT a.g, a.tot, b.m FROM
        |  (SELECT g, sum(cs) AS tot FROM w GROUP BY g) a
        |  JOIN (SELECT g, max(ay + y) AS m FROM w GROUP BY g) b ON a.g = b.g
        |""".stripMargin)
    val fs = PlanAudit.audit(bad.queryExecution.optimizedPlan)
    assert(fs.exists(f => f.kind == "window" && f.severity == "warn"), fs.toString)
    // same window twice with IDENTICAL pruning: the exchange below is
    // reuse-eligible as-is — different expression lists alone must NOT
    // warn (the exchange carries raw child rows, not window output)
    val ok = spark.sql(
      """WITH w AS (SELECT g, x, y,
        |             sum(x) OVER (PARTITION BY g ORDER BY x) AS cs,
        |             avg(y) OVER (PARTITION BY g ORDER BY x) AS ay
        |           FROM audit_w)
        |SELECT a.g, a.tot, b.m FROM
        |  (SELECT g, sum(cs + y) AS tot FROM w GROUP BY g) a
        |  JOIN (SELECT g, max(ay + y) AS m FROM w GROUP BY g) b ON a.g = b.g
        |""".stripMargin)
    val fs2 = PlanAudit.audit(ok.queryExecution.optimizedPlan)
    assert(fs2.forall(f => !(f.kind == "window" && f.severity == "warn")), fs2.toString)
  }

  test("join duplicates: divergent pruning on either side warns") {
    val d = java.nio.file.Files.createTempDirectory("graft_audit_j").toString
    import spark.implicits._
    (1 to 500).map(i => (i % 10L, i.toLong, (i % 3).toLong))
      .toDF("g", "x", "y").write.mode("overwrite").parquet(s"$d/t")
    (1 to 100).map(i => (i % 10L, i * 2L)).toDF("g", "z")
      .write.mode("overwrite").parquet(s"$d/u")
    spark.read.parquet(s"$d/t").createOrReplaceTempView("audit_jt")
    spark.read.parquet(s"$d/u").createOrReplaceTempView("audit_ju")
    val bad = spark.sql(
      """WITH j AS (SELECT t.g AS g, t.x AS x, t.y AS y, u.z AS z
        |           FROM audit_jt t JOIN audit_ju u ON t.g = u.g)
        |SELECT a.g, a.sx, b.mz FROM
        |  (SELECT g, sum(x) AS sx FROM j GROUP BY g) a
        |  JOIN (SELECT g, max(z + y) AS mz FROM j GROUP BY g) b ON a.g = b.g
        |""".stripMargin)
    val fs = PlanAudit.audit(bad.queryExecution.optimizedPlan)
    assert(fs.exists(f => f.kind == "join" && f.severity == "warn"), fs.toString)
  }

  test("explode vs explode_outer over the same child never group as duplicates (ADVICE r18)") {
    import spark.implicits._
    // same generator expression, different OUTER flag: these read the
    // same child but emit different row sets — unifyGenerates rightly
    // refuses to merge them, so the detector must not group them
    // either (pre-fix this was a standing unrepairable warning)
    val df = Seq((1, Seq("a", "b")), (2, Seq.empty[String])).toDF("id", "xs")
    val a = df.select(col("id"), explode(col("xs")).as("x"))
      .groupBy("x").agg(count(lit(1)).as("n"))
    val b = df.select(col("id"), explode_outer(col("xs")).as("x"))
      .groupBy("x").agg(sum("id").as("s"))
    val findings = PlanAudit.audit(a.join(b, Seq("x"), "full_outer"))
    assert(!findings.exists(_.kind == "generate"), findings.toString)
  }

  test("t8's vocab count: un-barriered flagged, gated barrier silent") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val k = Materialize.BarrierMinBytesKey
    def q() = graft.queries.TextAnalysis.t8UnigramNll(spark, dir)
    val unb = withConf(k, Long.MaxValue.toString) { PlanAudit.audit(q()) }
    assert(unb.exists(f => f.severity == "warn" && f.n == 2), unb.toString)
    assert(withConf(k, "0") { PlanAudit.audit(q()) }.isEmpty)
  }
}
