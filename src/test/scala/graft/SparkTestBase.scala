package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

object SharedSpark {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    // the engine's session confs, as Bench, Verify and perfbench apply them
    graft.sources.Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTestBase {
  lazy val spark: SparkSession = SharedSpark.spark

  /** The jobs `body` runs, as each job's stage count in job order. A
    * sentinel job after the body, once the status tracker has seen it,
    * proves every job before it was seen too (the listener bus delivers
    * in order). */
  def jobsOf[T](group: String)(body: => T): (T, Seq[Int]) = {
    import scala.concurrent.duration._
    import org.scalatest.concurrent.Eventually._
    val sc = spark.sparkContext
    def inGroup[R](g: String)(f: => R): R = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    val out = inGroup(group)(body)
    inGroup(s"$group-end")(sc.parallelize(Seq(1), 1).count())
    eventually(timeout(30.seconds), interval(50.millis)) {
      assert(sc.statusTracker.getJobIdsForGroup(s"$group-end").nonEmpty)
    }
    (out, sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted
      .map(id => sc.statusTracker.getJobInfo(id).get.stageIds().length))
  }

  /** Daily series starting 2023-01-01, mirroring the reference test
    * fixture (tests/test_events.py:15-18). NaN encodes missing. */
  def dailySeries(values: Seq[Double], seriesId: String = "s1"): DataFrame =
    seriesAt(values.zipWithIndex.map { case (v, i) => (day(i), v) }, seriesId)

  def day(i: Int): Timestamp =
    Timestamp.from(LocalDate.of(2023, 1, 1).plusDays(i.toLong).atStartOfDay.toInstant(ZoneOffset.UTC))

  def ts(s: String): Timestamp =
    Timestamp.from(LocalDateTime.parse(s).toInstant(ZoneOffset.UTC))

  def seriesAt(points: Seq[(Timestamp, Double)], seriesId: String): DataFrame = {
    import spark.implicits._
    points.map { case (t, v) =>
      TsPoint(seriesId, t, if (v.isNaN) None else Some(v))
    }.toDF()
  }

  def collectEvents(df: DataFrame): Seq[Event] = {
    import spark.implicits._
    df.as[Event].collect().toSeq.sortBy(e => (e.series_id, e.start.getTime))
  }

  val DayUs: Long = 86400L * 1000000L

  /** Storm events in (series, start µs) order, minus each series' final
    * storm: the one the batch detector's end-of-input close emits and a
    * stream withholds. */
  def withoutFinalStorm(events: Seq[Event]): Seq[Event] = {
    val us = (e: Event) => graft.operators.TimeMicros.micros(e.start)
    val finalStart = events.groupBy(_.series_id).map { case (s, es) => s -> es.map(us).max }
    events.filterNot(e => finalStart.get(e.series_id).contains(us(e))).sortBy(e => (e.series_id, us(e)))
  }

  /** An executed plan's nodes, through AQE query stages; a reused
    * exchange is a leaf, so its subtree is not counted twice. */
  def executedNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => executedNodes(a.executedPlan)
    case s: QueryStageExec => s +: executedNodes(s.plan)
    case other => other +: other.children.flatMap(executedNodes)
  }
}
