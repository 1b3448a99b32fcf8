package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
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
}
