package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Station source adapter — StormEvents.from_station
 * (metevents/events.py:123-165). The reference resolves a source name
 * to a metloom HTTP client (NRCS/CDEC/MESOWEST), pulls daily
 * accumulated precipitation, and feeds the first difference (per-step
 * increments) to the storm detector.
 *
 * Engine shape: the fetch is behind [[StationSource]] so live HTTP
 * clients and recorded fixtures are interchangeable (FIXTURES.md §3 —
 * CI never touches the network). The fetched frame enters Spark via
 * one `spark.read`/`createDataFrame` at the driver boundary; the
 * accumulated→increment conversion is the same lag-diff the detectors
 * use, partitioned by series.
 */
trait StationSource extends Serializable {

  /** Daily accumulated-precipitation series for one station:
    * (ts TIMESTAMP, accum DOUBLE). Empty result is the caller's error
    * case, matching the reference (events.py:156-161). */
  def fetchDailyAccum(
      spark: SparkSession, stationId: String, start: String, stop: String): DataFrame
}

/** One fetched observation. `accum` is boxed: station feeds carry
  * missing days (the reference reindexes and diffs across them,
  * events.py:163-165). */
final case class StationRow(tsMicros: Long, accum: java.lang.Double)

/** Executor-side row-level station backend — what the DataSource V2
  * path ([[StationTableProvider]]) distributes: unlike
  * [[StationSource]] (a driver-side DataFrame adapter), this is pure
  * JVM with no SparkSession, so a partition reader can carry a
  * serialized instance to any executor and fetch there. Implemented by
  * the recorded-fixture CSV backend and the live HTTP clients alike. */
trait StationRowSource extends Serializable {

  /** Daily accumulated-precipitation rows for one station, both bounds
    * inclusive (pandas label-slice semantics), sorted by time. */
  def fetchRows(stationId: String, startUs: Long, stopUs: Long): Seq[StationRow]
}

/** Optional listing capability for [[StationRowSource]] backends: the
  * station UNIVERSE lives with the service (a metadata endpoint, the
  * fixture's site column), so `stations = "FL*"` patterns on the DSv2
  * source can resolve against it at planning time instead of forcing
  * the caller to enumerate ids. One driver-side call per scan build —
  * the list is metadata-sized, never observation-sized. */
trait StationDirectory {
  /** Every station id this backend can serve, sorted, distinct. */
  def listStations(): Seq[String]
}

/** Recorded-fixture row backend — the replacement for the reference's
  * live CDEC/NRCS tests: plain-JVM parse of a CSV with `datetime`, an
  * optional `site` and an accumulation column, filtered to the
  * requested station and inclusive time range. Lifted into the
  * driver-side [[StationSource]] API by [[RowStationSource]]. */
final class CsvStationRowSource(path: String, accumCol: String = "PRECIPITATIONACCUM")
    extends StationRowSource with StationDirectory {

  /** The fixture's universe = distinct `site` values. */
  def listStations(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq
    if (lines.isEmpty) return Seq.empty
    val header = lines.head.split(",").map(_.trim)
    val iSite = header.indexOf("site")
    require(iSite >= 0,
      s"CSV $path has no 'site' column — cannot enumerate stations; list them explicitly")
    lines.drop(1).iterator.map(_.split(",", -1).map(_.trim))
      .filter(f => iSite < f.length && f(iSite).nonEmpty)
      .map(f => f(iSite)).toSeq.distinct.sorted
  }

  def fetchRows(stationId: String, startUs: Long, stopUs: Long): Seq[StationRow] = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq
    if (lines.isEmpty) return Seq.empty
    val header = lines.head.split(",").map(_.trim)
    val iDt = header.indexOf("datetime")
    val iSite = header.indexOf("site")
    val iAcc = header.indexOf(accumCol)
    require(iDt >= 0 && iAcc >= 0, s"CSV $path lacks datetime/$accumCol columns")
    lines.drop(1).iterator
      .map(_.split(",", -1).map(_.trim))
      .filter(f => iSite < 0 || f(iSite) == stationId)
      .map { f =>
        val us = StationTimes.parseMicros(f(iDt))
        val acc = if (f(iAcc).isEmpty) null else java.lang.Double.valueOf(f(iAcc))
        StationRow(us, acc)
      }
      .filter(r => r.tsMicros >= startUs && r.tsMicros <= stopUs)
      .toSeq.sortBy(_.tsMicros)
  }
}

/** Timestamp-string parsing shared by the station backends: bare dates
  * and space- or T-separated timestamps, optional offset, UTC default. */
object StationTimes {
  def parseMicros(s: String): Long = {
    val t = s.trim.replace(' ', 'T')
    val instant =
      if (!t.contains("T")) java.time.LocalDate.parse(t).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
      else scala.util.Try(java.time.OffsetDateTime.parse(t).toInstant)
        .getOrElse(java.time.LocalDateTime.parse(t).toInstant(java.time.ZoneOffset.UTC))
    instant.getEpochSecond * 1000000L + instant.getNano / 1000L
  }

  /** Inclusive stop bound: a bare date means "through the end of that
    * day" (the reference's get_daily_data(start, stop) pulls the stop
    * date's observation). */
  def parseStopMicros(s: String): Long =
    if (s.trim.contains(" ") || s.trim.contains("T")) parseMicros(s)
    else parseMicros(s) + 86400000000L - 1L

  /** (startUs, stopUs) → inclusive yyyy-MM-dd request window, with the
    * unbounded sentinels mapped to a wide-open range — the conversion
    * every HTTP backend needs when building its request URL. */
  def dateWindow(startUs: Long, stopUs: Long): (String, String) = {
    import java.time.{Instant, LocalDate, ZoneOffset}
    def dateOf(us: Long, default: LocalDate): LocalDate =
      if (us == Long.MinValue || us == Long.MaxValue) default
      else Instant.ofEpochSecond(us / 1000000L).atZone(ZoneOffset.UTC).toLocalDate
    (dateOf(startUs, LocalDate.of(1900, 1, 1)).toString,
      dateOf(stopUs, LocalDate.now(ZoneOffset.UTC)).toString)
  }
}

/** Adapter lifting a row-level backend ([[StationRowSource]], shared
  * with the DSv2 path) into the driver-side v1 [[StationSource]] API:
  * one fetch at the driver, one `createDataFrame` — the reference's
  * own shape (metloom fetches into a pandas frame on the client,
  * events.py:152-154). Multi-station fan-out belongs to the DSv2
  * path; this adapter exists so the reference-shaped `from_station`
  * entry point can resolve the same live clients. */
final class RowStationSource(rows: StationRowSource) extends StationSource {
  def fetchDailyAccum(
      spark: SparkSession, stationId: String, start: String, stop: String): DataFrame = {
    val fetched = rows.fetchRows(stationId,
      StationTimes.parseMicros(start), StationTimes.parseStopMicros(stop))
    val data = fetched.map { r =>
      org.apache.spark.sql.Row(
        graft.operators.TimeMicros.timestamp(r.tsMicros),
        if (r.accum == null) null else r.accum.doubleValue())
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType, nullable = false),
        org.apache.spark.sql.types.StructField("accum",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
  }
}

object StationSources {

  /** The reference's default registry — the same three live sources
    * metloom resolves (`SnotelPointData`→NRCS, `CDECPointData`→CDEC,
    * `MesowestPointData`→MESOWEST, events.py:139-143), here backed by
    * the engine's HTTP clients through [[RowStationSource]]. */
  def defaultRegistry: Map[String, StationSource] = Map(
    "NRCS" -> new RowStationSource(new NrcsStationRowSource()),
    "CDEC" -> new RowStationSource(new CdecStationRowSource()),
    "MESOWEST" -> new RowStationSource(new MesowestStationRowSource()))

  /** Known source names, mirroring the reference's registry
    * (events.py:139-143); fixtures register under the same keys. */
  def fromStation(
      registry: Map[String, StationSource],
      spark: SparkSession,
      stationId: String,
      start: String,
      stop: String,
      source: String = "NRCS"): DataFrame = {
    val src = registry.getOrElse(source.toUpperCase,
      throw new IllegalArgumentException(
        s"Datasource $source is not recognized. Valid options are: " +
          registry.keys.toSeq.sorted.mkString(", ")))
    val accum = src.fetchDailyAccum(spark, stationId, start, stop)
    if (accum.isEmpty)
      throw new IllegalArgumentException(
        s"Station $stationId has no data between $start and $stop")

    // accumulated → per-step increments: pandas `accum.diff()`
    // (events.py:165) = value − lag(value) per series
    import org.apache.spark.sql.expressions.Window
    accum
      .select(lit(stationId).as("series_id"), col("ts"), col("accum"))
      .withColumn("value",
        col("accum") - lag(col("accum"), 1)
          .over(Window.partitionBy("series_id").orderBy("ts")))
      .select("series_id", "ts", "value")
  }
}
