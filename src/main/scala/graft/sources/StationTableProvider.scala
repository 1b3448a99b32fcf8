package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * DataSource V2 station source — the v2 path for
 * `StormEvents.from_station` (SURVEY.md §2.2/D2; reference resolves a
 * metloom client and fetches over HTTP, metevents/events.py:139-154).
 *
 *   spark.read.format("graft-station")
 *     .option("source", "CSV")            // registry key, as in the reference
 *     .option("path", fixtureCsv)         // CSV-backend option
 *     .option("stations", "TUM,FLV")      // fetch universe
 *     .option("start", "2022-12-01").option("stop", "2022-12-20")
 *     .load()                             // (station_id, ts, accum)
 *
 * Why DSv2 instead of the driver-side `createDataFrame` adapter
 * ([[StationSources.fromStation]], kept as the reference-shaped v1
 * API): the fetch itself distributes — one input partition per
 * station, so a thousand-station pull runs on a thousand executor
 * slots instead of serializing through the driver — and (station,
 * date-range) predicates PUSH INTO the fetch: `where(station_id = 'X'
 * AND ts >= d1 AND ts <= d2)` narrows the station universe and the
 * request window before any row crosses the network. Pushed filters
 * are fully evaluated here (station set intersection + exact
 * timestamp bounds applied to fetched rows), so Spark plans no
 * residual Filter for them; they are visible in `explain` on the scan
 * line (`PushedStations`/`PushedTsRange`).
 *
 * The per-partition backend is a serialized [[StationRowSource]]
 * (pure JVM, no SparkSession), resolved at planning time from the
 * `source` option — the same registry-by-name semantics as the
 * reference, including its unknown-source error message
 * (events.py:145-149).
 */
class StationTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-station"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = StationTable.Schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new StationTable(properties.asScala.toMap)
}

object StationTable {
  val Schema: StructType = StructType(Seq(
    StructField("station_id", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("accum", DoubleType, nullable = true)))

  /** Resolve the `source` option to a row backend — the reference's
    * registry (events.py:139-149), with CSV as the recorded-fixture
    * entry. Live HTTP backends register here as they land. */
  private[sources] def resolve(opts: Map[String, String]): StationRowSource = {
    val name = opts.getOrElse("source", "NRCS").toUpperCase
    name match {
      case "CSV" =>
        new CsvStationRowSource(
          opts.getOrElse("path",
            throw new IllegalArgumentException("graft-station CSV source requires 'path'")),
          opts.getOrElse("accumcol", "PRECIPITATIONACCUM"))
      case "CDEC" =>
        new CdecStationRowSource(opts.getOrElse("endpoint", CdecStationRowSource.DefaultEndpoint))
      case "NRCS" =>
        new NrcsStationRowSource(opts.getOrElse("endpoint", NrcsStationRowSource.DefaultEndpoint))
      case "MESOWEST" =>
        new MesowestStationRowSource(
          opts.getOrElse("endpoint", MesowestStationRowSource.DefaultEndpoint),
          opts.getOrElse("token", "demotoken"))
      case "PAGED" =>
        val endpoint = opts.getOrElse("endpoint",
          throw new IllegalArgumentException("graft-station PAGED source requires 'endpoint'"))
        val limit = opts.get("pagelimit").map(_.toInt).getOrElse(1000)
        val maxPages = opts.get("maxpages").map(_.toInt).getOrElse(10000)
        opts.getOrElse("paging", "offset") match {
          case "offset" => new PagedStationRowSource(endpoint, limit, maxPages)
          case "cursor" => new CursorPagedStationRowSource(endpoint, limit, maxPages)
          case other => throw new IllegalArgumentException(
            s"PAGED paging mode $other is not recognized. Valid options are: cursor, offset")
        }
      case other =>
        throw new IllegalArgumentException(
          s"Datasource $other is not recognized. Valid options are: " +
            "CDEC, CSV, MESOWEST, NRCS, PAGED")
    }
  }
}

private[sources] class StationTable(options: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"graft-station(${options.getOrElse("source", "NRCS")})"
  override def schema(): StructType = StationTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new StationScanBuilder(options.map { case (k, v) => (k.toLowerCase, v) })
}

private[sources] class StationScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  /** The `stations` option, verbatim: literal ids and/or glob patterns
    * (`*` any run, `?` one char). Patterns resolve against the
    * backend's [[StationDirectory]] at build time; kept separate from
    * pushed filters so `stations = "*"` composes with a pushed
    * `station_id = 'X'` instead of string-comparing against the glob. */
  private val optionStations: Seq[String] =
    options.get("stations").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
  private var pushedStations: Option[Set[String]] = None
  // Long.MinValue is the open-start sentinel (StationTimes.dateWindow,
  // Mesowest stampOf treat EXACTLY MinValue as "no lower bound"), and
  // the streaming initialOffset stores start − 1 — so an explicit
  // start at MinValue + 1 would synthesize the sentinel and silently
  // widen the requested window. No real date string parses anywhere
  // near it (year −290308); reject loudly instead of clamping.
  private var startUs: Long =
    options.get("start").map { s =>
      val us = StationTimes.parseMicros(s)
      if (us <= Long.MinValue + 1) throw new IllegalArgumentException(
        s"start '$s' ($us micros) is at/next to the open-start sentinel " +
          "(Long.MinValue); omit the `start` option for an open lower bound")
      us
    }.getOrElse(Long.MinValue)
  private var stopUs: Long =
    options.get("stop").map(StationTimes.parseStopMicros).getOrElse(Long.MaxValue)
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = StationTable.Schema

  private def tsMicros(v: Any): Option[Long] = v match {
    case i: java.time.Instant => Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case t: java.sql.Timestamp => Some(graft.operators.TimeMicros.micros(t))
    case s: String => scala.util.Try(StationTimes.parseMicros(s)).toOption
    case _ => None
  }

  /** A filter is accepted only when this scan can evaluate it EXACTLY
    * (station set intersection; inclusive/exclusive ts bounds mapped to
    * inclusive micros) — accepted filters get no residual Filter node.
    * Everything else stays post-scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, rest) = filters.partition {
      case EqualTo("station_id", _: String) => true
      case In("station_id", vs) => vs.forall(_.isInstanceOf[String])
      case GreaterThanOrEqual("ts", v) => tsMicros(v).isDefined
      case GreaterThan("ts", v) => tsMicros(v).isDefined
      case LessThanOrEqual("ts", v) => tsMicros(v).isDefined
      case LessThan("ts", v) => tsMicros(v).isDefined
      case _ => false
    }
    ours.foreach {
      case EqualTo("station_id", s: String) =>
        pushedStations = Some(pushedStations.map(_.intersect(Set(s))).getOrElse(Set(s)))
      case In("station_id", vs) =>
        val set = vs.map(_.toString).toSet
        pushedStations = Some(pushedStations.map(_.intersect(set)).getOrElse(set))
      case GreaterThanOrEqual("ts", v) => startUs = math.max(startUs, tsMicros(v).get)
      case GreaterThan("ts", v) => startUs = math.max(startUs, tsMicros(v).get + 1L)
      case LessThanOrEqual("ts", v) => stopUs = math.min(stopUs, tsMicros(v).get)
      case LessThan("ts", v) => stopUs = math.min(stopUs, tsMicros(v).get - 1L)
      case _ =>
    }
    accepted = ours
    rest
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  private def isPattern(s: String): Boolean = s.contains('*') || s.contains('?')
  private def globRegex(p: String): scala.util.matching.Regex =
    p.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c => java.util.regex.Pattern.quote(c.toString)
    }.r

  override def build(): Scan = {
    val source = StationTable.resolve(options)
    // glob entries resolve against the backend's directory (one
    // driver-side metadata call); literal entries pass through
    val expanded: Seq[String] =
      if (optionStations.exists(isPattern)) {
        val dir = source match {
          case d: StationDirectory => d.listStations()
          case _ => throw new IllegalArgumentException(
            s"graft-station source ${options.getOrElse("source", "NRCS").toUpperCase} " +
              "cannot enumerate stations — patterns in 'stations' require a " +
              "directory-capable backend (CSV, PAGED, NRCS, MESOWEST); " +
              "list station ids explicitly")
        }
        optionStations.flatMap { s =>
          if (isPattern(s)) { val re = globRegex(s); dir.filter(re.matches(_)) } else Seq(s)
        }.distinct.sorted
      } else optionStations
    // A universe must be SPECIFIED (via the option or a pushed filter),
    // but may legitimately RESOLVE empty — a glob matching no directory
    // entry, or contradictory pushed equalities — in which case the
    // scan plans zero partitions (empty result), not an error.
    require(optionStations.nonEmpty || pushedStations.isDefined,
      "graft-station requires a station universe: set .option(\"stations\", ...) " +
        "(ids or patterns) or filter on station_id")
    val stations = (optionStations.nonEmpty, pushedStations) match {
      case (true, Some(set)) => expanded.filter(set)
      case (true, None) => expanded
      case (false, Some(set)) => set.toSeq.sorted
      case (false, None) => Seq.empty // unreachable: require above
    }
    new StationScan(source, stations, startUs, stopUs, required,
      maxBatchUs = options.get("maxbatchstep").map(graft.operators.Steps.parseMicros)
        .getOrElse(0L))
  }
}

private[sources] class StationScan(
    source: StationRowSource,
    stations: Seq[String],
    startUs: Long,
    stopUs: Long,
    required: StructType,
    maxBatchUs: Long = 0L) extends Scan with Batch {

  override def readSchema(): StructType = required

  /** Surfaces the pushed fetch window in `explain`. */
  override def description(): String = {
    val stop = if (stopUs == Long.MaxValue) "inf" else stopUs.toString
    val start = if (startUs == Long.MinValue) "-inf" else startUs.toString
    s"graft-station PushedStations: [${stations.mkString(", ")}], " +
      s"PushedTsRange: [$start, $stop], ReadSchema: ${required.simpleString}"
  }

  override def toBatch: Batch = this

  // one partition per station: the fetch distributes across executors
  override def planInputPartitions(): Array[InputPartition] =
    stations.map(s => StationPartition(s, source, startUs, stopUs): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory = new StationReaderFactory(required)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new StationMicroBatchStream(source, stations, startUs, stopUs, maxBatchUs, required)
}

/** Streaming offset: every observation with `ts <= tsUs` has been
  * emitted. Plain micros so restarts replay exactly. */
private[sources] final case class StationOffset(tsUs: Long) extends Offset {
  override def json(): String = s"""{"ts":$tsUs}"""
}

/**
 * Micro-batch station ingestion — `spark.readStream.format("graft-station")`
 * polls the [[StationRowSource]] backend and feeds the streaming
 * detectors ([[graft.streaming.StreamingDetectors]]), turning the
 * reference's one-shot `from_station` pull (metevents/events.py:139-154)
 * into a continuous feed.
 *
 * Each trigger fetches the window `(lastOffset, min(now|stop, lastOffset
 * + maxbatchstep)]` — one partition per station, so a thousand-station
 * poll fans out like the batch scan. `maxbatchstep` (a frequency string,
 * e.g. `"7D"`) rate-limits backfill: a catch-up from months behind
 * advances at most that much event time per micro-batch instead of
 * pulling the whole history in one fetch (admission control via
 * [[SupportsAdmissionControl]], so the limit is computed from the
 * checkpointed start offset and restarts stay monotone). Without a
 * `stop` option the stream tails the wall clock; with one it drains up
 * to `stop` and then idles empty — `processAllAvailable()` terminates.
 */
private[sources] class StationMicroBatchStream(
    source: StationRowSource,
    stations: Seq[String],
    startUs: Long,
    stopUs: Long,
    maxBatchUs: Long,
    schema: StructType) extends MicroBatchStream with SupportsAdmissionControl {

  private def nowUs: Long = System.currentTimeMillis() * 1000L

  override def initialOffset(): Offset =
    StationOffset(if (startUs == Long.MinValue) startUs else startUs - 1L)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[StationOffset].tsUs
    val cap = if (stopUs != Long.MaxValue) stopUs else nowUs
    // With no explicit `start`, the initial offset is Long.MinValue;
    // stepping maxBatchUs from -2^63 would schedule ~10^7 empty
    // micro-batches before reaching any real event time, so the first
    // step is based at the same 1900-01-01 floor the backends'
    // date-window default uses (StationTimes.dateWindow) — one batch
    // covers (MinValue, floor+step] and the stream is immediately live.
    val base =
      if (s == Long.MinValue) StationMicroBatchStream.EpochFloorUs - 1L else s
    val stepped = base + maxBatchUs
    val end = if (maxBatchUs <= 0L || stepped < base) cap else math.min(cap, stepped)
    StationOffset(math.max(s, end))
  }

  override def latestOffset(): Offset = throw new IllegalStateException(
    "latestOffset(Offset, ReadLimit) should be called with admission control")

  override def deserializeOffset(json: String): Offset = {
    val m = """\{"ts":(-?\d+)\}""".r
    json.trim match {
      case m(ts) => StationOffset(ts.toLong)
      case other => throw new IllegalArgumentException(s"bad station offset: $other")
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[StationOffset].tsUs
    val e = end.asInstanceOf[StationOffset].tsUs
    // Preserve the wide-open sentinel: backends treat EXACTLY
    // Long.MinValue as "no lower bound" (StationTimes.dateWindow,
    // Mesowest stampOf); MinValue+1 would be taken literally and the
    // HTTP backends would format a year −290308 begin date. The
    // reader's post-fetch `tsMicros >= startUs` filter is a no-op at
    // MinValue, so the first batch correctly covers (-inf, e].
    val fetchStart = if (s == Long.MinValue) Long.MinValue else s + 1L
    if (e <= s) Array.empty
    else stations.map(st => StationPartition(st, source, fetchStart, e): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new StationReaderFactory(schema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object StationMicroBatchStream {
  /** 1900-01-01T00:00:00Z in epoch micros — the event-time floor shared
    * with [[StationTimes.dateWindow]]'s default begin date. */
  val EpochFloorUs: Long =
    java.time.LocalDate.of(1900, 1, 1)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
}

private[sources] final case class StationPartition(
    stationId: String,
    source: StationRowSource,
    startUs: Long,
    stopUs: Long) extends InputPartition

private[sources] class StationReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[StationPartition]
    new PartitionReader[InternalRow] {
      private val station = UTF8String.fromString(p.stationId)
      // column pruning: one extractor per required field, bound once
      private val extract: Array[StationRow => Any] =
        required.fields.map[StationRow => Any](_.name match {
          case "station_id" => _ => station
          case "ts" => r => r.tsMicros
          case "accum" => r => if (r.accum == null) null else r.accum.doubleValue()
        })
      // fetch lazily on first next() — executor-side, inside the task
      private var it: Iterator[StationRow] = _
      private var cur: StationRow = _
      override def next(): Boolean = {
        if (it == null)
          it = p.source.fetchRows(p.stationId, p.startUs, p.stopUs)
            .iterator.filter(r => r.tsMicros >= p.startUs && r.tsMicros <= p.stopUs)
        val has = it.hasNext
        if (has) cur = it.next()
        has
      }
      override def get(): InternalRow = InternalRow.fromSeq(extract.toSeq.map(_(cur)))
      override def close(): Unit = ()
    }
  }
}
