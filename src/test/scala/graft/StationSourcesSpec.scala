package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.StormEvents
import graft.sources.{CsvStationRowSource, RowStationSource, StationSources}

class StationSourcesSpec extends AnyFunSuite with SparkTestBase {

  private def registryAt(path: String) =
    Map("NRCS" -> new RowStationSource(new CsvStationRowSource(path)))

  private def registry = registryAt(getClass.getResource("/station_tum.csv").getPath)

  test("unknown source name raises with valid options listed") {
    val e = intercept[IllegalArgumentException] {
      StationSources.fromStation(registry, spark, "TUM",
        "2022-12-01", "2022-12-20", source = "BOGUS")
    }
    assert(e.getMessage.contains("BOGUS") && e.getMessage.contains("NRCS"))
  }

  test("empty pull raises like the reference") {
    val e = intercept[IllegalArgumentException] {
      StationSources.fromStation(registry, spark, "TUM",
        "1990-01-01", "1990-01-02", source = "NRCS")
    }
    assert(e.getMessage.contains("no data"))
  }

  test("fromStation: a bare stop date is inclusive and only the requested station is read") {
    // the fixture's last row (2022-12-20 08:00) is inside the stop day
    assert(StationSources.fromStation(registry, spark, "TUM",
      "2022-12-01", "2022-12-20").count() == 20)
    val tmp = java.nio.file.Files.createTempFile("two_sites", ".csv")
    try {
      java.nio.file.Files.write(tmp, Seq(
        "datetime,site,PRECIPITATIONACCUM",
        "2022-12-01 08:00:00+00:00,TUM,0.0",
        "2022-12-01 08:00:00+00:00,FLV,5.0",
        "2022-12-02 08:00:00+00:00,TUM,0.5",
        "2022-12-02 08:00:00+00:00,FLV,9.0").mkString("\n").getBytes("UTF-8"))
      val rows = StationSources.fromStation(registryAt(tmp.toString), spark, "TUM",
        "2022-12-01", "2022-12-05").orderBy("ts").collect()
      assert(rows.map(r => Option(r.get(2))).toSeq == Seq(None, Some(0.5)),
        rows.mkString(", "))
    } finally java.nio.file.Files.delete(tmp)
  }

  test("StormEvents.fromStation: reference-shaped entry point end-to-end") {
    val storms = collectEvents(
      graft.operators.StormEvents.fromStation(
        registry, spark, "TUM", "2022-12-01", "2022-12-31", source = "NRCS",
        params = graft.operators.StormEvents(instantMassToStart = 0.1,
          minStormTotal = 0.5, hoursToStop = 24, maxStormHours = 336)))
    assert(storms.length == 2)
  }

  test("toFreqStr round-trips parseMicros for common steps") {
    import graft.operators.Steps
    Seq("D", "2D", "H", "6H", "min", "S", "ms").foreach { f =>
      assert(Steps.parseMicros(Steps.toFreqStr(Steps.parseMicros(f))) == Steps.parseMicros(f))
    }
  }

  // --- DataSource V2 path (SURVEY.md §2.2/D2 v2) -------------------------

  private def fixturePath = getClass.getResource("/station_tum.csv").getPath

  test("DSv2: spark.read.format(graft-station) reads the fixture backend") {
    val df = spark.read.format("graft-station")
      .option("source", "CSV").option("path", fixturePath)
      .option("stations", "TUM")
      .option("start", "2022-12-01").option("stop", "2022-12-20")
      .load()
    assert(df.schema.fieldNames.toSeq == Seq("station_id", "ts", "accum"))
    val rows = df.orderBy("ts").collect()
    assert(rows.length == 20)
    assert(rows.head.getString(0) == "TUM")
    assert(rows(3).getDouble(2) == 0.4)
  }

  test("DSv2: station + date-range predicates push into the scan, no residual filter rows") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft-station")
      .option("source", "CSV").option("path", fixturePath)
      .option("stations", "TUM,BOGUS2")
      .load()
      .where(col("station_id") === "TUM" &&
        col("ts") >= lit("2022-12-05").cast("timestamp") &&
        col("ts") <= lit("2022-12-10 08:00:00").cast("timestamp"))
    val plan = df.queryExecution.executedPlan.toString
    // the pushed fetch window is visible on the scan line, and the
    // station universe is narrowed to the filtered station
    assert(plan.contains("PushedStations: [TUM]"), plan)
    assert(plan.contains("PushedTsRange:"), plan)
    assert(!plan.contains("-inf"), s"ts lower bound not pushed:\n$plan")
    val rows = df.orderBy("ts").collect()
    assert(rows.length == 6) // 12-05 08:00 .. 12-10 08:00 inclusive
    assert(rows.forall(_.getString(0) == "TUM"))
  }

  test("DSv2: station universe can come entirely from the pushed filter") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft-station")
      .option("source", "CSV").option("path", fixturePath)
      .load()
      .where(col("station_id").isin("TUM"))
    assert(df.count() == 20)
  }

  test("DSv2: missing station universe fails loudly") {
    val e = intercept[Exception] {
      spark.read.format("graft-station")
        .option("source", "CSV").option("path", fixturePath)
        .load().collect()
    }
    assert(e.getMessage.contains("station universe") ||
      Option(e.getCause).exists(_.getMessage.contains("station universe")))
  }

  test("DSv2: unknown source name keeps the reference error message") {
    val e = intercept[Exception] {
      spark.read.format("graft-station")
        .option("source", "BOGUS").option("stations", "TUM")
        .load().collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("BOGUS") && m.contains("not recognized")))
  }

  test("DSv2: column pruning reaches the reader") {
    val df = spark.read.format("graft-station")
      .option("source", "CSV").option("path", fixturePath)
      .option("stations", "TUM").load()
      .select("accum")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<accum:double>"), plan)
    assert(df.collect().map(_.getDouble(0)).sum > 0.0)
  }

  // --- live CDEC client over a recorded cassette (CI stays offline) -----

  private def withCassette[A](resource: String, context: String = "/JSONDataServlet")(
      f: String => A): A = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val body = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource(resource).getPath))
    server.createContext(context, (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}$context")
    finally server.stop(0)
  }

  test("CDEC client: fetches and parses the recorded response") {
    withCassette("/cdec_tum.json") { endpoint =>
      val src = new graft.sources.CdecStationRowSource(endpoint)
      val rows = src.fetchRows("TUM", Long.MinValue, Long.MaxValue)
      assert(rows.length == 20)
      assert(rows.map(_.accum.doubleValue()).max == 2.6)
      // inclusive range bounds applied to fetched rows
      val dec4 = graft.sources.StationTimes.parseMicros("2022-12-04")
      val dec6 = graft.sources.StationTimes.parseStopMicros("2022-12-06")
      val window = src.fetchRows("TUM", dec4, dec6)
      assert(window.map(_.accum.doubleValue()).toSeq == Seq(0.4, 1.0, 1.3))
    }
  }

  test("CDEC client: -9999 and blank values become null") {
    val src = new graft.sources.CdecStationRowSource("http://unused")
    val rows = src.parseResponse(
      """[{"date":"2022-12-1 0:00","value":-9999},
         |{"date":"2022-12-2 0:00","value":1.5},
         |{"date":"2022-12-3 0:00","value":""}]""".stripMargin)
    assert(rows.map(r => Option(r.accum)) == Seq(None, Some(1.5), None).map(_.map(Double.box)))
  }

  test("CDEC through DSv2: storms detected end-to-end from the cassette") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    withCassette("/cdec_tum.json") { endpoint =>
      val accum = spark.read.format("graft-station")
        .option("source", "CDEC").option("endpoint", endpoint)
        .option("stations", "TUM")
        .option("start", "2022-12-01").option("stop", "2022-12-31")
        .load()
      val ts = accum.select(
        col("station_id").as("series_id"), col("ts"),
        (col("accum") - lag(col("accum"), 1)
          .over(Window.partitionBy("station_id").orderBy("ts"))).as("value"))
      val storms = collectEvents(
        StormEvents(instantMassToStart = 0.1, minStormTotal = 0.5,
          hoursToStop = 24, maxStormHours = 336).detect(ts))
      assert(storms.length == 2)
      assert(storms.forall(_.total.contains(1.3)))
    }
  }

  test("RowStationSource adapts row backends to the v1 from_station API") {
    val reg = Map("NRCS" -> new graft.sources.RowStationSource(
      new graft.sources.CsvStationRowSource(fixturePath)))
    val storms = collectEvents(
      graft.operators.StormEvents.fromStation(
        reg, spark, "TUM", "2022-12-01", "2022-12-31", source = "NRCS",
        params = graft.operators.StormEvents(instantMassToStart = 0.1,
          minStormTotal = 0.5, hoursToStop = 24, maxStormHours = 336)))
    assert(storms.length == 2 && storms.forall(_.total.contains(1.3)))
  }

  test("defaultRegistry carries the reference's three live sources") {
    val reg = StationSources.defaultRegistry
    assert(reg.keySet == Set("NRCS", "CDEC", "MESOWEST"))
    // unknown-source error enumerates them, reference-style
    val e = intercept[IllegalArgumentException] {
      StationSources.fromStation(reg, spark, "TUM",
        "2022-12-01", "2022-12-02", source = "BOGUS")
    }
    assert(e.getMessage.contains("CDEC, MESOWEST, NRCS"))
  }

  // --- live NRCS/AWDB client over a recorded cassette -------------------

  test("NRCS client: fetches and parses the recorded AWDB response") {
    withCassette("/awdb_tum.json", context = "/data") { url =>
      val src = new graft.sources.NrcsStationRowSource(url.stripSuffix("/data"))
      val rows = src.fetchRows("663:CA:SNTL", Long.MinValue, Long.MaxValue)
      assert(rows.length == 20)
      assert(rows.map(_.accum.doubleValue()).max == 2.6)
      val dec4 = graft.sources.StationTimes.parseMicros("2022-12-04")
      val dec6 = graft.sources.StationTimes.parseStopMicros("2022-12-06")
      assert(src.fetchRows("663:CA:SNTL", dec4, dec6)
        .map(_.accum.doubleValue()).toSeq == Seq(0.4, 1.0, 1.3))
    }
  }

  test("NRCS client: absent/null values are missing days") {
    val src = new graft.sources.NrcsStationRowSource("http://unused")
    val rows = src.parseResponse(
      """[{"stationTriplet":"X:Y:SNTL","data":[{"stationElement":{"elementCode":"PREC"},
         |"values":[{"date":"2022-12-01","value":1.5},
         |{"date":"2022-12-02","value":null},
         |{"date":"2022-12-03"}]}]}]""".stripMargin)
    assert(rows.map(r => Option(r.accum)) == Seq(Some(1.5), None, None).map(_.map(Double.box)))
  }

  test("NRCS through DSv2: storms detected end-to-end from the cassette") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    withCassette("/awdb_tum.json", context = "/data") { url =>
      val accum = spark.read.format("graft-station")
        .option("source", "NRCS").option("endpoint", url.stripSuffix("/data"))
        .option("stations", "663:CA:SNTL")
        .option("start", "2022-12-01").option("stop", "2022-12-31")
        .load()
      val ts = accum.select(
        col("station_id").as("series_id"), col("ts"),
        (col("accum") - lag(col("accum"), 1)
          .over(Window.partitionBy("station_id").orderBy("ts"))).as("value"))
      val storms = collectEvents(
        StormEvents(instantMassToStart = 0.1, minStormTotal = 0.5,
          hoursToStop = 24, maxStormHours = 336).detect(ts))
      assert(storms.length == 2)
      assert(storms.forall(_.total.contains(1.3)))
    }
  }

  // --- live MesoWest/Synoptic client over a recorded cassette -----------

  test("MesoWest client: sub-daily observations resample to end-of-day accum") {
    withCassette("/synoptic_tum.json", context = "/stations/timeseries") { url =>
      val src = new graft.sources.MesowestStationRowSource(
        url.stripSuffix("/stations/timeseries"), token = "t0")
      val rows = src.fetchRows("TUM", Long.MinValue, Long.MaxValue)
      assert(rows.length == 20)
      // day 13's 18:00Z obs is null; last-non-null falls back to 06:00Z
      assert(rows.map(_.accum.doubleValue()).toSeq == Seq(
        0.0, 0.0, 0.0, 0.4, 1.0, 1.3, 1.3, 1.3, 1.3, 1.3,
        1.3, 1.3, 2.1, 2.6, 2.6, 2.6, 2.6, 2.6, 2.6, 2.6))
      // daily rows are stamped at UTC midnight
      assert(rows.head.tsMicros == graft.sources.StationTimes.parseMicros("2022-12-01"))
    }
  }

  test("MesoWest client: a day whose observations are all null stays a missing day") {
    val src = new graft.sources.MesowestStationRowSource("http://unused", "t0")
    val day1 = graft.sources.StationTimes.parseMicros("2022-12-01")
    val rows = src.dailyResample(Seq(
      (day1 + 3600000000L, null: java.lang.Double),
      (day1 + 7200000000L, null: java.lang.Double),
      (day1 + 90000000000L, Double.box(2.0))))
    assert(rows.map(r => Option(r.accum)) == Seq(None, Some(2.0)).map(_.map(Double.box)))
  }

  test("MesoWest through DSv2: storms detected end-to-end from the cassette") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    withCassette("/synoptic_tum.json", context = "/stations/timeseries") { url =>
      val accum = spark.read.format("graft-station")
        .option("source", "MESOWEST")
        .option("endpoint", url.stripSuffix("/stations/timeseries"))
        .option("token", "t0")
        .option("stations", "TUM")
        .option("start", "2022-12-01").option("stop", "2022-12-31")
        .load()
      val ts = accum.select(
        col("station_id").as("series_id"), col("ts"),
        (col("accum") - lag(col("accum"), 1)
          .over(Window.partitionBy("station_id").orderBy("ts"))).as("value"))
      val storms = collectEvents(
        StormEvents(instantMassToStart = 0.1, minStormTotal = 0.5,
          hoursToStop = 24, maxStormHours = 336).detect(ts))
      assert(storms.length == 2)
      assert(storms.forall(_.total.contains(1.3)))
    }
  }

  // --- paged offset/limit backend over a paging-aware loopback server ---

  /** Loopback server speaking the PAGED contract: slices `records`
    * (date → accum-or-null) by the request's start/stop/offset/limit
    * and counts requests. `serveCount` overrides the reported total to
    * simulate a lying/truncating service. */
  private def withPagedServer[A](
      records: Seq[(String, Option[Double])], serveCount: Option[Int] = None)(
      f: (String, java.util.concurrent.atomic.AtomicInteger) => A): A = {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/page", (ex: com.sun.net.httpserver.HttpExchange) => {
      hits.incrementAndGet()
      val q = ex.getRequestURI.getQuery.split("&").map(_.split("=", 2))
        .map(kv => (kv(0), kv(1))).toMap
      val window = records.filter { case (d, _) => d >= q("start") && d <= q("stop") }
      val off = q("offset").toInt
      val page = window.slice(off, off + q("limit").toInt)
      val results = page.map { case (d, v) =>
        s"""{"date":"$d","value":${v.map(_.toString).getOrElse("null")}}"""
      }.mkString("[", ",", "]")
      val body = s"""{"count":${serveCount.getOrElse(window.size)},"results":$results}"""
        .getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/page", hits)
    finally server.stop(0)
  }

  private val pagedDays = Seq(
    "2022-12-01" -> Some(0.0), "2022-12-02" -> Some(0.4), "2022-12-03" -> None,
    "2022-12-04" -> Some(1.0), "2022-12-05" -> Some(1.3))

  test("paged client: scrolls every page in order; missing days stay null") {
    withPagedServer(pagedDays) { (endpoint, hits) =>
      val src = new graft.sources.PagedStationRowSource(endpoint, pageLimit = 2)
      val rows = src.fetchRows("TUM",
        graft.sources.StationTimes.parseMicros("2022-12-01"), graft.sources.StationTimes.parseStopMicros("2022-12-05"))
      assert(rows.map(r => Option(r.accum).map(_.doubleValue())).toList ==
        List(Some(0.0), Some(0.4), None, Some(1.0), Some(1.3)))
      assert(rows.map(_.tsMicros).toList == rows.map(_.tsMicros).sorted.toList)
      // 5 records at 2 per page: exactly 3 requests, no re-fetch
      assert(hits.get() == 3, s"expected 3 page requests, saw ${hits.get()}")
      // the request window narrows server-side before paging
      val sub = src.fetchRows("TUM",
        graft.sources.StationTimes.parseMicros("2022-12-04"), graft.sources.StationTimes.parseStopMicros("2022-12-05"))
      assert(sub.map(_.accum.doubleValue()).toList == List(1.0, 1.3))
    }
  }

  test("paged client: a malformed record mid-stream drops without shifting page offsets") {
    // server that serves records verbatim INCLUDING one with no date:
    // the offset must advance by records served, or page 2 re-fetches
    // the boundary record and duplicates a day
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val raw = Seq(
      """{"date":"2022-12-01","value":0.0}""",
      """{"value":9.9}""", // malformed: no date — parser drops it
      """{"date":"2022-12-02","value":0.4}""",
      """{"date":"2022-12-03","value":1.0}""",
      """{"date":"2022-12-04","value":1.3}""")
    server.createContext("/page", (ex: com.sun.net.httpserver.HttpExchange) => {
      hits.incrementAndGet()
      val q = ex.getRequestURI.getQuery.split("&").map(_.split("=", 2))
        .map(kv => (kv(0), kv(1))).toMap
      val page = raw.slice(q("offset").toInt, q("offset").toInt + q("limit").toInt)
      val body = s"""{"count":${raw.size},"results":[${page.mkString(",")}]}"""
        .getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try {
      val src = new graft.sources.PagedStationRowSource(
        s"http://127.0.0.1:${server.getAddress.getPort}/page", pageLimit = 2)
      val rows = src.fetchRows("TUM", Long.MinValue, Long.MaxValue).toList
      // 4 parseable records, each exactly once, in order
      assert(rows.map(_.accum.doubleValue()) == List(0.0, 0.4, 1.0, 1.3), rows)
      assert(rows.map(_.tsMicros).distinct.size == 4, "duplicate day fetched")
      assert(hits.get() == 3, s"expected 3 pages of 2, saw ${hits.get()}")
    } finally server.stop(0)
  }

  test("paged client: transient 5xx retries and recovers; 4xx fails immediately") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/page", (ex: com.sun.net.httpserver.HttpExchange) => {
      // first request 503s; retries succeed
      if (hits.incrementAndGet() == 1) {
        ex.sendResponseHeaders(503, -1L); ex.close()
      } else {
        val body = """{"count":1,"results":[{"date":"2022-12-01","value":1.0}]}"""
          .getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
        ex.close()
      }
    })
    server.createContext("/gone", (ex: com.sun.net.httpserver.HttpExchange) => {
      hits.incrementAndGet()
      ex.sendResponseHeaders(404, -1L); ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val rows = new graft.sources.PagedStationRowSource(s"$base/page")
        .fetchRows("TUM", Long.MinValue, Long.MaxValue)
      assert(rows.map(_.accum.doubleValue()).toList == List(1.0))
      assert(hits.get() == 2, s"expected 1 failure + 1 retry, saw ${hits.get()}")
      val before = hits.get()
      val e = intercept[IllegalStateException] {
        new graft.sources.PagedStationRowSource(s"$base/gone")
          .fetchRows("TUM", Long.MinValue, Long.MaxValue).toList
      }
      assert(e.getMessage.contains("404"), e.getMessage)
      assert(hits.get() == before + 1, "4xx must not retry")
    } finally server.stop(0)
  }

  test("paged client: pages pull lazily — an early-stopping consumer skips the tail") {
    withPagedServer(pagedDays) { (endpoint, hits) =>
      val src = new graft.sources.PagedStationRowSource(endpoint, pageLimit = 2)
      val first2 = src.fetchRows("TUM",
          graft.sources.StationTimes.parseMicros("2022-12-01"), graft.sources.StationTimes.parseStopMicros("2022-12-05"))
        .iterator.take(2).toList
      assert(first2.size == 2)
      assert(hits.get() == 1, s"early stop should fetch 1 page, saw ${hits.get()}")
    }
  }

  test("paged client: a service that stops short of its own count fails loudly") {
    withPagedServer(pagedDays, serveCount = Some(10)) { (endpoint, _) =>
      val src = new graft.sources.PagedStationRowSource(endpoint, pageLimit = 2)
      val e = intercept[IllegalStateException] {
        src.fetchRows("TUM", Long.MinValue, Long.MaxValue).toList
      }
      assert(e.getMessage.contains("short page"), e.getMessage)
    }
  }

  test("PAGED through DSv2: paged fetch feeds the scan; increments recover dailies") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    withPagedServer(pagedDays) { (endpoint, hits) =>
      val accum = spark.read.format("graft-station")
        .option("source", "PAGED").option("endpoint", endpoint)
        .option("pagelimit", "2")
        .option("stations", "TUM")
        .option("start", "2022-12-01").option("stop", "2022-12-05")
        .load()
      val rows = accum.orderBy("ts").collect()
      assert(rows.length == 5)
      val diffs = accum.select(col("ts"),
          (col("accum") - lag(col("accum"), 1)
            .over(Window.partitionBy("station_id").orderBy("ts"))).as("value"))
        .orderBy("ts").collect().map(r => Option(r.get(1)))
      // head diff null; diffs across the missing day are null (pandas)
      val rounded = diffs.toList.map(_.map(v => math.rint(v.asInstanceOf[Double] * 10) / 10))
      assert(rounded == List(None, Some(0.4), None, None, Some(0.3)))
      assert(hits.get() >= 3)
    }
  }

  /** Loopback server speaking the CURSOR contract: tokens are
    * "c<offset>"; `lie` makes the last page promise a next token that
    * yields an empty page (truncation), `stall` returns the same
    * token forever (non-advancing). */
  private def withCursorServer[A](
      records: Seq[(String, Option[Double])], lie: Boolean = false, stall: Boolean = false)(
      f: (String, java.util.concurrent.atomic.AtomicInteger) => A): A = {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/scroll", (ex: com.sun.net.httpserver.HttpExchange) => {
      hits.incrementAndGet()
      val q = ex.getRequestURI.getQuery.split("&").map(_.split("=", 2))
        .map(kv => (kv(0), kv(1))).toMap
      val window = records.filter { case (d, _) => d >= q("start") && d <= q("stop") }
      val off = q.get("cursor").map(_.stripPrefix("c").toInt).getOrElse(0)
      val limit = q("limit").toInt
      val page = window.slice(off, off + limit)
      val nextOff = off + page.size
      val next =
        if (stall) s""","next":"c$off""""
        else if (nextOff < window.size || lie)
          s""","next":"c${if (page.isEmpty) off + 1 else nextOff}""""
        else ""
      val results = page.map { case (d, v) =>
        s"""{"date":"$d","value":${v.map(_.toString).getOrElse("null")}}"""
      }.mkString("[", ",", "]")
      val body = s"""{"results":$results$next}""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/scroll", hits)
    finally server.stop(0)
  }

  test("cursor client: scrolls token pages in order; stops when the token ends") {
    withCursorServer(pagedDays) { (endpoint, hits) =>
      val src = new graft.sources.CursorPagedStationRowSource(endpoint, pageLimit = 2)
      val rows = src.fetchRows("TUM",
        graft.sources.StationTimes.parseMicros("2022-12-01"),
        graft.sources.StationTimes.parseStopMicros("2022-12-05"))
      assert(rows.map(r => Option(r.accum).map(_.doubleValue())).toList ==
        List(Some(0.0), Some(0.4), None, Some(1.0), Some(1.3)))
      assert(hits.get() == 3, s"expected 3 scroll requests, saw ${hits.get()}")
    }
  }

  test("cursor client: truncating and non-advancing services fail loudly") {
    withCursorServer(pagedDays, lie = true) { (endpoint, _) =>
      val src = new graft.sources.CursorPagedStationRowSource(endpoint, pageLimit = 2)
      val e = intercept[IllegalStateException] {
        src.fetchRows("TUM", Long.MinValue, Long.MaxValue).toList
      }
      assert(e.getMessage.contains("promised more pages"), e.getMessage)
    }
    withCursorServer(pagedDays, stall = true) { (endpoint, _) =>
      val src = new graft.sources.CursorPagedStationRowSource(endpoint, pageLimit = 2)
      val e = intercept[IllegalStateException] {
        src.fetchRows("TUM", Long.MinValue, Long.MaxValue).toList
      }
      assert(e.getMessage.contains("did not advance"), e.getMessage)
    }
  }

  test("cursor paging through DSv2 via paging=cursor") {
    withCursorServer(pagedDays) { (endpoint, hits) =>
      val rows = spark.read.format("graft-station")
        .option("source", "PAGED").option("paging", "cursor")
        .option("endpoint", endpoint).option("pagelimit", "2")
        .option("stations", "TUM")
        .option("start", "2022-12-01").option("stop", "2022-12-05")
        .load().orderBy("ts").collect()
      assert(rows.length == 5)
      assert(hits.get() >= 3)
    }
  }

  // --- station-universe discovery (StationDirectory) --------------------

  test("station directory: CSV site column enumerates; globs resolve on the DSv2 scan") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempFile("stations", ".csv")
    java.nio.file.Files.write(tmp, Seq(
      "datetime,site,PRECIPITATIONACCUM",
      "2022-12-01 08:00:00+00:00,TUM,0.0",
      "2022-12-02 08:00:00+00:00,TUM,0.5",
      "2022-12-01 08:00:00+00:00,FLV,0.1",
      "2022-12-02 08:00:00+00:00,FLV,0.2",
      "2022-12-01 08:00:00+00:00,FLX,0.3").mkString("\n").getBytes("UTF-8"))
    val src = new graft.sources.CsvStationRowSource(tmp.toString)
    assert(src.listStations() == Seq("FLV", "FLX", "TUM"))
    def read(stations: String) = spark.read.format("graft-station")
      .option("source", "CSV").option("path", tmp.toString)
      .option("stations", stations)
      .option("start", "2022-12-01").option("stop", "2022-12-05").load()
    assert(read("FL*").select("station_id").distinct()
      .collect().map(_.getString(0)).sorted.toSeq == Seq("FLV", "FLX"))
    // a literal id mixes with a pattern without consulting the glob
    assert(read("TUM,FLX").select("station_id").distinct()
      .collect().map(_.getString(0)).sorted.toSeq == Seq("FLX", "TUM"))
    // stations="*" composes with a pushed equality: the universe
    // resolves via the directory, then the filter narrows it
    assert(read("*").where(col("station_id") === "TUM")
      .select("station_id").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("TUM"))
  }

  test("station directory: patterns against a non-directory backend fail loudly") {
    // CDEC is the one live backend without a JSON station directory
    val ex = intercept[Exception] {
      spark.read.format("graft-station")
        .option("source", "CDEC").option("stations", "FL*")
        .option("start", "2022-12-01").option("stop", "2022-12-02").load().count()
    }
    assert(ex.getMessage.contains("cannot enumerate stations"), ex.getMessage)
  }

  test("NRCS + Synoptic directories parse their recorded listings; globs fetch end-to-end") {
    val nrcs = new graft.sources.NrcsStationRowSource("http://unused")
    assert(nrcs.parseStationList(
      """[{"stationTriplet":"663:CA:SNTL","name":"Tuolumne Meadows"},
        |{"stationTriplet":"428:CA:SNTL"},
        |{"stationTriplet":"1067:NV:SNTL"},
        |{"name":"no triplet — skipped"}]""".stripMargin) ==
      Seq("1067:NV:SNTL", "428:CA:SNTL", "663:CA:SNTL"))
    val meso = new graft.sources.MesowestStationRowSource("http://unused")
    assert(meso.parseStationList(
      """{"STATION":[{"STID":"TUM1"},{"STID":"FLVC1"},{"STID":"KRNO"}],
        |"SUMMARY":{"RESPONSE_MESSAGE":"OK"}}""".stripMargin) ==
      Seq("FLVC1", "KRNO", "TUM1"))

    // end-to-end: /v1/stations lists triplets, /v1/data serves the
    // recorded AWDB cassette — a CA-glob universe fans out two
    // partitions and both fetch through the same data path
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val listBody =
      """[{"stationTriplet":"663:CA:SNTL"},{"stationTriplet":"428:CA:SNTL"},
        |{"stationTriplet":"1067:NV:SNTL"}]""".stripMargin.getBytes("UTF-8")
    val dataBody = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/awdb_tum.json").getPath))
    server.createContext("/v1/stations", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(200, listBody.length.toLong)
      ex.getResponseBody.write(listBody)
      ex.close()
    })
    server.createContext("/v1/data", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(200, dataBody.length.toLong)
      ex.getResponseBody.write(dataBody)
      ex.close()
    })
    server.start()
    try {
      val df = spark.read.format("graft-station")
        .option("source", "NRCS")
        .option("endpoint", s"http://127.0.0.1:${server.getAddress.getPort}/v1")
        .option("stations", "*:CA:*")
        .option("start", "2022-12-01").option("stop", "2022-12-20").load()
      val got = df.collect()
      assert(got.map(_.getString(0)).distinct.sorted.toSeq ==
        Seq("428:CA:SNTL", "663:CA:SNTL"))
      assert(got.length == 40) // 2 stations × the cassette's 20 days
    } finally server.stop(0)
  }

  test("paged directory: /stations endpoint resolves glob universes") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // directory context registered on the sibling path the client calls
    server.createContext("/page/stations", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = """{"stations":["STB","STA","XTC"]}""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.createContext("/page", (ex: com.sun.net.httpserver.HttpExchange) => {
      val q = ex.getRequestURI.getQuery.split("&").map(_.split("=", 2))
        .map(kv => (kv(0), kv(1))).toMap
      val days = Seq("2022-12-01" -> "0.0", "2022-12-02" -> "0.4")
        .filter { case (d, _) => d >= q("start") && d <= q("stop") }
      val results = days.map { case (d, v) => s"""{"date":"$d","value":$v}""" }
        .mkString("[", ",", "]")
      val body = s"""{"count":${days.size},"results":$results}""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/page"
      val df = spark.read.format("graft-station")
        .option("source", "PAGED").option("endpoint", base)
        .option("stations", "ST*")
        .option("start", "2022-12-01").option("stop", "2022-12-05").load()
      val got = df.collect()
      assert(got.map(_.getString(0)).distinct.sorted.toSeq == Seq("STA", "STB"))
      assert(got.length == 4) // 2 stations × 2 served days
    } finally server.stop(0)
  }

  test("empty resolved universe plans an empty scan, not an error") {
    // a glob matching no directory entry is a legitimate empty result
    val none = spark.read.format("graft-station")
      .option("source", "CSV").option("path", fixturePath)
      .option("stations", "ZZ*")
      .option("start", "2022-12-01").option("stop", "2022-12-20").load()
    assert(none.count() == 0)
    // a pushed equality disjoint from the resolved universe must
    // intersect it (empty), not bypass it
    val filtered = spark.read.format("graft-station")
      .option("source", "CSV").option("path", fixturePath)
      .option("stations", "*")
      .option("start", "2022-12-01").option("stop", "2022-12-20").load()
      .where(org.apache.spark.sql.functions.col("station_id") === "NOPE")
    assert(filtered.count() == 0)
    // no universe specified at all still fails loudly at planning time
    val ex = intercept[Exception] {
      spark.read.format("graft-station")
        .option("source", "CSV").option("path", fixturePath)
        .load().count()
    }
    assert(ex.getMessage.contains("station universe"), ex.getMessage)
  }

  test("station readStream: no-start first batch keeps the wide-open sentinel for live backends") {
    // regression: the first micro-batch used to fetch with
    // startUs = Long.MinValue + 1, which no backend treats as the
    // wide-open sentinel — the AWDB URL got a year −290308 beginDate.
    val reqs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val dataBody = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/awdb_tum.json").getPath))
    server.createContext("/v1/data", (ex: com.sun.net.httpserver.HttpExchange) => {
      reqs.add(ex.getRequestURI.getQuery)
      ex.sendResponseHeaders(200, dataBody.length.toLong)
      ex.getResponseBody.write(dataBody)
      ex.close()
    })
    server.start()
    try {
      val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("graft-station")
        .option("source", "NRCS")
        .option("endpoint", s"http://127.0.0.1:${server.getAddress.getPort}/v1")
        .option("stations", "663:CA:SNTL")
        .option("stop", "2022-12-20")
        .option("maxbatchstep", "50000D")
        .load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          rows.synchronized { rows += df.count() }
          ()
        }
        .start()
      try {
        q.processAllAvailable()
        assert(rows.synchronized(rows.sum) == 20L, rows)
      } finally q.stop()
      val begins = reqs.toArray(Array.empty[String]).toSeq
        .flatMap(_.split("&").find(_.startsWith("beginDate=")))
      assert(begins.nonEmpty && begins.forall(_ == "beginDate=1900-01-01"), begins)
    } finally server.stop(0)
  }

  test("Synoptic failures redact the API token") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(500, -1)
      ex.close()
    })
    server.start()
    try {
      val src = new graft.sources.MesowestStationRowSource(
        s"http://127.0.0.1:${server.getAddress.getPort}", token = "S3CRET")
      val ex1 = intercept[IllegalArgumentException](
        src.fetchRows("TUM1", Long.MinValue, Long.MaxValue))
      assert(ex1.getMessage.contains("token=REDACTED"), ex1.getMessage)
      assert(!ex1.getMessage.contains("S3CRET"), ex1.getMessage)
      val ex2 = intercept[IllegalArgumentException](src.listStations())
      assert(ex2.getMessage.contains("token=REDACTED"), ex2.getMessage)
      assert(!ex2.getMessage.contains("S3CRET"), ex2.getMessage)
    } finally server.stop(0)
  }

  test("accumulated precip becomes increments; storms detected end-to-end") {
    val ts = StationSources.fromStation(registry, spark, "TUM",
      "2022-12-01", "2022-12-31", source = "NRCS")
    val rows = ts.collect()
    assert(rows.length == 20)
    // first row's diff is null (pandas diff), day 4 increment = 0.4
    assert(rows.map(r => Option(r.get(2))).count(_.isEmpty) == 1)

    val storms = collectEvents(
      StormEvents(instantMassToStart = 0.1, minStormTotal = 0.5,
        hoursToStop = 24, maxStormHours = 336).detect(ts))
    // two storms: days 4-6 (total 1.3) and days 13-14 (total 1.3);
    // each span back-extends one step (events.py:116)
    assert(storms.length == 2)
    assert(storms(0).total.contains(1.3) && storms(1).total.contains(1.3))
  }
}
