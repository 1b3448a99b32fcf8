package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.Tables

/** One benchmark run of one workload, closed loop with one client: the
  * calls run strictly one after another on the driver thread.
  *
  *  1. Set-up, twice: create the SparkSession and run one warm-up pass
  *     over the call list. Both set-ups time the same work.
  *  2. In the last set-up, with its timer stopped after each warm-up
  *     call: the call's output is written under `<out>/verify` so the
  *     caller can compare it with the DuckDB oracle; its digest is read
  *     back from the written files.
  *  3. Measured passes for `--seconds`: each call is timed from
  *     invocation until its whole result is consumed (row count plus an
  *     order-independent digest over every output column). Each pass
  *     also records the JVM's CPU time, JIT compile time and Spark
  *     codegen compilations over it.
  *  4. With `--trace 1`, untraced and traced passes alternate; traced
  *     passes record spans (pass › call › build/plan/exec › job › stage)
  *     and scheduler counters, then the native kernels are timed alone.
  *
  * Writes `result.json` (and `spans.json` when traced) under `--out`.
  *
  * Usage: perfbench.Harness --inputs DIR --out DIR --keys k1,k2,..
  *   --tables t1,t2 --seconds S --trace 0|1 [--conf k=v]...
  */
object Harness {

  final case class Opts(
      inputs: String, out: String, keys: Seq[String], tables: Seq[String],
      seconds: Double, trace: Boolean, confs: Seq[(String, String)])

  private def parse(args: Array[String]): Opts = {
    val kv = mutable.LinkedHashMap[String, mutable.Buffer[String]]()
    args.grouped(2).foreach {
      case Array(k, v) if k.startsWith("--") =>
        kv.getOrElseUpdate(k.drop(2), mutable.Buffer()) += v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    def one(k: String): String =
      kv.get(k).map(_.last).getOrElse(sys.error(s"missing --$k"))
    Opts(
      inputs = one("inputs"), out = one("out"),
      keys = one("keys").split(',').toSeq.filter(_.nonEmpty),
      tables = one("tables").split(',').toSeq.filter(_.nonEmpty),
      seconds = one("seconds").toDouble, trace = one("trace") == "1",
      confs = kv.getOrElse("conf", Nil).toSeq.map { s =>
        s.split("=", 2) match {
          case Array(k, v) => k -> v
          case _ => sys.error(s"--conf needs k=v: $s")
        }
      })
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(file: String, value: Any): Unit =
    Files.writeString(Paths.get(file), json.writeValueAsString(value))

  // ---- sessions ---------------------------------------------------------

  private val cpus = Runtime.getRuntime.availableProcessors()

  private def newSession(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
    Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    o.confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Drop every block the previous call left (checkpoints, pins, caches)
    * so each call starts from an empty block manager. */
  private def clearBlocks(spark: SparkSession): Unit = {
    graft.Materialize.clearPinned()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  // ---- consuming a result ----------------------------------------------

  /** The consuming action for a result: per row one xxhash64 of every
    * output column, folded into the row count, two 32-bit-half sums and
    * an xor, so the digest is order-independent. Unlike `count()`,
    * nothing can be pruned. */
  def consumer(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq.map(n => col("`" + n.replace("`", "``") + "`"))
    df.select(xxhash64(cols: _*).as("h")).agg(
      count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)),
      coalesce(bit_xor(col("h")), lit(0L)))
  }

  /** Runs a [[consumer]] frame: (rows, digest). `collect` keeps the
    * frame's own query execution, so a plan forced beforehand is reused. */
  def consume(q: DataFrame): (Long, String) = {
    val r = q.collect().head
    (r.getLong(0), s"${r.getLong(1)}:${r.getLong(2)}:${r.getLong(3)}")
  }

  def digest(df: DataFrame): (Long, String) = consume(consumer(df))

  // ---- spans ------------------------------------------------------------

  final case class Span(
      id: Int, parent: Int, kind: String, name: String, startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer[Span]()
  private val nano0 = System.nanoTime()
  private val wall0Ms = System.currentTimeMillis()

  private def span(parent: Int, kind: String, name: String, s: Long, e: Long): Int = {
    val id = spans.size
    spans += Span(id, parent, kind, name, s - nano0, e - nano0)
    id
  }

  private def msToNs(ms: Long): Long = (ms - wall0Ms) * 1000000L + nano0

  /** Length of the union of [start, end) intervals. */
  private def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per span kind: total duration and self time (duration minus the part
    * of it that child spans cover). */
  private def layerTimes(): Map[String, (Double, Double)] = {
    val kids = spans.groupBy(_.parent)
    def covered(p: Span): Long = unionLength(kids.get(p.id).toSeq.flatten.map(c =>
      (math.max(c.startNs, p.startNs), math.min(c.endNs, p.endNs))))
    spans.groupBy(_.kind).map { case (k, ss) =>
      val dur = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => (s.endNs - s.startNs) - covered(s)).sum
      k -> (dur / 1e9, self / 1e9)
    }
  }

  // ---- plans ------------------------------------------------------------

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }

  private def planCounts(p: SparkPlan): Map[String, Long] = {
    val names = planNodes(p).map(_.getClass.getSimpleName)
    def n(f: String => Boolean) = names.count(f).toLong
    Map(
      "exchanges" -> n(s => s.endsWith("ExchangeExec") && !s.startsWith("Reused")),
      "sorts" -> n(_ == "SortExec"),
      "windows" -> n(s => s.contains("Window") || s == "GlobalRankExec"),
      "scans" -> n(s => s == "FileSourceScanExec" || s == "BatchScanExec"))
  }

  // ---- heap -------------------------------------------------------------

  @volatile private var heapWatch = false
  @volatile private var peakHeapAfterGc = 0L

  private def installGcWatch(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: AnyRef): Unit =
            if (heapWatch && n.getType ==
                GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              if (used > peakHeapAfterGc) peakHeapAfterGc = used
            }
        }, null, null)
      case _ =>
    }
  }

  // JVM-wide CPU and JIT compile time, recorded per pass in the run record
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  // ---- the run ----------------------------------------------------------

  final case class CallRec(
      pass: Int, traced: Boolean, key: String, ok: Boolean, error: String,
      seconds: Double, rows: Long, digest: String, layers: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(Paths.get(o.out))
    write(s"${o.out}/oracle_sql.json", o.keys.map(k => k -> SparkEntry.oracleSql.get(k)).toMap)
    installGcWatch()
    val fns = o.keys.map(k => k -> SparkEntry.queries.getOrElse(k,
      sys.error(s"unknown query key: $k")))

    // 1. set-up; 2. in the last set-up, with its timer stopped, each
    // call's output is written for the oracle check
    val setupS = mutable.ArrayBuffer[Double]()
    val verified = mutable.LinkedHashMap[String, Any]()
    var spark: SparkSession = null
    (1 to Setups).foreach { i =>
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      var untimed = 0L
      spark = newSession(o)
      val s = spark
      fns.foreach { case (key, fn) =>
        try {
          val df = fn(s, o.inputs)
          digest(df)
          if (i == Setups) {
            val u0 = System.nanoTime()
            verified(key) = verify(s, df, s"${o.out}/verify/$key")
            untimed += System.nanoTime() - u0
          }
        } catch {
          case NonFatal(e) => if (i == Setups) verified(key) = Map("error" -> oneLine(e))
        } finally clearBlocks(s)
      }
      setupS += (System.nanoTime() - t0 - untimed) / 1e9
    }
    val sc = spark.sparkContext

    // 3./4. measured (and traced) passes
    val calls = mutable.ArrayBuffer[CallRec]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val recorder = new Recorder
    val runStart = System.nanoTime()
    val runSpan = span(-1, "run", "run", runStart, runStart)
    var pass = 0
    // traced runs: at least two untraced/traced pairs, so the overhead
    // compares medians and not whichever pass ran later (warmer)
    def more: Boolean =
      if (o.trace) pass < 4 || pass % 2 == 1 || System.nanoTime() - runStart < o.seconds * 1e9
      else pass < 1 || System.nanoTime() - runStart < o.seconds * 1e9
    while (more) {
      val traced = o.trace && pass % 2 == 1
      // watch from a full collection on, so every pass has a sample
      heapWatch = true
      System.gc()
      if (traced) sc.addSparkListener(recorder)
      val (cpu0, jit0) = (processCpuNs(), jitMs())
      val cg0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val p0 = System.nanoTime()
      val passSpan = if (traced) span(runSpan, "pass", s"pass$pass", p0, p0) else -1
      val scanS =
        if (traced) o.tables.map(t => timedScan(spark, o, t, passSpan)).sum else 0.0
      val before = calls.size
      fns.foreach { case (key, fn) =>
        calls += runCall(spark, o, key, fn, pass, traced, passSpan, recorder)
      }
      heapWatch = false
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(recorder)
        spans(passSpan) = spans(passSpan).copy(endNs = System.nanoTime() - nano0)
      }
      val mine = calls.drop(before)
      passes += Map("pass" -> pass, "traced" -> traced, "scan_s" -> scanS,
        "seconds" -> mine.map(_.seconds).sum, "failed" -> mine.count(!_.ok),
        "process_cpu_s" -> (processCpuNs() - cpu0) / 1e9, "jit_s" -> (jitMs() - jit0) / 1e3,
        "codegen_compiles" -> (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0))
      pass += 1
    }
    spans(runSpan) = spans(runSpan).copy(endNs = System.nanoTime() - nano0)

    val kernels: Map[String, Any] =
      if (o.trace) timedKernels(spark, o) else Map.empty

    val result = Map(
      "nproc" -> cpus,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "confs" -> o.confs.map { case (k, v) => s"$k=$v" },
      "setup_s" -> setupS.toSeq,
      "verified" -> verified.toMap,
      "peak_live_heap_mb" -> peakHeapAfterGc / (1024.0 * 1024.0),
      "passes" -> passes.toSeq,
      "calls" -> calls.toSeq.map { c =>
        Map("pass" -> c.pass, "traced" -> c.traced, "key" -> c.key, "ok" -> c.ok,
          "error" -> c.error, "s" -> c.seconds, "rows" -> c.rows,
          "digest" -> c.digest) ++ c.layers
      },
      "kernels" -> kernels,
      "layer_times" -> (if (o.trace) layerTimes().map { case (k, (d, s)) =>
        k -> Map("total_s" -> d, "self_s" -> s) } else Map.empty))
    write(s"${o.out}/result.json", result)
    if (o.trace) write(s"${o.out}/spans.json", spans.toSeq.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9)
    })
    sc.setLogLevel("OFF")
    stopSession(spark)
  }

  private val Setups = 2

  /** Writes one output for the oracle check and digests what it wrote:
    * (rows, digest), or the error that the write or read threw. */
  private def verify(spark: SparkSession, df: DataFrame, dir: String): Map[String, Any] =
    try {
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      val (rows, dg) = digest(spark.read.parquet(dir))
      Map("rows" -> rows, "digest" -> dg)
    } catch {
      case NonFatal(e) => Map("error" -> oneLine(e))
    }

  private def oneLine(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".linesIterator
      .take(1).mkString.take(300)

  /** `Tables.read` of one input table, every column folded once, no
    * operator: the scan layer alone. */
  private def timedScan(spark: SparkSession, o: Opts, table: String, parent: Int): Double = {
    val t0 = System.nanoTime()
    digest(Tables.read(spark, o.inputs, table))
    val t1 = System.nanoTime()
    span(parent, "scan", table, t0, t1)
    (t1 - t0) / 1e9
  }

  private def runCall(
      spark: SparkSession, o: Opts, key: String,
      fn: (SparkSession, String) => DataFrame, pass: Int, traced: Boolean,
      passSpan: Int, rec: Recorder): CallRec = {
    val sc = spark.sparkContext
    val callId = s"$pass/$key"
    if (traced) sc.setLocalProperty(Recorder.CallKey, callId)
    def phase(p: String): Unit = if (traced) sc.setLocalProperty(Recorder.PhaseKey, p)
    val t0 = System.nanoTime()
    var t1, t2 = t0
    var plan: SparkPlan = null
    val outcome = try {
      phase("build")
      val df = fn(spark, o.inputs)
      t1 = System.nanoTime()
      phase("plan")
      val q = consumer(df)
      if (traced) q.queryExecution.executedPlan
      t2 = System.nanoTime()
      phase("exec")
      val r = consume(q)
      if (traced) plan = q.queryExecution.executedPlan
      Right(r)
    } catch {
      case NonFatal(e) => Left(oneLine(e))
    }
    val t3 = System.nanoTime()
    var layers = Map.empty[String, Any]
    if (traced) {
      sc.setLocalProperty(Recorder.CallKey, null)
      sc.setLocalProperty(Recorder.PhaseKey, null)
      org.apache.spark.PerfbenchBus.drain(sc)
      val storage = sc.getRDDStorageInfo.filter(_.isCached)
      layers = callLayers(rec, callId, t0, t1, t2, t3, plan, storage, passSpan, key)
    }
    clearBlocks(spark)
    outcome match {
      case Right((rows, dg)) =>
        CallRec(pass, traced, key, ok = true, "", (t3 - t0) / 1e9, rows, dg, layers)
      case Left(err) =>
        CallRec(pass, traced, key, ok = false, err, (t3 - t0) / 1e9, -1L, "", layers)
    }
  }

  private def callLayers(
      rec: Recorder, callId: String, t0: Long, t1: Long, t2: Long, t3: Long,
      plan: SparkPlan, storage: Seq[org.apache.spark.storage.RDDInfo],
      passSpan: Int, key: String): Map[String, Any] = {
    val callSpan = span(passSpan, "call", key, t0, t3)
    val phaseSpans = Map(
      "build" -> span(callSpan, "build", key, t0, t1),
      "plan" -> span(callSpan, "plan", key, t1, t2),
      "exec" -> span(callSpan, "exec", key, t2, t3))
    val jobs = rec.jobsOf(callId)
    jobs.foreach { j =>
      val js = span(phaseSpans.getOrElse(j.phase, callSpan), "job", s"job${j.id}:${j.module}",
        msToNs(j.startMs), msToNs(j.endMs))
      rec.stagesOf(Seq(j)).filter(_.doneMs > 0).foreach { s =>
        span(js, "stage", s"stage${s.id}", msToNs(s.submitMs), msToNs(s.doneMs))
      }
    }
    val execJobs = jobs.filter(_.phase == "exec")
    val execStages = rec.stagesOf(execJobs)
    val allStages = rec.stagesOf(jobs)
    // wall time of the call while none of its jobs ran
    val busyMs = unionLength(jobs.map(j => (j.startMs, j.endMs)))
    val longest = allStages.filter(_.taskMs.nonEmpty).sortBy(s => -(s.doneMs - s.submitMs))
      .headOption
    val taskRatio = longest.map { s =>
      val sorted = s.taskMs.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
    }.getOrElse(0.0)
    val counts = if (plan != null) planCounts(plan) else Map.empty[String, Long]
    val modules = jobs.groupBy(_.module).map { case (m, js) => m -> js.size }
    Map(
      "build_s" -> (t1 - t0) / 1e9,
      "plan_s" -> (t2 - t1) / 1e9,
      "exec_s" -> (t3 - t2) / 1e9,
      "jobs" -> jobs.size,
      "build_jobs" -> jobs.count(_.phase == "build"),
      "exec_jobs" -> execJobs.size,
      "exec_stages" -> execStages.size,
      "exec_tasks" -> execStages.map(_.taskMs.size).sum,
      "exec_task_cpu_s" -> execStages.map(_.cpuNs).sum / 1e9,
      "exec_gc_s" -> execStages.map(_.gcMs).sum / 1e3,
      "exec_shuffle_write_mb" -> execStages.map(_.shuffleWriteBytes).sum / 1048576.0,
      "exec_spill_mb" -> execStages.map(_.spillBytes).sum / 1048576.0,
      "driver_gap_s" -> math.max(0.0, (t3 - t0) / 1e9 - busyMs / 1e3),
      "task_overhead_s" -> allStages.map(_.overheadMs).sum / 1e3,
      "max_task_ratio" -> taskRatio,
      "materialize_blocks" -> storage.size,
      "materialize_mb" -> storage.map(i => i.memSize + i.diskSize).sum / 1048576.0,
      "module_jobs" -> modules,
      "plan_nodes" -> counts)
  }

  /** The native kernels alone, over the workload's own inputs cached
    * first so the scan is not timed: median of three runs each. */
  private def timedKernels(spark: SparkSession, o: Opts): Map[String, Any] = {
    graft.functions.GraftFunctions.register(spark)
    def rate(input: DataFrame)(work: DataFrame => DataFrame): Map[String, Any] = {
      val cached = input.persist()
      val rows = cached.count()
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        digest(work(cached))
        (System.nanoTime() - t0) / 1e9
      }.sorted
      cached.unpersist(blocking = true)
      Map("rows" -> rows, "s" -> ts(1), "rows_per_s" -> rows / ts(1))
    }
    val out = mutable.LinkedHashMap[String, Any]()
    if (o.tables.contains("embeddings"))
      out("graft_dot") = rate(Tables.read(spark, o.inputs, "embeddings")
        .select(col("embedding").cast("array<double>").as("e"))) { df =>
        df.select(graft.similarity.Similarity.fastDot(col("e"), col("e")).as("d"))
      }
    if (o.tables.contains("documents"))
      out("graft_minhash") = rate(Tables.read(spark, o.inputs, "documents")
        .select(col("text"))) { df =>
        df.select(call_function("graft_minhash",
          call_function("graft_shingle_hashes", col("text"), lit(3)), lit(12)).as("sig"))
      }
    if (o.tables.contains("events"))
      out("run_assembly") = rate(SparkEntry.canonicalEvents(spark, o.inputs)) { df =>
        graft.operators.Kernels.assembleEvents(
          graft.operators.Kernels.withRunId(df, col("value") > 100.0), "bench")
      }
    out.toMap
  }
}
