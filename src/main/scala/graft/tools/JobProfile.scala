package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Dev-only per-query job/stage/task accounting (not driver contract):
  * runs each named SparkEntry key `iters` times and prints, for the
  * LAST (steady-state) run, wall seconds plus the number of Spark
  * jobs, stages, tasks, summed task time, shuffle bytes and Janino
  * compilations (`cg`: a steady-state run should compile nothing; a
  * nonzero count means its generated classes fell out of the codegen
  * cache) — the decomposition that tells fixed scheduling/checkpoint/
  * codegen overhead apart from data-proportional work (guide §1:
  * decide whether the time is compute, shuffle or scheduling before
  * optimizing).
  * Usage: sbt "runMain graft.tools.JobProfile <sfDir> <iters> [key ...]"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val iters = if (args.length > 1) args(1).toInt else 3
    val keys = if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
    graft.sources.Tables.requiredConfs.foreach { case (k, v) => builder.config(k, v) }
    // same posture-override contract as graft.Verify
    sys.env.get("SPARK_GRAFT_EXTRA_CONFS").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => builder.config(k, v)
          case _ => sys.error(s"SPARK_GRAFT_EXTRA_CONFS: bad entry (no '='): $kv")
        }
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val shuffleReadB = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
        taskTimeMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        shuffleReadB.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def clearPersisted(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    println(f"${"key"}%-28s ${"sec"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"taskSec"}%8s ${"shufMB"}%7s ${"cg"}%4s")
    keys.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      var last = (0.0, 0, 0, 0, 0L, 0L, 0L)
      (1 to iters).foreach { _ =>
        jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0); shuffleReadB.set(0)
        val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        clearPersisted()
        // listener events are async; give the bus a moment to drain
        // (dev tool; private[spark] waitUntilEmpty is not accessible)
        Thread.sleep(200)
        last = (dt, jobs.get, stages.get, tasks.get, taskTimeMs.get, shuffleReadB.get,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0)
      }
      println(f"$name%-28s ${last._1}%7.3f ${last._2}%5d ${last._3}%5d ${last._4}%6d ${last._5 / 1e3}%8.2f ${last._6 / 1e6}%7.2f ${last._7}%4d")
    }
    spark.stop()
  }
}
