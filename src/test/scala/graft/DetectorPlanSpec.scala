package graft

import java.nio.file.Files
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec}
import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every detector key, and the per-series recurrences ew1/hw1, shuffles
  * once, on every core: after execution its plan holds exactly one
  * `series_id` hash exchange with the session's partition count (a
  * reused exchange does not count), no broadcast, one parquet scan, and
  * AQE leaves the reduce side uncoalesced. The run detectors d4–d7 walk
  * each series in one sorted fold: one sort and no window. */
class DetectorPlanSpec extends AnyFunSuite with SparkTestBase {

  private val keys = Seq("d1_storm", "d3_spike_valley", "d4_data_gap", "d5_flat_line",
    "d6_extreme_value", "d7_extreme_change", "u1_infer_step", "ew1_ewma", "hw1_holt")
  private val runFolds = Set("d4_data_gap", "d5_flat_line", "d6_extreme_value", "d7_extreme_change")

  /** 12 hourly series with storms, gaps, flat runs and spikes, as the
    * `events` parquet table the detector keys read. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_detector_plan").toString
    spark.range(12 * 96).select(
        (col("id") / 96).cast("long").as("user_id"),
        timestamp_micros(lit(1672531200000000L) +
          (col("id") % 96) * 3600000000L).as("ts"),
        when(col("id") % 96 === 40, lit(Double.NaN))
          .when(col("id") % 17 < 4, lit(120.0))
          .when(col("id") % 23 === 5, lit(900.0))
          .otherwise((col("id") % 7).cast("double")).as("value"))
      .where(!(col("id") % 96).between(60, 72)) // a 14 h timestamp gap per series
      .write.parquet(s"$d/events.parquet")
    d
  }

  for (key <- keys) test(s"$key: one series_id exchange, uncoalesced on 4 partitions") {
    val df = SparkEntry.queries(key)(spark, dir)
    assert(df.collect().nonEmpty, key)
    val plan = executedNodes(df.queryExecution.executedPlan)
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    val bySeries = shuffles.collect {
      case HashPartitioning(Seq(a: Attribute), 4) if a.name == "series_id" => a
    }
    assert(shuffles.size == 1 && bySeries.size == 1, s"$key shuffles: $shuffles")
    assert(plan.collect { case b: BroadcastExchangeExec => b }.isEmpty, s"$key broadcasts")
    assert(plan.count(_.isInstanceOf[FileSourceScanExec]) == 1, s"$key scans")
    val coalesced = plan.collect {
      case r: AQEShuffleReadExec if r.isCoalescedRead || r.hasCoalescedPartition => r
    }
    assert(coalesced.isEmpty, s"$key coalesced reads: $coalesced")
    if (runFolds(key)) {
      assert(plan.collect { case w: WindowExec => w }.isEmpty, s"$key windows")
      assert(plan.count(_.isInstanceOf[SortExec]) == 1, s"$key sorts")
    }
  }
}
