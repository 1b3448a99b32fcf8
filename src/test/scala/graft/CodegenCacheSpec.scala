package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The codegen cache cap in `Tables.requiredConfs` holds the engine's
  * working set: repeating the same calls in one JVM reuses every
  * generated class instead of recompiling it with Janino. */
class CodegenCacheSpec extends AnyFunSuite with SparkTestBase {

  test("a repeated pass of the seven detectors compiles no generated class") {
    val keys = Seq("d1_storm", "d3_spike_valley", "d4_data_gap", "d5_flat_line",
      "d6_extreme_value", "d7_extreme_change", "u1_infer_step")
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      keys.foreach(k => SparkEntry.queries(k)(spark, "/root/testdata/sf0.001").collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles()
    val second = compiles()
    assert(second == 0L,
      s"second pass recompiled $second classes (first pass: $first); the " +
        "codegen cache (spark.sql.codegen.cache.maxEntries) evicts the working set")
  }
}
