package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev-only: write `explain("formatted")` output for named
  * driver-contract queries to files — the plans/r{N}/ evidence the
  * optimization rounds commit. Usage:
  *   sbt "runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> [key ...]"
  * writes <outDir>/<key>_<suffix>.txt per key.
  *
  * The frames are not executed, so each file holds the INITIAL
  * adaptive plan (`isFinalPlan=false`). What AQE decides at run time
  * does not show there: a sort-merge join it turns into a broadcast,
  * an exchange it reuses, a read it coalesces. A dump can therefore
  * count an exchange that execution reuses, or miss a broadcast that
  * execution adds. Evidence about executed plans comes from specs that
  * collect the frame and read its final plan (`DetectorPlanSpec`,
  * `KCoreSpec`); a masked dump diff is a check that a change left the
  * other keys' initial plans alone.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val keys = if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = DevSession.build()
    Files.createDirectories(Paths.get(outDir))
    keys.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
