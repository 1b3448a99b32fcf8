package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev-only: write `explain("formatted")` output for named
  * driver-contract queries to files — the plans/r{N}/ evidence the
  * optimization rounds commit. Usage:
  *   sbt "runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> [key ...]"
  * writes <outDir>/<key>_<suffix>.txt per key.
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
