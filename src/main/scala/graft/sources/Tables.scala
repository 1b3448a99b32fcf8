package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/**
 * Driver-testdata table loader (TESTDATA.md).
 *
 * `events.ts` has shipped in two physical forms across driver
 * generations, and this loader normalizes BOTH to a microsecond
 * session-zone timestamp so every downstream `unix_micros` kernel sees
 * one type:
 *  - Parquet TIMESTAMP(NANOS) (no native Spark 4 type): sessions must
 *    set `spark.sql.legacy.parquet.nanosAsLong=true` and the long
 *    nanos are floored to micros — the same floor semantics DuckDB
 *    applies when casting TIMESTAMP_NS down, so oracle comparisons
 *    line up even for pre-epoch (negative) nanos, where `div` would
 *    truncate toward zero and land 1 µs late;
 *  - Parquet timestamp[us] without timezone (isAdjustedToUTC=false),
 *    which Spark 4 infers as TIMESTAMP_NTZ: cast to TIMESTAMP under
 *    the required UTC session zone — the identical wall-clock instant
 *    DuckDB's naive timestamps carry, so the oracle hashes match.
 * All other tables (timestamp[ms], primitives) read natively.
 *
 * Every read takes its schema from one parquet footer, read on the
 * driver with no Spark job ([[readParquet]]). A bare
 * `spark.read.parquet` infers the same schema through a one-task job
 * per read, a fixed cost that small inputs feel (seven reads: 0.33 s of
 * build time on a 4-core box). Schema merging (`mergeSchema`) is not
 * supported.
 */
object Tables {

  /** Columns physically stored as nano timestamps, per table. */
  private val nanoTsCols: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"))

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = readParquet(spark, sfDir, s"$name.parquet")
    nanoTsCols.getOrElse(name, Nil).foldLeft(raw) { (df, c) =>
      df.schema.find(_.name == c) match {
        case Some(f) if f.dataType == LongType =>
          // floor-div in pure long arithmetic (no double round-trip:
          // ns magnitudes exceed 2^53): subtract the non-negative
          // remainder, then the division is exact.
          df.withColumn(c,
            timestamp_micros(expr(s"(`$c` - ((`$c` % 1000) + 1000) % 1000) div 1000")))
        case Some(f) if f.dataType == TimestampNTZType =>
          df.withColumn(c, col(c).cast(TimestampType))
        case _ => df
      }
    }
  }

  /** The parquet table `table` under `dir`: one file, or a directory of
    * part files as Spark writes them. The schema is the one
    * `spark.read.parquet` infers when it does not merge schemas, taken
    * from the same file: `_common_metadata`, else `_metadata`, else the
    * first data file by path (data files are the names that do not
    * start with `_` or `.`), converted by Spark's own footer reader, so
    * `nanosAsLong`, TIMESTAMP_NTZ inference and the schema Spark stores
    * in the files it writes all apply as in a bare read. The footer is
    * read again on every call. A missing table, a directory with no
    * data file and a directory with subdirectories (a partitioned
    * layout) fail with errors that name the table and `dir`. */
  def readParquet(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.schema(footerSchema(spark, dir, table)).parquet(s"$dir/$table")

  private def footerSchema(spark: SparkSession, dir: String, table: String): StructType = {
    require(!spark.sessionState.conf.isParquetSchemaMergingEnabled,
      s"Tables: table $table in $dir: parquet schema merging is not supported")
    val path = new Path(s"$dir/$table")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val root =
      try fs.getFileStatus(path)
      catch { case _: FileNotFoundException =>
        throw new IllegalArgumentException(s"Tables: no table $table in $dir") }
    val file = if (root.isFile) root else schemaFile(fs.listStatus(path).toSeq, dir, table)
    GraftFooterSchema.read(spark, file).getOrElse(throw new IllegalArgumentException(
      s"Tables: table $table in $dir: no readable footer in ${file.getPath.getName}"))
  }

  private val summaryFiles = Seq("_common_metadata", "_metadata")

  /** The file whose footer Spark reads for a directory's schema. */
  private def schemaFile(entries: Seq[FileStatus], dir: String, table: String): FileStatus = {
    def name(f: FileStatus) = f.getPath.getName
    def isData(n: String) =
      !n.startsWith("_") && !n.startsWith(".") && !n.endsWith("._COPYING_")
    val leaves = entries.filter(f => isData(name(f)) || summaryFiles.contains(name(f)))
      .sortBy(_.getPath.toString)
    leaves.find(_.isDirectory).foreach { d => throw new IllegalArgumentException(
      s"Tables: table $table in $dir has a subdirectory (${name(d)}): " +
        "partitioned layouts are not supported") }
    summaryFiles.flatMap(s => leaves.find(f => name(f) == s)).headOption
      .orElse(leaves.headOption)
      .getOrElse(throw new IllegalArgumentException(
        s"Tables: table $table in $dir has no data file"))
  }

  /** The confs every engine session sets on its `SparkSession.builder`
    * (`graft.Bench`, `graft.Verify`, the dev mains, the test suite and
    * the perfbench harness all apply this one map). The first two read
    * the driver testdata with oracle parity (see above).
    *
    * `spark.sql.codegen.cache.maxEntries` sizes Spark's generated-class
    * cache to the engine's working set. At Spark's default of 100, one
    * pass of the seven detectors makes 112 cache entries (81 distinct
    * class bodies) and one pass of x2 + kc1 + s3 makes 166 (112 bodies):
    * the key includes the class loader, so a body compiled on the driver
    * and again under the executor's loader is cached twice. The cache
    * then evicts what the next call needs, so every repeated call
    * recompiles its classes with Janino and the JIT never settles. 1000
    * holds several such sets; with it the perfbench passes after set-up
    * compile 0 classes, against ~70 (detectors) and ~160 (x2 + kc1 + s3)
    * per pass at 100.
    * It is a static SQL conf: `CodeGenerator` reads it once per JVM when
    * the cache is first used, so only the session builder can set it,
    * not an extension or a runtime `spark.conf.set`. */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "1000")
}
