package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

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
 */
object Tables {

  /** Columns physically stored as nano timestamps, per table. */
  private val nanoTsCols: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"))

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
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
