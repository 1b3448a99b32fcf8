package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Canonical-frame IO (SURVEY.md §2.3 scans/sinks). The reference reads
 * CSV with pandas and keeps results as in-memory Python lists
 * (events.py:119; tests/test_events.py:103-106); the engine reads
 * CSV/Parquet into the canonical TimeSeriesFrame and writes EventFrames
 * back out as partitioned Parquet — at 100 TB the event output
 * partitions by event_type (low cardinality, stable) so per-detector
 * consumers prune to their slice.
 */
object IO {

  /** CSV with a `datetime` column and one value column → canonical
    * frame (the flv.csv shape, FIXTURES.md §1). `tsFormat` must parse
    * the tz suffix; session TZ is pinned UTC. */
  def readCsvSeries(
      spark: SparkSession,
      path: String,
      valueCol: String,
      seriesId: String,
      tsFormat: String = "yyyy-MM-dd HH:mm:ssXXX"): DataFrame =
    spark.read.option("header", "true").csv(path)
      .select(
        lit(seriesId).as("series_id"),
        to_timestamp(col("datetime"), tsFormat).as("ts"),
        col(valueCol).cast("double").as("value"))

  /** EventFrame sink: Parquet partitioned by event_type. */
  def writeEvents(events: DataFrame, path: String): Unit =
    events.write.mode("overwrite").partitionBy("event_type").parquet(path)

  /** EventFrame sink: single-header CSV for interchange. `coalesce(1)`
    * funnels the whole frame through ONE task — the only sink in this
    * repo with a deliberate driver-width bottleneck — so it refuses
    * loudly above [[maxCsvRows]] rows rather than silently serializing
    * a 100 TB event table on one core. Use [[writeEvents]] (partitioned
    * Parquet) for anything bigger; interchange files are small by
    * definition. The count is one cheap aggregate job over the frame
    * (re-computed by the write — acceptable at interchange size). */
  def writeEventsCsv(events: DataFrame, path: String,
      maxCsvRows: Long = 10_000_000L): Unit = {
    val n = events.count()
    require(n <= maxCsvRows,
      s"writeEventsCsv: $n rows exceeds maxCsvRows=$maxCsvRows — this sink " +
        "coalesces to ONE task/file; use IO.writeEvents (partitioned parquet) " +
        "for large frames, or raise maxCsvRows explicitly if you mean it")
    events.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
  }

  /** JSONL document corpus reader (the standard corpus interchange
    * format) with an EXPLICIT schema: schema inference over JSON is a
    * full extra scan — at 100 TB that is a second pass over the
    * corpus before the first real job. Unknown fields are dropped by
    * the reader; missing ones are null. `mode=PERMISSIVE` keeps
    * corrupt lines as nulls instead of failing the pipeline — filter
    * on `text IS NOT NULL` downstream to drop them. */
  def readJsonlDocs(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING")
      .option("mode", "PERMISSIVE")
      .json(path)

  /** JSONL document sink (gzip keeps interchange files line-splittable
    * per file; within-file parallelism comes from file count). */
  def writeJsonlDocs(docs: DataFrame, path: String): Unit =
    docs.write.mode("overwrite").option("compression", "gzip").json(path)

  /** Globally-ordered shard export: `shards` parquet files whose key
    * ranges are disjoint and ascending — file i holds keys strictly
    * below every key in file i+1, rows sorted within each file. The
    * layout a training job wants for sequential shard reads (and the
    * only way "globally sorted" scales: range-partition + local sort,
    * never a single-partition global sort — Spark samples the key
    * distribution to place the range boundaries, so shards are
    * near-equal-sized under skew).
    *
    * Returns the per-shard (file, min_key, max_key, rows) manifest,
    * computed from the written files (not the plan), so callers can
    * assert the disjoint-ascending contract and route readers to the
    * right shard without opening the others. */
  def writeSortedShards(
      df: DataFrame, keyCol: String, path: String, shards: Int): DataFrame = {
    df.repartitionByRange(shards, col(keyCol))
      .sortWithinPartitions(col(keyCol))
      .write.mode("overwrite").parquet(path)
    // the schema just written: no inference job on the read-back
    df.sparkSession.read.schema(df.schema).parquet(path)
      .select(input_file_name().as("file"), col(keyCol).as("k"))
      .groupBy(col("file"))
      .agg(min(col("k")).as("min_key"), max(col("k")).as("max_key"),
        count(lit(1)).as("rows"))
      .orderBy(col("min_key"))
  }

  /** Z-ORDERED parquet writer — [[writeSortedShards]] generalized to
    * TWO clustering columns via the native `graft_morton` interleave
    * (the lakehouse OPTIMIZE ZORDER move): rows range-partition AND
    * sort on the Morton code, so every output file is simultaneously
    * narrow in BOTH dimensions and any engine's file/row-group
    * min-max statistics prune scans filtered on EITHER column.
    * Returns the per-file (min, max, rows) audit for both dims — the
    * evidence frame; IOSpec asserts the narrowness invariant and the
    * zo1 gate key audits the same property query-side. Columns must
    * be non-negative integers below 2^31 (the interleave's domain). */
  def writeZOrdered(
      df: DataFrame, xCol: String, yCol: String,
      path: String, shards: Int): DataFrame = {
    val spark = df.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val z = call_function("graft_morton", col(xCol), col(yCol))
    df.repartitionByRange(shards, z).sortWithinPartitions(z)
      .write.mode("overwrite").parquet(path)
    spark.read.schema(df.schema).parquet(path)
      .select(input_file_name().as("file"), col(xCol).as("x"), col(yCol).as("y"))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("rows"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .orderBy(col("x_min"), col("y_min"))
  }

  /**
   * BUCKETED parquet table writer — the layout that buys
   * EXCHANGE-FREE joins (the co-location lever of the 100 TB brief):
   * two tables bucketed on their join key into the SAME bucket count
   * hash-agree file-for-file, so the sort-merge join's
   * `requiredChildDistribution` is already satisfied by the scan's
   * `HashPartitioning(bucketCols, numBuckets)` and EnsureRequirements
   * inserts NO shuffle on either side — the fact-to-fact join
   * (orders ⋈ lineitem at 100 TB) becomes a per-bucket local merge.
   * `sortCols` (default: the bucket columns) additionally sorts each
   * written file, so single-file buckets skip the join's local sort
   * too.
   *
   * Spark constraint made explicit: bucket metadata lives in the
   * CATALOG, not the parquet footer — this writes via `saveAsTable`
   * into the session catalog (at `path` when given, else the
   * warehouse dir). A plain `spark.read.parquet` of the same files
   * sees ordinary parquet and shuffles; consumers must read
   * `spark.table(name)`. BucketedJoinSpec asserts the zero-exchange
   * plan and value-equality with the shuffled join.
   *
   * Bucket-count choice at scale: buckets are the UNIT OF TASK
   * PARALLELISM for the co-located join (one task per bucket, no AQE
   * re-split), so pick ≥ cluster cores and size buckets ≲ a task's
   * memory; co-locating SKEWED keys concentrates them in one bucket —
   * the AQE skew-join escape hatch does not apply to bucketed scans,
   * which is the documented trade against shuffle-with-AQE.
   */
  def writeBucketed(
      df: DataFrame, table: String, numBuckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil,
      path: Option[String] = None): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed: bucketCols must be non-empty")
    require(numBuckets >= 1, s"writeBucketed: numBuckets must be >= 1: $numBuckets")
    val sorts = if (sortCols.nonEmpty) sortCols else bucketCols
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sorts.head, sorts.tail: _*)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }
}
