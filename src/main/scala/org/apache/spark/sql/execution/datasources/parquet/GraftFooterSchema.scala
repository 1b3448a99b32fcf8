package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The schema Spark infers from one parquet file's footer, read on the
  * calling thread. `spark.read.parquet` reaches the same two helpers
  * through a Spark job; they are private to this package, hence the
  * package. Used by `graft.sources.Tables`. */
object GraftFooterSchema {
  def read(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val state = spark.sessionState
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      state.newHadoopConf(), Seq(file), state.conf.ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, spark)
  }
}
