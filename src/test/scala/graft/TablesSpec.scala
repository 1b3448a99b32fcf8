package graft

import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import graft.sources.Tables
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** `Tables` reads every table with the schema `spark.read.parquet`
  * infers, taken from one footer on the driver without a Spark job; the
  * ns→µs ingest conversion must FLOOR (DuckDB's TIMESTAMP_NS cast
  * semantics), not truncate toward zero — they differ for pre-epoch
  * nanos (ADVICE r1 #4). */
class TablesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tempDir(prefix: String) = Files.createTempDirectory(prefix).toString

  /** A parquet file written without Spark, so without the schema Spark
    * stores in its own files: the types come from the parquet schema. */
  private def writeForeignParquet(path: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message t {
        |  required int64 id;
        |  optional int64 ts_ntz (TIMESTAMP(MICROS,false));
        |  optional int64 ts_ns (TIMESTAMP(NANOS,false));
        |  optional int64 ts_utc (TIMESTAMP(MILLIS,true));
        |  optional binary label (STRING);
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(path))
      .withConf(new Configuration()).withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
        .append("id", 1L).append("ts_ntz", 1500L).append("ts_ns", -1500L)
        .append("ts_utc", 2L).append("label", "a")
      w.write(g)
    } finally w.close()
  }

  test("nano timestamps floor to micros, including pre-epoch") {
    val dir = tempDir("graft_tables")
    // ns values: +1500 → +1 µs; −1500 → −2 µs (floor, not −1);
    // exact multiples stay put
    Seq((1L, 1500L), (2L, -1500L), (3L, -2000L), (4L, 0L))
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables.read(spark, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 1L)
    assert(got(2L) == -2L, "pre-epoch ns must floor, not truncate toward zero")
    assert(got(3L) == -2L)
    assert(got(4L) == 0L)
  }

  test("reading a table's schema runs no Spark job") {
    val dir = tempDir("graft_tables_jobs")
    Seq((1L, 2.0)).toDF("event_id", "value").write.parquet(s"$dir/events.parquet")
    val sc = spark.sparkContext
    def inGroup[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    inGroup("tables-read")(Tables.read(spark, dir, "events").schema)
    // a bare read infers the schema through a job; the listener bus
    // delivers job starts in order, so once that job is seen, any job
    // of the Tables read before it would have been seen too
    inGroup("bare-read")(spark.read.parquet(s"$dir/events.parquet").schema)
    eventually(timeout(30.seconds), interval(50.millis)) {
      assert(sc.statusTracker.getJobIdsForGroup("bare-read").nonEmpty)
    }
    assert(sc.statusTracker.getJobIdsForGroup("tables-read").isEmpty)
  }

  test("the schema equals the one spark.read.parquet infers") {
    def same(dir: String, table: String): Unit =
      assert(Tables.readParquet(spark, dir, table).schema ==
        spark.read.parquet(s"$dir/$table").schema, s"$dir/$table")

    val sparkDir = tempDir("graft_tables_spark")
    Seq((1L, "a", java.time.LocalDateTime.of(2024, 1, 2, 3, 4)))
      .toDF("id", "s", "local_ts").write.parquet(s"$sparkDir/t")
    assert(Files.exists(Paths.get(sparkDir, "t", "_SUCCESS")))
    same(sparkDir, "t")

    val foreignDir = tempDir("graft_tables_foreign")
    writeForeignParquet(s"$foreignDir/f.parquet")
    val foreign = Tables.readParquet(spark, foreignDir, "f.parquet").schema
    assert(foreign("ts_ntz").dataType == TimestampNTZType)
    assert(foreign("ts_ns").dataType == LongType, "nanosAsLong reads nanos as long")
    same(foreignDir, "f.parquet")

    val sf = "/root/testdata/sf0.001"
    assume(Files.isDirectory(Paths.get(sf)), s"$sf not present")
    val tables = Files.list(Paths.get(sf)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    assert(tables.nonEmpty)
    tables.foreach(same(sf, _))
  }

  test("a missing table, an empty directory and a partitioned layout fail by name") {
    val dir = tempDir("graft_tables_errors")
    def error(table: String) =
      intercept[IllegalArgumentException](Tables.readParquet(spark, dir, table)).getMessage
    assert(error("nope") == s"Tables: no table nope in $dir")
    Files.createDirectory(Paths.get(dir, "empty"))
    Files.createFile(Paths.get(dir, "empty", "_SUCCESS"))
    assert(error("empty") == s"Tables: table empty in $dir has no data file")
    Seq((1L, 2L)).toDF("a", "k").write.partitionBy("k").parquet(s"$dir/parted")
    assert(error("parted") == s"Tables: table parted in $dir has a subdirectory (k=2): " +
      "partitioned layouts are not supported")
  }

  test("the query layer reads parquet only through Tables") {
    val main = Paths.get(sys.props("user.dir"), "src", "main", "scala", "graft")
    val sources = Files.walk(main.resolve("queries")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq :+ main.resolve("SparkEntry.scala") :+
      main.resolve("sources").resolve("IO.scala")
    assert(sources.size > 1 && sources.forall(Files.isRegularFile(_)), sources)
    val offenders = sources.filter(p => Files.readString(p).contains(".read.parquet("))
    assert(offenders.isEmpty, s"bare parquet reads in ${offenders.map(_.getFileName)}")
  }
}
