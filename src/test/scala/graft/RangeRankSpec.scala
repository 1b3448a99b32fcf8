package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.RangeRankRewrite

/** Unpartitioned rank windows written as plain `Window.orderBy` — the
  * form w5/rfm1/gn1/qb1 use — must, once the size gate is open, plan
  * as [[graft.plans.GlobalRankExec]] (no Window node, no
  * single-partition stage) and be row-for-row identical to the plain
  * single-partition window on any TOTAL order. */
class RangeRankSpec extends AnyFunSuite with SparkTestBase {

  graft.functions.GraftFunctions.register(spark)

  // adversarial frame: heavy value ties (the tiebreak column does the
  // total-ordering work), plus negative values and a non-round size
  private def frame(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, ((i * 31) % 7 - 3).toDouble)).toDF("k", "v")
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def forced[T](body: => T): T = {
    spark.conf.set(RangeRankRewrite.MinBytesKey, "0")
    try body finally spark.conf.unset(RangeRankRewrite.MinBytesKey)
  }

  /** The gate-open rows of `df`, asserting the rule replaced the Window
    * (both plans give the same values, so without this a test passes
    * even if the rule never fires). */
  private def promoted(df: => DataFrame): Seq[Row] = forced {
    val d = df
    val p = plan(d)
    assert(p.contains("GlobalRank") && !p.contains("Window"), p.take(2000))
    rows(d)
  }

  private def rowNumber(df: DataFrame, ord: Seq[Column]) =
    df.withColumn("rn", row_number().over(Window.orderBy(ord: _*)).cast("long"))

  test("global row number equals the plain window (asc, desc, ties)") {
    for (ord <- Seq(Seq(col("v"), col("k")), Seq(col("v").desc, col("k").desc))) {
      val plain = rows(rowNumber(frame(103), ord))
      assert(promoted(rowNumber(frame(103), ord)) == plain)
    }
  }

  test("ntile equals the plain window for k not dividing n, k > n, k = 1") {
    val ord = Seq(col("v"), col("k"))
    for ((n, k) <- Seq((103, 10), (103, 5), (3, 10), (40, 1), (100, 100))) {
      def tiled = frame(n).withColumn("t",
        ntile(k).over(Window.orderBy(ord: _*)).cast("long"))
      assert(promoted(tiled) == rows(tiled), s"ntile($k) over $n rows diverged")
    }
  }

  test("gate: small frames take the plain window path (no extra jobs)") {
    // default threshold: a 100-row local frame is far under 32 MB, so
    // the rule must leave the single-partition window in place
    val p = plan(rowNumber(frame(100), Seq(col("v"), col("k"))))
    assert(p.contains("Window") && p.contains("SinglePartition"), p.take(2000))
    assert(!p.contains("GlobalRank"), p.take(2000))
  }

  test("forced range path plan has no SinglePartition stage") {
    val p = forced(plan(rowNumber(frame(500), Seq(col("v"), col("k")))))
    assert(p.contains("GlobalRank"), p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("empty partitions (numParts > n) and empty input are handled") {
    // shuffle.partitions = 4 in tests; 2 rows leave 2+ empty ranges
    val ord = Seq(col("v"), col("k"))
    assert(promoted(rowNumber(frame(2), ord)) == rows(rowNumber(frame(2), ord)))
    assert(forced(rowNumber(frame(0), ord).count()) == 0L)
  }

  test("weightedMedian: gate-open equals gate-closed, null group included") {
    import spark.implicits._
    // 240 rows in 4 groups (one null), more than the 4 shuffle partitions;
    // repeated values exercise the pre-aggregation, weights are
    // integer-valued doubles (the weightedMedian contract), zeros included
    val df = (0 until 240).map { i =>
      (Seq(Some("a"), Some("b"), None, Some("c"))(i % 4),
        ((i * 37) % 23).toDouble, ((i * 7) % 5).toDouble)
    }.toDF("g", "v", "wt")
    def median = graft.queries.Relational.weightedMedian(df, "g", "v", "wt")
    val closed = median
    assert(!plan(closed).contains("GlobalRank"), plan(closed).take(2000))
    val open = forced {
      val d = median
      assert(plan(d).contains("GlobalRank"), plan(d).take(2000))
      val partitioned = d.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.nonEmpty => w
      }
      assert(partitioned.isEmpty, partitioned.mkString("\n"))
      rows(d)
    }
    val plain = rows(closed)
    assert(plain.length == 4 && plain.exists(_.isNullAt(0)), plain)
    assert(open == plain)
  }

  private val rankKeys =
    Seq("w5_spend_deciles", "gn1_gini_spend", "rfm1_rfm_segments", "qb1_quantile_bins")

  locally {
    val dir = "/root/testdata/sf0.001"
    def haveData = new java.io.File(s"$dir/orders.parquet").exists()

    test("w5/gn1/rfm1 stay hash-identical on the forced range path") {
      assume(haveData)
      for (key <- rankKeys) {
        val q = SparkEntry.queries(key)
        val plain = rows(q(spark, dir))
        assert(promoted(q(spark, dir)) == plain, s"$key diverged on the range path")
      }
    }

    test("w5/gn1/rfm1/qb1 install the rule themselves (no extensions conf)") {
      assume(haveData)
      // a fresh session per key: once one key registered the rule, a
      // later key missing its own register call would still plan it
      for (key <- rankKeys) {
        val fresh = spark.newSession()
        fresh.conf.set(RangeRankRewrite.MinBytesKey, "0")
        assert(!fresh.experimental.extraOptimizations.contains(graft.plans.RangeRankRewrite))
        val p = plan(SparkEntry.queries(key)(fresh, dir))
        assert(p.contains("GlobalRank"), s"$key did not register the rule:\n" + p.take(2000))
      }
    }
  }
}
