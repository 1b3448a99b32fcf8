package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * [[withGroupedRunningSum]]: a low-cardinality `PARTITION BY` running
 * sum without one task per group (wm1's scale path).
 *
 * Unpartitioned global windows (`row_number`/`ntile`/running
 * aggregates `OVER (ORDER BY ...)`) need no helper: write the plain
 * `Window.orderBy(...)` and [[graft.plans.RangeRankRewrite]] promotes
 * it to [[graft.plans.GlobalRankExec]] above the gate. That rule does
 * not take a `PARTITION BY` window; this helper covers wm1's.
 *
 * Size-gated on [[MinBytesKey]], the same key the planner rule reads.
 */
object RangeRank {

  val MinBytesKey = "spark.graft.rangerank.minBytes"

  /** df + `out` (running sum of `w` within `group` ordered by `order`)
    * + `totOut` (the group's total) — the cumulative-weight window
    * WITHOUT a per-group single task (guide §2.5 skew: wm1's window
    * partitions by a 3-value key, so at 100 TB the whole fact table
    * sorts in 3 straggler tasks).
    *
    * Below the size gate (`sizeOf` under [[MinBytesKey]]) this is the
    * plain two-window form — bit-identical to the historical wm1 plan,
    * so gate-SF oracle hashes hold. Above it, a distributed prefix sum:
    * `repartitionByRange(group, order)` + local sort + partition ids
    * from `monotonically_increasing_id`, a driver prefix-sum of the
    * ≤ numParts·|groups| per-(partition, group) subtotals, and a
    * broadcast join attaching each row's partition offset — the local
    * running sum then runs in a window keyed by (partition, group),
    * numParts·|groups| keys, each bounded by a range partition. NO
    * single-group task anywhere.
    *
    * Contracts: `group` must be LOW-cardinality (the collected
    * subtotal table is numParts·|groups| rows — exactly the regime
    * where the per-group window straggles; a high-cardinality group
    * key does not need this helper). `order` must be a total order
    * within each group (wm1: distinct values from a pre-aggregation).
    * `w`'s sums must be order-independent in double (integer-valued
    * weights — the wm1 float discipline) for the offset+local
    * decomposition to be bit-equal to the sequential running sum. */
  def withGroupedRunningSum(
      df: DataFrame, out: String, totOut: String,
      group: String, order: Seq[Column], w: Column,
      sizeOf: DataFrame): DataFrame = {
    // the two gate branches must agree on the output TYPE (double):
    // the distributed branch adds a double offset, so an integer
    // weight would silently widen only above the gate — refuse loudly
    require(df.select(w.as("__rr_w")).schema.head.dataType ==
        org.apache.spark.sql.types.DoubleType,
      "withGroupedRunningSum: weight column must be double " +
        "(both gate branches must produce the same running-sum type)")
    val wRun = Window.partitionBy(col(group)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(group))
    if (graft.Materialize.underGate(sizeOf, MinBytesKey))
      df.withColumn(out, sum(w).over(wRun))
        .withColumn(totOut, max(col(out)).over(wAll))
    else {
      val spark = df.sparkSession
      val numParts = scala.util.Try(
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .getOrElse(df.rdd.getNumPartitions).max(1)
      val ordered = df
        .repartitionByRange(numParts, col(group) +: order: _*)
        .sortWithinPartitions(col(group) +: order: _*)
        .withColumn("__rr_mid", monotonically_increasing_id())
      // pin ONE boundary sample + id assignment. MUST truncate lineage
      // (pinBarrier, not barrier): a recompute re-samples the range
      // boundaries and re-assigns the nondeterministic ids, so the
      // driver-collected subtotals could describe a DIFFERENT
      // assignment than the rows the join sees — silently wrong sums
      val pinned = graft.Materialize.pinBarrier(ordered)
      val withPid = pinned
        .withColumn("__rr_pid", shiftright(col("__rr_mid"), 33))
        .drop("__rr_mid")
      val pg = withPid.groupBy(col("__rr_pid").as("__rr_opid"), col(group).as("__rr_g"))
        .agg(sum(w).as("__rr_s"))
      val sub = pg.collect() // ≤ numParts · |groups| rows, bounded by contract
      // per group: partitions in pid order, prefix offsets + total
      val byGroup = sub.groupBy(r => Option(r.get(1)))
      val offRows = byGroup.toSeq.flatMap { case (_, rs) =>
        val inOrder = rs.sortBy(_.getLong(0))
        val tot = inOrder.map(_.getDouble(2)).sum
        inOrder.zip(inOrder.scanLeft(0.0)(_ + _.getDouble(2))).map {
          case (r, off) => org.apache.spark.sql.Row(r.get(0), r.get(1), off, tot)
        }
      }
      val offsSchema = org.apache.spark.sql.types.StructType(
        pg.schema.fields.take(2) ++ Seq(
          org.apache.spark.sql.types.StructField(
            "__rr_off", org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField(
            "__rr_tot", org.apache.spark.sql.types.DoubleType)))
      import scala.jdk.CollectionConverters._
      val offs = spark.createDataFrame(offRows.asJava, offsSchema)
      // null-safe on the group key (a null group is a real group to
      // groupBy semantics); __rr_pid is never null
      val wLoc = Window.partitionBy(col("__rr_pid"), col(group))
        .orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withPid
        .join(broadcast(offs),
          col("__rr_pid") === col("__rr_opid") && col(group) <=> col("__rr_g"))
        .withColumn(out, col("__rr_off") + sum(w).over(wLoc))
        .withColumn(totOut, col("__rr_tot"))
        .drop("__rr_pid", "__rr_opid", "__rr_g", "__rr_off", "__rr_tot")
    }
  }
}
