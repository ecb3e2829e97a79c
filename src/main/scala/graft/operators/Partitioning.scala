package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.Scope

/** Shared partitioning idioms for the operator library (and the
  * query layer's per-row-heavy reference ops). */
private[graft] object Partitioning {
  /** Spread a narrow input across the session's shuffle-partition
    * count before a wide per-row stage (similarity scoring, hashing):
    * the single-file test inputs arrive as one row group, which would
    * otherwise run the expensive stage single-task. It is NOT free at
    * scale: the repartition is an unconditional full round-robin
    * exchange, paid even when the scan already yields many splits — at
    * cluster scale that is a corpus-sized shuffle in front of what
    * would otherwise be a scan → map stage. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Column [[rangePrefix]] adds: the exclusive running sum. */
  final val Prefix = "prefix"
  /** Column [[rangePrefix]] adds: the group's total weight. */
  final val GroupTotal = "group_total"

  /** Exact running sums without a single-partition window: `df` plus
    * [[Prefix]], the sum of `weight` over the rows strictly before each
    * row in `order` within its `group`, and [[GroupTotal]], the sum of
    * `weight` over the whole group. With weight 1, `prefix` is the
    * row's 0-based rank in its group and `group_total` the group's
    * size.
    *
    * The two-phase scan: ONE `repartitionByRange` on `group ++ order`
    * lays the rows out in global order, a per-partition window gives
    * each row its local prefix, and a window over the tiny
    * (group, partition) cell table gives each cell its offset (and
    * each group its total), joined back on (group, partition). A group
    * may span partitions and a partition may hold several groups; no
    * window ever sees more than one partition's rows.
    *
    * The layout is pinned by ONE eager checkpoint. RangePartitioning
    * samples its boundaries per EXECUTION, and the local-prefix branch
    * and the cell branch each execute the range exchange: two
    * unpinned evaluations can land on different boundaries, so offsets
    * and local prefixes disagree (an 11th decile at vocab_growth's 10×
    * probe; a wrong AUC with correct pos/neg counts at auc_eval's sf1
    * gate). The checkpoint is registered with `s`: released when the
    * scope ends, or kept when the scope's (lazy) result reads it —
    * which a persist could not be.
    *
    * Precondition: `order` is a total order within each group (ties
    * would take the window's arbitrary order), and group keys are
    * non-null. */
  def rangePrefix(s: Scope, df: DataFrame, group: Seq[String], order: Seq[Column],
      weight: Column): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val cell = group :+ "_rp_pid"
    val parted = s.checkpoint(df.repartitionByRange(n, group.map(col) ++ order: _*)
      .withColumn("_rp_pid", spark_partition_id()))
    val local = parted.withColumn(Prefix, coalesce(sum(weight).over(
      Window.partitionBy(cell.map(col): _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val offsets = local.groupBy(cell.map(col): _*).agg(sum(weight).as("_rp_w"))
      .withColumn("_rp_off", coalesce(sum(col("_rp_w")).over(
        Window.partitionBy(group.map(col): _*).orderBy(col("_rp_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn(GroupTotal, sum(col("_rp_w")).over(Window.partitionBy(group.map(col): _*)))
    local.join(offsets, cell)
      .select(df.columns.map(col) ++ Seq(
        (col(Prefix) + col("_rp_off")).as(Prefix), col(GroupTotal)): _*)
  }
}
