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

  /** Column [[cellPrefix]] adds: the exclusive running sum. */
  final val Prefix = "prefix"
  /** Column [[cellPrefix]] adds: the group's total weight. */
  final val GroupTotal = "group_total"

  /** Exact running sums without a single-partition window: `df` plus
    * [[Prefix]], the sum of `weight` over the rows strictly before each
    * row in `order` within its `group`, and [[GroupTotal]], the sum of
    * `weight` over the whole group. With weight 1, `prefix` is the
    * row's 0-based rank in its group and `group_total` the group's
    * size.
    *
    * The two-phase prefix sum over a `cell` layout: a window inside
    * each (group, cell) gives each row its local exclusive sum, an
    * exclusive window over the small (group, cell) table gives each
    * cell its offset (and each group its total), and the offsets join
    * back on (group, cell). No window sees more than one cell's rows
    * except the one over the cell table, so the cells bound both the
    * window partitions and the size of the joined-back table.
    *
    * `cell` must be a deterministic function of the row: the row
    * branch and the cell-table branch each evaluate it. A fixed value
    * bucket (`ord div w`) is; a partition id is only once a checkpoint
    * pins it ([[rangePrefix]]). The result stays lazy.
    *
    * Precondition: cells ascend with `order` inside each group (every
    * row of a lower cell orders before every row of a higher one),
    * `order` is a total order inside each (group, cell) (ties would
    * take the window's arbitrary order), and group keys are non-null. */
  def cellPrefix(df: DataFrame, group: Seq[String], cell: Column, order: Seq[Column],
      weight: Column): DataFrame = {
    val keys = group :+ "_cp_cell"
    val local = df.withColumn("_cp_cell", cell).withColumn(Prefix, coalesce(sum(weight).over(
      Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val offsets = local.groupBy(keys.map(col): _*).agg(sum(weight).as("_cp_w"))
      .withColumn("_cp_off", coalesce(sum(col("_cp_w")).over(
        Window.partitionBy(group.map(col): _*).orderBy(col("_cp_cell"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn(GroupTotal, sum(col("_cp_w")).over(Window.partitionBy(group.map(col): _*)))
    local.join(offsets, keys)
      .select(df.columns.map(col) ++ Seq(
        (col(Prefix) + col("_cp_off")).as(Prefix), col(GroupTotal)): _*)
  }

  /** [[cellPrefix]] over a sampled range layout, for an `order` with no
    * fixed buckets: ONE `repartitionByRange` on `group ++ order` lays
    * the rows out in global order and each range partition is a cell.
    * A group may span partitions and a partition may hold several
    * groups.
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
    * Precondition: `order` is a total order within each group, and
    * group keys are non-null. */
  def rangePrefix(s: Scope, df: DataFrame, group: Seq[String], order: Seq[Column],
      weight: Column): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val parted = s.checkpoint(df.repartitionByRange(n, group.map(col) ++ order: _*)
      .withColumn("_rp_pid", spark_partition_id()))
    cellPrefix(parted, group, col("_rp_pid"), order, weight).drop("_rp_pid")
  }
}
