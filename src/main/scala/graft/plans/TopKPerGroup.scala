package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.graftbridge.Bridge

/** Whole-operator top-k-per-group, the reduction every rank-and-filter
  * pipeline ends with (best entity match, ANN neighbor lists, per-key
  * leaders).
  *
  * Why a custom plan instead of `row_number().over(...)  <= k`: the
  * window form must shuffle EVERY candidate row to its group's
  * partition and fully sort there — O(n log n) per partition and a
  * shuffle of the whole input. This operator keeps a bounded heap of k
  * rows per group on the map side, so only (groups × k) rows per
  * partition reach the shuffle, then merges heaps reduce-side:
  * O(n log k) compute, shuffle volume independent of candidate fan-in.
  *
  * The full extension stack: logical node → planner strategy (two-phase
  * partial/final exec, EnsureRequirements inserts the exchange) →
  * physical bounded-heap exec, injected via GraftExtensions.
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  // rows never leave their partition in either phase, so a window or
  // aggregate over the same groups needs no second exchange
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    // no grouping = global top-k: all partial heaps meet in one place
    else if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    child.execute().mapPartitions { iter =>
      val groupProj = UnsafeProjection.create(groupExprs, childOutput)
      val ordering = RowOrdering.create(order, childOutput)
      // max-heap by rank order: the root is the WORST of the current k,
      // so a better row evicts it in O(log k)
      val heaps = new java.util.HashMap[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = groupProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = scala.collection.mutable.PriorityQueue.empty[InternalRow](ordering)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < k) heap.enqueue(row.copy())
        else if (ordering.lt(row, heap.head)) { heap.dequeue(); heap.enqueue(row.copy()) }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      heaps.values().forEach { h => out ++= h.toSeq.sorted(ordering) }
      out.iterator
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** Plans the logical node as partial → (exchange) → final. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(group, order, k, child) =>
      TopKPerGroupExec(group, order, k, partial = false,
        TopKPerGroupExec(group, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Public API, two entry points. Order pairs are column → ascending?;
  * rank 1 = first in that order.
  *  - `df.transform(TopK.perGroup(Seq("g"), Seq("score" -> false, "id" -> true), 5))`
  *    keeps the k best rows of each group, unnumbered.
  *  - `df.transform(TopK.ranked(Seq("g"), Seq("score" -> false, "id" -> true), 5, "rank"))`
  *    keeps the same rows and numbers them 1..k as a long `rank`
  *    column, over a window built from the same order pairs, so the
  *    numbering cannot disagree with the set that was kept.
  * Columns resolve against the frame's analyzed output, so the node
  * enters planning fully bound.
  *
  * Left outside this object on purpose:
  *  - argmax sites written as `row_number … === 1` with the rank
  *    dropped (RefInject, Quality, TextMetrics lang-id and doc
  *    keywords, Cluster.clusterMetrics, Ann.mmrDiversify) state their
  *    order once; RankFilterToTopK rewrites them, and that rule stays
  *    because `spark.sql` users rely on it;
  *  - Spark's native `WindowGroupLimit` sorts every candidate row in
  *    its partial phase where TopKPerGroupExec keeps a k-heap; swapping
  *    to it needs its own measurement on the heavy top-k rows. */
object TopK {
  import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}

  def perGroup(groupCols: Seq[String], orderCols: Seq[(String, Boolean)], k: Int)(
      df: DataFrame): DataFrame = {
    require(k >= 1, s"topKPerGroup requires k >= 1, got $k")
    require(orderCols.nonEmpty, "topKPerGroup requires at least one order column")
    // self-register in sessions not built with GraftExtensions; the
    // planner.strategies check also sees an extension-injected copy,
    // and the lock keeps concurrent callers from double-appending
    TopK.synchronized {
      val alreadyPlanned =
        df.sparkSession.sessionState.planner.strategies.exists(_ eq TopKStrategy)
      val exp = df.sparkSession.experimental
      if (!alreadyPlanned && !exp.extraStrategies.exists(_ eq TopKStrategy))
        exp.extraStrategies = exp.extraStrategies :+ TopKStrategy
    }
    val child = Bridge.logicalPlan(df)
    def attr(n: String): Attribute = child.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in [${child.output.map(_.name).mkString(", ")}]"))
    val order = orderCols.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending) }
    Bridge.ofRows(df.sparkSession,
      TopKPerGroup(groupCols.map(attr), order, k, child))
  }

  /** `perGroup`, then `rankCol` = `row_number()` as a long over
    * `partitionBy(groupCols)` ordered by the same `orderCols`.
    * Precondition: `orderCols` is a total order inside a group (end it
    * with a unique id); on a tie, which rows survive and how they are
    * numbered would depend on the partitioning. The final top-k leaves
    * its rows hash-partitioned by the groups, so the window adds no
    * exchange. */
  def ranked(groupCols: Seq[String], orderCols: Seq[(String, Boolean)], k: Int, rankCol: String)(
      df: DataFrame): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols.map {
      case (n, asc) => if (asc) col(n).asc else col(n).desc }: _*)
    perGroup(groupCols, orderCols, k)(df).withColumn(rankCol, row_number().over(w).cast("long"))
  }
}
