package graft.plans

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Storage hygiene for iterative localCheckpoint loops.
  *
  * `Dataset.localCheckpoint` persists its internal RDD directly in the
  * block manager, OUTSIDE the cache manager — `clearCache()` never sees
  * it, and the ContextCleaner frees the blocks only when the RDD object
  * is garbage-collected. An iterative fixpoint that replaces its
  * checkpoint every round (PageRank, BFS, k-core peeling, HashMin
  * components) therefore accumulates one superseded vertex-sized block
  * set per round until a GC happens to run: ~60 retained copies for a
  * converged PageRank at the 100× probe, executor-memory pressure that
  * evicts/spills later queries' shuffle blocks long before the driver
  * GCs. The fix is to free the PREVIOUS round's checkpoint storage
  * explicitly the moment the new one is materialized.
  */
object Checkpoints {

  /** Free the block-manager storage behind a superseded localCheckpoint
    * result. The argument must BE a bare checkpoint scan (the DataFrame
    * `localCheckpoint()` returned, possibly behind projections) — NOT a
    * plan that merely CONTAINS one: freeing a still-live checkpoint
    * embedded in a larger composition (say, a join of a checkpointed df
    * with something else) would drop blocks whose lineage the
    * checkpoint already truncated, and later actions on the original
    * would die on missing blocks. Enforced structurally: only a plan
    * whose LEAVES are all LogicalRDDs is freed; a mixed plan is a
    * no-op. Non-blocking — the loop's next action overlaps the async
    * block removal. Operators reach it through [[Scope]]. */
  def free(ds: Dataset[_]): Unit = {
    val leaves = ds.queryExecution.analyzed.collectLeaves()
    if (leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]))
      leaves.foreach {
        case l: LogicalRDD => l.rdd.unpersist(blocking = false)
        case _ => ()
      }
  }
}
