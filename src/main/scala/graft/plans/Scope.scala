package graft.plans

import scala.util.control.NonFatal
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** The one storage lifetime every operator's intermediates live in.
  *
  * The body registers each table it persists and each localCheckpoint
  * it takes. When the body returns OR throws, the scope releases them
  * newest first, so a failing operator leaves nothing behind. Only the
  * storage the returned value itself reads survives: a checkpoint that
  * is a leaf of the result's plan (or sits in the RDD lineage of one)
  * is the result's own data. Every persisted table is dropped — a lazy
  * result that still read one would silently re-derive it — so a
  * layout that a lazy result's readers must share is held with
  * `checkpoint(ds, eager = false)`, never with `persist`.
  *
  * {{{
  * Scope { s =>
  *   val t = s.persist(df)                      // two readers below
  *   t.count()
  *   f(t).localCheckpoint()                     // t is released here
  * }
  * }}}
  */
final class Scope private {
  private var releases: List[Set[Int] => Unit] = Nil
  /** Checkpoint RDDs already unpersisted: each is freed once, however
    * many leaves read it or how often it is released. */
  private var freed = Set.empty[Int]

  /** Persist `ds` (lazily, the default level) until the scope ends. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist()
    releases ::= (_ => p.unpersist(blocking = false))
    p
  }

  /** localCheckpoint `ds`; its blocks are freed when the scope ends
    * unless the scope's result reads them. `eager = false` lets the
    * first action that reads it materialize it. */
  def checkpoint[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] = {
    val c = ds.localCheckpoint(eager)
    val own = c.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRDD => l.rdd.id }
    releases ::= (live => if (!own.exists(live)) free(c))
    c
  }

  /** Free the block-manager storage behind a superseded checkpoint now,
    * ahead of the scope's end — an iterative loop calls this once the
    * next round's checkpoint is materialized.
    *
    * Why eagerly: `Dataset.localCheckpoint` persists its internal RDD
    * directly in the block manager, OUTSIDE the cache manager —
    * `clearCache()` never sees it, and the ContextCleaner frees the
    * blocks only when the RDD object is garbage-collected. A fixpoint
    * that replaces its checkpoint every round (PageRank, BFS, k-core
    * peeling, HashMin components) would otherwise hold one superseded
    * vertex-sized block set per round until a GC happens to run: ~60
    * retained copies for a converged PageRank at the 100× probe,
    * executor-memory pressure that evicts or spills later queries'
    * shuffle blocks long before the driver GCs.
    *
    * Why leaf-only: `ds` must BE a bare checkpoint scan (the Dataset
    * `localCheckpoint()` returned, possibly behind projections), not a
    * plan that merely CONTAINS one. Freeing a still-live checkpoint
    * embedded in a larger composition (a join of a checkpoint with a
    * live table) would drop blocks whose lineage the checkpoint already
    * truncated, and later actions on the original would die on missing
    * blocks. So only a plan whose leaves are all LogicalRDDs is freed;
    * a mixed plan is a no-op. Each RDD is unpersisted once — a self-join
    * reads it through two leaves, and a loop's early free precedes the
    * scope's own release. Non-blocking: the loop's next action overlaps
    * the asynchronous block removal. */
  def free(ds: Dataset[_]): Unit = {
    val leaves = ds.queryExecution.analyzed.collectLeaves()
    if (leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]))
      leaves.foreach {
        case l: LogicalRDD if !freed(l.rdd.id) =>
          freed += l.rdd.id
          l.rdd.unpersist(blocking = false)
        case _ => ()
      }
  }
}

object Scope {

  /** Run `body` in a fresh scope and release what it registered. */
  def apply[A](body: Scope => A): A = {
    val s = new Scope
    var live = Set.empty[Int]
    var failure: Throwable = null
    try {
      val out = body(s)
      live = rddsReadBy(out)
      out
    } catch {
      case t: Throwable => failure = t; throw t
    } finally {
      s.releases.foreach { release =>
        try release(live)
        catch { case NonFatal(e) if failure != null => failure.addSuppressed(e) }
      }
    }
  }

  /** Ids of every RDD a value's plans read: the RDDs behind the
    * LogicalRDD leaves of each Dataset in it (tuples are searched),
    * plus their lineage — a lazy checkpoint built on another
    * checkpoint still needs the inner one's blocks. */
  def rddsReadBy(value: Any): Set[Int] = value match {
    case ds: Dataset[_] =>
      val seen = scala.collection.mutable.Set.empty[Int]
      def walk(r: RDD[_]): Unit =
        if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
      ds.queryExecution.analyzed
        .collectWithSubqueries { case l: LogicalRDD => l.rdd }
        .foreach(walk)
      seen.toSet
    case p: Product => p.productIterator.flatMap(rddsReadBy).toSet
    case _ => Set.empty
  }
}
