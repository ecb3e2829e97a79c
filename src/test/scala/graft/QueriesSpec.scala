package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every SparkEntry query runs at sf0.001, returns rows, and keeps the
  * column names its oracle declares (the driver's hash compare sorts by
  * column name, so a drift here is a silent gate failure). */
class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  /** Queries whose sf0.001 result is LEGITIMATELY empty (the gate runs
    * at sf0.01, where they return rows): events_mad flags >3-MAD hours
    * and the tiny slice has none — an empty anomaly report over calm
    * data is the correct answer, and the DuckDB oracle agrees on
    * emptiness (rows_match 0 == 0). */
  private val emptyOkAtTinySf = Set("events_mad")

  /** STORAGE CENSUS, taken in the same loop so no query runs twice:
    * after its result is consumed, a query must leave no cache-manager
    * entry and no registered RDD storage except what the result's own
    * plan reads (its checkpoint blocks). Operators release everything
    * else through graft.plans.Scope. */
  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name runs and returns rows") {
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      val n = df.count()
      if (!emptyOkAtTinySf(name)) assert(n > 0, s"$name returned no rows")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left cache-manager entries behind")
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before --
        graft.plans.Scope.rddsReadBy(df)
      assert(left.isEmpty, s"$name left registered storage its result " +
        s"does not read: RDDs ${left.toSeq.sorted.mkString(", ")}")
    }
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("distributed exact percentile is bit-identical to the built-in aggregate") {
    // the size dispatch means small-SF gates exercise only the built-in
    // path; this pins the distributed bracket path to it on the suite's own
    // table (lineitem at this sf is below BracketAccuracy, so the
    // bracket run uses a proportional accuracy)
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables.lineitem(spark, sf)
    val n = li.count()
    val acc = math.max(20, (n / 20).toInt)
    val probes = Seq(0.0, 0.125, 0.25, 0.5, 0.75, 0.875, 1.0)
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity")
    val bracket = operators.ExactQuantile.bracketPercentilesMulti(li, cols, probes, acc)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    for (c <- cols) {
      val builtin = li.agg(percentile(col(c).cast("double"),
          array(probes.map(lit(_)): _*)).as("qs"))
        .head().getSeq[Double](0)
      assert(builtin == bracket(c), s"$c: builtin $builtin != bracket ${bracket(c)}")
    }
  }

  test("every oracle refers to a declared query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
