package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{Checkpoints, Scope}

/** graft.plans.Scope — the one storage lifetime of operator
  * intermediates: released on success and on failure, except the
  * checkpoint blocks the result itself reads. */
class ScopeSpec extends AnyFunSuite {
  import TestSpark._

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkpointRdd(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collectLeaves().collect { case l: LogicalRDD => l.rdd.id }.head

  test("a scope that throws propagates the failure and leaves no storage behind") {
    spark.catalog.clearCache()
    val before = persistent
    val boom = new IllegalStateException("operator failed mid-build")
    val thrown = intercept[IllegalStateException] {
      Scope { s =>
        val t = s.persist(spark.range(1000).toDF("id"))
        t.count()
        val c = s.checkpoint(t.filter(col("id") % 2 === 0))
        s.checkpoint(c.select((col("id") + 1).as("id")), eager = false).count()
        throw boom
      }
    }
    assert(thrown eq boom)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert((persistent -- before).isEmpty)
  }

  test("a scope keeps exactly the checkpoint its result reads") {
    spark.catalog.clearCache()
    val before = persistent
    val out = Scope { s =>
      val t = s.persist(spark.range(100).toDF("id"))
      t.count()
      val mid = s.checkpoint(t.select((col("id") * 2).as("id")))
      s.checkpoint(mid.filter(col("id") > 10))
    }
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(persistent -- before == Set(checkpointRdd(out)))
    assert(out.count() == 94)
  }

  test("Checkpoints.free frees a bare checkpoint, never a plan mixing one with a live table") {
    val cp = spark.range(10).toDF("id").localCheckpoint()
    val id = checkpointRdd(cp)
    val mixed = cp.join(spark.range(5).toDF("id"), "id")
    Checkpoints.free(mixed)
    assert(persistent.contains(id), "a mixed plan's checkpoint was freed")
    assert(mixed.count() == 5)
    Checkpoints.free(cp)
    assert(!persistent.contains(id))
  }
}
