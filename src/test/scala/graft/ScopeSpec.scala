package graft

import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Scope

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

  test("Scope.free frees a bare checkpoint, never a plan mixing one with a live table") {
    val cp = spark.range(10).toDF("id").localCheckpoint()
    val id = checkpointRdd(cp)
    val mixed = cp.join(spark.range(5).toDF("id"), "id")
    Scope(_.free(mixed))
    assert(persistent.contains(id), "a mixed plan's checkpoint was freed")
    assert(mixed.count() == 5)
    Scope(_.free(cp))
    assert(!persistent.contains(id))
  }

  test("each checkpoint is unpersisted once: after a loop's early free, and through a self-join") {
    // Spark warns once per unpersist of a locally checkpointed RDD, so
    // the warnings count the unpersists. RDD subclasses log under their
    // own class names, hence the appender sits on the package logger.
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val truncated = """RDD (\d+) was locally checkpointed""".r.unanchored
    val appender = new AbstractAppender("scope-spec-unpersist", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case truncated(id) => warned.add(id.toInt)
        case _ =>
      }
    }
    val logger = "org.apache.spark.rdd"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    val lc = new LoggerConfig(logger, Level.WARN, false)
    lc.addAppender(appender, Level.WARN, null)
    ctx.getConfiguration.addLogger(logger, lc)
    ctx.updateLoggers()
    val mine = scala.collection.mutable.Buffer.empty[Int]
    try Scope { s =>
      var prev = s.checkpoint(spark.range(100).toDF("id"))
      mine += checkpointRdd(prev)
      for (_ <- 1 to 3) {
        val next = s.checkpoint(prev.select((col("id") + 1).as("id")), eager = false)
        mine += checkpointRdd(next)
        next.count()
        s.free(prev)
        prev = next
      }
      val cp = s.checkpoint(spark.range(50).toDF("id"))
      mine += checkpointRdd(cp)
      val self = cp.join(cp.select(col("id"), (col("id") * 2).as("twice")), "id")
      assert(self.count() == 50)
      s.free(self)
      assert(prev.count() == 100)
    } finally {
      ctx.getConfiguration.removeLogger(logger)
      ctx.updateLoggers()
      appender.stop()
    }
    val ids = warned.asScala.toSeq
    assert(ids.diff(ids.distinct).isEmpty, s"RDDs unpersisted more than once: ${ids.sorted}")
    assert(mine.forall(ids.contains), s"checkpoints $mine, warnings ${ids.sorted}")
  }
}
