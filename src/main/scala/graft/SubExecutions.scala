package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what a block of driver code ran on Spark: every successful
  * SQL execution (the EAGER sub-executions an operator fires while it
  * is being built — localCheckpoints, materializing counts, warehouse
  * writes — plus any action the block itself runs) and the number of
  * jobs started. The only listener registration under `src/`
  * (SourceLintSpec enforces it); `PlanAudit`, `Explain`, `MicroBench`
  * and PlanSpec read sub-executions through it.
  *
  * Listener events post asynchronously, so the bus is drained on
  * entry (a late event of earlier work must not land in this window)
  * and on exit (every event of this window must have arrived before it
  * is read). Both listeners are removed when the window closes, even
  * when the block throws. */
object SubExecutions {
  final case class Captured[A](value: A, executions: Seq[QueryExecution], jobs: Int)

  def capture[A](spark: SparkSession)(body: => A): Captured[A] = {
    val executions = new ConcurrentLinkedQueue[QueryExecution]()
    val jobs = new AtomicInteger(0)
    val sqlListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { executions.add(qe); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    // a multi-job operator pays Spark's per-job local floor regardless
    // of data volume: the count separates "slow plan" from "many tiny
    // jobs"
    val jobListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    Bridge.drainListenerBus(spark)
    spark.listenerManager.register(sqlListener)
    spark.sparkContext.addSparkListener(jobListener)
    try {
      val value = body
      Bridge.drainListenerBus(spark)
      Captured(value, executions.asScala.toSeq, jobs.get)
    } finally {
      spark.listenerManager.unregister(sqlListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }
}
