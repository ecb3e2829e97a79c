package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Job-group tag each client sets around every query execution, so
  * listener events attribute to (pass, client, query, phase) even when
  * four clients interleave on one SparkContext. Phase is `build`,
  * `exec` or `check` (the harness's own output check, never counted). */
final case class Tag(pass: Int, client: Int, seq: Int, query: String, phase: String) {
  def id: String = s"gb|$pass|$client|$seq|$query|$phase"
}
object Tag {
  def parse(s: String): Option[Tag] = Option(s).map(_.split('|')) match {
    case Some(Array("gb", p, c, q, n, ph)) => Some(Tag(p.toInt, c.toInt, q.toInt, n, ph))
    case _ => None
  }
}

object Plans {
  /** Shuffle and broadcast exchanges that ran in an executed plan,
    * through AQE stages, subqueries and command wrappers; reused
    * exchanges are not counted again. */
  def exchanges(p: SparkPlan): Int = {
    val own = p match {
      case _: ReusedExchangeExec => return 0
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
      case _ => 0
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children
    }
    own + inner.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }

  /** Analysis + optimisation + planning time of one QueryExecution. */
  def phaseSeconds(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs).sum / 1e3

  def phaseStartMs(qe: QueryExecution): Long = {
    val starts = qe.tracker.phases.values.map(_.startTimeMs)
    if (starts.isEmpty) System.currentTimeMillis() else starts.min
  }
}

object Tracer {
  final case class JobRec(tag: Option[Tag], schema: Boolean)
  final case class TaskRec(tag: Option[Tag], runMs: Long, wallMs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)
  final case class StageRec(tag: Option[Tag])
  final case class SqlRec(id: Long, tag: Option[Tag], startMs: Long, description: String)
  final case class QeRec(startMs: Long, planS: Double, exchanges: Int)
  final case class CodegenRec(timeMs: Long, compileMs: Double)
}

/** Per-layer recorder attached from outside the engine: a SparkListener
  * (jobs, stages, tasks, SQL executions), a QueryExecutionListener
  * (plan phases and exchanges of eager sub-executions and writes) and a
  * log appender on Spark's code generator (compile count and time).
  * Events are kept in memory and aggregated at the end of the run. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageTag = new ConcurrentHashMap[Int, Option[Tag]]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val sqlStarts = new ConcurrentHashMap[Long, SqlRec]()
  val sqlEnds = new ConcurrentHashMap[Long, Long]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val codegen = new ConcurrentLinkedQueue[CodegenRec]()

  // events received, for drain()
  private val seen = new AtomicLong()

  private def tagOf(props: java.util.Properties): Option[Tag] =
    Option(props).flatMap(p => Tag.parse(p.getProperty("spark.jobGroup.id")))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      seen.incrementAndGet()
      val tag = tagOf(e.properties)
      // parquet schema inference behind every Tables.table touch
      val schema = e.stageInfos.exists(_.name.contains("Tables.scala"))
      jobs.put(e.jobId, JobRec(tag, schema))
      e.stageIds.foreach(s => stageTag.putIfAbsent(s, tag))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = seen.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      seen.incrementAndGet()
      if (e.stageInfo.submissionTime.isDefined)
        stages.add(StageRec(stageTag.getOrDefault(e.stageInfo.stageId, None)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      seen.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(
        stageTag.getOrDefault(e.stageId, None),
        m.executorRunTime, e.taskInfo.duration, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStarts.put(s.executionId,
          SqlRec(s.executionId, s.jobGroupId.flatMap(Tag.parse), s.time, s.description))
      case s: SparkListenerSQLExecutionEnd =>
        seen.incrementAndGet()
        sqlEnds.put(s.executionId, s.time)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      seen.incrementAndGet()
      qes.add(QeRec(Plans.phaseStartMs(qe), Plans.phaseSeconds(qe),
        Plans.exchanges(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val compiled = "Code generated in ([0-9.]+) ms".r.unanchored
  private val appender = new AbstractAppender("graftbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case compiled(ms) => codegen.add(CodegenRec(e.getTimeMillis, ms.toDouble))
      case _ =>
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Codegen is recorded over the whole run, warm-up included: warm
    * passes hit the codegen cache and compile next to nothing. */
  def startCodegen(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    appender.start()
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  /** Waits until no listener event has arrived for 300 ms (at most
    * 5 s): events are delivered asynchronously, after the pass ends. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    while (seen.get != last && System.nanoTime() < deadline) {
      last = seen.get
      Thread.sleep(300)
    }
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def stopCodegen(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger(codegenLogger)
    ctx.updateLoggers()
    appender.stop()
  }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq
  def sqlList: Seq[SqlRec] = sqlStarts.values.asScala.toSeq
  def endOf(id: Long): Option[Long] = Option(sqlEnds.get(id))
}
