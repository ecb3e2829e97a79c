package graftbench

import Main.{median, num, obj, str}
import Tracer._

/** Aggregates the traced passes into per-layer totals (one sum per
  * pass, reported as the median over passes) and per-execution spans.
  *
  * Attribution: jobs, stages, tasks and SQL executions carry the
  * client's job-group tag; plan-phase and codegen events carry only a
  * timestamp and go to the pass whose execution windows contain it
  * (the harness's own checks run outside every window). */
final class Layers(w: Workload, cores: Int, t: Tracer, passes: Seq[(Double, Seq[Exec])]) {

  private def within(ms: Long, es: Seq[Exec]): Boolean =
    es.exists(e => ms >= e.startMs && ms <= e.endMs)

  private val qeList = t.qes.toArray(Array.empty[QeRec]).toSeq
  private val cgList = t.codegen.toArray(Array.empty[CodegenRec]).toSeq
  private val taskList = t.tasks.toArray(Array.empty[TaskRec]).toSeq
  private val stageList = t.stages.toArray(Array.empty[StageRec]).toSeq
  private val jobList = t.jobList
  private def counted(tag: Option[Tag], pass: Int) =
    tag.exists(g => g.pass == pass && g.phase != "check")

  /** Plan time of a sink-route execution: the write's plan phases,
    * reported by the QueryExecutionListener during the terminal span. */
  private def sinkPlanS(e: Exec): Double =
    if (!w.sink) 0.0
    else qeList.filter(q => q.startMs >= e.buildEndMs && q.startMs <= e.endMs).map(_.planS).sum

  private def passTotals(makespan: Double, es: Seq[Exec]): Seq[(String, Double, String)] = {
    val p = es.head.tag.pass
    val jobs = jobList.filter(j => counted(j.tag, p))
    val tasks = taskList.filter(x => counted(x.tag, p))
    val qes = qeList.filter(q => within(q.startMs, es))
    val termPlan = es.map(e => e.termPlanS + sinkPlanS(e)).sum
    val runS = tasks.map(_.runMs).sum / 1e3
    val mb = 1048576.0
    Seq(
      ("sources.schema_jobs", jobs.count(_.schema).toDouble, "count"),
      ("sources.files_listed", es.map(_.filesListed).sum.toDouble, "count"),
      ("operators.build_s", es.map(_.buildS).sum, "s"),
      ("operators.eager_jobs", jobs.count(j => !j.schema && j.tag.exists(_.phase == "build")).toDouble, "count"),
      // terminal plans (count route measured on the client thread) plus
      // every execution the QueryExecutionListener saw in the windows
      ("plans.plan_s", es.map(_.termPlanS).sum + qes.map(_.planS).sum, "s"),
      ("plans.exchanges", (es.map(_.termExchanges).sum + qes.map(_.exchanges).sum).toDouble, "count"),
      ("exec.exec_s", es.map(_.termS).sum - termPlan, "s"),
      ("exec.jobs", jobs.length.toDouble, "count"),
      ("exec.stages", stageList.count(s => counted(s.tag, p)).toDouble, "count"),
      ("exec.tasks", tasks.length.toDouble, "count"),
      ("exec.task_run_s", runS, "s"),
      ("exec.task_overhead_s", tasks.map(x => x.wallMs - x.runMs).sum / 1e3, "s"),
      ("exec.core_busy_frac", runS / (makespan * cores), "ratio"),
      ("exec.shuffle_write_mb", tasks.map(_.shuffleWrite).sum / mb, "MB"),
      ("exec.shuffle_read_mb", tasks.map(_.shuffleRead).sum / mb, "MB"),
      ("exec.spill_mb", tasks.map(_.spill).sum / mb, "MB"),
      ("exec.gc_s", tasks.map(_.gcMs).sum / 1e3, "s"),
      // the Sinks writer's wall time, plan included; 0 on workloads
      // that count instead of writing
      ("sinks.write_s", if (w.sink) es.map(_.termS).sum else 0.0, "s"),
      ("sinks.bytes_written", es.map(_.sinkBytes).sum.toDouble, "bytes"),
      ("sinks.files_written", es.map(_.sinkFiles).sum.toDouble, "count"),
      ("storage.rdds_left", es.map(_.rddsLeft).sum.toDouble, "count"),
      ("storage.cache_entries_left", es.map(_.cacheLeft).sum.toDouble, "count"))
  }

  /** Codegen compiles inside the traced passes' execution windows. */
  def warmCompiles: Int = cgList.count(c => passes.exists(p => within(c.timeMs, p._2)))

  /** Codegen over the whole run: compiles and compile seconds. */
  def codegen: Seq[(String, Double, String)] = Seq(
    ("plans.codegen_compiles", cgList.length.toDouble, "count"),
    ("plans.codegen_compile_s", cgList.map(_.compileMs).sum / 1e3, "s"))

  /** Median over traced passes of each per-pass total. */
  def perPass: Seq[(String, Double, String)] = {
    val all = passes.filter(_._2.nonEmpty).map { case (m, es) => passTotals(m, es) }
    all.head.indices.map { i =>
      val (n, _, u) = all.head(i)
      (n, median(all.map(_(i)._2)), u)
    }
  }

  /** One span per execution with build, plan and exec children; eager
    * SQL executions of the build phase (and the write of the sink
    * route) are children of the phase that ran them. */
  def spans: Seq[String] = {
    val sql = t.sqlList.filter(_.tag.isDefined).groupBy(s => s.tag.get.copy(phase = ""))
    passes.flatMap(_._2).map { e =>
      val plan = e.termPlanS + sinkPlanS(e)
      val subs = sql.getOrElse(e.tag.copy(phase = ""), Nil).filter(_.tag.get.phase != "check")
        .sortBy(_.startMs).map { s =>
          obj(Seq("sql_id" -> s.id.toString, "phase" -> str(s.tag.get.phase),
            "start_ms" -> s.startMs.toString,
            "end_ms" -> t.endOf(s.id).map(_.toString).getOrElse("null"),
            "description" -> str(s.description.take(120))))
        }
      obj(Seq(
        "workload" -> str(w.name), "pass" -> e.tag.pass.toString,
        "client" -> e.tag.client.toString, "seq" -> e.tag.seq.toString,
        "query" -> str(e.tag.query), "start_ms" -> e.startMs.toString,
        "latency_s" -> num(e.latencyS), "ok" -> e.ok.toString,
        "children" -> Seq(
          obj(Seq("name" -> str("build"), "s" -> num(e.buildS))),
          obj(Seq("name" -> str("plan"), "s" -> num(plan))),
          obj(Seq("name" -> str(if (w.sink) "sink" else "exec"), "s" -> num(e.termS - plan))))
          .mkString("[", ",", "]"),
        "sql_executions" -> subs.mkString("[", ",", "]")))
    }
  }
}
