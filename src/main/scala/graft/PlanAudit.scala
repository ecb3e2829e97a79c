package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Writes PLANS.md: one row per query summarizing the physical-plan
  * properties that matter at scale (shuffle count, join strategies,
  * scan pushdown, codegen coverage). Run after plan-shape changes:
  * `sbt "runMain graft.PlanAudit"`.
  *
  * EAGER operators (iterative loops, cache-releasing
  * localCheckpoints, warehouse writes) execute most of their plan
  * DURING the query build, so their terminal plan is just a
  * checkpoint scan — the audit would be blind exactly where plans
  * are most complex. `SubExecutions` therefore collects every
  * sub-execution fired while the builder runs; their exchanges
  * and joins fold into the row (the `+Nex/Ks` suffix: N additional
  * exchanges across K eager sub-executions) and each eager query
  * gets an appendix line with its per-sub-plan exchange histogram —
  * the loop-body plan shape, no longer prose-only. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // fixed at 8 cores so the committed PLANS.md does not depend on
    // the host. AQE off: AdaptiveSparkPlan hides codegen subtrees until
    // runtime, and the audit wants the full static plan
    val spark = GraftSession("graft-plan-audit", 8)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val joinKinds = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
    def count(plan: String, p: String) = ("\\(\\d+\\) " + p).r.findAllIn(plan).size
    def pushed(plan: String) = plan.contains("PushedFilters: [") &&
      !plan.contains("PushedFilters: []")
    val sb = new StringBuilder
    val eagerSb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit\n\n"
    sb ++= s"Generated by `graft.PlanAudit` over `$sfDir`. Exchanges = shuffle\n"
    sb ++= "boundaries in the terminal plan; a `+Nex/Ks` suffix adds the N\n"
    sb ++= "exchanges observed across the K EAGER sub-executions the builder\n"
    sb ++= "ran (iterative loop bodies, cache-materializing counts,\n"
    sb ++= "localCheckpoints, warehouse writes — captured live via\n"
    sb ++= "QueryExecutionListener, so loop-body shuffle structure is audited,\n"
    sb ++= "not prose). Joins list every strategy used in the terminal plan\n"
    sb ++= "or any sub-execution; pushdown = any scan carries PushedFilters;\n"
    sb ++= "all scans prune columns via ReadSchema. Per-eager-query sub-plan\n"
    sb ++= "histograms are in the appendix.\n\n"
    sb ++= "| query | exchanges | joins | pushdown | codegen stages |\n"
    sb ++= "|---|---|---|---|---|\n"
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val build = SubExecutions.capture(spark) { fn(spark, sfDir) }
      val df = build.value
      val subPlans = build.executions.map(_.explainString(ExplainMode.fromString("formatted")))
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val exchanges = count(plan, "Exchange")
      val subEx = subPlans.map(count(_, "Exchange"))
      val exCell = if (subPlans.isEmpty) s"$exchanges"
        else s"$exchanges +${subEx.sum}ex/${subPlans.size}s"
      val joins = joinKinds
        .map(j => j -> (count(plan, j) + subPlans.map(count(_, j)).sum))
        .filter(_._2 > 0)
        .map { case (j, n) => s"$j×$n" }.mkString(", ")
      val pushdown = if (pushed(plan) || subPlans.exists(pushed)) "yes" else "—"
      val codegen = "Found (\\d+) WholeStageCodegen".r
        .findFirstMatchIn(df.queryExecution.explainString(ExplainMode.fromString("codegen")))
        .map(_.group(1)).getOrElse("0")
      sb ++= s"| $name | $exCell | ${if (joins.isEmpty) "—" else joins} | $pushdown | $codegen |\n"
      if (subPlans.nonEmpty) {
        // exchange histogram over sub-plans: "3ex×12" = 12 sub-plans
        // with 3 exchanges each — the loop-body regression signature
        val hist = subEx.groupBy(identity).toSeq.sortBy(-_._1)
          .map { case (ex, xs) => s"${ex}ex×${xs.size}" }.mkString(", ")
        val subJoins = joinKinds
          .map(j => j -> subPlans.map(count(_, j)).sum).filter(_._2 > 0)
          .map { case (j, n) => s"$j×$n" }.mkString(", ")
        eagerSb ++= s"| $name | ${subPlans.size} | $hist | ${if (subJoins.isEmpty) "—" else subJoins} |\n"
      }
    }
    sb ++= "\n## Appendix: eager sub-execution audit\n\n"
    sb ++= "One row per query whose builder executed eagerly; the histogram\n"
    sb ++= "is exchanges-per-sub-plan × how many sub-plans ran with that\n"
    sb ++= "count (for iterative operators this IS the loop-body shape —\n"
    sb ++= "a changed round plan moves the histogram, and PlanSpec pins the\n"
    sb ++= "representative loops).\n\n"
    sb ++= "| query | sub-plans | exchange histogram | joins in sub-plans |\n"
    sb ++= "|---|---|---|---|\n"
    sb ++= eagerSb
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
