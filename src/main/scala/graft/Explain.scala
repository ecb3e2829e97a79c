package graft

/** Dev tool: print the formatted physical plan of one or all queries.
  * Usage: runMain graft.Explain [queryName[,queryName...]] [sfDir]
  *
  * EAGER operators (iterative loops, cache-materializing counts,
  * localCheckpoints) execute most of their plan during the query
  * BUILD, leaving a bare `Scan ExistingRDD` as the terminal plan — so
  * every sub-execution the build ran is captured live (the PlanAudit
  * listener mechanism) and printed after the terminal plan.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession("graft-explain", 8)
    val subs = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        subs.add(qe); ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    val targets = name match {
      case Some(n) => n.split(",").toSeq.map(q => q -> SparkEntry.queries(q))
      case None => SparkEntry.queries.toSeq.sortBy(_._1)
    }
    targets.foreach { case (n, fn) =>
      // drain first: a late sub-execution of the previous target must
      // not be printed under this one
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      subs.clear()
      println(s"\n========== $n ==========")
      val df = fn(spark, sfDir)
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      df.explain("formatted")
      import scala.jdk.CollectionConverters._
      subs.asScala.toSeq.zipWithIndex.foreach { case (qe, i) =>
        println(s"\n---------- $n eager sub-execution ${i + 1} ----------")
        println(qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
    }
    spark.stop()
  }
}
