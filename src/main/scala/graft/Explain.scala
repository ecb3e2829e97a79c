package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: print the formatted physical plan of one or all queries.
  * Usage: runMain graft.Explain [queryName[,queryName...]] [sfDir]
  *
  * EAGER operators (iterative loops, cache-materializing counts,
  * localCheckpoints) execute most of their plan during the query
  * BUILD, leaving a bare `Scan ExistingRDD` as the terminal plan — so
  * every sub-execution the build ran is captured live
  * (`SubExecutions`) and printed after the terminal plan.
  */
object Explain {
  private val usage = "usage: graft.Explain [query[,query...]] [sfDir]"

  /** (query names, sfDir) from the command line, or a usage error
    * naming the arguments that are not registered queries. No name =
    * every registered query. */
  private[graft] def parseArgs(args: Seq[String]): Either[String, (Seq[String], String)] = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    MicroBench.knownQueries(names, usage)
      .map(_ -> args.lift(1).getOrElse("/root/testdata/sf0.1"))
  }

  def main(args: Array[String]): Unit = {
    val (names, sfDir) = parseArgs(args.toSeq) match {
      case Right(parsed) => parsed
      case Left(err) =>
        System.err.println(err)
        sys.exit(2)
    }
    val spark = GraftSession("graft-explain")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val build = SubExecutions.capture(spark) { SparkEntry.queries(n)(spark, sfDir) }
      build.value.explain("formatted")
      build.executions.zipWithIndex.foreach { case (qe, i) =>
        println(s"\n---------- $n eager sub-execution ${i + 1} ----------")
        println(qe.explainString(ExplainMode.fromString("formatted")))
      }
    }
    spark.stop()
  }
}
