package graft

/** Diagnostic repeat-timer: alternates the named queries for N rounds
  * at sf0.1 so plan-level regressions separate from host-load noise
  * (min-of-two in Bench is not enough when the host swings by seconds).
  * `sbt "runMain graft.MicroBench [rounds] [query...]"` — defaults to
  * the entity_match/match_certitude twin pair from the r04 anomaly. */
object MicroBench {
  private val usage = "usage: graft.MicroBench [rounds] [ALL | query...]"

  /** (rounds, query names) from the command line, or a usage error
    * naming the arguments that are not registered queries. The first
    * argument may be a round count or already a query name; "ALL"
    * anywhere = one alternating pass over every registered query — the
    * shape used to gauge the suite-sized codegen cache's metaspace
    * footprint (printed after each round). */
  private[graft] def parseArgs(args: Seq[String]): Either[String, (Int, Seq[String])] = {
    val rounds = args.headOption.flatMap(_.toIntOption)
    val rest = if (rounds.isDefined) args.drop(1) else args
    val names = if (rest.contains("ALL")) SparkEntry.queries.keys.toSeq.sorted
      else if (rest.nonEmpty) rest
      else Seq("entity_match", "match_certitude")
    knownQueries(names, usage).map(rounds.getOrElse(4) -> _)
  }

  /** `names` when every one is a registered query, else `usage` headed
    * by the names that are not (shared by the dev tools' parsers). */
  private[graft] def knownQueries(names: Seq[String], usage: String): Either[String, Seq[String]] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) Left(s"unknown query: ${unknown.mkString(", ")}\n$usage")
    else Right(names)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (rounds, names) = parseArgs(args.toSeq) match {
      case Right(parsed) => parsed
      case Left(err) =>
        System.err.println(err)
        sys.exit(2)
    }
    val spark = GraftSession("graft-microbench")
    def metaspaceMb(): Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.contains("Metaspace"))
        .map(_.getUsage.getUsed).sum / 1048576.0
    }
    println(f"metaspace before: ${metaspaceMb()}%.1f MB")
    for (i <- 1 to rounds) {
      val line = names.map { n =>
        val run = SubExecutions.capture(spark) {
          Bench.timeOnce(spark, sfDir, n, SparkEntry.queries(n))
        }
        f"$n=${run.value}%.2f/${run.jobs}j"
      }.mkString(" ")
      println(s"round $i: $line")
      println(f"metaspace after round $i: ${metaspaceMb()}%.1f MB")
    }
    spark.stop()
  }
}
