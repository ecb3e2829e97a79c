package graft
import org.apache.spark.sql.SparkSession

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
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) Left(s"unknown query: ${unknown.mkString(", ")}\n$usage")
    else Right((rounds.getOrElse(4), names))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (rounds, names) = parseArgs(args.toSeq) match {
      case Right(parsed) => parsed
      case Left(err) =>
        System.err.println(err)
        sys.exit(2)
    }
    // GRAFT_CONF="k=v;k=v" passes extra SparkConf pairs for config A/B
    // experiments (core settings like spark.shuffle.compress must be set
    // before context creation, so a builder hook is the only way in).
    val extra = sys.env.getOrElse("GRAFT_CONF", "").split(";").toSeq
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    val b0 = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(b0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // job counter: a multi-job operator pays Spark's ~0.3-0.5s/job
    // local floor regardless of data volume — the diagnostic that
    // separates "slow plan" from "many tiny jobs" on the small-sf rows
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })
    def t(name: String): (Double, Int) = {
      spark.sharedState.cacheManager.clearCache()
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      ((System.nanoTime() - t0) / 1e9, jobs.get() - j0)
    }
    def metaspaceMb(): Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.contains("Metaspace"))
        .map(_.getUsage.getUsed).sum / 1048576.0
    }
    println(f"metaspace before: ${metaspaceMb()}%.1f MB")
    for (i <- 1 to rounds) {
      val line = names.map { n =>
        val (sec, nj) = t(n); f"$n=$sec%.2f/${nj}j"
      }.mkString(" ")
      println(s"round $i: $line")
      println(f"metaspace after round $i: ${metaspaceMb()}%.1f MB")
    }
    spark.stop()
  }
}
