package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for the harness's local[N] runs but with settings that carry
  * to a real cluster: AQE (runtime re-plan + skew-join splitting),
  * explicit shuffle parallelism, UTC session time so results agree
  * with the DuckDB oracle bit-for-bit on timestamps.
  *
  * The only place a SparkSession is built (SourceLintSpec enforces
  * it): every main, test suite and the perfbench harness call it, so
  * they all time and verify one configuration. A tool that needs a
  * different runtime SQL setting sets it on the session it gets back
  * (`spark.conf.set`); a core setting is passed as a `-Dspark.*`
  * system property, which SparkConf loads on its own.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` if set, else the host's processor count. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(appName: String = "graft", cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Whole-stage-codegen class cache: the default 100-entry LRU is
      // sized for a one-query session; an engine cycling a few hundred
      // operators evicts every entry before a plan repeats, so each
      // re-run pays Janino compilation again (measured 25-45% of warm
      // per-query time at sf0.1: graph_pagerank 4.4→2.5s, blocking_eval
      // 2.0→1.3s min-of-5 with the cache sized to hold the suite).
      // Metaspace cost MEASURED (r15, MicroBench ALL): 69.6 MB before
      // → 219.8 MB after one full 244-query pass → 223.5 MB after a
      // second — ~150 MB, saturating once every suite stage is cached.
      // The right trade for any repeated-workload deployment.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
