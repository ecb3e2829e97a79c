package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Random

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry, Warehouses}
import graft.sources.{Sinks, Tables}

/** Benchmark main. Runs one workload through the engine's public entry
  * points (GraftSession, SparkEntry.queries, sources.Tables,
  * sources.Sinks, Warehouses.prebuild), checks every result against the
  * pinned row counts and hashes, and prints one JSON result line. Run
  * it through `perfbench/run.py`, which builds the classpath and passes
  * the arguments below. */
object Main {

  final case class Conf(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, expected: Path, work: Path, pin: Boolean, dump: Boolean,
      corrupt: Option[String], commit: String, xmx: String, cores: Int)

  private def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Conf(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), Paths.get(get("expected")),
      Paths.get(get("work")), m.get("pin").contains("1"), m.get("dump").contains("1"),
      m.get("corrupt"),
      m.getOrElse("commit", "unknown"), m.getOrElse("xmx", "unknown"),
      m.getOrElse("cores", "4").toInt)
  }

  def main(argv: Array[String]): Unit = {
    // stdout carries only the record and result lines; Spark and stray
    // library prints go to stderr
    val out = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    System.setOut(System.err)
    val code =
      try Console.withOut(System.err)(new Run(parse(argv), out).run())
      catch { case e: Throwable => e.printStackTrace(); 1 }
    out.flush()
    System.exit(code)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else String.format(Locale.ROOT, "%.6f", Double.box(v))
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** One query execution as the client saw it. */
final case class Exec(
    tag: Tag, startMs: Long, buildEndMs: Long, endMs: Long, buildS: Double, termS: Double,
    // terminal plan phases (count route; the sink route's come from the
    // QueryExecutionListener) and exchanges of the terminal plan
    termPlanS: Double, termExchanges: Int,
    rows: Long, ok: Boolean, error: String, rddsLeft: Int, cacheLeft: Int,
    filesListed: Long, sinkFiles: Int, sinkBytes: Long) {
  def latencyS: Double = buildS + termS
}

final class Run(conf: Main.Conf, out: java.io.PrintStream) {
  import Main._

  private val workload = Workloads.all.getOrElse(conf.workload,
    sys.error(s"unknown workload ${conf.workload}; known: ${Workloads.all.keys.mkString(", ")}"))
  private val tables = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "documents", "embeddings", "events")
  private var spark: SparkSession = _
  private var pinned: Map[String, Check.Pinned] = Map.empty
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim catch { case _: Throwable => "unavailable" }
  private def vmHwmMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    catch { case _: Throwable => Double.NaN }

  /** CPU time stolen by the hypervisor, from /proc/stat: `now()` is
    * (steal, total) jiffies over all CPUs, `since` the stolen share. */
  private object steal {
    def now(): (Long, Long) =
      try {
        val f = scala.io.Source.fromFile("/proc/stat")
        val v = try f.getLines().next().split("\\s+").drop(1).map(_.toLong) finally f.close()
        (if (v.length > 7) v(7) else 0L, v.take(8).sum)
      } catch { case _: Throwable => (0L, 0L) }
    def since(from: (Long, Long)): Double = {
      val (s, t) = now()
      if (t > from._2) (s - from._1).toDouble / (t - from._2) else Double.NaN
    }
  }

  /** Steal share above which a measured pass is run again. Quiet
    * passes on a 4-core guest read below 0.01; passes above 0.02 ran
    * 5-15 % slower. */
  private val maxSteal = 0.02

  private def order(pass: Int, client: Int): Seq[String] =
    new Random(conf.seed * 1000003L + pass * 7919L + client).shuffle(workload.queries)

  private def sinkDir(client: Int, q: String): Path = conf.work.resolve(s"sink/c$client/$q")

  /** How an execution is consumed and checked. */
  sealed trait Mode
  /** count (or write) the result; check row count or sink marker */
  private case object CheckRows extends Mode
  /** count (or write), then hash the result outside the timed window */
  private case object HashAfter extends Mode
  private case object Unchecked extends Mode

  private def record(ok: Boolean, what: String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  private def hashCheck(tag: Tag, df: DataFrame, pin: Check.Pinned): String = {
    spark.sparkContext.setJobGroup(tag.copy(phase = "check").id, tag.query, interruptOnCancel = false)
    val h = try Check.contentHash(df) catch { case e: Throwable => Check.Pinned(-1, e.getMessage) }
    if (h != pin) s"result $h != pinned $pin" else ""
  }

  /** Build, plan and execute (or write) one query, then check it
    * outside the timed window. With `hashLater` the HashAfter hash is
    * left to the caller. */
  private def execute(tag: Tag, mode: Mode, hashLater: Boolean = false): (Exec, DataFrame) = {
    val sc = spark.sparkContext
    val q = tag.query
    sc.setJobGroup(tag.copy(phase = "build").id, q, interruptOnCancel = false)
    val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var buildEndMs = startMs
    var df: DataFrame = null
    var rows = -1L
    var error = ""
    try {
      df = SparkEntry.queries(q)(spark, conf.data)
      t1 = System.nanoTime()
      buildEndMs = System.currentTimeMillis()
      sc.setJobGroup(tag.copy(phase = "exec").id, q, interruptOnCancel = false)
      if (workload.sink) Sinks.writeEntityJson(df, sinkDir(tag.client, q).toString)
      else rows = df.queryExecution.toRdd.count()
    } catch { case e: Throwable => error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    val endMs = System.currentTimeMillis()
    val files = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0
    val (planS, exch) =
      if (error.isEmpty && !workload.sink)
        (Plans.phaseSeconds(df.queryExecution), Plans.exchanges(df.queryExecution.executedPlan))
      else (0.0, 0)
    val rddsLeft = sc.getPersistentRDDs.size
    val cacheLeft = if (spark.sharedState.cacheManager.isEmpty) 0 else 1
    sc.setJobGroup(tag.copy(phase = "check").id, q, interruptOnCancel = false)
    var (sinkFiles, sinkBytes) = (0, 0L)
    if (error.isEmpty && workload.sink) {
      val d = sinkDir(tag.client, q)
      val parts = Option(d.toFile.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-"))
      sinkFiles = parts.length
      sinkBytes = parts.map(_.length).sum
      if (!Files.exists(d.resolve("_SUCCESS"))) error = "sink wrote no _SUCCESS marker"
    }
    if (error.isEmpty && mode != Unchecked) error = pinned.get(q) match {
      case None => "no pinned result"
      case Some(p) if rows >= 0 && rows != p.rows => s"rows $rows != pinned ${p.rows}"
      case Some(p) if mode == HashAfter && !hashLater => hashCheck(tag, df, p)
      case _ => ""
    }
    sc.clearJobGroup()
    if (mode != Unchecked) record(error.isEmpty, s"$q (pass ${tag.pass} client ${tag.client}): $error")
    if (error.nonEmpty) System.err.println(s"[graftbench] $q FAILED: $error")
    (Exec(tag, startMs, buildEndMs, endMs, (t1 - t0) / 1e9, (t2 - t1) / 1e9, planS, exch,
      rows, error.isEmpty, error, rddsLeft, cacheLeft, files, sinkFiles, sinkBytes), df)
  }

  private def housekeeping(gc: Boolean = true): Unit = {
    // as graft.Bench.timeOnce: start each measurement cache-clean, GC
    // outside the timed window, give the async cleaner a beat
    spark.sharedState.cacheManager.clearCache()
    if (gc) {
      System.gc()
      Thread.sleep(50)
    }
  }

  private lazy val pool = Executors.newFixedThreadPool(workload.clients)
  private lazy val ec = ExecutionContext.fromExecutorService(pool)

  /** One pass over the workload's list by every client. Returns the
    * makespan and the executions. Single-client passes clean up before
    * each query, outside the timed window, so the makespan is the sum of
    * query latencies; concurrent passes clean up only between passes. */
  private def pass(p: Int, mode: Mode): (Double, Seq[Exec]) = {
    if (workload.clients == 1) {
      val execs = order(p, 0).zipWithIndex.map { case (q, i) =>
        // warm-up passes (p < 0) skip the GC: nothing there is timed
        housekeeping(gc = p >= 0)
        execute(Tag(p, 0, i, q, ""), mode)._1
      }
      (execs.map(_.latencyS).sum, execs)
    } else {
      housekeeping()
      val t0 = System.nanoTime()
      val futures = (0 until workload.clients).map { c =>
        Future(order(p, c).zipWithIndex.map { case (q, i) =>
          execute(Tag(p, c, i, q, ""), mode, hashLater = true)
        })(ec)
      }
      val results = futures.map(Await.result(_, Duration.Inf))
      val makespan = (System.nanoTime() - t0) / 1e9
      // HashAfter: one execution per query is hashed after the pass, so
      // no check overlaps another client's timed window
      if (mode == HashAfter)
        for ((q, runs) <- results.flatten.groupBy(_._1.tag.query); (e, df) <- runs.find(_._1.ok)) {
          val err = hashCheck(e.tag, df, pinned(q))
          spark.sparkContext.clearJobGroup()
          record(err.isEmpty, s"$q (pass $p client ${e.tag.client}): $err")
        }
      (makespan, results.flatten.map(_._1))
    }
  }

  def run(): Int = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = loadavg()
    val steal0 = steal.now()
    Files.createDirectories(conf.work)
    pinned = if (Files.exists(conf.expected)) Check.load(conf.expected) else Map.empty
    conf.corrupt.foreach { q =>
      // self-test hook: a corrupted pin must be reported as a failure
      pinned.get(q).foreach(p => pinned += q -> p.copy(hash = (BigInt(p.hash) + 1).toString))
    }
    if (!conf.pin || conf.dump) {
      val missing = workload.queries.filterNot(pinned.contains)
      require(missing.isEmpty, s"no pinned result for ${missing.mkString(", ")} in ${conf.expected}")
    }

    // ---- setup: session, table touch, warehouses, warm-up -----------
    spark = GraftSession("graftbench", conf.cores)
    // after the session: Spark's logging setup reconfigures log4j once
    val tracer = new Tracer(spark)
    if (conf.trace) tracer.startCodegen()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // The traced run touches every table and prebuilds every warehouse
    // to time each build, as graft.Bench does. The untraced run leaves
    // both to the first warm-up pass, which builds only the warehouses
    // the workload reads.
    val touch0 = System.nanoTime()
    if (conf.trace) tables.foreach(t => Tables.table(spark, conf.data, t).count())
    val touchS = (System.nanoTime() - touch0) / 1e9
    val warehouses = if (conf.trace) Warehouses.prebuild(spark, conf.data) else Nil

    if (conf.pin || conf.dump) return pin()

    // Every warm-up pass writes or counts as a measured pass does. The
    // first (cold) one also hashes every result against its pin; later
    // ones check row counts, so they cost what a measured pass costs.
    val warmupPasses = (0 until workload.warmupPasses).map { p =>
      val t0 = System.nanoTime()
      pass(-1 - p, if (p == 0) HashAfter else CheckRows)
      (System.nanoTime() - t0) / 1e9
    }
    housekeeping()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val stealSetup = steal.since(steal0)

    // ---- measurement -------------------------------------------------
    // The number of measured passes follows --seconds only, never the
    // speed of the code, so every commit is measured with the same
    // samples and estimators.
    val nPasses = workload.measuredPasses(conf.seconds)
    val stealPasses = mutable.ArrayBuffer.empty[Double]
    val jitPasses = mutable.ArrayBuffer.empty[Double]
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    def measured(p: Int, mode: Mode): (Double, Seq[Exec]) = {
      val s0 = steal.now()
      val j0 = jit.getTotalCompilationTime
      val r = pass(p, mode)
      stealPasses += steal.since(s0)
      jitPasses += (jit.getTotalCompilationTime - j0) / 1e3
      r
    }

    val record = mutable.ArrayBuffer.empty[(String, String)]
    val metrics: Seq[(String, Double, String)] =
      if (!conf.trace) {
        // A pass during which other guests took more than maxSteal of
        // the CPUs is contaminated by the host: passes run until
        // nPasses are clean, at most nPasses + 1 (so a run stays inside
        // its time budget), and the metrics use the nPasses least-stolen
        // ones. Failures in every pass count.
        val all = mutable.ArrayBuffer.empty[(Double, Seq[Exec])]
        def clean = stealPasses.count(s => !(s > maxSteal))
        while (clean < nPasses && all.length < nPasses + 1) all += measured(all.length, CheckRows)
        val used = all.indices.sortBy(i => if (stealPasses(i).isNaN) 0.0 else stealPasses(i))
          .take(nPasses).sorted
        val passes = used.map(all)
        val lat = passes.flatMap(_._2.filter(_.ok).map(_.latencyS))
        val done = passes.map(_._2.count(_.ok)).sum
        record += "passes_s" -> all.map(p => num(p._1)).mkString("[", ",", "]")
        record += "passes_used" -> used.mkString("[", ",", "]")
        record += "query_samples" -> lat.length.toString
        // client 0's latency per query and measured pass
        record += "query_latency_s" -> obj(workload.queries.map { q =>
          q -> all.map(_._2.find(e => e.tag.client == 0 && e.tag.query == q)
            .map(e => num(e.latencyS)).getOrElse("null"))
            .mkString("[", ",", "]")
        })
        Seq(
          ("pass_s", median(passes.map(_._1)), "s"),
          ("query_p50_s", median(lat), "s"),
          ("query_tail_s", percentile(lat, workload.tailPct), "s"),
          ("throughput_qps", done / passes.map(_._1).sum, "1/s"),
          ("setup_s", setupS, "s"))
      } else {
        // untraced and traced passes in the order U T T U, so both
        // groups sit at the same mean point of the JVM's warm-up and the
        // difference of their medians is the tracing cost
        def tracedPass(i: Int) = {
          tracer.start()
          val r = measured(1000 + i, HashAfter)
          // listener events are delivered asynchronously
          tracer.drain()
          tracer.stop()
          r
        }
        val u0 = measured(0, CheckRows)
        val t0 = tracedPass(0)
        val t1 = tracedPass(1)
        val u1 = measured(1, CheckRows)
        tracer.stopCodegen()
        val (plain, traced) = (Seq(u0, u1), Seq(t0, t1))
        val layers = new Layers(workload, conf.cores, tracer, traced)
        record += "passes_untraced_s" -> plain.map(p => num(p._1)).mkString("[", ",", "]")
        record += "passes_traced_s" -> traced.map(p => num(p._1)).mkString("[", ",", "]")
        record += "codegen_compiles_in_traced_passes" -> layers.warmCompiles.toString
        writeSpans(layers.spans)
        layers.perPass ++ layers.codegen ++ Seq(
          ("trace.overhead_s", median(traced.map(_._1)) - median(plain.map(_._1)), "s"),
          ("sources.resolve_ms", resolveMs(), "ms"),
          ("setup.session_s", sessionS, "s"),
          ("setup.warmup_s", warmupPasses.sum, "s"),
          ("storage.heap_peak_mb", vmHwmMb(), "MB")) ++
          warehouses.map { case (n, s) => (s"setup.warehouse_s.$n", s, "s") }
      }

    spark.stop()
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
    val rt = Runtime.getRuntime
    record ++= Seq(
      "workload" -> str(workload.name), "seed" -> conf.seed.toString,
      "trace" -> (if (conf.trace) "1" else "0"), "seconds" -> num(conf.seconds),
      "data" -> str(Paths.get(conf.data).getFileName.toString),
      "loadavg_before" -> str(loadBefore), "loadavg_after" -> str(loadavg()),
      "nproc" -> rt.availableProcessors().toString, "cores" -> conf.cores.toString,
      "xmx" -> str(conf.xmx), "max_heap_mb" -> num(rt.maxMemory() / 1048576.0),
      "spark_version" -> str(spark.version), "java_version" -> str(System.getProperty("java.version")),
      "commit" -> str(conf.commit),
      "session_s" -> num(sessionS), "touch_s" -> num(touchS),
      "warmup_passes_s" -> warmupPasses.map(num).mkString("[", ",", "]"),
      // share of CPU time the hypervisor gave to other guests: the
      // host-contention sentinel, for setup and for each measured pass
      "steal_frac_setup" -> num(stealSetup),
      "steal_frac_passes" -> stealPasses.map(num).mkString("[", ",", "]"),
      "jit_s_passes" -> jitPasses.map(num).mkString("[", ",", "]"),
      "failures" -> failures.take(20).map(str).mkString("[", ",", "]"))
    val metricJson = obj(metrics.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
    val recordLine = obj(Seq("record" -> obj(record.toSeq), "metrics" -> metricJson))
    Files.writeString(conf.work.resolve("last_record.json"), recordLine + "\n")
    out.println(recordLine)
    val correct = failed == 0 && attempted > 0 && metrics.forall(!_._2.isNaN)
    out.println(obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metricJson)))
    0
  }

  /** Pin mode: execute every query of the workload once and write its
    * row count and content hash into the expected file. Dump mode
    * instead checks each result against its pin and writes it, with the
    * oracle SQL, for crosscheck.py's DuckDB comparison. */
  private def pin(): Int = {
    val dump = conf.work.resolve("dump")
    val pins = workload.queries.map { q =>
      housekeeping()
      val (e, df) = execute(Tag(0, 0, 0, q, ""), Unchecked)
      require(e.ok, s"$q failed while pinning: ${e.error}")
      val h = Check.contentHash(df)
      if (conf.dump) {
        require(pinned.get(q).contains(h), s"$q: result $h != pinned ${pinned.get(q)}")
        df.coalesce(1).write.mode("overwrite").parquet(dump.resolve(q).toString)
      }
      q -> h
    }
    if (conf.dump) {
      val sql = workload.queries.map(q => q -> str(SparkEntry.oracleSql(q)))
      Files.writeString(dump.resolve("oracle_sql.json"), obj(sql))
    } else Files.writeString(conf.expected, Check.render((pinned ++ pins).toSeq))
    spark.stop()
    System.err.println(s"[graftbench] ${if (conf.dump) "dumped" else "pinned"} ${pins.length} queries")
    0
  }

  /** Direct `Tables.table` resolution per table in the warm session:
    * median of 3 calls each, summed, in milliseconds. */
  private def resolveMs(): Double = tables.map { t =>
    median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); Tables.table(spark, conf.data, t); (System.nanoTime() - t0) / 1e6
    })
  }.sum

  private def writeSpans(spans: Seq[String]): Unit = {
    val f = conf.work.resolve(s"spans_${workload.name}_seed${conf.seed}.jsonl")
    Files.writeString(f, spans.mkString("", "\n", "\n"))
  }
}
