package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every SparkEntry query at the SF dir given by
  * SPARK_GRAFT_SF_DIR, after a warm-up that pays the one-off costs
  * (parquet footers, codegen, JIT) so per-query numbers reflect the
  * steady-state plans.
  *
  * Defensive-measurement design (the official artifact must survive a
  * noisy host):
  *   - stdout carries EXACTLY one JSON line. Everything else — Spark
  *     logs (log4j2.properties targets stderr), stray library prints
  *     (System.out is rerouted to stderr for the whole run), sbt status
  *     lines (build.sbt: StdoutOutput + showSuccess=false) — goes to
  *     stderr, so the driver's tail-parse cannot fail on a prefix.
  *   - three full INTERLEAVED passes (pass1 runs every declared query,
  *     then pass2, then pass3; per-query min across passes). Back-to-back
  *     min-of-two lets one multi-second host spike poison both samples
  *     of the same query (BENCH_r05: dq_checks 40.9s on two consecutive
  *     samples of a 0.9s query); interleaving separates a query's
  *     samples by a full suite length (~60-90s), which no transient
  *     spike spans.
  *   - /proc/loadavg sentinel before/after into BENCH_LOCAL.json, plus
  *     all per-pass timings, so contamination is diagnosable from the
  *     committed artifact alone.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // Claim the real stdout, then reroute System.out/Console.out to
    // stderr: only the final metric line may reach the data channel.
    val realOut = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    System.setOut(System.err)
    Console.withOut(System.err) { run(realOut) }
  }

  /** Seconds to build and fully materialize one query, or -1.0 if it
    * throws. Starts cache-clean with a GC outside the timed window. */
  def timeOnce(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): Double = {
    // each measurement starts cache-clean: operators persist() their
    // reused subtrees, and 60+ accumulated caches otherwise build
    // memory pressure that spills the later queries' shuffles
    spark.sharedState.cacheManager.clearCache()
    // localCheckpoint blocks are NOT in the cache manager — the
    // ContextCleaner frees them only when the RDD is GC'd, so the
    // iterative operators' checkpoints from earlier queries otherwise
    // accumulate in the block manager and tax later measurements
    // (graph_pagerank read ~2s slower mid-suite than standalone).
    // GC outside the timed window, then give the async cleaner a beat.
    System.gc()
    Thread.sleep(50)
    val t0 = System.nanoTime()
    // toRdd forces every output column to materialize — a plain
    // count() would let Catalyst prune the very expressions under test
    try {
      fn(spark, sfDir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    } catch { case e: Throwable =>
      // a broken query must read as a failure, not a fast success
      System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      -1.0
    }
  }

  private def run(realOut: java.io.PrintStream): Unit = {

    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      catch { case _: Throwable => "unavailable" }
    def loadavg1(): Double =
      loadavg().split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)

    // QUIET-HOST GATE for pass 1: a warm-up-noise loadavg (e.g. a just-
    // finished sbt compile) would otherwise tax every pass-1 sample and
    // leak into min-of-N totals when a query's later passes also catch
    // spikes (r13 committed under loadavg 5.58). Wait for the 1-min load
    // to settle below the threshold — up to a bounded budget, then
    // proceed and let the recorded sentinel tell the story.
    val loadGate = sys.env.getOrElse("SPARK_GRAFT_LOADAVG_GATE", "2.0").toDouble
    val gateBudgetSec = sys.env.getOrElse("SPARK_GRAFT_LOADAVG_WAIT", "300").toInt
    var waited = 0
    while (loadavg1() > loadGate && waited < gateBudgetSec) {
      System.err.println(
        f"[bench] host not quiet (loadavg ${loadavg1()}%.2f > $loadGate%.1f), waiting...")
      Thread.sleep(15000)
      waited += 15
    }
    if (loadavg1() > loadGate) System.err.println(
      f"[bench] WARNING: starting under loadavg ${loadavg1()}%.2f after ${waited}s wait")
    val loadBefore = loadavg()

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCores
    val spark = GraftSession("graft-bench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // warm-up: touch every table and exercise codegen once
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings", "events")
      .foreach(t => graft.sources.Tables.table(spark, sfDir, t).count())
    // pay the shared warehouse builds BEFORE timing starts: otherwise
    // they land on whichever pass-1 query touches each warehouse first,
    // reading as that query's cost (r10: auc_eval 9.3s cold vs 1.5s
    // warm was mostly shared builds + JIT). Timings recorded for the
    // cold-cost attribution in BENCH_LOCAL.json.
    val warehousePrebuild = Warehouses.prebuild(spark, sfDir)
    warehousePrebuild.foreach { case (n, s) =>
      System.err.println(f"[bench] warehouse $n built in $s%.1fs")
    }

    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    require(nPasses >= 1,
      s"SPARK_GRAFT_BENCH_PASSES must be >= 1, got $nPasses")
    // passes(p)(i) = pass p's timing of query i; a query that failed in
    // pass 1 is not retried (failures are code, not host noise)
    val passes = Array.ofDim[Double](nPasses, names.length)
    for (p <- 0 until nPasses; i <- names.indices) {
      val (name, fn) = names(i)
      passes(p)(i) =
        if (p > 0 && passes(0)(i) < 0) -1.0 else timeOnce(spark, sfDir, name, fn)
    }
    val results = names.indices.map { i =>
      val samples = (0 until nPasses).map(passes(_)(i))
      names(i)._1 -> (if (samples.exists(_ < 0)) -1.0 else samples.min)
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    val loadAfter = loadavg()

    // full-precision artifact: per-query min plus every per-pass sample
    // and the host-load sentinel, so a contaminated run is diagnosable
    // from the committed file (the driver's stdout capture keeps only a
    // 2000-char tail)
    def qjson(vals: Seq[(String, Double)]): String =
      vals.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val passJson = (0 until nPasses).map { p =>
      s"\"queries_pass${p + 1}\":" + qjson(names.indices.map(i => names(i)._1 -> passes(p)(i)))
    }.mkString(",")
    // Locale.ROOT like f3/fmt below: the f interpolator is
    // locale-sensitive and a comma-decimal default breaks the JSON
    val prebuildJson = warehousePrebuild
      .map { case (k, v) => s"\"" + k + "\":" +
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(v)) }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"),
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,""" +
        s""""passes":$nPasses,"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter",""" +
        s""""warehouse_prebuild_sec":$prebuildJson,""" +
        s""""queries":${qjson(results)},$passJson,"sf_dir":"$sfDir"}""" + "\n")

    // BENCH_HISTORY.jsonl: one append per run with the COMPLETE per-query
    // map (full precision), so per-query regressions across rounds are
    // diffable from a single committed file. The stdout artifact cannot
    // carry all of them: the driver keeps a 2000-char tail and 225 keys
    // need ≥3.9k chars even at zero decimals, so the stdout map sheds
    // its fastest entries ("queries_omitted") while this file never does.
    // BENCH_FULL.json: the self-contained per-round artifact — the full
    // per-query map (3-decimal seconds) in one small file. The stdout
    // line physically cannot carry it: the driver keeps a 2000-char
    // tail and the 242 query KEY NAMES alone are ~3.2k chars before any
    // value digits, so the parsed stdout map is always a slowest-K
    // subset; this file (committed per round) is the complete record.
    locally {
      def f3(v: Double) =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      val qs = results.map { case (k, v) =>
        s"\"" + k + "\":" + (if (v < 0) "-1" else f3(v))
      }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_FULL.json"),
        s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
          s""""cpus":$cpus,"passes":$nPasses,""" +
          s""""queries":$qs,"sf_dir":"$sfDir"}""" + "\n")
    }

    // count newlines with a fixed-size buffer — each history line holds a
    // full ~240-query map, so materializing the whole file per run would
    // cost quadratic I/O as rounds accumulate
    val seq = {
      val p = java.nio.file.Paths.get("BENCH_HISTORY.jsonl")
      if (!java.nio.file.Files.exists(p)) 1
      else {
        val in = java.nio.file.Files.newInputStream(p)
        try {
          val buf = new Array[Byte](1 << 16)
          var lines = 0; var n = in.read(buf)
          while (n > 0) {
            var i = 0
            while (i < n) { if (buf(i) == '\n') lines += 1; i += 1 }
            n = in.read(buf)
          }
          lines + 1
        } finally in.close()
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
      s"""{"seq":$seq,"total":$total,"cpus":$cpus,"passes":$nPasses,""" +
        s""""loadavg_before":"$loadBefore","sf_dir":"$sfDir",""" +
        s""""queries":${qjson(results)}}""" + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)

    // stdout line: 2-decimal per-query timings keep the whole line
    // inside the driver's 2000-char tail window (full-precision record
    // is in BENCH_LOCAL.json regardless)
    def fmt(p: String, v: Double) = String.format(java.util.Locale.ROOT, p, Double.box(v))
    val sfShort = sfDir.split("/").last.stripPrefix("sf")
    def lineAt(prec: Int): String = {
      val qs = results.map { case (k, v) =>
        s"\"" + k + "\":" + (if (v < 0) "-1" else fmt(s"%.${prec}f", v))
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt("%.3f", total)},"unit":"sec","queries":$qs,"sf":"$sfShort"}"""
    }
    // when even 1 decimal outgrows the budget, keep the precision and
    // shed the FASTEST queries from the stdout map instead — the slow
    // queries are the ones a per-query grade needs, and every timing
    // is in BENCH_LOCAL.json regardless; "queries_omitted" makes the
    // truncation explicit in the parsed artifact
    def lineTopK(prec: Int, keep: Int): String = {
      val kept = results.sortBy { case (_, v) => -v }.take(keep)
        .sortBy(_._1)
      val qs = kept.map { case (k, v) =>
        s"\"" + k + "\":" + (if (v < 0) "-1" else fmt(s"%.${prec}f", v))
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt("%.3f", total)},"unit":"sec",""" +
        s""""queries":$qs,"queries_omitted":${results.length - kept.length},""" +
        s""""queries_full":"BENCH_FULL.json","sf":"$sfShort"}"""
    }
    val line = (3 to 1 by -1).map(lineAt).find(_.length <= 1950).getOrElse(lineAt(1))
    val guarded =
      if (line.length <= 1950) line
      else {
        System.err.println(s"[bench] WARNING: stdout line ${line.length} chars " +
          "exceeds the 1950 budget even at 1 decimal; dropping fastest " +
          "queries from the stdout map (full set in BENCH_LOCAL.json)")
        (results.length to 0 by -1).map(lineTopK(1, _)).find(_.length <= 1950)
          .getOrElse { // unreachable: keep=0 is ~120 chars
            s"""{"metric":"total","value":${fmt("%.3f", total)},"unit":"sec","queries":{},"sf":"$sfShort"}"""
          }
      }

    // stop Spark BEFORE emitting the metric line: shutdown logging (or a
    // 2>&1 merge downstream) must not land after our JSON on the tail
    spark.stop()
    realOut.println(guarded)
    realOut.flush()
  }
}
