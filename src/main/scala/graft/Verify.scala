package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val usage = "usage: graft.Verify <sfDir> <outDir> [query[,query...]]"

  /** (sfDir, outDir, optional query filter — the local dev loop), or a
    * usage error naming unregistered names: a typo would check nothing. */
  private[graft] def parseArgs(args: Seq[String])
      : Either[String, (String, String, Option[Set[String]])] = args match {
    case Seq(sfDir, outDir) => Right((sfDir, outDir, None))
    case Seq(sfDir, outDir, names) =>
      MicroBench.knownQueries(names.split(",").toSeq, usage)
        .map(ns => (sfDir, outDir, Some(ns.toSet)))
    case _ => Left(usage)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args.toSeq) match {
      case Right(parsed) => parsed
      case Left(err) =>
        System.err.println(err)
        sys.exit(2)
    }
    val spark = GraftSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    // pay every shared warehouse build up front (full-suite runs touch
    // all of them anyway; skipped for filtered dev loops, where building
    // all warehouses could dwarf the one query under test)
    if (only.isEmpty) Warehouses.prebuild(spark, sfDir).foreach { case (n, s) =>
      System.err.println(f"[verify] warehouse $n built in $s%.1fs")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query progress on stderr: a fatal crash (OOM) then names
        // its query as the first one with no "done" line
        System.err.println(
          f"[verify] $name done in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
