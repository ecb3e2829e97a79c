package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-level lints for scale anti-patterns Catalyst cannot see.
  *
  * The one that has now recurred twice (q_quantiles round 10,
  * sample_quantile_eval/events_rfm/funnel_time round 11): Spark's
  * built-in `percentile` aggregate is exact but merges every
  * partition's value→count map in ONE final-agg task. Over a column
  * whose distinct-value count grows with the data (order keys, cents,
  * delays), that single task holds the full value census and OOMs at
  * 100 TB. `graft.operators.ExactQuantile` is the distributed
  * replacement (bit-identical interpolation); new quantile work must
  * route through it unless the value domain is provably bounded
  * (per-group over an enumerated column, or a pre-aggregated tiny
  * table). This lint pins every surviving `percentile(` call site
  * with its justification — adding one elsewhere fails the build
  * until it is either migrated or pinned with a domain bound. */
class SourceLintSpec extends AnyFunSuite {

  /** (path relative to `dir`, contents) of every Scala file under it. */
  private def sources(dir: String): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toSeq
  }

  private def mainSources: Seq[(String, String)] = sources("src/main/scala")

  /** Code lines only: scaladoc/comment bodies stripped (the docs
    * legitimately DISCUSS `percentile()`). */
  private def codeOnly(src: String): String =
    src.linesIterator
      .map(l => l.replaceAll("//.*$", ""))
      .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/*"))
      .mkString("\n")

  test("built-in percentile() only at pinned, domain-bounded sites") {
    // file → (pinned call count, the domain bound that justifies it)
    val pinned: Map[String, (Int, String)] = Map(
      "graft/operators/ExactQuantile.scala" -> (2,
        "the single- and multi-column dispatch fast paths themselves — " +
          "both guarded by DistributedThresholdRows"),
      "graft/queries/Stats.scala" -> (2,
        "momentsQuantile + winsorize: per-event_type holistic state; " +
          "scaladocs pin the 100 TB swap to approx_percentile"),
      "graft/queries/Relational.scala" -> (1,
        "qQuantilesGroup: per-l_returnflag (enumerated flag domain); " +
          "scaladoc pins the 100 TB swap to approx_percentile"),
      "graft/queries/Events.scala" -> (2,
        "eventsMad medians: over the (type × hours) table — state " +
          "bounded by hours-per-type, not events"))
    // match `percentile(` as a function call; `approx_percentile(`
    // (mergeable t-digest state) and `percentilesOf(` do not match
    val call = """(^|[^\w.])percentile\s*\(""".r
    val found = mainSources
      .map { case (f, src) => f -> call.findAllIn(codeOnly(src)).size }
      .filter(_._2 > 0).toMap
    val offenders =
      found.toSeq.sortBy(_._1).flatMap { case (f, n) =>
        pinned.get(f) match {
          case Some((p, _)) if n == p => None
          case Some((p, _)) => Some(s"$f: $n percentile() call(s) but the lint " +
            s"pins $p — a new value census needs ExactQuantile or its own pin")
          case None => Some(s"$f: unpinned percentile() call(s) — route through " +
            "ExactQuantile.percentilesOf or pin with a domain bound")
        }
      } ++ pinned.collect {
        case (f, (p, _)) if found.getOrElse(f, 0) < p =>
          s"$f: lint pins $p site(s) but only ${found.getOrElse(f, 0)} found — tighten the pin"
      }
    assert(offenders.isEmpty, "percentile census lint:\n" + offenders.mkString("\n"))
  }

  test("storage lifetime lives in graft.plans.Scope: no manual release in operators or queries") {
    // Operators and queries register what they persist or checkpoint
    // with a Scope, which releases it when the operator returns OR
    // throws and keeps only the result's own checkpoint blocks. A
    // hand-written release (or a bare persist the code must remember
    // to release) is the leak-on-exception shape the scope replaced.
    // No Dataset persist survives outside Scope.persist, so none is
    // pinned here: a new one needs a scope, not an exemption.
    val manual = """\.unpersist\(|Checkpoints\.free\(|\.persist\(\s*(\)|StorageLevel)|\.cache\(\s*\)""".r
    val offenders = mainSources
      .filter { case (f, _) =>
        f.startsWith("graft/operators/") || f.startsWith("graft/queries/") }
      .flatMap { case (f, src) =>
        codeOnly(src).linesIterator.filter(l => manual.findFirstIn(l).nonEmpty)
          .map(l => s"$f: ${l.trim}") }
    assert(offenders.isEmpty, "manual storage release outside graft.plans.Scope:\n" +
      offenders.mkString("\n"))
  }

  test("range layouts and partition ids only in Partitioning.rangePrefix") {
    // An exact global rank or running sum goes through Partitioning:
    // cellPrefix owns the exclusive offset window every running sum
    // shares, and rangePrefix pins its sampled range boundaries with
    // one checkpoint before calling it. Six hand-copied range-partition
    // + offset pipelines each had to restate the pinning rule; two got
    // it wrong first (an 11th vocab_growth decile, a wrong auc_eval
    // AUC). Four more copied the offset window over fixed value
    // buckets (shard_assign, train_order, seq_pack, the bracket ranks).
    val rangeLayout = """spark_partition_id\s*\(|repartitionByRange\s*\(""".r -> Map(
      "graft/operators/EntityMatch.scala" -> (1,
        "snPairs: a sliding window needs only rank differences inside a " +
          "partition; the 2·w edge rows per partition get their ranks from " +
          "a mapPartitions pass, not a per-row prefix"))
    val exclusivePrefix = """unboundedPreceding\s*,\s*-1""".r -> Map(
      "graft/operators/Skyline.scala" -> (2,
        "paretoFront: a prefix-MAX over price buckets and inside them — it " +
          "combines with greatest, not +"),
      "graft/operators/Dedup.scala" -> (1,
        "per-doc coverage: a running max of duplicate-window ends inside one " +
          "document's duplicated windows"),
      "graft/queries/Events.scala" -> (1,
        "intervalMerge: a running max of interval ends inside one user's events"),
      "graft/operators/Experiment.scala" -> (1,
        "survivalCurve: KM at-risk counts over the calendar-bounded day-cell table"),
      "graft/operators/EntityMatch.scala" -> (1,
        "snPairs: partition offsets over the per-partition edge table of its " +
          "mapPartitions pass"))
    val offenders = Seq(rangeLayout, exclusivePrefix).flatMap { case (idiom, pinned) =>
      val found = mainSources
        .filter(_._1 != "graft/operators/Partitioning.scala")
        .map { case (f, src) =>
          f -> codeOnly(src).linesIterator.count(l => idiom.findFirstIn(l).nonEmpty) }
        .filter(_._2 > 0).toMap
      (found.keySet ++ pinned.keySet).toSeq.sorted.flatMap { f =>
        val n = found.getOrElse(f, 0)
        val p = pinned.get(f).fold(0)(_._1)
        if (n == p) None
        else Some(s"$f: $n line(s) matching /$idiom/, $p pinned — call " +
          "Partitioning.cellPrefix or rangePrefix" + (if (n < p) " (or tighten the pin)" else ""))
      }
    }
    assert(offenders.isEmpty, "running-sum idiom outside Partitioning:\n" + offenders.mkString("\n"))
  }

  test("sessions are built only by GraftSession, listeners registered only by SubExecutions") {
    // Every main and spec gets its session from GraftSession and its
    // sub-executions and job counts from SubExecutions, so all tools
    // time, verify and audit one configuration through one listener
    // lifetime. Private copies drift: they had already diverged in
    // core count, AQE and codegen-cache settings. String literals are
    // stripped too (PlanAudit's PLANS.md header names the listener).
    val owners = Seq(
      """SparkSession\s*\.\s*builder""".r -> "main/scala/graft/GraftSession.scala",
      """QueryExecutionListener|addSparkListener|listenerManager\s*\.\s*register""".r ->
        "main/scala/graft/SubExecutions.scala")
    def withoutStrings(src: String): String =
      src.replaceAll("(?s)\"\"\".*?\"\"\"", "\"\"")
        .replaceAll("""'(?:[^'\\\n]|\\.)'""", "' '")
        .replaceAll(""""(?:[^"\\\n]|\\.)*"""", "\"\"")
    val offenders = for {
      (f, src) <- sources("src")
      line <- codeOnly(withoutStrings(src)).linesIterator.toSeq
      (pattern, owner) <- owners
      if f != owner && pattern.findFirstIn(line).nonEmpty
    } yield s"$f: ${line.trim} (belongs in $owner)"
    assert(offenders.isEmpty, "session or listener set up outside its owner:\n" +
      offenders.mkString("\n"))
  }

  test("table reads only in sources/, temp roots and exit hooks only in Materialize") {
    // Every parquet read goes through graft.sources, so a read-back of a
    // materialized table gets the schema its commit marker recorded and
    // runs no inference job. Seven hand-copied build/write/read-back
    // memos (six warehouses, Restart.stage) each had their own temp
    // directory, shutdown hook and schema-inferring read.
    val read = """\.read\b\s*\.|\bspark\s*\.\s*read\b""".r
    val tempRoot = """createTempDirectory|addShutdownHook""".r
    val offenders = mainSources.flatMap { case (f, src) =>
      codeOnly(src).linesIterator.collect {
        case l if read.findFirstIn(l).nonEmpty && !f.startsWith("graft/sources/") =>
          s"$f: ${l.trim} (read through graft.sources)"
        case l if tempRoot.findFirstIn(l).nonEmpty && f != "graft/sources/Materialize.scala" =>
          s"$f: ${l.trim} (materialize through Materialize.warehouse)"
      }
    }
    assert(offenders.isEmpty, "read or temp root outside its owner:\n" + offenders.mkString("\n"))
  }

  test("one schema-inferring parquet read: Tables.table's first touch") {
    // Inference runs one footer-reading Spark job per touch. Base tables
    // infer once per session in Tables.table and read every later touch
    // with the pinned schema; materialized tables read the schema their
    // commit marker recorded. A reader that reaches .parquet / .load
    // without .schema(...) infers again on every touch.
    val unpinned = """\.read\s*(?:\.\s*options?\s*\([^()]*\)\s*|\.\s*format\s*\(\s*"parquet"\s*\)\s*)*\.\s*(?:parquet|load)\s*\(""".r
    val pinned = Map("graft/sources/Tables.scala" -> 1)
    val found = mainSources
      .map { case (f, src) => f -> unpinned.findAllIn(codeOnly(src)).size }
      .filter(_._2 > 0).toMap
    assert(found == pinned, "schema-inferring parquet reads (file -> sites): " + found)
  }

  test("ranks over a top-k only from TopK.ranked") {
    // TopK.ranked builds its rank window from the order pairs the heap
    // kept the rows by. Fifteen sites restated that order by hand in a
    // row_number window chained onto TopK.perGroup; a copy that drifts
    // numbers the kept set in a different order than it was kept by.
    val start = """TopK\s*\.\s*perGroup\s*\(""".r
    // the method chain from `from`: up to the first line break at or
    // below the starting paren depth whose next line does not go on
    // with `.`
    def chain(src: String, from: Int): String = {
      var depth = 0
      var i = from
      var open = true
      while (open && i < src.length) {
        src(i) match {
          case '(' | '{' => depth += 1
          case ')' | '}' => depth -= 1
          case '\n' if depth <= 0 =>
            val next = src.indexWhere(!_.isWhitespace, i + 1)
            open = next >= 0 && src(next) == '.'
          case _ =>
        }
        i += 1
      }
      src.substring(from, i)
    }
    val offenders = for {
      (f, raw) <- mainSources if f != "graft/plans/TopKPerGroup.scala"
      src = codeOnly(raw)
      m <- start.findAllMatchIn(src)
      if chain(src, m.start).contains("row_number(")
    } yield s"$f: ${src.substring(src.lastIndexOf('\n', m.start) + 1).takeWhile(_ != '\n').trim}"
    assert(offenders.isEmpty, "row_number() chained onto TopK.perGroup:\n" + offenders.mkString("\n"))
  }
}
