package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.Scope

/** Exact interpolated percentiles, DISTRIBUTED.
  *
  * Spark's built-in `percentile` aggregate is exact but merges every
  * partition's value→count map in the ONE final-agg task — fine at
  * test scale, but a single task holding the full distinct-value
  * census of a fact column is precisely the thing that OOMs at 100 TB
  * (l_orderkey alone is ~1.5M distinct at sf1 and grows linearly).
  * This is the same anti-pattern as a single-partition ntile window,
  * one level down.
  *
  * Distributed shape — BRACKET REFINEMENT (two scans, shuffle-light):
  *
  *  1. One scan computes, per column, the exact row count and a
  *     Greenwald–Khanna summary (`percentile_approx`) queried at each
  *     probe ± a 3/accuracy margin. GK guarantees the returned value's
  *     rank is within n/accuracy of target, so the pair
  *     [approx(p−3ε), approx(p+3ε)] brackets the true order statistics
  *     at floor/ceil(p·(n−1)) with ~ε·n rows of slack (clamped probes
  *     take a ±∞ sentinel instead). The k-row result collects to the
  *     driver (metadata-sized) and re-enters pass 2 as literals.
  *  2. A second scan assigns every row a SEGMENT id — the count of
  *     the 2m broadcast boundary values ≤ v, a codegen'd chain of
  *     fixed-index comparisons (duplicate boundaries merely leave
  *     empty segments) — and keeps the VALUE only for rows inside
  *     some bracket (the "hot" rows, ≤ 8ε·n per probe by the GK rank
  *     bound, duplicates notwithstanding). The shuffle is a
  *     per-(column, segment, hot-value-or-null) count: tiny.
  *  3. Exclusive segment prefixes give every hot value its exact
  *     global rank. A segment mixing hot and cold rows can only be
  *     one whose left boundary IS the hot value (a bracket's closed
  *     upper endpoint): brackets are unions of whole segments, a
  *     segment's interior contains no boundary, so interior-hot ⇒
  *     fully hot; in the mixed case every cold row sits strictly
  *     above the hot ones — the in-segment prefix over hot values
  *     alone is therefore the true rank.
  *  4. Each probe's bracketing value pair comes from a range join
  *     against the broadcast probe table, and Spark Percentile's
  *     interpolation is replicated exactly — `lower==higher ?
  *     lowerValue : lowerValue·(higher−position) +
  *     higherValue·(position−lower)` with position = p·(N−1) in
  *     double — so results are bit-identical to the built-in (and
  *     therefore to the DuckDB oracle the gate certifies). An in-plan
  *     raise_error backstop fails LOUDLY if a bracket ever misses
  *     (GK's bound is a theorem; the backstop converts any
  *     implementation surprise into an error instead of a wrong
  *     answer).
  *
  * Versus the previous distributed shape (a full per-value-count
  * census + two-phase range rank), nothing value-census-sized ever
  * travels through a shuffle: a continuous column's census is n rows,
  * the bracket path shuffles O(probes · n/accuracy). At 100 TB the
  * same two scans stand, with accuracy raised so each bracket stays
  * executor-sized — the operator stays EXACT at any scale.
  *
  * NaN caveat: Spark orders NaN above +∞ while the GK summary treats
  * it as incomparable, so columns fed here should be NaN-free (every
  * gate caller is money/integer-valued). The damage from a violation
  * is BOUNDED, not assumed away: the SegmentHot kernel pins NaN rows
  * to the top segment (matching Spark's sort order), so they can
  * never shift a lower probe's prefix rank — and a probe whose rank
  * actually reaches into the NaN region finds no hot value and trips
  * the raise_error backstop instead of returning a shifted quantile.
  */
object ExactQuantile {

  /** Dispatch threshold: below this row count a
    * value census trivially fits one task AND the built-in's single
    * merge beats the two-scan pipeline's job overhead;
    * at/above it the bracket path is already faster (sf1: ~2s vs
    * 4.0s rank-census vs 5.7s built-in for q_quantiles) and is the
    * only shape that survives unbounded growth. */
  final val DistributedThresholdRows = 5000000L

  /** Bytes twin of the row threshold for callers holding NO row bound:
    * ~64 MB of compressed parquet is ~4M fact-width rows (sf1 lineitem
    * measures ~17 B/row on disk). Plan statistics are free — no count
    * job — and mis-estimation is harmless in both directions down to
    * ~2·BracketAccuracy rows (the bracket path's own safety floor),
    * which 64 MB of any real table clears by orders of magnitude.
    * Callers profiling EXTREMELY wide rows (multi-KB blobs) should
    * pass knownRowsUpper instead. */
  final val DistributedThresholdBytes = 64L << 20

  /** The dispatch predicate, exposed so composite operators (e.g. the
    * equi-height histogram) can branch their own plan shape on the
    * same decision: row bound when the caller holds one, free plan-
    * statistics bytes otherwise. */
  def useDistributed(df: DataFrame, knownRowsUpper: Long = -1L): Boolean =
    if (knownRowsUpper >= 0L) knownRowsUpper >= DistributedThresholdRows
    else df.queryExecution.optimizedPlan.stats.sizeInBytes >= DistributedThresholdBytes

  /** GK summary accuracy FLOOR for the bracket pass: rank error ≤
    * n/acc, so each probe's hot window holds ≤ 8·n/acc rows. GK
    * insert cost RISES with accuracy (the sampled buffer, and so each
    * compaction, is ∝ acc) while the refinement cost rises as it
    * falls — measured end-to-end at sf10 (3 columns × 60M rows,
    * join-free refinement): acc=4000 10.3s / 2000 8.6s / 1000 7.2s /
    * 500 6.9s. The floor sits at 1000, not 500, because the trade
    * depends on probe count: the m=5 q_quantiles is flat between 500
    * and 1000 at sf1 (~2.7s warm both) while the m=11 q_histogram_eq
    * pays for 500's fatter hot windows (3.3s vs 2.9s warm at sf1) —
    * 1000 is the joint optimum across the gate's consumers.
    * Exactness is unaffected by the choice. */
  final val BracketAccuracy = 1000

  /** Executor-sizing cap on a probe's hot window: each (column,
    * segment)'s prefix rank is ONE window task over ≤ 8·n/acc census
    * entries, so acc must grow with n past the point where 8·n/acc
    * outgrows a task. [[accFor]] solves 8·n/acc ≤ this for acc —
    * 4M entries ≈ 64 MB of (value, count) state, comfortably one
    * task — so the knob turns itself: at sf10 (6·10⁷ rows) the floor
    * rules, at 10¹² rows acc rises to 2·10⁶ and the hot windows stay
    * task-sized. An n estimate is enough — acc only trades cost
    * between the two passes; exactness never depends on it. */
  final val MaxHotWindowRows = 4000000L

  /** Ceiling on [[accFor]]'s answer: Catalyst reports sizeInBytes ≈
    * Long.MaxValue for frames it cannot size (LogicalRDD from a
    * localCheckpoint, unmaterialized caches), and an uncapped estimate
    * would then hand percentile_approx accuracy 2³¹-1, whose GK
    * buffers grow ∝ acc and would OOM pass 1. 10⁷ keeps the summary
    * ~80 MB/column worst-case (one task) while covering 5·10¹² rows
    * before hot windows exceed [[MaxHotWindowRows]] — beyond that a
    * caller should supply knownRowsUpper. Exactness is unaffected:
    * acc only trades cost between the two passes. */
  final val AccCap = 10000000L

  /** Accuracy for an (estimated) row count: the measured-optimum
    * floor until hot windows would outgrow a task, then ∝ n, capped
    * so an unknown-stats sentinel estimate cannot inflate the GK
    * state (see [[AccCap]]). */
  def accFor(estRows: Long): Int =
    math.max(BracketAccuracy.toLong,
      8L * math.max(estRows, 0L) / MaxHotWindowRows).min(AccCap).toInt

  /** One row: `qs` = array of exact percentiles of `df.c` (cast to
    * double) at `probes`, in probe order; both dispatch paths produce
    * bit-identical doubles.
    *
    * `knownRowsUpper`: an UPPER BOUND on `df`'s row count the caller
    * already holds (a persisted-table count, a parent-table count for
    * a filtered df). Dispatch only needs a bound — an over-estimate
    * merely sends a small input down the distributed path (correct,
    * slower), never the reverse at meaningful scale. Passing it skips
    * the per-call `df.count()` probe job (a caller profiling three
    * columns of one table would otherwise pay three redundant counts).
    *
    * NOTE the bracket path reads `df` twice, through an internally
    * persisted narrow projection of the profiled columns — callers
    * passing an EXPENSIVE derived frame (joins/aggregates upstream)
    * should still persist it so the projection's one materialization
    * is cheap, as every gate caller already does. */
  def percentilesOf(df: DataFrame, c: String, probes: Seq[Double],
      knownRowsUpper: Long = -1L): DataFrame = {
    if (!useDistributed(df, knownRowsUpper))
      df.agg(percentile(col(c).cast("double"),
        array(probes.map(lit(_)): _*)).as("qs"))
    else bracketPercentilesMulti(df, Seq(c), probes,
      knownRowsUpper = knownRowsUpper).select(col("qs"))
  }

  /** Multi-column twin of [[percentilesOf]]: ONE fact scan per pass
    * for every column — a caller profiling k columns of the same
    * table through k single-column calls pays k× the scans plus k
    * pipelines' worth of job overhead, the difference a 100 TB scan
    * cannot absorb. Returns one row per column: (column_name, qs),
    * qs in probe order, doubles bit-identical to the built-in.
    * Dispatch below the size threshold is likewise one scan: a single
    * aggregate computing every column's built-in percentile. */
  def percentilesOfMulti(df: DataFrame, cols: Seq[String], probes: Seq[Double],
      knownRowsUpper: Long = -1L): DataFrame = {
    if (!useDistributed(df, knownRowsUpper)) {
      val aggs = cols.map(c => percentile(col(c).cast("double"),
        array(probes.map(lit(_)): _*)).as(s"qs_$c"))
      df.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map(c =>
          struct(lit(c).as("column_name"), col(s"qs_$c").as("qs"))): _*)).as("s"))
        .select(col("s.column_name"), col("s.qs"))
    } else bracketPercentilesMulti(df, cols, probes,
      knownRowsUpper = knownRowsUpper).select(col("column_name"), col("qs"))
  }

  /** Bracket pipeline WITH cumulative ranks: one row per column,
    * (column_name, qs, cums), where cums(i) = exact count of rows with
    * value ≤ qs(i) — free information the refinement already holds
    * (the rank covering a probe's floor index IS the cumulative count
    * through its value; an interpolated quantile sits strictly between
    * adjacent order statistics, so counting through the lower one is
    * counting through the quantile). Lets an equi-height histogram
    * read its bucket populations as cums differences instead of
    * paying a second full conditional-aggregate scan. Distributed
    * path only — callers below the dispatch threshold compute cells
    * in their own (cheap at that size) conditional pass. */
  def percentilesWithCumsOfMulti(df: DataFrame, cols: Seq[String],
      probes: Seq[Double]): DataFrame =
    bracketPercentilesMulti(df, cols, probes)

  /** The bracket-refinement pipeline (see object scaladoc). `acc` is
    * parameterized so tests can exercise meaningful margins at small
    * n (the GK slack argument needs n ≥ acc). */
  private[graft] def bracketPercentilesMulti(
      df: DataFrame, cols: Seq[String], probes: Seq[Double],
      acc: Int = -1, knownRowsUpper: Long = -1L): DataFrame = Scope { s =>
    val accEff = if (acc > 0) acc else accFor(
      if (knownRowsUpper >= 0L) knownRowsUpper
      // free plan-statistics estimate at ~16 B/row fact width; acc
      // only trades cost between the passes, never exactness
      else (df.queryExecution.optimizedPlan.stats.sizeInBytes / 16)
        .min(BigInt(Long.MaxValue)).toLong)
    val m = probes.length
    val eps = 3.0 / accEff
    val pLo = probes.map(p => p - eps)
    val pHi = probes.map(p => p + eps)
    val apProbes = pLo.map(math.max(_, 0.0)) ++ pHi.map(math.min(_, 1.0))
    // both passes scan only the profiled columns: persist the narrow
    // double-cast projection once (cols × 8 B/row + null bits) so the
    // second scan reads executor memory/local disk instead of
    // re-decoding the source — at cluster scale MEMORY_AND_DISK spill
    // to executor-local disk still beats a second remote parquet read
    // of the same bytes; released as soon as the result is pinned
    val proj = s.persist(df.select(cols.map(c => col(c).cast("double").as(c)): _*))
    // PASS 1: exact counts + GK summaries, one scan — and the k-row
    // result COLLECTS to the driver (k columns × 2m doubles: metadata,
    // not data). The former shape pinned it with a localCheckpoint and
    // re-derived a one-row boundary table through a groupBy pivot +
    // broadcast exchange, paying three extra jobs and a checkpoint
    // scan per consumer for rows the driver could simply hold; the
    // boundary values now re-enter the plan as LITERALS (bit-exact:
    // a collected double re-embedded via lit carries the same bits).
    val aggs = cols.flatMap { c => Seq(
      percentile_approx(col(c),
        array(apProbes.map(lit(_)): _*), lit(accEff)).as(s"ap_$c"),
      count(col(c)).as(s"n_$c")) }
    val aggRow = proj.agg(aggs.head, aggs.tail: _*).head()
    val nTotals: Seq[Long] = cols.map(c => aggRow.getAs[Long](s"n_$c"))
    val apVals: Seq[IndexedSeq[Any]] = cols.map { c =>
      Option(aggRow.getAs[scala.collection.Seq[Any]](s"ap_$c"))
        .map(_.toIndexedSeq).getOrElse(IndexedSeq.fill[Any](2 * m)(null))
    }
    def dlit(v: Any): Column =
      if (v == null) lit(null).cast("double") else lit(v)
    val losLit: Seq[Column] = cols.indices.map { i =>
      array((0 until m).map(j => if (pLo(j) <= 0.0) lit(Double.NegativeInfinity)
        else dlit(apVals(i)(j))): _*) }
    val hisLit: Seq[Column] = cols.indices.map { i =>
      array((0 until m).map(j => if (pHi(j) >= 1.0) lit(Double.PositiveInfinity)
        else dlit(apVals(i)(m + j))): _*) }
    // PASS 2: segment id = #(boundaries ≤ v) over the 2m boundaries.
    // JOIN-FREE: the boundary arrays are literals, so segment and
    // hot-value compute on the ORIGINAL primitive columns BEFORE the
    // explode — no per-row map construction, no fact-sized broadcast-
    // hash-join probe on a string key, no string group key (the int
    // column index resolves back to its name on the census result,
    // which is segment-count sized). The comparison work itself runs
    // inside the codegen'd SegmentHot kernel
    // (expressions/SegmentHot.scala): per-boundary `when` chains grow
    // the stage's generated method with m·k and silently drop the
    // whole stage to interpreted evaluation past ~30 boundary
    // references (measured: the same census at sf10 costs 8.8s at m=5
    // and 98s at m=6 as when-chains; the kernel is m-independent).
    // The heavy per-column structs land in their own pre-explode
    // Project so the Generate argument stays a trivial attribute array.
    val perCol = cols.zipWithIndex.map { case (c, i) =>
      val v = col(c)
      val sh = graft.functions.Similarity.segmentHot(v, losLit(i), hisLit(i))
      when(v.isNotNull, struct(lit(i).as("ci"),
        shiftright(sh, 1).as("seg"),
        when(sh.bitwiseAND(lit(1L)) === 1L, v).as("hv"))).as(s"__graft_s_$i")
    }
    val colName = cols.zipWithIndex.tail.foldLeft(
      when(col("ci") === 0, lit(cols.head))) { case (acc, (c, i)) =>
      acc.when(col("ci") === i, lit(c)) }
    // two readers below; lazy persist shares one compute
    val census = s.persist(proj
      .select(perCol: _*)
      .select(explode(array(cols.indices.map(i => col(s"__graft_s_$i")): _*)).as("s"))
      .filter(col("s").isNotNull)
      .groupBy(col("s.ci").as("ci"), col("s.seg").as("seg"), col("s.hv").as("hv"))
      .agg(count(lit(1)).as("c"))
      .select(colName.as("k"), col("seg"), col("hv"), col("c")))
    // exact global rank of every hot value: `cellPrefix` with the
    // segment as cell (≤ 2m+1 per column) and hot values ordered inside
    // it; the one null-hv row of a mixed segment stands for its cold
    // rows, which lie strictly above its hot rows (object scaladoc §3),
    // so nulls order last. Value row covers multiset indices [e, e+c-1]
    val hotRanked = Partitioning.cellPrefix(census, Seq("k"), col("seg"),
        Seq(col("hv").asc_nulls_last), col("c"))
      .filter(col("hv").isNotNull)
      .select(col("k"), col("hv").as("v"), col("c"), col(Partitioning.Prefix).as("e"))
    // probe table from the driver-held counts: a k·m-row LocalRelation
    // (statically bounded — no limit() guard needed). pos/flo/fhi stay
    // Spark expressions so the interpolation arithmetic is the same
    // plan either way.
    val probeRows = df.sparkSession
      .createDataFrame(cols.indices.map(i => (cols(i), nTotals(i))))
      .toDF("pk", "n_total")
      .select(col("pk"), col("n_total"),
        posexplode(array(probes.map(lit(_)): _*)).as(Seq("idx", "p")))
      .withColumn("pos", col("p") * (col("n_total") - 1).cast("double"))
      .withColumn("flo", floor(col("pos")).cast("long"))
      .withColumn("fhi", ceil(col("pos")).cast("long"))
    // 1-2 hot rows per probe: the ones covering index flo and/or fhi
    val matched = hotRanked.join(broadcast(probeRows),
      col("k") === col("pk") &&
        col("e") <= col("fhi") && col("flo") < col("e") + col("c"))
    val perProbe = matched.groupBy(col("k"), col("idx"))
      .agg(max(col("pos")).as("pos"),
        max(col("flo")).as("flo"), max(col("fhi")).as("fhi"),
        max(when(col("e") <= col("flo") && col("flo") < col("e") + col("c"),
          col("v"))).as("lv"),
        max(when(col("e") <= col("fhi") && col("fhi") < col("e") + col("c"),
          col("v"))).as("hv"),
        // count of rows ≤ the probe's quantile: through the value
        // covering the FLOOR index (an interpolated q lies strictly
        // between adjacent order statistics — nothing sits between)
        max(when(col("e") <= col("flo") && col("flo") < col("e") + col("c"),
          col("e") + col("c"))).as("cum"))
      .withColumn("q",
        when(col("lv").isNull || (col("fhi") =!= col("flo") && col("hv").isNull),
          raise_error(concat(lit("ExactQuantile bracket miss: column "),
            col("k"), lit(" probe #"), col("idx").cast("string"))).cast("double"))
        .otherwise(when(col("flo") === col("fhi"), col("lv"))
          .otherwise(col("lv") * (col("fhi").cast("double") - col("pos")) +
            col("hv") * (col("pos") - col("flo").cast("double")))))
    val out = perProbe
      .groupBy(col("k").as("column_name"))
      .agg(sort_array(collect_list(struct(col("idx"), col("q"), col("cum")))).as("s"))
      .select(col("column_name"),
        when(size(col("s")) === m, transform(col("s"), x => x.getField("q")))
          .otherwise(raise_error(concat(lit("ExactQuantile probe dropped: "),
            col("column_name"))).cast("array<double>")).as("qs"),
        transform(col("s"), x => x.getField("cum")).as("cums"))
    // the k-row result collects to the driver and returns as a
    // LocalRelation: consumers read literal rows instead of paying a
    // 32-task checkpoint scan per reference, and the caches can be
    // released immediately (the same reason the former shape
    // checkpointed). Rows re-enter verbatim — bit-exact.
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(out.collect(): _*), out.schema)
  }
}
