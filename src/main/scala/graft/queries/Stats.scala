package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Partitioning
import graft.plans.Scope
import graft.sources.Tables

/** Grouped descriptive statistics — the profiling step a pipeline runs
  * before trusting a numeric column (and the moment-based math behind
  * z-scores, covariance matrices and feature scaling).
  *
  * Spark's own `corr`/`covar_samp`/`stddev` aggregate DOUBLES, whose
  * partial-merge order differs run to run — fine for analysis, fatal
  * for a bit-exact gate. Instead the five moments (n, Σx, Σy, Σx²,
  * Σy², Σxy) are aggregated EXACTLY: inputs snap to e2 fixed-point
  * longs, products stay in longs, sums wrap in decimal(38,0) (exact,
  * order-independent, map-side combinable). The classic closed forms
  *   corr  = (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²) · √(n·Σy²−(Σy)²))
  *   covar = (n·Σxy − Σx·Σy) / (n·(n−1))   [sample]
  * then run ONCE per group on exact operands in a fixed expression
  * order, so both engines execute the identical IEEE operations.
  * Terminal stats are additionally rounded to 6 decimals to absorb any
  * last-ulp divergence in decimal→double conversion of >2^53 moments.
  */
object Stats {

  private def e2(c: Column): Column = round(c * 100).cast("long")

  /** Pearson correlation, sample covariance and stddevs of
    * (l_quantity, l_extendedprice) per return flag. One scan, one
    * shuffle on the 3-value grouping key, all moments map-side
    * combined — the shuffle carries a handful of longs per flag,
    * independent of SF.
    *
    * The moment sums stay PURE LONG in the hot loop (a decimal(38,0)
    * per-row wrap leaves Spark's compact-long aggregation path and
    * costs ~10× — measured 15.5s → ~1.5s at the 10× probe). The two
    * products that can overflow a long sum at large SF (y², x·y with
    * y ≤ 2^24) are split hi/lo around 2^25 / 2^20 per ROW and summed
    * as two longs each: sum_lo ≤ n·2^25 and sum_hi ≤ n·2^22 both hold
    * past SF 10^3; the exact wide moment reassembles ONCE per group as
    * decimal(38,0) — bit-identical to a direct wide sum, so the oracle
    * is untouched. x, x² and y sums fit a long directly to SF ~10^4. */
  def qCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val x = e2(col("l_quantity"))
    val y = e2(col("l_extendedprice"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), x.as("x"), y.as("y"))
      .select(col("l_returnflag"), col("x"), col("y"),
        (col("y") * col("y")).as("yy"), (col("x") * col("y")).as("xy"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx_l"), sum(col("y")).as("sy_l"),
        sum(col("x") * col("x")).as("sxx_l"),
        sum(expr("yy div 33554432")).as("syy_hi"),
        sum(expr("yy % 33554432")).as("syy_lo"),
        sum(expr("xy div 1048576")).as("sxy_hi"),
        sum(expr("xy % 1048576")).as("sxy_lo"))
      .select(
        col("l_returnflag"), col("n"),
        col("sx_l").cast("decimal(38,0)").as("sx"),
        col("sy_l").cast("decimal(38,0)").as("sy"),
        col("sxx_l").cast("decimal(38,0)").as("sxx"),
        (col("syy_hi").cast("decimal(38,0)") * 33554432L + col("syy_lo")).as("syy"),
        (col("sxy_hi").cast("decimal(38,0)") * 1048576L + col("sxy_lo")).as("sxy"))
      .select(
        col("l_returnflag"), col("n"),
        // exact e2 sums back to unit scale for reporting
        (col("sx").cast("double") / 100.0).as("sum_qty"),
        (col("sy").cast("double") / 100.0).as("sum_price"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
          .as("corr_qty_price"),
        // covariance in unit² scale: divide the e4 moment by 10^4
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n").cast("double") * (col("n") - 1).cast("double")) / 10000.0, 6)
          .as("covar_qty_price"),
        round(sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) /
          col("n").cast("double") / 100.0 * sqrt(col("n").cast("double") /
            (col("n") - 1).cast("double")), 6).as("stddev_qty"))
  }

  /** Winsorized aggregates per event type: clip values to the exact
    * [p12.5, p87.5] band and report robust center/spread — the
    * outlier-tolerant mean a metrics pipeline prefers when heavy tails
    * poison the plain average. Binary-fraction probes keep the
    * interpolated bounds EXACT (the q_quantiles discipline), and the
    * clip runs in cents×8 integer space — bound×8 is an exact integer
    * because the blend weight is k/8 — so the winsorized sum is an
    * exact long and the mean is one terminal divide.
    *
    * Two narrow passes: a grouped-percentile aggregate (one row per
    * type) joined back unhinted (AQE broadcasts the tiny bound table),
    * then one conditional aggregation — the events table shuffles
    * once, on the type key, with map-side combine. */
  /** Grouped ORDINARY LEAST SQUARES: price-vs-size regression per part
    * brand — slope, intercept, r² from the exact five-moment closed
    * form (the per-segment trend line every pricing/forecast dashboard
    * fits). Moments are exact longs/decimal(38,0) as in qCorr; the
    * slope, intercept and r² each evaluate ONCE per group in a fixed
    * expression order, rounded 6. One scan, one brand-keyed shuffle of
    * constant-width moment partials. Degenerate groups (zero size
    * variance) report null slope/intercept rather than dividing by
    * zero. */
  def olsByGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val m = Tables.part(spark, sfDir)
      .select(col("p_brand"), col("p_size").cast("long").as("x"),
        e2(col("p_retailprice")).as("y"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(d38) * col("x")).as("qx"),
        sum(col("y").cast(d38) * col("y")).as("qy"),
        sum(col("x").cast(d38) * col("y")).as("sxy"))
    val covN = (col("n").cast(d38) * col("sxy") - col("sx").cast(d38) * col("sy")).cast("double")
    val varX = (col("n").cast(d38) * col("qx") - col("sx").cast(d38) * col("sx")).cast("double")
    val varY = (col("n").cast(d38) * col("qy") - col("sy").cast(d38) * col("sy")).cast("double")
    m.select(col("p_brand"), col("n"),
      round(when(varX > 0, covN / varX), 6).as("slope"),
      round(when(varX > 0,
        (col("sy").cast("double") - covN / varX * col("sx").cast("double"))
          / col("n").cast("double") / 100.0), 6).as("intercept"),
      round(when(varX > 0 && varY > 0, covN * covN / (varX * varY)), 6).as("r_sq"))
  }

  /** MOMENTS-SKETCH quantile estimation (the Moments Sketch idea,
    * Gan et al. VLDB'18, first-order Cornish-Fisher form): per event
    * type, the MERGEABLE exact power sums (n, Σx, Σx², Σx³) — constant
    * state, map-side combinable, the sketch a pre-aggregated cube can
    * keep where a holistic median cannot — yield a median estimate
    * median ≈ μ − σ·skew/6, audited against the exact interpolated
    * median (dyadic 0.5 — bit-exact cross-engine). Every moment is
    * exact decimal(38,0); mean/σ/skew/estimate evaluate in one fixed
    * float expression order, rounded 6. */
  def momentsQuantile(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
    val m = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c").cast(d38) * col("c")).as("s2"),
        sum(col("c").cast(d38) * col("c") * col("c")).as("s3"),
        percentile(col("c"), lit(0.5)).as("exact_med_c"))
    // central moments from raw power sums (König-Huygens), all exact
    // until the terminal double casts
    val n = col("n").cast("double")
    val mean = col("s1").cast("double") / n
    val varP = col("s2").cast("double") / n - mean * mean
    val m3 = (col("s3").cast("double") / n -
      lit(3.0) * mean * (col("s2").cast("double") / n)) +
      lit(2.0) * mean * mean * mean
    // σ³ = sqrt(v)·v: sqrt is correctly-rounded IEEE in both engines,
    // pow(x, 3.0) is not — so the cube stays in mul/sqrt land
    val skew = m3 / (sqrt(varP) * varP)
    m.select(col("event_type"), col("n"),
      round(mean / 100.0, 6).as("mean_value"),
      round(sqrt(varP) / 100.0, 6).as("sd_value"),
      round(skew, 6).as("skewness"),
      round((mean - sqrt(varP) * skew / 6.0) / 100.0, 6).as("est_median"),
      (col("exact_med_c") / 100.0).as("exact_median"),
      round(((mean - sqrt(varP) * skew / 6.0) - col("exact_med_c")) / 100.0, 6)
        .as("est_err"))
  }

  /** BENFORD FIRST-DIGIT screen over order totals — the classic
    * fabricated-data / unit-mix detector data-quality suites run on
    * money columns: naturally-occurring multi-magnitude amounts
    * follow P(d) = log10(1 + 1/d); a synthetic or truncated
    * distribution does not (TPC-H prices, drawn uniform inside one
    * magnitude, deliberately FAIL the screen — the spec pins that).
    *
    * Determinism: the first digit comes from the DECIMAL(18,2) cents
    * long via string head — no float log in the digit path; shares
    * and the Benford expectation are single fixed-order double
    * expressions rounded to 6. One map-side-combined 9-cell
    * aggregate; the digit spine guarantees all 9 rows at any scale. */
  def benfordCheck(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = Tables.orders(spark, sfDir)
      .select((graft.functions.Money.dec2(col("o_totalprice")) * 100)
        .cast("long").as("c"))
    val obs = cents
      .select(substring(col("c").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val n = cents.agg(count(lit(1)).as("n"))
    spark.range(1, 10).select(col("id").as("digit"))
      .join(obs, Seq("digit"), "left")
      .na.fill(0L, Seq("n_obs"))
      .crossJoin(broadcast(n))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("n").cast("double"), 6)
          .as("obs_share"),
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
          .as("exp_share"),
        round(abs(col("n_obs").cast("double") / col("n").cast("double") -
          log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))), 6)
          .as("abs_dev"))
  }

  /** TWO-SAMPLE KOLMOGOROV-SMIRNOV drift test per source: each
    * source's document-length distribution against the REST of the
    * corpus — the distribution-shape companion of source_kl (KL sees
    * vocabulary drift; KS sees length/structure drift, and unlike a
    * moment z-test it is assumption-free). D = sup|F_src − F_rest|
    * evaluated at every distinct corpus length.
    *
    * Exactness: the ECDF difference stays INTEGER until the end —
    * M = max|cumA·n_rest − cumRest·n_src| over the source × length
    * spine, D = M/(n_src·n_rest) is the single terminal divide
    * (round 6), and the 95% significance test runs entirely in
    * decimal(38,0): M²·10⁴ > 18496·n_tot·n_src·n_rest is the exact
    * square of D > 1.36·√(n_tot/(n_src·n_rest)). Both engines
    * compare the identical integers, so the flag cannot flake.
    *
    * Scale shape: one (source, length) census + one length census;
    * the spine is |sources| × |distinct lengths| (metadata scale —
    * lengths collapse to thousands of cells no matter the corpus);
    * windows run inside one hash(source) layout. */
  def ksTest(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val docs = Tables.documents(spark, sfDir).select(col("source"), col("n_chars"))
    val cs = docs.groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("cs"))
    val ct = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("ct"))
    val totals = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val nTot = docs.agg(count(lit(1)).as("n_tot"))
    val spine = totals.select(col("source")).crossJoin(ct)
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(cs, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("cs"))
      .join(totals, Seq("source"))
      .crossJoin(broadcast(nTot))
      .withColumn("cumA", sum(col("cs")).over(w))
      .withColumn("cumT", sum(col("ct")).over(w))
      .withColumn("m", abs(
        col("cumA") * (col("n_tot") - col("n_src")) -
          (col("cumT") - col("cumA")) * col("n_src")))
      .groupBy(col("source"))
      .agg(max(col("m")).as("m"), max(col("n_src")).as("n_src"),
        max(col("n_tot")).as("n_tot"))
      .select(col("source"), col("n_src"),
        (col("n_tot") - col("n_src")).as("n_rest"),
        round(col("m").cast("double") /
          (col("n_src") * (col("n_tot") - col("n_src"))).cast("double"), 6)
          .as("d_stat"),
        (col("m").cast(d38) * col("m") * 10000 >
          lit(18496).cast(d38) * col("n_tot") * col("n_src") *
            (col("n_tot") - col("n_src"))).as("significant"))
  }

  /** Hill order statistics kept per source (k + 1 with k = 64). */
  final val HillK = 64

  /** HILL TAIL-INDEX estimator per source over document lengths — the
    * heavy-tail exponent α that tells a 100 TB planner whether length
    * outliers are incidental (α large) or carry a constant fraction
    * of the bytes (α ≤ 2: giant docs dominate shard sizing, straggler
    * risk, packing). γ = (1/k)·Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top-k order
    * statistics, α = 1/γ (Hill 1975).
    *
    * Exactness: the top-(k+1) per source comes from the bounded-heap
    * TopK ((n_chars desc, doc_id) total order — ties deterministic);
    * the ln fold runs over the list sorted ascending (the sourceKl
    * sorted-fold float rule, mirrored in the oracle), one round-6
    * after the fold and one after the divide; a source with all kept
    * lengths equal (γ = 0) yields null α, and a source with fewer
    * than 2 docs emits no γ. Scale shape: the bounded heap keeps
    * k + 1 rows per source with NO corpus-sized sort or shuffle — the
    * only full pass is the pruned (source, n_chars, doc_id) scan. */
  def hillTail(spark: SparkSession, sfDir: String): DataFrame = {
    val top = Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars"), col("doc_id"))
      .transform(graft.plans.TopK.perGroup(
        Seq("source"), Seq("n_chars" -> false, "doc_id" -> true), HillK + 1))
    top.groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sort_array(collect_list(struct(col("n_chars"), col("doc_id")))).as("xs"))
      .filter(col("n_kept") >= 2)
      .withColumn("xk", col("xs")(0)("n_chars"))
      .withColumn("gamma",
        round(aggregate(slice(col("xs"), 2, HillK),
          lit(0.0),
          (a, x) => a + log(x.getField("n_chars").cast("double") /
            col("xk").cast("double"))) /
          (col("n_kept") - 1).cast("double"), 6))
      .select(col("source"), (col("n_kept") - 1).as("k_used"),
        col("xk").as("x_threshold"), col("gamma"),
        when(col("gamma") > 0, round(lit(1.0) / col("gamma"), 6)).as("alpha"))
  }

  /** GINI CONCENTRATION of customer spend (the Lorenz-curve summary —
    * "how 80/20 is our revenue"): G = (2·Σ i·x᎐ᵢ − (n+1)·Σx)/(n·Σx)
    * over spend sorted ascending, plus the top-decile revenue share.
    * Every term is exact (cents are longs, the rank-weighted sum rides
    * decimal(38,0), ranks come from `Partitioning.rangePrefix` — no
    * single-partition window over customers);
    * the Gini and the share are each ONE terminal divide, round 6. */
  def giniConcentration(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val d38 = "decimal(38,0)"
    val spend = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(graft.functions.Money.dec2(col("o_totalprice")))
        .cast("decimal(18,2)").as("spend"))
      .select(col("o_custkey").as("custkey"),
        (col("spend") * 100).cast("long").as("cents"))
    val small = Partitioning.rangePrefix(s, spend, Nil, Seq(col("cents"), col("custkey")), lit(1L))
      .withColumn("i", col(Partitioning.Prefix) + 1)
      .agg(max(col(Partitioning.GroupTotal)).as("n_customers"),
        sum(col("cents")).as("sx"),
        sum(col("i").cast(d38) * col("cents")).as("six"),
        // top decile = the n div 10 highest spenders: rank i (asc)
        // strictly above n − n div 10 — an exact integer cut
        sum(when(col("i") > col(Partitioning.GroupTotal) -
          expr(s"${Partitioning.GroupTotal} div 10"), col("cents")).otherwise(0L)).as("top_cents"))
      .localCheckpoint()
    small
      .select(col("n_customers"),
        (col("sx").cast("double") / 100.0).as("total_spend"),
        round(
          (lit(2).cast(d38) * col("six") -
            (col("n_customers") + 1).cast(d38) * col("sx")).cast("double") /
            (col("n_customers").cast(d38) * col("sx")).cast("double"),
          6).as("gini"),
        round(col("top_cents").cast("double") / col("sx").cast("double"), 6)
          .as("top10_share"))
  }

  def winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = Tables.events(spark, sfDir)
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val bounds = cents.groupBy(col("event_type"))
      .agg(percentile(col("cents"), array(lit(0.125), lit(0.875))).as("q"))
      .select(col("event_type"),
        // ×8 turns the eighth-weight interpolation into an exact integer
        round(col("q")(0) * 8).cast("long").as("lo8"),
        round(col("q")(1) * 8).cast("long").as("hi8"))
    cents.join(bounds, Seq("event_type"))
      .withColumn("c8", col("cents") * 8)
      .withColumn("w8", least(greatest(col("c8"), col("lo8")), col("hi8")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("c8") < col("lo8"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("c8") > col("hi8"), 1L).otherwise(0L)).as("n_clip_hi"),
        max(col("lo8")).as("lo8"), max(col("hi8")).as("hi8"),
        sum(col("w8")).as("sw8"), sum(col("c8")).as("sc8"))
      .select(col("event_type"), col("n"), col("n_clip_lo"), col("n_clip_hi"),
        (col("lo8").cast("double") / 800.0).as("p125"),
        (col("hi8").cast("double") / 800.0).as("p875"),
        round(col("sw8").cast("double") / (col("n") * 800L).cast("double"), 6)
          .as("winsorized_mean"),
        round(col("sc8").cast("double") / (col("n") * 800L).cast("double"), 6)
          .as("raw_mean"))
  }

  /** sample_quantile_eval probes — BINARY fractions only (the
    * q_quantiles exactness rule: with integral cents and
    * binary-fraction probes, both engines' linear-interpolation
    * blends are IEEE-exact, so even the tail quantiles hash-match). */
  val SqProbes: Seq[(String, Double)] = Seq(
    "p50" -> 0.5, "p75" -> 0.75, "p875" -> 0.875,
    "p9375" -> 0.9375, "p96875" -> 0.96875)

  /** SAMPLED-QUANTILE ACCURACY EVAL: exact order-total quantiles vs
    * the same quantiles over a deterministic ~6.25% md5 sample — the
    * measurement behind every sample-based planning decision (ANALYZE
    * sampling rates, sampled histograms, AQE statistics): how wrong
    * ARE sample quantiles on this distribution, probe by probe, tail
    * included? One full quantile pass + one sampled pass (the filter
    * is row-local md5), errors as fixed-order expressions, round 6.
    *
    * Cents is ~n_orders distinct (≈1.5M at sf1, linear growth), so
    * both quantile passes route through ExactQuantile — a built-in
    * `percentile` here would merge the full value census in ONE
    * final-agg task. The unfiltered order count (parquet metadata)
    * serves as the dispatch bound for both passes (an upper bound for
    * the sample — over-dispatching a small sample to the distributed
    * path would be correct, merely slower, and cannot happen while
    * sample ≤ full). Interpolation is bit-identical to the built-in,
    * so the DuckDB hash-match is preserved by construction. */
  def sampleQuantileEval(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val nFull = cents.count()
    val probes = SqProbes.map(_._2)
    val full = graft.operators.ExactQuantile
      .percentilesOf(cents, "cents", probes, knownRowsUpper = nFull)
      .select(col("qs").as("qf"))
    val sampled = cents
      .filter(graft.functions.Similarity.md5Mod(concat(lit("sq-"), col("o_orderkey")))
        < lit(graft.expressions.CrossHash.P / 16))
    val samp = sampled.agg(count(lit(1)).as("n_sample"))
      .crossJoin(graft.operators.ExactQuantile
        .percentilesOf(sampled, "cents", probes, knownRowsUpper = nFull))
    full.crossJoin(samp)
      .select(lit(nFull).as("n_full"), col("n_sample"),
        explode(array(SqProbes.zipWithIndex.map { case ((lbl, _), i) =>
          struct(lit(lbl).as("probe"),
            (col("qf")(i) / 100.0).as("ev"),
            (col("qs")(i) / 100.0).as("sv"))
        }: _*)).as("r"))
      .select(col("r.probe").as("probe"), col("n_full"), col("n_sample"),
        round(col("r.ev"), 6).as("exact_value"),
        round(col("r.sv"), 6).as("sample_value"),
        round(abs(col("r.sv") - col("r.ev")), 6).as("abs_err"),
        round(abs(col("r.sv") - col("r.ev")) / col("r.ev"), 6).as("rel_err"))
  }
}
