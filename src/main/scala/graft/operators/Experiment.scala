package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Similarity
import graft.plans.Scope
import graft.sources.Tables

/** Experimentation & monitoring analytics: A/B test evaluation,
  * distribution-drift detection (PSI), and conversion-latency
  * profiling — the measurement layer that sits on top of the event
  * pipeline. All statistics derive from exact integer counts through
  * fixed expression orders, so both engines emit bit-identical doubles
  * (rounded to 6 where a transcendental is involved).
  */
object Experiment {

  /** Bootstrap resample count. */
  final val BootB = 200

  /** Poisson(1) inverse-CDF cumulative thresholds e⁻¹·Σ 1/j! for
    * j ≤ k, k = 0..8 — decimal literals parse to the identical double
    * in both engines, so the per-(row, resample) count is
    * engine-deterministic. Counts above 9 (P < 1.1e-7 per draw) clamp
    * to 9; the truncation is part of the operator's definition and
    * identical on both sides. */
  final val PoisCum = Seq(
    0.36787944117144233, 0.7357588823428847, 0.919698602928606,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119, 0.9999897508033253, 0.9999988747945319)

  /** PERCENTILE-BOOTSTRAP confidence interval for the mean event value
    * per event type, via the POISSON BOOTSTRAP (each row contributes
    * Poisson(1) copies to each resample) — the formulation that scales:
    * the classic index-resample needs a B×n random-access join, while
    * the Poisson draw is ROW-LOCAL (one md5 per (row, resample), one
    * map-side-combined aggregate onto ≤ |types|×B cells), which is how
    * bootstrap CIs are actually computed over massive datasets.
    *
    * Exactness: values ride decimal cents (exact longs), each
    * resample mean is ONE IEEE divide of exact integers — bit-identical
    * across engines, so ranking resamples by (mean, b) is
    * engine-deterministic with no rounding anywhere before the
    * terminal outputs. The CI bounds are the ceil-rank order
    * statistics at 2.5%/97.5%, computed in exact integer arithmetic
    * ((25·B′+999) div 1000) — no float rank math. Empty resamples
    * (possible only for vanishingly small types) are excluded on both
    * engines by the same n_b > 0 rule. */
  def bootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val u = Similarity.md5Mod(concat(lit("boot-"), col("event_id"),
        lit("-"), col("b"))).cast("double") /
      lit(graft.expressions.CrossHash.P.toDouble)
    // foldRight keeps the SMALLEST threshold outermost:
    // when(u<c0,0).otherwise(when(u<c1,1).otherwise(... lit(9)))
    val cnt = PoisCum.zipWithIndex
      .foldRight(lit(9): org.apache.spark.sql.Column) {
        case ((t, k), e) => when(col("u") < t, lit(k)).otherwise(e)
      }.cast("long")
    val res = Partitioning.spread(ev)
      .select(col("event_type"), col("event_id"), col("cents"),
        explode(sequence(lit(0), lit(BootB - 1))).as("b"))
      .withColumn("u", u)
      .withColumn("cnt", cnt)
      .groupBy(col("event_type"), col("b"))
      .agg(sum(col("cnt") * col("cents")).as("sum_cents"),
        sum(col("cnt")).as("n_b"))
      .filter(col("n_b") > 0L)
      .withColumn("mean_b", col("sum_cents").cast("double")
        / (lit(100.0) * col("n_b").cast("double")))
    val wT = Window.partitionBy(col("event_type"))
    val ranked = res
      .withColumn("rk", row_number().over(
        wT.orderBy(col("mean_b").asc, col("b").asc)).cast("long"))
      .withColumn("bp", count(lit(1)).over(wT))
      .withColumn("lo_rk", expr("(bp * 25 + 999) div 1000"))
      .withColumn("hi_rk", expr("(bp * 975 + 999) div 1000"))
    val ci = ranked
      .groupBy(col("event_type"))
      .agg(max(col("bp")).as("n_resamples"),
        max(when(col("rk") === col("lo_rk"), col("mean_b"))).as("ci_lo"),
        max(when(col("rk") === col("hi_rk"), col("mean_b"))).as("ci_hi"))
    val point = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("tc"))
      .select(col("event_type"), col("n_events"),
        (col("tc").cast("double") / (lit(100.0) * col("n_events").cast("double")))
          .as("mean_value"))
    point.join(ci, Seq("event_type"))
      .select(col("event_type"), col("n_events"), col("n_resamples"),
        col("mean_value"), col("ci_lo"), col("ci_hi"))
  }

  /** PER-STEP FUNNEL A/B SIGNIFICANCE: at each funnel transition
    * (entered step k−1 → converted to step k), the 2×2 chi-square of
    * conversion by hash-split variant — the localized readout that
    * tells an experimenter WHICH step an intervention moved, where the
    * end-to-end conversion test averages the signal away. Uses the
    * same deterministic md5 variant split as ab_srm (so the SRM gate
    * certifies this test's assignment) and eventsFunnel's own
    * steps_reached, shared via one definition.
    *
    * Exactness: all four cells are exact longs; chi² =
    * n·(ad−bc)² / (n_a·n_b·(a+c)·(b+d)) rides decimal(38,0) (DuckDB
    * HUGEINT) and emits via one terminal double divide, round 6 —
    * exact while n⁵ fits 128 bits (n ≲ 10⁷ entered users per step;
    * past that, sample or widen to interval arithmetic). The
    * significance flag is the exact integer cross-multiplication
    * 1000·num > 3841·den (95% critical value), so it cannot flake;
    * degenerate steps (an empty variant, zero conversions, or
    * all-converted) emit null. */
  /** Conversion window for funnelSignificance's funnel (1 day in
    * epoch micros). The UNWINDOWED funnel (eventsFunnel) is degenerate
    * for this test — over a long enough history every user eventually
    * does everything, so all rates are 1.0; measured step survivors at
    * sf0.01 under this window: 150 → 60 → 25, a textbook funnel. */
  final val FunnelWindowUs: Long = 86400L * 1000000L

  def funnelSignificance(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val wU = Window.partitionBy(col("user_id"))
    val f = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("us"))).over(wU))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("us") > col("t_view")
          && col("us") <= col("t_view") + FunnelWindowUs, col("us"))).over(wU))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("us") > col("t_click")
          && col("us") <= col("t_click") + FunnelWindowUs, col("us"))).over(wU))
      .groupBy(col("user_id"))
      .agg(max(col("t_view")).as("tv"), max(col("t_click")).as("tc"),
        max(col("t_purchase")).as("tp"))
      .select(col("user_id"),
        when(col("tp").isNotNull, 3L).when(col("tc").isNotNull, 2L)
          .when(col("tv").isNotNull, 1L).otherwise(0L).as("steps_reached"))
      .withColumn("variant",
        pmod(Similarity.md5Mod(concat(lit("ab-"), col("user_id"))), lit(2L)))
    val steps = spark.range(1).select(explode(typedLit(Seq(1L, 2L, 3L))).as("step"))
    val cells = f.crossJoin(broadcast(steps))
      .filter(col("steps_reached") >= col("step") - 1)
      .groupBy(col("step"), col("variant"))
      .agg(count(lit(1)).as("entered"),
        sum(when(col("steps_reached") >= col("step"), 1L).otherwise(0L)).as("converted"))
    val piv = cells.groupBy(col("step")).agg(
      coalesce(max(when(col("variant") === 0L, col("entered"))), lit(0L)).as("n_a"),
      coalesce(max(when(col("variant") === 0L, col("converted"))), lit(0L)).as("conv_a"),
      coalesce(max(when(col("variant") === 1L, col("entered"))), lit(0L)).as("n_b"),
      coalesce(max(when(col("variant") === 1L, col("converted"))), lit(0L)).as("conv_b"))
    val a = col("conv_a").cast(dec)
    val b = (col("n_a") - col("conv_a")).cast(dec)
    val c = col("conv_b").cast(dec)
    val d = (col("n_b") - col("conv_b")).cast(dec)
    val n = (col("n_a") + col("n_b")).cast(dec)
    val num = n * (a * d - b * c) * (a * d - b * c)
    val den = col("n_a").cast(dec) * col("n_b").cast(dec) * (a + c) * (b + d)
    piv.withColumn("num", num).withColumn("den", den)
      .select(col("step"), col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        when(col("n_a") === 0L, lit(null).cast("double"))
          .otherwise(round(col("conv_a").cast("double") / col("n_a").cast("double"), 6))
          .as("rate_a"),
        when(col("n_b") === 0L, lit(null).cast("double"))
          .otherwise(round(col("conv_b").cast("double") / col("n_b").cast("double"), 6))
          .as("rate_b"),
        when(col("den") === 0, lit(null).cast("double"))
          .otherwise(round(col("num").cast("double") / col("den").cast("double"), 6))
          .as("chi2"),
        when(col("den") === 0, lit(null).cast("boolean"))
          .otherwise(col("num") * 1000 > col("den") * 3841).as("significant"))
  }

  /** AUDIENCE-OVERLAP MATRIX: exact Jaccard of the distinct-user sets
    * behind every event-type pair — who clicks also purchases? The
    * EXACT baseline for kmv_overlap's sketch estimate (run both on a
    * sample to calibrate the sketch's error before trusting it at full
    * scale). A zero-filled unordered type-pair spine keeps disjoint
    * audiences as explicit rows.
    *
    * Scale shape: one (type, user) distinct shuffle, then a user-keyed
    * self-join whose per-user fan-out is bounded by C(|types|, 2) — a
    * catalog constant, so the pair stream is O(users), never
    * quadratic in events. Counts exact, one terminal divide. */
  def audienceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val tu = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id")).distinct()
    val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val inter = tu.select(col("event_type").as("type_a"), col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_common"))
    val types = sizes.select(col("event_type"))
    val grid = types.select(col("event_type").as("type_a"))
      .join(types.select(col("event_type").as("type_b")),
        col("type_a") < col("type_b"))
    grid.join(broadcast(inter), Seq("type_a", "type_b"), "left")
      .na.fill(0L, Seq("n_common"))
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))),
        Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n").as("n_b"))),
        Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
  }

  /** SAMPLE-RATIO-MISMATCH check — the experiment-health gate that
    * must pass BEFORE any A/B readout is trusted: with a 50/50
    * deterministic hash split, the variant counts should differ only
    * by binomial noise; a skewed split means the assignment itself is
    * broken (trigger bias, filtering bias) and every downstream
    * metric is invalid. χ²₁ = (n_a − n_b)²/(n_a + n_b) against the
    * 3.841 critical value (95%) — the comparison runs in exact
    * integers: (n_a − n_b)²·1000 > 3841·(n_a + n_b), so the flag
    * cannot flake; the reported statistic is one terminal divide,
    * round 6. One user-distinct aggregate, then a one-row fold. */
  def abSrm(spark: SparkSession, sfDir: String): DataFrame = {
    val users = Tables.events(spark, sfDir)
      .select(col("user_id")).distinct()
      .withColumn("variant",
        pmod(Similarity.md5Mod(concat(lit("ab-"), col("user_id"))), lit(2L)))
    users.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        round((col("n_a") - col("n_b")).cast("double") *
          (col("n_a") - col("n_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"), 6).as("chi2"),
        ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")) * 1000L >
          lit(3841L) * (col("n_a") + col("n_b"))).as("srm_detected"))
  }

  /** A/B test readout: users are hashed into two variants (md5 —
    * deterministic, balanced, assignment independent of behavior) and
    * compared on revenue-per-user with the Welch two-sample z-test —
    * the continuous-metric form (a proportion test degenerates when a
    * dense event stream converts every user; revenue always varies).
    *
    * One user-keyed aggregation shuffle (revenue cents, exact longs),
    * then a single-row moment fold: per-variant n, Σx as longs and Σx²
    * in decimal(38,0) (four rows wide — free), variances via the exact
    * closed form, z in one fixed float expression rounded to 6. A
    * degenerate zero standard error reports z = 0 explicitly rather
    * than dividing by zero. */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    val users = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
          (col("value").cast("decimal(18,2)") * 100).cast("long")).otherwise(0L))
        .as("cents"))
      .withColumn("variant",
        pmod(Similarity.md5Mod(concat(lit("ab-"), col("user_id"))), lit(2L)))
    val m = users.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, col("cents")).otherwise(0L)).as("s_a"),
      sum(when(col("variant") === 0,
        col("cents").cast("decimal(38,0)") * col("cents")).otherwise(lit(0).cast("decimal(38,0)"))).as("q_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, col("cents")).otherwise(0L)).as("s_b"),
      sum(when(col("variant") === 1,
        col("cents").cast("decimal(38,0)") * col("cents")).otherwise(lit(0).cast("decimal(38,0)"))).as("q_b"))
    // degenerate-split guard (olsByGroup rule): a variant with 0 or 1
    // users would push a /(n-1) or /n division to NaN/Infinity through
    // round(); emit typed nulls instead so the failure is visible, not
    // folded into a fake statistic. Mirrored in the oracle CASE chain.
    val splitOk = col("n_a") > 1 && col("n_b") > 1
    val varA = (col("n_a").cast("decimal(38,0)") * col("q_a") -
      col("s_a").cast("decimal(38,0)") * col("s_a")).cast("double")
    val varB = (col("n_b").cast("decimal(38,0)") * col("q_b") -
      col("s_b").cast("decimal(38,0)") * col("s_b")).cast("double")
    m.select(col("n_a"), col("n_b"),
        when(col("n_a") > 0,
          round(col("s_a").cast("double") / col("n_a").cast("double") / 100.0, 6))
          .as("mean_a"),
        when(col("n_b") > 0,
          round(col("s_b").cast("double") / col("n_b").cast("double") / 100.0, 6))
          .as("mean_b"),
        // Welch z over exact moments: var = (n·Σx² − (Σx)²)/(n·(n−1))
        when(splitOk && (varA > 0 || varB > 0),
          round(
            (col("s_b").cast("double") / col("n_b").cast("double") -
              col("s_a").cast("double") / col("n_a").cast("double")) /
              sqrt(
                varA / (col("n_a").cast("double") * (col("n_a") - 1).cast("double")) /
                  col("n_a").cast("double") +
                varB / (col("n_b").cast("double") * (col("n_b") - 1).cast("double")) /
                  col("n_b").cast("double")),
            6))
          .otherwise(when(splitOk, lit(0.0)))
          .as("z_score"))
  }

  /** Segment-level experiment readout (the heterogeneity drill-down a
    * global ab_test hides): per user cohort (user_id mod 5 — a stand-in
    * for the platform/geo/tenure segment column a real bus carries),
    * conversion counts per variant, rates, absolute lift, and the
    * two-proportion pooled z — flagging segments where the treatment
    * helps or hurts even when the global readout is flat.
    *
    * Exact-integer counts; each rate/z is a fixed-order expression of
    * those ints ending in round-6 (one sqrt, the ab_test discipline).
    * Degenerate cells (a variant empty, or pooled p ∈ {0,1}) emit
    * typed nulls rather than NaN. One user rollup + one segment
    * rollup. */
  def abSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val users = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
      .withColumn("variant",
        pmod(Similarity.md5Mod(concat(lit("ab-"), col("user_id"))), lit(2L)))
      .withColumn("segment", pmod(col("user_id"), lit(5L)))
    val cells = users.groupBy(col("segment"))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("conv").cast("long")).otherwise(0L)).as("c_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("conv").cast("long")).otherwise(0L)).as("c_b"))
    val pa = col("c_a").cast("double") / col("n_a").cast("double")
    val pb = col("c_b").cast("double") / col("n_b").cast("double")
    val pool = (col("c_a") + col("c_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    val ok = col("n_a") > 0 && col("n_b") > 0
    cells.select(col("segment"), col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      when(col("n_a") > 0, round(pa, 6)).as("rate_a"),
      when(col("n_b") > 0, round(pb, 6)).as("rate_b"),
      when(ok, round(pb - pa, 6)).as("lift"),
      when(ok && pool > 0 && pool < 1, round((pb - pa) / se, 6)).as("z"))
  }

  /** SPRT boundary/likelihood constants: H0 p=0.10 vs H1 p=0.15,
    * α=0.05, β=0.20. Decision thresholds are the round-6 literals of
    * ln((1−β)/α)=ln(16) and ln(β/(1−α))=ln(4/19), hardcoded so both
    * engines compare the rounded LLR to bit-identical bounds. */
  final val SprtHi = 2.772589
  final val SprtLo = -1.558145

  /** SEQUENTIAL probability ratio test (Wald) on daily conversion — the
    * always-valid monitor an experimentation platform runs while an
    * A/B test is live, instead of peeking at a fixed-horizon z-test:
    * per variant, the cumulative log-likelihood ratio of H1 (p=0.15)
    * vs H0 (p=0.10) over daily (active users, converting users)
    * counts, with accept/continue decisions at Wald's α/β bounds.
    *
    * Determinism: trials and conversions are exact ints; the LLR is
    * cum_conv·ln(p1/p0) + (cum_n−cum_conv)·ln((1−p1)/(1−p0)) — two ln
    * calls whose ≤1-ulp cross-engine wobble scales to ~1e-12 at these
    * counts, far inside the round-6 contract. One (user, day) rollup
    * shuffle, one (variant, day) rollup, one cumulative window over
    * |days| rows per variant. */
  def abSprt(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("p"))
      .groupBy(col("user_id"), col("day"))
      .agg(max(col("p")).as("purchased"))
      .withColumn("variant",
        pmod(Similarity.md5Mod(concat(lit("ab-"), col("user_id"))), lit(2L)))
      .groupBy(col("variant"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("purchased")).cast("long").as("conv"))
    val w = Window.partitionBy(col("variant")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lr1 = log(lit(0.15) / lit(0.10))
    val lr0 = log((lit(1.0) - lit(0.15)) / (lit(1.0) - lit(0.10)))
    daily
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_conv", sum(col("conv")).over(w))
      .withColumn("llr", round(
        col("cum_conv").cast("double") * lr1 +
          (col("cum_n") - col("cum_conv")).cast("double") * lr0, 6))
      .select(col("variant"), col("day"), col("cum_n"), col("cum_conv"), col("llr"),
        when(col("llr") >= SprtHi, "accept_h1")
          .when(col("llr") <= SprtLo, "accept_h0")
          .otherwise("continue").as("decision"))
  }

  /** RFM SEGMENTATION over the purchase stream: per buyer, recency
    * (days since last purchase, against the corpus's last day),
    * frequency (purchase count), monetary (exact cent sum), each
    * scored 1–3 against the population's QUARTILE boundaries (0.25 /
    * 0.75 — dyadic fractions, so the interpolated blend over exact
    * longs is bit-identical cross-engine, the q_quantiles rule;
    * terciles would put a non-dyadic 1/3 into the position arithmetic).
    * Score semantics: top quartile of F/M (and bottom of R — recent is
    * good) scores 3, the interquartile body 2, the tail 1; boundary
    * ties take the better score (≤ / ≥, mirrored in the oracle).
    *
    * Scale shape: one user-keyed aggregation shuffle; the three
    * quartile pairs route through ExactQuantile (per-user cents sums
    * are ~n_users distinct — a built-in `percentile` would merge that
    * census in one final-agg task; recency/frequency share the path
    * for uniformity, and below the dispatch threshold all three take
    * the built-in fast lane anyway). The persisted-user count doubles
    * as the dispatch bound, so the quartiles add no probe jobs; the
    * three one-row results compose into one broadcast bounds row. */
  def eventsRfm(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val q = Seq(0.25, 0.75)
    // persisted: the buyer aggregate feeds the end-day scalar, the
    // three quartile passes, and the scored output — without the cache
    // each subtree would re-scan the event stream (5× at corpus scale)
    val users = s.persist(Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(col("cents")).as("cents")))
    val nUsers = users.count() // pins the cache AND bounds the dispatch
    val endDay = users.agg(max(col("last_day")).as("end_day"))
    val withR = users
      .crossJoin(broadcast(endDay))
      .withColumn("recency_days", col("end_day") - col("last_day"))
    val bounds = ExactQuantile
      .percentilesOf(withR, "recency_days", q, knownRowsUpper = nUsers)
      .select(col("qs").as("rq"))
      .crossJoin(ExactQuantile
        .percentilesOf(users, "frequency", q, knownRowsUpper = nUsers)
        .select(col("qs").as("fq")))
      .crossJoin(ExactQuantile
        .percentilesOf(users, "cents", q, knownRowsUpper = nUsers)
        .select(col("qs").as("mq")))
    withR
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        (col("cents").cast("double") / 100.0).as("monetary"),
        when(col("recency_days").cast("double") <= col("rq")(0), 3L)
          .when(col("recency_days").cast("double") >= col("rq")(1), 1L)
          .otherwise(2L).as("r_score"),
        when(col("frequency").cast("double") >= col("fq")(1), 3L)
          .when(col("frequency").cast("double") <= col("fq")(0), 1L)
          .otherwise(2L).as("f_score"),
        when(col("cents").cast("double") >= col("mq")(1), 3L)
          .when(col("cents").cast("double") <= col("mq")(0), 1L)
          .otherwise(2L).as("m_score"))
      .withColumn("rfm",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      // user-sized output, materialized so the scope can release the
      // buyer cache (the containment_dup discipline)
      .localCheckpoint()
  }

  /** CUPED-adjusted A/B readout (Deng et al., WSDM'13): the ab_test
    * Welch comparison, variance-reduced with each user's PRE-period
    * revenue as the control covariate. The stream splits at its exact
    * temporal midpoint (integer micros, the psi_drift rule): pre-half
    * revenue is the covariate x, post-half revenue the metric y;
    * θ = cov(x,y)/var(x) pooled over BOTH arms (the unbiased choice —
    * assignment is independent of x), and each arm's adjusted mean is
    * ȳ − θ·(x̄_arm − x̄_pool). Reported alongside: ρ² = cov²/(var_x·
    * var_y), the fraction of metric variance CUPED removes.
    *
    * Determinism: every moment (Σx, Σy, Σx², Σy², Σxy) is an exact
    * long/decimal(38,0) per arm; θ, the adjusted means, and ρ² are
    * fixed-order double expressions over those exact moments, rounded
    * to 6. One user-keyed shuffle, then single-row arithmetic. */
  def abCuped(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val mid = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    val users = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase" && col("us") < col("mid"),
          col("cents")).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase" && col("us") >= col("mid"),
          col("cents")).otherwise(0L)).as("y"))
      .withColumn("variant",
        pmod(Similarity.md5Mod(concat(lit("ab-"), col("user_id"))), lit(2L)))
    val d38 = "decimal(38,0)"
    val m = users.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x").cast(d38) * col("x")).as("qx"),
      sum(col("y").cast(d38) * col("y")).as("qy"),
      sum(col("x").cast(d38) * col("y")).as("sxy"),
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, col("x")).otherwise(0L)).as("sx_a"),
      sum(when(col("variant") === 0, col("y")).otherwise(0L)).as("sy_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, col("x")).otherwise(0L)).as("sx_b"),
      sum(when(col("variant") === 1, col("y")).otherwise(0L)).as("sy_b"))
    // pooled centered moments as EXACT decimals; doubles only at the end.
    // Degenerate guards (olsByGroup rule): zero-variance covariate or a
    // 0/1-user variant yields typed nulls, never NaN/Infinity through
    // round(). Mirrored in the oracle CASE chain.
    val varX = (col("n").cast(d38) * col("qx") - col("sx").cast(d38) * col("sx")).cast("double")
    val varY = (col("n").cast(d38) * col("qy") - col("sy").cast(d38) * col("sy")).cast("double")
    val covXY = (col("n").cast(d38) * col("sxy") - col("sx").cast(d38) * col("sy")).cast("double")
    val splitOk = col("n_a") > 1 && col("n_b") > 1
    m.select(
        col("n_a"), col("n_b"),
        when(splitOk,
          round((col("sy_b").cast("double") / col("n_b").cast("double") -
            col("sy_a").cast("double") / col("n_a").cast("double")) / 100.0, 6))
          .as("raw_diff"),
        when(varX > 0, round(covXY / varX, 6)).as("theta"),
        when(splitOk && varX > 0,
          round(
            ((col("sy_b").cast("double") / col("n_b").cast("double") -
              col("sy_a").cast("double") / col("n_a").cast("double")) -
              covXY / varX *
                (col("sx_b").cast("double") / col("n_b").cast("double") -
                  col("sx_a").cast("double") / col("n_a").cast("double"))) / 100.0,
            6))
          .as("cuped_diff"),
        when(varX > 0 && varY > 0,
          round(covXY * covXY / (varX * varY), 6))
          .as("rho_sq"))
  }

  /** Censoring horizon (days): a user quiet for more than this before
    * the stream's end is an observed churn; quiet for less is
    * right-censored (still possibly active). */
  final val KmHorizonDays = 7L

  /** KAPLAN-MEIER survival curve over user lifetimes — the
    * right-censoring-correct answer to "how long do users stay?"
    * (a naive mean lifetime is biased low: users still active at the
    * stream's end haven't finished their lifetime). Lifetime = last −
    * first active day; churn is OBSERVED only when the user has been
    * quiet for more than KmHorizonDays before the corpus's last day,
    * otherwise the lifetime is censored at its current length.
    * S(t) = Π_{u ≤ t} (1 − d_u/n_u) over event times u (d = churns at
    * u, n = at-risk: lifetime ≥ u, standard KM product-limit form).
    *
    * Determinism: d/n are exact longs via one cell-table cumulative;
    * each survival value folds (1 − d/n) factors in ascending-lifetime
    * order over the collected cell array — prefix-fold per row, O(T²)
    * on a CALENDAR-bounded cell count, every float op in fixed order,
    * round 6 (the psi_drift sorted-fold rule). One user-keyed shuffle;
    * everything after is day-cell arithmetic. */
  def survivalCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val lifetimes = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
    val endDay = lifetimes.agg(max(col("last_day")).as("end_day"))
    val cells = lifetimes.crossJoin(broadcast(endDay))
      .select((col("last_day") - col("first_day")).as("t"),
        (col("last_day") < col("end_day") - KmHorizonDays).cast("long").as("churn"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("ended"), sum(col("churn")).as("d"))
    // at-risk n_t = users with lifetime ≥ t: total minus the shorter
    // lifetimes — a cumulative over the calendar-bounded cell table
    val wt = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    val risk = cells
      .crossJoin(broadcast(cells.agg(sum(col("ended")).as("n_total"))))
      .withColumn("n_at_risk",
        col("n_total") - coalesce(sum(col("ended")).over(wt), lit(0L)))
    // survival: fold the (1 − d/n) factors for u ≤ t in ascending u —
    // the whole cell table collects into ONE array (calendar-bounded),
    // each row folds its own prefix by rank slice (the events_ewma
    // arr[1:rn] pattern — no lambda capture, both engines slice then
    // fold the identical list)
    val packed = risk.agg(
      sort_array(collect_list(struct(col("t"), col("d"), col("n_at_risk")))).as("arr"))
    val wr = Window.orderBy(col("t"))
    risk
      .withColumn("idx", row_number().over(wr))
      .crossJoin(broadcast(packed))
      .select(col("t").as("lifetime_days"), col("n_at_risk"), col("d").as("n_churned"),
        (col("ended") - col("d")).as("n_censored"),
        round(aggregate(
          slice(col("arr"), lit(1), col("idx")),
          lit(1.0),
          (acc, x) => acc * (lit(1.0) -
            x.getField("d").cast("double") / x.getField("n_at_risk").cast("double"))),
          6).as("survival"))
  }

  /** WILSON 95% confidence intervals on the daily conversion rate
    * (buying users / active users) — the uncertainty band a growth
    * dashboard must draw before anyone reads day-to-day wiggle as
    * signal (Wilson, not Wald: correct coverage at small n and extreme
    * p̂, never leaves [0,1]). Counts are exact distinct-user longs per
    * day; the interval arithmetic is a fixed chain of double ops on
    * (k, n, z=1.96) mirrored expression-for-expression in the oracle,
    * sqrt only (correctly-rounded IEEE), round 6. One day-keyed
    * distinct shuffle; everything after is day-cell arithmetic. */
  def conversionCi(spark: SparkSession, sfDir: String): DataFrame = {
    val z = 1.96
    val cells = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type"))
      .groupBy(col("day"))
      .agg(count_distinct(col("user_id")).as("n"),
        count_distinct(when(col("event_type") === "purchase", col("user_id"))).as("k"))
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val z2n = lit(z * z) / nD
    val center = (p + z2n / 2.0) / (lit(1.0) + z2n)
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / nD + z2n / (lit(4.0) * nD))) /
      (lit(1.0) + z2n)
    cells.select(col("day"), col("n").as("n_active"), col("k").as("n_buyers"),
      round(p, 6).as("rate"),
      round(center - half, 6).as("ci_lo"),
      round(center + half, 6).as("ci_hi"))
  }

  /** PSI bin width (cents) and count — the value_histogram grid,
    * clamped to a fixed spine so the index is well-defined. */
  final val PsiBinW = 5000L
  final val PsiBins = 20

  /** Population-stability-index drift monitor: split the event stream
    * at its temporal midpoint (exact integer micros), histogram the
    * money value per event type over a FIXED 20-bin spine on both
    * sides, and report PSI = Σ (p−q)·ln(p/q) with +1 Laplace smoothing
    * — the standard "did this metric's distribution move" check a
    * model-monitoring pipeline runs per feature.
    *
    * Determinism: bin counts are exact longs on a literal spine
    * (missing bins materialize via the types×bins frame, so smoothing
    * sees the same zeros on both engines); each bin's term is one
    * fixed float expression, and the 20-term sum folds in bin order
    * (sorted collect — the house float-sum discipline), rounded to 6.
    * Scale shape: one corpus aggregation onto types×bins cells
    * (map-side combined, mergeable), then cell-level arithmetic. */
  def psiDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        unix_micros(col("ts")).as("us"))
    val mid = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    val cells = ev.crossJoin(broadcast(mid))
      .select(col("event_type"),
        when(col("us") < col("mid"), lit(0)).otherwise(lit(1)).as("period"),
        least(greatest(expr(s"cents div $PsiBinW"), lit(0L)), lit(PsiBins - 1L)).as("bin"))
      .groupBy(col("event_type"), col("period"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val spine = cells.select(col("event_type")).distinct()
      .crossJoin(spark.range(0, PsiBins).select(col("id").as("bin")))
    val wide = spine
      .join(cells.filter(col("period") === 0).select(col("event_type"), col("bin"), col("c").as("c1")),
        Seq("event_type", "bin"), "left")
      .join(cells.filter(col("period") === 1).select(col("event_type"), col("bin"), col("c").as("c2")),
        Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("c1", "c2"))
    val wT = Window.partitionBy(col("event_type"))
    wide
      .withColumn("n1", sum(col("c1")).over(wT))
      .withColumn("n2", sum(col("c2")).over(wT))
      .withColumn("p", (col("c1") + 1L).cast("double") / (col("n1") + PsiBins).cast("double"))
      .withColumn("q", (col("c2") + 1L).cast("double") / (col("n2") + PsiBins).cast("double"))
      .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
      .groupBy(col("event_type"))
      .agg(max(col("n1")).as("n_before"), max(col("n2")).as("n_after"),
        sort_array(collect_list(struct(col("bin"), col("term")))).as("terms"))
      .select(col("event_type"), col("n_before"), col("n_after"),
        round(aggregate(col("terms"), lit(0.0), (a, t) => a + t.getField("term")), 6)
          .as("psi"))
  }

  /** Conversion-latency profile: per user, first view → first
    * subsequent purchase; the delay distribution is summarized by
    * exact interpolated eighth-percentiles (the q_quantiles
    * discipline — micros are < 2^53 longs, the blend is exact). The
    * number a growth team actually reads off a funnel: not whether
    * users convert, but how long it takes. One user-keyed shuffle
    * shared by both windows and the per-user reduce; `delay_us` is
    * ~n_conversions distinct, so the quantile pass routes through
    * ExactQuantile (a built-in `percentile` would merge that census
    * in one final-agg task). The per-user delay table persists across
    * count + quantiles, and the conversion count (an output column
    * anyway) doubles as the dispatch bound — zero extra jobs. */
  def funnelTime(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val w = Window.partitionBy(col("user_id"))
    val delays = s.persist(Tables.events(spark, sfDir)
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("ts") > col("t_view"), col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("t_view")).as("t_view"), max(col("t_purchase")).as("t_purchase"))
      .filter(col("t_view").isNotNull && col("t_purchase").isNotNull)
      .select((unix_micros(col("t_purchase")) - unix_micros(col("t_view"))).as("delay_us")))
    val n = delays.count()
    ExactQuantile
      .percentilesOf(delays, "delay_us", Seq(0.125, 0.25, 0.5, 0.75, 0.875),
        knownRowsUpper = n)
      .select(lit(n).as("n_conversions"),
        (col("qs")(0) / 1000000.0).as("p125_s"), (col("qs")(1) / 1000000.0).as("p25_s"),
        (col("qs")(2) / 1000000.0).as("p50_s"), (col("qs")(3) / 1000000.0).as("p75_s"),
        (col("qs")(4) / 1000000.0).as("p875_s"))
      // 1-row output, materialized so the scope can release the delay cache
      .localCheckpoint()
  }

  /** RATIO-METRIC A/B readout via the DELTA METHOD (Deng et al.) —
    * revenue per event, the metric shape ab_test's per-user Welch z
    * cannot grade (a ratio of sums is NOT a mean of per-user values;
    * treating it as one biases the variance). Per variant the ratio
    * is R = Σx/Σy over per-user (purchase cents x, event count y),
    * and Var(R) ≈ (σ_x² − 2Rσ_xy + R²σ_y²)/(n·ȳ²) from the exact
    * per-variant moment sums (Σx, Σy, Σx², Σy², Σxy in
    * decimal(38,0)); the null md5 split correctly reads
    * not-significant. One user-level reduce, one 1-row moment
    * aggregate, fixed-order float expressions, round 6; degenerate
    * splits emit typed nulls (the ab_test guard). */
  def abRatioDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val users = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
          (col("value").cast("decimal(18,2)") * 100).cast("long")).otherwise(0L))
        .as("x"),
        count(lit(1)).as("y"))
      .withColumn("variant",
        pmod(Similarity.md5Mod(concat(lit("ab-"), col("user_id"))), lit(2L)))
    def m(v: Int, c: String) = sum(when(col("variant") === v, col(c)).otherwise(0L))
    def mq(v: Int, a: String, b: String) =
      sum(when(col("variant") === v, col(a).cast("decimal(38,0)") * col(b))
        .otherwise(lit(0).cast("decimal(38,0)")))
    val mo = users.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      m(0, "x").as("sx_a"), m(0, "y").as("sy_a"),
      mq(0, "x", "x").as("qx_a"), mq(0, "y", "y").as("qy_a"), mq(0, "x", "y").as("qxy_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      m(1, "x").as("sx_b"), m(1, "y").as("sy_b"),
      mq(1, "x", "x").as("qx_b"), mq(1, "y", "y").as("qy_b"), mq(1, "x", "y").as("qxy_b"))
    // per-variant: R, Var(R) — every (co)variance numerator is the
    // exact decimal n·Σab − Σa·Σb, one cast to double, fixed order
    def side(s: String) = {
      val n = col(s"n_$s").cast("double")
      val r = col(s"sx_$s").cast("double") / col(s"sy_$s").cast("double")
      def cv(q: String, a: String, b: String) =
        (col(s"n_$s").cast("decimal(38,0)") * col(s"${q}_$s") -
          col(s"${a}_$s").cast("decimal(38,0)") * col(s"${b}_$s")).cast("double") /
          (n * (n - 1.0))
      val ybar = col(s"sy_$s").cast("double") / n
      val varR = (cv("qx", "sx", "sx") - lit(2.0) * r * cv("qxy", "sx", "sy") +
        r * r * cv("qy", "sy", "sy")) / (n * ybar * ybar)
      (r, varR)
    }
    val (ra, va) = side("a")
    val (rb, vb) = side("b")
    val ok = col("n_a") > 1 && col("n_b") > 1 && col("sy_a") > 0 && col("sy_b") > 0
    val z = (rb - ra) / sqrt(va + vb)
    mo.select(col("n_a"), col("n_b"),
      when(col("sy_a") > 0, round(ra / 100.0, 6)).as("ratio_a"),
      when(col("sy_b") > 0, round(rb / 100.0, 6)).as("ratio_b"),
      when(ok, round((rb - ra) / 100.0, 6)).as("diff"),
      when(ok && (va + vb) > 0.0, round(sqrt(va + vb) / 100.0, 6)).as("se"),
      when(ok && (va + vb) > 0.0, round(z, 6)).as("z_score"),
      when(ok && (va + vb) > 0.0, abs(z) > 1.96)
        .otherwise(lit(null).cast("boolean")).as("significant"))
  }
}
