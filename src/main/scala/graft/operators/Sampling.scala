package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expressions.CrossHash
import graft.functions.Similarity
import graft.plans.Scope
import graft.sources.Tables

/** Corpus-composition operators: the sampling / mixing / packing steps
  * that sit between a filtered corpus and the tokenizer in a training
  * data pipeline. All randomness is md5-derived (CrossHash), so every
  * keep/drop decision is reproducible row-local arithmetic both engines
  * compute identically — no RNG state, no driver round-trip, and the
  * DuckDB oracle verifies the exact sample, not just its size.
  */
object Sampling {

  /** Per-language sampling rates in tenths (lang → keep 10ths). A
    * literal policy table, broadcast as a CASE expression; the oracle
    * SQL is generated from the same Seq so the two sides cannot
    * drift. */
  val strataRates: Seq[(String, Int)] = Seq(
    "en" -> 5, "de" -> 4, "es" -> 3, "fr" -> 2, "zh" -> 1)

  /** Stratified hash-sampling: keep a deterministic rate-per-language
    * subset by thresholding an md5 draw per document. Embarrassingly
    * parallel — no shuffle, no RNG: u = md5('strat-' || doc_id) mod P
    * is uniform on [0, P), kept iff u < (P/10)·rate. `weight` is the
    * Horvitz-Thompson inverse-probability weight downstream
    * aggregations re-scale by. */
  def sampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    val tenth = CrossHash.P / 10 // integer floor; both engines use P//10
    val thr = strataRates.foldLeft(lit(null).cast("long")) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(tenth * r)).otherwise(acc)
    }
    Tables.documents(spark, sfDir)
      .withColumn("draw", Similarity.md5Mod(concat(lit("strat-"), col("doc_id"))))
      .withColumn("thr", thr)
      .filter(col("draw") < col("thr"))
      .select(col("doc_id"), col("lang"),
        (lit(10.0) / strataRates.foldLeft(lit(null).cast("double")) { case (acc, (l, r)) =>
          when(col("lang") === l, lit(r.toDouble)).otherwise(acc)
        }).as("weight"))
  }

  /** Per-source target mixture weights in tenths (source → share). */
  val mixWeights: Seq[(String, Int)] = Seq.tabulate(20)(i => s"src$i" -> (4 - i % 4))

  /** Domain-mixture subsampling: re-weight the corpus toward target
    * per-source shares (the "data mixture" step of pretraining). With
    * N docs total and a target budget T = N/2, source s with weight
    * w_s gets t_s = w_s·T/Σw docs, i.e. keep-probability
    * p_s = w_s·T/(Σw·n_s), capped at 1. The md5 threshold
    * floor(P·p_s) is computed in EXACT decimal(38,0) integer
    * arithmetic on the per-source aggregate (one row per source, so
    * the wide path is free) — no float rounding anywhere, so DuckDB
    * lands on the same integer. Two tiny scalar aggs broadcast; the
    * corpus pass itself is shuffle-free. */
  def domainMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val sumW = mixWeights.map(_._2).sum.toLong
    val wCase = mixWeights.foldLeft(lit(null).cast("long")) { case (acc, (s, w)) =>
      when(col("source") === s, lit(w.toLong)).otherwise(acc)
    }
    val total = docs.agg(count(lit(1)).as("n_total"))
    val bySrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      .crossJoin(broadcast(total))
      .withColumn("t_budget", expr("n_total div 2"))             // N div 2, exact
      .withColumn("k", wCase * col("t_budget"))                  // w_s * T
      .withColumn("m", lit(sumW) * col("n_src"))                 // Σw * n_s
      // thr = floor(P * k / m), capped at P (k >= m means p_s >= 1:
      // keep everything). P·k needs up to ~100 bits for a billion-doc
      // source, so the product runs in DECIMAL(38,0) — this touches
      // one row PER SOURCE (the tiny aggregate), never the corpus, so
      // the wide-decimal path costs nothing. Integer `div` (never `/`:
      // double division is lossy past 2^53 and would break the
      // cross-engine threshold).
      .withColumn("thr", when(col("k") >= col("m"), lit(CrossHash.P)).otherwise(
        expr(s"CAST((CAST(${CrossHash.P} AS DECIMAL(38,0)) * k) div m AS BIGINT)")))
      // inverse-probability weight; exact-long ratio → one double divide
      .withColumn("sample_weight",
        greatest(lit(1.0), col("m").cast("double") / col("k").cast("double")))
      .select(col("source"), col("thr"), col("sample_weight"))
    docs
      .join(broadcast(bySrc), Seq("source"))
      .withColumn("draw", Similarity.md5Mod(concat(lit("mix-"), col("doc_id"))))
      .filter(col("draw") < col("thr"))
      .select(col("doc_id"), col("source"), col("sample_weight"))
  }

  /** TEMPERATURE-SCALED source sampling weights (α = 1/2) — the
    * multilingual-pretraining mixture rule (Conneau & Lample 2019:
    * p_s ∝ n_s^α) that up-weights small sources without flattening
    * the mix entirely; the planning table a pipeline reads before
    * materializing an epoch, the α-scaled counterpart of domain_mix's
    * explicit target shares. Per source: raw share, temperature
    * weight, temperature share, the boost ratio, and the expected doc
    * count at a half-corpus budget.
    *
    * Exactness: n_s^(1/2) is ONE correctly-rounded IEEE sqrt (both
    * engines land on the identical double — this is why α is 1/2 and
    * not an arbitrary exponent through pow/ln), quantized to an exact
    * long weight via floor(·10⁶); every share/boost is exact-long
    * operands into fixed-order divides, and expected_docs is a
    * decimal(38,0) integer floor-divide (the domain_mix widening —
    * w·budget passes 2^63 around 10^12 docs). Scale shape: one
    * map-side-combined source agg; everything after is
    * source-cardinality-sized with two 1-row broadcasts. */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val total = docs.agg(count(lit(1)).as("n_total"))
    val bySrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      .crossJoin(broadcast(total))
      .withColumn("temp_w",
        floor(sqrt(col("n_src").cast("double")) * lit(1000000.0)).cast("long"))
    val sumW = bySrc.agg(sum(col("temp_w")).as("sum_w"))
    bySrc.crossJoin(broadcast(sumW))
      .withColumn("t_budget", expr("n_total div 2"))
      .select(col("source"), col("n_src"), col("temp_w"),
        round(col("n_src").cast("double") / col("n_total").cast("double"), 6)
          .as("raw_share"),
        round(col("temp_w").cast("double") / col("sum_w").cast("double"), 6)
          .as("temp_share"),
        expr("CAST((CAST(temp_w AS DECIMAL(38,0)) * t_budget) div sum_w AS BIGINT)")
          .as("expected_docs"),
        round((col("temp_w").cast("double") / col("sum_w").cast("double"))
          / (col("n_src").cast("double") / col("n_total").cast("double")), 6)
          .as("boost"))
  }

  /** filter_sweep quality-threshold grid. */
  val FilterGrid: Seq[Double] = Seq(0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8)

  /** QUALITY-FILTER SWEEP: documents and TOKENS surviving each
    * candidate quality threshold — the budget-planning table a corpus
    * build reads before committing a filter cut (pr_curve picks the
    * cut for classifier accuracy; this prices it in token volume,
    * which is what the training budget is denominated in). The
    * quality scores are gate-proven identical doubles, so the literal
    * threshold compares identically on both engines; one scoring pass
    * fans into |grid| conditional cells, map-side combined. */
  def filterSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val q = TextMetrics.qualityScore(spark, sfDir)
      .select(col("doc_id"), col("n_words"), col("quality_score"))
    val tot = q.agg(count(lit(1)).as("n_total"), sum(col("n_words")).as("tok_total"))
    val grid = spark.range(1).select(explode(typedLit(FilterGrid)).as("threshold"))
    q.crossJoin(broadcast(grid))
      .groupBy(col("threshold"))
      .agg(sum(when(col("quality_score") >= col("threshold"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("quality_score") >= col("threshold"), col("n_words"))
          .otherwise(0L)).as("tokens_kept"))
      .crossJoin(broadcast(tot))
      .select(col("threshold"), col("n_kept"), col("tokens_kept"),
        round(col("n_kept").cast("double") / col("n_total").cast("double"), 6)
          .as("doc_share"),
        round(col("tokens_kept").cast("double") / col("tok_total").cast("double"), 6)
          .as("token_share"))
  }

  /** Reservoir size for sampleGroup. */
  val ReservoirK = 25

  /** Per-group deterministic "reservoir" sample: exactly K docs per
    * language, chosen by md5 draw order — the inspect-a-fixed-sample-
    * per-stratum step of corpus QA. A uniform random K-subset (the
    * draw is uniform and independent of content), yet fully
    * reproducible and oracle-checkable row for row.
    *
    * Scale shape: rank-by-draw runs through the bounded-heap
    * TopKPerGroup operator, NOT a row_number window — each map task
    * keeps K rows per language, so the shuffle carries K×|langs| rows
    * regardless of corpus size (a window would shuffle and sort the
    * whole corpus to take 25 rows per group). */
  def sampleGroup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        Similarity.md5Mod(concat(lit("rsv-"), col("doc_id"))).as("draw"))
      .transform(graft.plans.TopK.perGroup(
        Seq("lang"), Seq("draw" -> true, "doc_id" -> true), ReservoirK))

  /** CLASS-BALANCED downsampling: keep exactly min-class-size docs
    * per language, chosen by md5 draw — the rebalancing step before
    * training a classifier on skewed data (complement of
    * sample_stratified, which targets RATES; this targets equal
    * COUNTS). The selected subset is a uniform random k-subset per
    * class, yet fully reproducible and oracle-checkable row for row.
    *
    * The per-class quota k = min class count is data-dependent, so the
    * bounded-heap TopK (literal k) does not apply; the per-class rank
    * instead comes from `Partitioning.rangePrefix` grouped by lang —
    * exact global per-class ranks with ONE data shuffle and no
    * single-partition window over corpus rows. The lazy result reads
    * the helper's range layout, so that checkpoint is the result's own
    * storage. */
  def sampleBalanced(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        Similarity.md5Mod(concat(lit("bal-"), col("doc_id"))).as("draw"))
    val k = docs.groupBy(col("lang")).agg(count(lit(1)).as("cn"))
      .agg(min(col("cn")).as("k"))
    Partitioning.rangePrefix(s, docs, Seq("lang"), Seq(col("draw"), col("doc_id")), lit(1L))
      .crossJoin(broadcast(k))
      .withColumn("class_rank", col(Partitioning.Prefix) + 1)
      .filter(col("class_rank") <= col("k"))
      .select(col("doc_id"), col("lang"), col("class_rank"))
  }

  /** Composed preprocessing pipeline report: corpus filter (lang
    * confidence ∧ quality ∧ not-dup) → stratified hash-sample → per-
    * stratum doc/token counts with the Horvitz-Thompson estimate of
    * the full filtered corpus' token count. The point is FUSION: all
    * three stages compose into ONE Catalyst plan — the filter and the
    * sampling decision are row-local predicates that run inside the
    * same stage as the token count, nothing materializes between
    * steps, and only the final per-stratum aggregate (and the lang-ID
    * vote/dedup shuffles corpus_filter itself needs) exchange data.
    * est_tokens = Σtokens × weight is exact-long × exact-rational:
    * one multiply, bit-stable. */
  def pipelineTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val kept = TextMetrics.corpusFilter(spark, sfDir).select(col("doc_id"))
    val sampled = sampleStratified(spark, sfDir)
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    kept.join(sampled, Seq("doc_id")).join(toks, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        max(col("weight")).as("weight"))
      .select(col("lang"), col("n_docs"), col("sum_tokens"),
        (col("sum_tokens").cast("double") * col("weight")).as("est_tokens"))
  }

  /** Token budget per packed training sequence. */
  val SeqBudget: Long = 512L

  /** Cell width of the distributed prefix sum (`doc_id div PackBucket`). */
  val PackBucket: Long = 256L

  /** PACKING-EFFICIENCY EVAL over seqPack's layout — the two numbers a
    * packing policy is judged by: capacity utilization (fill_ppm — an
    * exact-integer parts-per-million, the compact_plan float-free
    * discipline; only the final partially-filled sequence leaves
    * slack) and the document-split cost (docs straddling a sequence
    * boundary train with truncated context — the quality price of
    * greedy contiguous packing). Per-language rows so a skewed
    * mixture's worst language is visible directly.
    *
    * Scale shape: one aggregate over seqPack's own output; the
    * quadratic-free prefix-sum layout is seqPack's, shared via one
    * oracle definition so the two gate rows cannot drift. HUGEINT/
    * decimal(38,0) carries tokens·10⁶ (overflows a long past ~10¹³
    * tokens — exactly the 100 TB regime). */
  def packEfficiency(spark: SparkSession, sfDir: String): DataFrame =
    seqPack(spark, sfDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (max(col("seq_last")) + 1).as("n_seqs"),
        sum(when(col("n_seqs") > 1L, 1L).otherwise(0L)).as("n_split_docs"),
        max(col("n_seqs")).as("max_doc_span"))
      .select(col("lang"), col("n_docs"), col("total_tokens"), col("n_seqs"),
        expr(s"""cast((cast(total_tokens as decimal(38,0)) * 1000000)
                | div (cast(n_seqs as decimal(38,0)) * $SeqBudget) as bigint)"""
          .stripMargin).as("fill_ppm"),
        col("n_split_docs"),
        round(col("n_split_docs").cast("double")
          / col("n_docs").cast("double"), 6).as("split_rate"),
        col("max_doc_span"))

  /** GPT-style sequence packing: per language, documents are
    * concatenated in doc_id order and cut into fixed `SeqBudget`-token
    * sequences; each document reports its global token offset and the
    * first/last sequence it lands in (documents span cuts — the
    * concat-and-chunk packing pretraining uses).
    *
    * A global running sum is inherently sequential, so a naive
    * window over `lang` is ONE task per language at 100 TB. The offset
    * is `Partitioning.cellPrefix` over the cell `doc_id div PackBucket`
    * (integer div: exact at any id) with weight `n_tokens`, so no
    * window over rows holds more than PackBucket documents. All
    * arithmetic is integer-exact; the oracle states the semantics as
    * the single naive window — same numbers. */
  def seqPack(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    Partitioning.cellPrefix(docs, Seq("lang"), expr(s"doc_id div $PackBucket"),
        Seq(col("doc_id")), col("n_tokens"))
      // "offset" is a reserved word in SQL engines; tok_offset travels safely
      .withColumnRenamed(Partitioning.Prefix, "tok_offset")
      .withColumn("seq_first", expr(s"tok_offset div $SeqBudget"))
      .withColumn("seq_last", expr(s"(tok_offset + n_tokens - 1) div $SeqBudget"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("tok_offset"),
        col("seq_first"), col("seq_last"), col("n_seqs"))
  }

  /** DSIR hashed-feature buckets. */
  final val DsirB = 1024L
  /** Documents selected. */
  final val DsirK = 100
  /** The target domain a raw document is scored against. */
  final val DsirTarget = "src0"

  /** Data Selection via Importance Resampling (Xie et al. 2023) — the
    * data-selection recipe behind domain-targeted pretraining mixes:
    * fit two hashed unigram bag-of-words models (target domain vs the
    * raw pool), score every raw document by the log importance ratio
    * Σ_tokens [ln p_tgt(h(w)) − ln p_raw(h(w))], add per-document
    * Gumbel keys, and keep the top-K — Gumbel-top-K IS sampling
    * without replacement proportional to the importance weights, but
    * with md5-derived uniforms it is also fully deterministic and
    * oracle-replayable.
    *
    * Determinism discipline: bucket log-ratios are computed ONCE per
    * bucket (1024-row table) from exact integer counts, per-doc sums
    * fold a SORTED collect_list (the bigram_lm_score pattern — float
    * addition reordered by parallelism would split the gate), and
    * every ln-derived value rounds to 6 decimals before entering the
    * ranking, with doc_id as the total-order tiebreak.
    *
    * Scale shape: two map-side-combined bucket aggregates (1024 cells
    * each — mergeable, executor-count-independent), the tiny weight
    * table broadcast onto the token stream, one per-doc reduce, and a
    * bounded-heap global top-K. The corpus never shuffles un-reduced. */
  def dsirSample(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .withColumn("bkt", pmod(Similarity.md5Mod(
        concat(lit("dsir-"), col("token"))), lit(DsirB)))
    val tgt = toks.filter(col("source") === DsirTarget)
      .groupBy(col("bkt")).agg(count(lit(1)).as("ct"))
    val raw = toks.filter(col("source") =!= DsirTarget)
      .groupBy(col("bkt")).agg(count(lit(1)).as("cr"))
    val spine = spark.range(0, DsirB).select(col("id").as("bkt"))
    val weights = spine
      .join(tgt, Seq("bkt"), "left").join(raw, Seq("bkt"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .withColumn("cr", coalesce(col("cr"), lit(0L)))
      .crossJoin(broadcast(
        tgt.agg(sum(col("ct")).as("tt")).crossJoin(raw.agg(sum(col("cr")).as("tr")))))
      .withColumn("lw",
        log((col("ct") + 1).cast("double") / (col("tt") + DsirB).cast("double")) -
          log((col("cr") + 1).cast("double") / (col("tr") + DsirB).cast("double")))
      .select(col("bkt"), col("lw"))
    val scored = toks.filter(col("source") =!= DsirTarget)
      .join(broadcast(weights), Seq("bkt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sort_array(collect_list(col("lw"))).as("lws"))
      .withColumn("log_ratio",
        round(aggregate(col("lws"), lit(0.0), (a, x) => a + x), 6))
      // Gumbel key from an md5 uniform on (0, 1): u = (h+1)/2^61 with
      // h < 2^61-1, so neither ln can hit 0 or -inf
      .withColumn("u",
        (Similarity.md5Mod(concat(lit("dsir-g-"), col("doc_id"))) + 1).cast("double") /
          lit(2305843009213693952.0))
      .withColumn("gumbel_key", round(-log(-log(col("u"))), 6))
      .withColumn("score", col("log_ratio") + col("gumbel_key"))
      .select(col("doc_id"), col("n_toks"), col("log_ratio"),
        col("gumbel_key"), col("score"))
    scored.transform(graft.plans.TopK.ranked(
        Seq(), Seq("score" -> false, "doc_id" -> true), DsirK, "rank"))
  }
}
