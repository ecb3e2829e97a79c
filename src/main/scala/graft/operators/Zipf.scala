package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Scope

/** Corpus power-law diagnostics off the term-census warehouse — the
  * two scaling curves a growing corpus build tracks per ingestion
  * round: Heaps' vocabulary growth (how fast the vocabulary, and
  * therefore every term-keyed state table, grows with tokens — the
  * sizing input for term-partitioned state at 100 TB) and the Zipf
  * rank-frequency exponent (how head-heavy the token distribution
  * is — the measured leverage of stopword pruning and hot-key
  * salting). */
object Zipf {

  /** Ranks fitted by the Zipf log-log regression. */
  final val ZipfTopN = 100

  /** Growth-curve n-gram width (tokens). Unigrams are DEGENERATE here
    * by measurement: the synthetic corpus has a 31-word vocabulary
    * that saturates inside the first decile (β = 0 everywhere), so
    * the curve runs over word trigrams, whose space actually grows
    * with the corpus — on a real corpus both levels obey Heaps and
    * the gram level is the one that sizes dedup/novelty state. */
  final val GrowW = 3

  /** HEAPS' VOCABULARY-GROWTH CURVE: cumulative distinct word-trigram
    * vocabulary and gram mass at each decile of the corpus in doc_id
    * (ingestion) order, with the local Heaps exponent
    * β = ln(V_i/V_{i-1}) / ln(T_i/T_{i-1}) between checkpoints — the
    * sizing law for every gram-keyed state table (novelty censuses,
    * dedup signatures) as ingestion continues.
    *
    * The cumulative-distinct never re-counts: each gram charges its
    * FIRST document (min doc_id — a bounded aggregate, so hub grams
    * cost one row), cumulative vocabulary is then a sum of per-doc
    * new-gram counts. Doc ranks come from
    * `Partitioning.rangePrefix` — no corpus-sized single-partition
    * window; the decile windows at the end touch 10 rows. Everything
    * is exact longs until the one ln-ratio per decile row. */
  def vocabGrowth(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    import org.apache.spark.sql.expressions.Window
    val docs = Partitioning.spread(graft.sources.Tables.documents(spark, sfDir))
      .withColumn("toks", split(col("text"), " "))
    val grams = docs.filter(size(col("toks")) >= GrowW)
      .withColumn("g", explode(expr(
        s"""transform(sequence(1, size(toks)-${GrowW - 1}),
           | i -> concat_ws(' ', element_at(toks,i), element_at(toks,i+1),
           |   element_at(toks,i+2)))""".stripMargin)))
      .select(col("doc_id"), graft.functions.Similarity.md5Mod(col("g")).as("h"))
    // No per-(doc, h) dedup before the census: min(doc_id) is
    // duplicate-insensitive and groupBy(h) dedups grams itself, so a
    // dropDuplicates here would be a second full shuffle of the
    // exploded gram table for nothing — the h agg partial-combines
    // map-side over the raw explode stream instead.
    val newGrams = grams.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc").as("doc_id")).agg(count(lit(1)).as("new_terms"))
    val perDoc = docs.select(col("doc_id"),
      greatest(size(col("toks")) - (GrowW - 1), lit(0)).cast("long").as("n_tokens"))
    val ds = perDoc.join(newGrams, Seq("doc_id"), "left")
      .na.fill(0L, Seq("new_terms"))
    val byDec = Partitioning.rangePrefix(s, ds, Nil, Seq(col("doc_id")), lit(1L))
      .withColumn("decile", expr(s"(${Partitioning.Prefix} * 10) div ${Partitioning.GroupTotal}"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok"),
        sum(col("new_terms")).as("nv"))
      .localCheckpoint()
    // decile-sized (10 rows): the unpartitioned windows are safe
    val wc = Window.orderBy(col("decile")).rowsBetween(Window.unboundedPreceding, 0)
    val wl = Window.orderBy(col("decile"))
    byDec
      .withColumn("cum_docs", sum(col("n_docs")).over(wc))
      .withColumn("cum_tokens", sum(col("tok")).over(wc))
      .withColumn("cum_vocab", sum(col("nv")).over(wc))
      .withColumn("prev_tokens", lag(col("cum_tokens"), 1).over(wl))
      .withColumn("prev_vocab", lag(col("cum_vocab"), 1).over(wl))
      .select(col("decile"), col("n_docs"), col("cum_docs"),
        col("cum_tokens").as("cum_grams"), col("cum_vocab"),
        when(col("prev_tokens").isNull || col("cum_tokens") === col("prev_tokens"),
          lit(null).cast("double"))
          .otherwise(round(
            log(col("cum_vocab").cast("double") / col("prev_vocab").cast("double"))
              / log(col("cum_tokens").cast("double") / col("prev_tokens").cast("double")),
            6)).as("heaps_beta"))
  }

  /** ZIPF RANK-FREQUENCY FIT: log-log OLS of frequency on rank over
    * the global top-ZipfTopN terms — slope ≈ −1 is the canonical
    * Zipf law; the fitted exponent plus r² is the one-row
    * head-heaviness summary (with vocab size and token mass for
    * context).
    *
    * Scale shape: term totals are one map-side-combined census agg;
    * the fit set is a BOUNDED-HEAP global top-N (K rows move, never a
    * corpus-sized window) and the regression runs over N=100 rows.
    * Float discipline: ln terms are row-local; each OLS sum folds its
    * own ASCENDING-sorted list (the psi_drift sorted-fold rule — both
    * engines fold the identical sequence), determinants and the three
    * ratios are fixed-order expressions, round 6. */
  def zipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    val totals = TermCensus.docTermTf(spark, sfDir)
      .groupBy(col("t")).agg(sum(col("tf")).as("f"))
    val grand = totals.agg(sum(col("f")).as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    val top = totals.transform(graft.plans.TopK.ranked(
        Seq(), Seq("f" -> false, "t" -> true), ZipfTopN, "rank"))
      .withColumn("lx", log(col("rank").cast("double")))
      .withColumn("ly", log(col("f").cast("double")))
    def fold(c: Column): Column =
      aggregate(sort_array(c), lit(0.0), (a, x) => a + x)
    top
      .agg(count(lit(1)).as("n_fit"), max(col("f")).as("top_tf"),
        fold(collect_list(col("lx"))).as("sx"),
        fold(collect_list(col("ly"))).as("sy"),
        fold(collect_list(col("lx") * col("lx"))).as("sxx"),
        fold(collect_list(col("lx") * col("ly"))).as("sxy"),
        fold(collect_list(col("ly") * col("ly"))).as("syy"))
      .crossJoin(broadcast(grand))
      .withColumn("nn", col("n_fit").cast("double"))
      .withColumn("dxy", col("nn") * col("sxy") - col("sx") * col("sy"))
      .withColumn("dxx", col("nn") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dyy", col("nn") * col("syy") - col("sy") * col("sy"))
      .select(col("n_fit"), col("vocab_size"), col("total_tokens"), col("top_tf"),
        round(col("dxy") / col("dxx"), 6).as("zipf_slope"),
        round((col("sy") - (col("dxy") / col("dxx")) * col("sx")) / col("nn"), 6)
          .as("intercept"),
        round((col("dxy") * col("dxy")) / (col("dxx") * col("dyy")), 6).as("r2"))
  }
}
