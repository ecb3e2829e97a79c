package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Text-analysis operators over the documents table: marker-word
  * language ID, quality scoring, and token counting. All pure column
  * expressions (codegen'd); lang_id's marker table is a broadcast join.
  */
object TextMetrics {

  /** marker word → language votes (an n-gram/marker heuristic in the
    * spirit of CLD; tables are swappable per corpus). */
  val markers: Seq[(String, String)] = Seq(
    "the" -> "en", "a" -> "en", "fast" -> "en",
    "batch" -> "de", "window" -> "de",
    "merge" -> "fr", "sort" -> "fr",
    "filter" -> "es", "join" -> "es",
    "vector" -> "zh", "spark" -> "zh")

  /** Predict a language per document: explode tokens, join the marker
    * table (broadcast), count votes per (doc, lang), keep the top lang
    * (ties break alphabetically); docs with no marker hit → 'und'. */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val marks = markers.toDF("word", "cand_lang")
    val votes = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(marks), Seq("word"))
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("votes").desc, col("cand_lang"))
    val top = votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("cand_lang").as("pred_lang"), col("votes"))
    docs.select(col("doc_id"), col("lang"))
      .join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
        coalesce(col("votes"), lit(0L)).as("votes"))
  }

  val stopwords: Seq[String] = WordCount.stopwords

  /** Quality metrics: word count, mean word length, stopword ratio, and
    * a bounded composite score — the heuristics a pretraining filter
    * (C4/Gopher-style) applies per document. */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val nWords = size(col("toks")).cast("double")
    val avgWlen = (length(col("text")) - (nWords - 1)) / nWords
    val stopHits = size(filter(col("toks"), t => t.isInCollection(stopwords))).cast("double")
    Tables.documents(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_words", nWords.cast("long"))
      .withColumn("avg_word_len", avgWlen)
      .withColumn("stopword_ratio", stopHits / nWords)
      .withColumn("quality_score",
        least(nWords / 100.0, lit(1.0)) * 0.4
          + (lit(1.0) - col("stopword_ratio")) * 0.3
          + least(col("avg_word_len") / 8.0, lit(1.0)) * 0.3)
      .select(col("doc_id"), col("n_words"), col("avg_word_len"),
        col("stopword_ratio"), col("quality_score"))
  }

  /** Unigram rarity scoring: word frequencies learned from the corpus
    * itself (one agg), joined back, and every document scored by its
    * tokens' corpus frequencies — the cheap fluency proxy pretraining
    * filters use (integer-exact aggregates, so parallel summation is
    * bit-stable; a log-prob variant would be order-sensitive doubles).
    * The frequency table grows with the corpus vocabulary, so the join
    * strategy is left to AQE: broadcast while it fits, co-partitioned
    * shuffle join past the threshold — a forced hint would OOM the
    * driver at 100× corpus scale. */
  def unigramScore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    val freqs = words.groupBy(col("word")).agg(count(lit(1)).as("wc"))
    words.join(freqs, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("wc")).as("sum_wc"),
        sum((col("wc") === 1).cast("long")).as("hapax_tokens"),
        min(col("wc")).as("rarest_wc"))
      .withColumn("mean_wc", col("sum_wc").cast("double") / col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("sum_wc"),
        col("hapax_tokens"), col("rarest_wc"), col("mean_wc"))
  }

  /** PII-style redaction: masks email-shaped tokens, long digit runs,
    * and phone-shaped sequences via codegen'd regexp chains (the
    * pattern set is a stand-in; a production list drops in). */
  def textRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      // the corpus is clean lowercase words; synthesize findable PII
      // deterministically so the redaction path is exercised
      .withColumn("dirty", concat(col("text"),
        lit(" user"), col("doc_id"), lit("@example.com code "),
        (col("doc_id") * 37 + 1234567890L).cast("string")))
    docs.select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("dirty"), "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
          "[0-9]{7,}", "<NUM>").as("redacted"))
  }

  /** Per-language corpus summary: the profiling table a pipeline run
    * emits before/after filtering. */
  def corpusStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
        avg(col("n_chars")).as("avg_chars"),
        count_distinct(md5(col("text"))).as("distinct_texts"))

  /** The end-to-end pretraining filter: language-ID confidence, a
    * quality threshold, and exact dedup composed into ONE declarative
    * plan — what a corpus run executes before tokenization. Catalyst
    * fuses the three scans' projections; each component is itself
    * gate-verified, so the composition inherits their oracles. */
  def corpusFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val quality = qualityScore(spark, sfDir).select(col("doc_id"), col("quality_score"))
    val lang = langId(spark, sfDir).select(col("doc_id"), col("pred_lang"), col("votes"))
    val dup = Dedup.dedupExact(spark, sfDir).select(col("doc_id"), col("is_dup"))
    quality.join(lang, Seq("doc_id")).join(dup, Seq("doc_id"))
      .filter(!col("is_dup") && col("votes") >= 1 && col("quality_score") >= 0.5)
      .select(col("doc_id"), col("pred_lang"), col("quality_score"))
  }

  /** The configurable blocklist (the gate list uses corpus-present
    * words across three frequency decades so every code path is
    * exercised; a deployment swaps in its safety/NSFW/PII list). The
    * oracle SQL is generated from this Seq so the sides cannot
    * drift. */
  val blockWords: Seq[String] = Seq("slow", "big", "dup")
  /** Flag iff blocked hits >= BlockNum/BlockDen of the tokens (5%). */
  final val BlockNum = 1
  final val BlockDen = 20

  /** Wordlist BLOCKLIST filtering — the mechanism behind safety /
    * NSFW / spam list filters in corpus pipelines (the list is policy,
    * the operator is the machinery): per document, total blocked-word
    * occurrences, distinct blocked words seen, the exact-integer flag
    * decision hits·Den >= tokens·Num, and the hit ratio as one
    * deterministic divide.
    *
    * Entirely row-local (filter/array_intersect folds inside the row —
    * the repetition_score discipline): zero shuffles at any corpus
    * size, and the blocklist compiles into the expression as a literal
    * array — at a realistic list size (10^4+) the library form swaps
    * in a broadcast set join without changing the output contract. */
  def blocklistFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val words = array(blockWords.map(lit): _*)
    Tables.documents(spark, sfDir)
      .withColumn("toks", filter(split(col("text"), " "), t => t =!= ""))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_hits",
        size(filter(col("toks"), t => t.isInCollection(blockWords))).cast("long"))
      .withColumn("n_distinct_blocked",
        size(array_intersect(array_distinct(col("toks")), words)).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("n_hits"),
        col("n_distinct_blocked"),
        (col("n_hits").cast("double") / col("n_tokens")).as("hit_ratio"),
        (col("n_hits") * BlockDen >= col("n_tokens") * BlockNum).as("flagged"))
  }

  /** Longest equal run in a sorted array = the modal element's count.
    * A within-row left fold (codegen'd HigherOrderFunction) — no
    * explode, no shuffle; the oracle states the same number as
    * unnest → groupBy → max(count). */
  private def topRun(sorted: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(sorted,
      struct(lit(0).as("cur"), lit(0).as("best"), lit(null).cast("string").as("prev")),
      (acc, x) => {
        val cur = when(x === acc.getField("prev"), acc.getField("cur") + 1).otherwise(lit(1))
        struct(cur.as("cur"), greatest(acc.getField("best"), cur).as("best"), x.as("prev"))
      },
      acc => acc.getField("best"))

  /** Gopher-style repetition signals: duplicate-word fraction,
    * duplicate-bigram fraction, and the modal word/bigram share of the
    * document. High values mark boilerplate/spam for the pretraining
    * filter. Entirely row-local column expressions (the per-doc state
    * never leaves the row, so the operator is shuffle-free at any
    * scale); every ratio is an exact-integer pair divided once, so
    * both engines emit the identical double. */
  def repetitionScore(spark: SparkSession, sfDir: String): DataFrame = {
    // spread: two array_distincts + two sorted-run scans per row over
    // a single-row-group test scan otherwise run single-task (the
    // shingled() discipline; no-op where scans split naturally)
    val docs = Partitioning.spread(Tables.documents(spark, sfDir))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")).cast("long"))
      // sequence() flips to a descending range when n < 2 — guard it
      .withColumn("bigrams", when(col("n") >= 2,
        transform(sequence(lit(1), (col("n") - 1).cast("int")),
          i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))))
        .otherwise(array().cast("array<string>")))
    docs.select(
      col("doc_id"), col("n").as("n_words"),
      ((col("n") - size(array_distinct(col("toks")))).cast("double") / col("n"))
        .as("dup_word_ratio"),
      when(col("n") >= 2,
        (size(col("bigrams")) - size(array_distinct(col("bigrams")))).cast("double")
          / size(col("bigrams"))).otherwise(lit(0.0)).as("dup_bigram_ratio"),
      (topRun(array_sort(col("toks"))).cast("double") / col("n")).as("top_word_frac"),
      when(col("n") >= 2,
        topRun(array_sort(col("bigrams"))).cast("double") / size(col("bigrams")))
        .otherwise(lit(0.0)).as("top_bigram_frac"))
  }

  /** Self-trained bigram LM scoring: corpus bigram/unigram counts
    * (two aggs, joined back) score every document by its mean
    * add-one-smoothed conditional log-probability — the n-gram
    * perplexity filter (CCNet-style) with the model derived from the
    * corpus itself. Same agg → join → score shape as unigramScore;
    * the bigram table is tens-of-GB class at 100 TB corpus scale, so
    * both model joins are unhinted (AQE picks broadcast vs shuffle);
    * only the one-row vocab-size aggregate keeps a broadcast hint.
    * Float discipline: each log term is a single double divide of
    * exact longs; the per-doc sum folds in ascending sorted order on
    * both engines and rounds to 6 dp (the multimodal-entropy pattern),
    * so parallelism cannot reorder it. */
  def bigramLmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val n = spark.sessionState.conf.numShufflePartitions
    def bigramStream = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), (size(col("toks")) - 1).cast("int")),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = bigramStream.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = docs.select(explode(split(col("text"), " ")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = c1.agg(count(lit(1)).as("v"))
    // the scored side aggregates per-doc bigram TFs inside an explicit
    // hash(doc_id) layout: the model joins stream against it (AQE
    // broadcasts the vocab-sized c2/c1 until they outgrow it) and the
    // final per-doc reduce reuses the SAME layout — the instance
    // stream shuffles once, not three times. The fold weights each
    // distinct bigram's logp by its tf, sorted (logp, tf) ascending —
    // mirrored exactly in the oracle.
    val docBg = bigramStream.repartition(n, col("doc_id"))
      .groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("tf"))
    val scored = docBg
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("logp",
        log2((col("c2") + 1).cast("double") / (col("c1") + col("v")).cast("double")))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("c2")).as("sum_c2"),
        sort_array(collect_list(struct(col("logp"), col("tf")))).as("lps"))
      .withColumn("mean_logp",
        round(aggregate(col("lps"), lit(0.0),
          (a, x) => a + x.getField("tf").cast("double") * x.getField("logp")) /
          col("n_bigrams"), 6))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_c2"), lit(0L)).as("sum_c2"),
        col("mean_logp"))
  }

  /** TF-IDF keyword extraction: top-5 terms per document ranked by
    * (tf desc, df asc, term) — exact integer keys, so the ranking is
    * engine-independent; the tfidf value itself (one float multiply of
    * a log) is a rounded payload, never a sort key. The row_number +
    * filter pair rewrites to the TopKPerGroup operator (bounded
    * map-side heaps: shuffle volume is 5×docs, not every (doc, term)
    * pair) via RankFilterToTopK. */
  def docKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // per-doc TFs from the shared census warehouse
    val tf = TermCensus.docTermTf(spark, sfDir)
      .select(col("doc_id"), col("t").as("term"), col("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf") * log2(col("n_docs").cast("double") / col("df").cast("double")), 6)
          .as("tfidf"))
  }

  /** Class-based TF-IDF (the BERTopic c-TF-IDF shape): the top-10
    * terms that CHARACTERIZE each source, ranked per source by exact
    * integer keys (class tf desc, cross-class df asc, term) — the
    * float score is a rounded payload, never a sort key (the
    * docKeywords discipline, lifted from documents to classes). This
    * is the cluster-labeling pass a topic pipeline runs after
    * cluster_assign/semantic_dedup: "what is this group of documents
    * about", at class granularity where per-doc keywords are noise.
    *
    * Scale shape: class tf sums come off the shared census warehouse
    * (one pruned parquet scan), collapse to a |sources|×|vocab| table
    * in ONE map-side-combined aggregate, and src_df is a second tiny
    * aggregate over that table; the top-10 cut rides the bounded-heap
    * TopK operator so only 10×|sources| rows ever hit the final
    * window. Vocabulary-sized, not corpus-sized, after the first
    * aggregate — holds at any corpus size. */
  def topicTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val st = TermCensus.docTermTf(spark, sfDir)
      .groupBy(col("source"), col("t").as("term"))
      .agg(sum(col("tf")).as("tf"))
    val dfreq = st.groupBy(col("term")).agg(count(lit(1)).as("src_df"))
    val n = Tables.documents(spark, sfDir)
      .agg(count_distinct(col("source")).as("n_sources"))
    st.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .transform(graft.plans.TopK.ranked(
        Seq("source"),
        Seq("tf" -> false, "src_df" -> true, "term" -> true), 10, "rk"))
      .select(col("source"), col("rk"), col("term"), col("tf"), col("src_df"),
        round(col("tf") * log(col("n_sources").cast("double")
          / col("src_df").cast("double")), 6).as("ctfidf"))
  }

  /** Collocation extraction: the top-k corpus bigrams (by exact count,
    * deterministic (count, w1, w2) tiebreak) scored with pointwise
    * mutual information — the classic collocation detector (Church &
    * Hanks 1990) a corpus-analysis pass runs to find multiword terms.
    * The frequency cut rides the bounded-heap TopK operator (map tasks
    * forward at most k bigrams; no global sort of the bigram
    * vocabulary), and only the k survivors join the unigram counts —
    * the expensive side never shuffles more than once. PMI evaluates
    * in LOG SPACE — log2(c12) + 2·log2(n1) − log2(n2) − log2(c1a) −
    * log2(c1b), same term order on both engines — because the integer
    * product c12·n1² overflows decimal(38,0) once the corpus passes
    * ~10^12 tokens and would go silently NULL under non-ANSI
    * arithmetic; counts are exact in double up to 2^53. Caveat: each
    * of the five log2 calls may differ by an ulp between the JVM and
    * DuckDB's libm, so "engine-identical" here means identical AFTER
    * round(·, 6) — a flip needs a PMI within ~5·2⁻⁴⁶ of a 0.5e-6
    * boundary, never observed across the three gate SFs; a corpus
    * that hit one would need the single-log exact-ratio form
    * (quotient+remainder split) instead. */
  def collocPmi(spark: SparkSession, sfDir: String,
      minCount: Int = 5, k: Int = 50): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val bigrams = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(explode(transform(
        sequence(lit(1), (size(col("toks")) - 1).cast("int")),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n1 = c1.agg(sum(col("c")).as("n1"))
    val n2 = c2.agg(sum(col("c12")).as("n2"))
    c2.filter(col("c12") >= minCount)
      .transform(graft.plans.TopK.perGroup(Seq(),
        Seq("c12" -> false, "w1" -> true, "w2" -> true), k))
      .join(c1.select(col("w").as("w1"), col("c").as("c1a")), Seq("w1"))
      .join(c1.select(col("w").as("w2"), col("c").as("c1b")), Seq("w2"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c12"),
        round(log2(col("c12")) + log2(col("n1")) * 2 - log2(col("n2"))
          - log2(col("c1a")) - log2(col("c1b")), 6).as("pmi"))
  }

  /** Whitespace and BPE-ish token counts. The regex splits letter runs
    * of ≤4 chars, digits, and single non-alphanumerics — a rough
    * stand-in for a byte-pair vocabulary's subword lengths. */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .withColumn("ws_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("bpe_tokens",
        size(expr("regexp_extract_all(text, '[a-z]{1,4}|[0-9]|[^a-z0-9 ]', 0)")).cast("long"))
      .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"))
  }

  /** Feature-hash buckets for the linear quality classifier. */
  final val QcBuckets = 1024

  /** Model-based quality classification — the fastText/CCNet-style
    * linear filter a pretraining pipeline runs after the rule-based
    * quality_score: tokens hash into QcBuckets features, a per-bucket
    * weight vector scores the bag, the mean weight is the margin. The
    * weights here are md5-derived (so the DuckDB oracle replays the
    * score exactly); a real deployment broadcasts trained weights into
    * the same kernel. Whole plan = ONE row-local projection over the
    * corpus (no explode, no join, no shuffle): hashed-linear models
    * exist precisely so inference costs a single pass. */
  /** LANGUAGE-LABEL CONFUSION matrix: the marker-vote language ID
    * (langId) cross-tabulated against the corpus's claimed lang column
    * — the audit that catches mislabeled-language partitions before a
    * per-language sampling policy (sample_stratified) acts on bad
    * labels. Cells carry the per-labeled-language share so the
    * diagonal reads as label agreement directly. One cell-table window
    * over |langs|² rows; everything upstream is langId's own plan. */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = langId(spark, sfDir)
      .groupBy(col("lang").as("labeled_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val wL = Window.partitionBy(col("labeled_lang"))
    cells
      .withColumn("labeled_total", sum(col("n_docs")).over(wL))
      .select(col("labeled_lang"), col("pred_lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("labeled_total").cast("double"), 6)
          .as("share"),
        (col("labeled_lang") === col("pred_lang")).as("agree"))
  }

  /** INTER-GRADER AGREEMENT (Cohen's kappa) between the corpus's
    * claimed lang column and the marker-vote grader (langId) — the
    * chance-corrected statistic label-quality audits report where raw
    * accuracy misleads under class imbalance. One global multiclass
    * row plus a one-vs-rest row per class, so a single bad language
    * is visible even when the pooled kappa looks healthy.
    *
    * All marginals are exact longs off the |langs|² confusion cell
    * table; the quadratic terms (n², Σ r·c) ride decimal(38,0) so the
    * identity kappa = (n·agree − Σrc) / (n² − Σrc) stays exact at any
    * corpus size (n > 3·10⁹ overflows a long squared), with the three
    * reported ratios each ONE terminal double divide, round 6. A
    * degenerate grader pair (pe = 1) emits null kappa on both engines.
    * Scale shape: langId's one corpus pass, checkpointed cell table,
    * then everything runs on ≤ |langs|²-row inputs. */
  def labelAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = langId(spark, sfDir)
      .groupBy(col("lang").as("labeled"), col("pred_lang").as("pred"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // tiny; three consumers below reuse it
    val tot = cells.agg(sum(col("n")).as("n_docs"))
    val rowm = cells.groupBy(col("labeled").as("cls")).agg(sum(col("n")).as("r"))
    val colm = cells.groupBy(col("pred").as("cls")).agg(sum(col("n")).as("c"))
    val diag = cells.filter(col("labeled") === col("pred"))
      .select(col("labeled").as("cls"), col("n").as("a"))
    val dec = "decimal(38,0)"
    val base = rowm.join(colm, Seq("cls"), "full_outer")
      .select(col("cls"),
        coalesce(col("r"), lit(0L)).cast(dec).as("r"),
        coalesce(col("c"), lit(0L)).cast(dec).as("c"))
      .join(diag, Seq("cls"), "left")
      .select(col("cls"), col("r"), col("c"),
        coalesce(col("a"), lit(0L)).cast(dec).as("a"))
      .crossJoin(broadcast(tot.select(col("n_docs").cast(dec).as("n"))))
    val global = base
      .agg(max(col("n")).as("n"), sum(col("a")).as("agree"),
        sum(col("r") * col("c")).as("e"))
      .select(lit("__all__").as("scope"), col("n"), col("agree"), col("e"))
    val per = base.select(col("cls").as("scope"), col("n"),
      (col("a") + (col("n") - col("r") - col("c") + col("a"))).as("agree"),
      (col("r") * col("c") + (col("n") - col("r")) * (col("n") - col("c"))).as("e"))
    global.unionByName(per).select(col("scope"),
      col("n").cast("long").as("n_docs"),
      col("agree").cast("long").as("n_agree"),
      round(col("agree").cast("double") / col("n").cast("double"), 6).as("po"),
      round(col("e").cast("double") / (col("n") * col("n")).cast("double"), 6).as("pe"),
      when((col("n") * col("n")) === col("e"), lit(null).cast("double"))
        .otherwise(round((col("n") * col("agree") - col("e")).cast("double")
          / (col("n") * col("n") - col("e")).cast("double"), 6)).as("kappa"))
  }

  /** GRADER-COMPARISON SIGNIFICANCE TEST: is the hashed-linear quality
    * classifier actually better than the rule-based quality score at
    * predicting the corpus label (lang = 'en', the auc_eval ground
    * truth), or is the observed accuracy gap bootstrap noise? The
    * PAIRED test: per-document correctness bits for both graders ride
    * the SAME Poisson(1) resample draw, so each resample replays the
    * accuracy DELTA over an identical resampled corpus — the paired
    * design cancels shared-document variance exactly as a paired
    * t-test would, without its normality assumption.
    *
    * significant = the 95% percentile CI of the delta excludes 0.
    * Exactness: both graders' decisions are engine-deterministic
    * (margin_raw is an exact integer; the rule score's threshold
    * compare runs on the engine-identical quality_score double); each
    * resample delta is ONE IEEE divide of exact integer sums, so the
    * rank order is exact (the bootstrap_ci discipline). Scale shape:
    * two row-local grader passes, one row-local ×B explode, one
    * B-cell aggregate — nothing bigger than the corpus ever shuffles. */
  def graderSignificance(spark: SparkSession, sfDir: String): DataFrame = {
    val y = col("lang") === "en"
    val graders = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
      .join(qualityScore(spark, sfDir).select(col("doc_id"), col("quality_score")),
        Seq("doc_id"))
      .join(qualityClassifier(spark, sfDir).select(col("doc_id"), col("margin_raw")),
        Seq("doc_id"))
      .select(col("doc_id"),
        ((col("quality_score") >= 0.5) === y).cast("long").as("ca"),
        ((col("margin_raw") > 0L) === y).cast("long").as("cb"))
    val pt = graders.agg(count(lit(1)).as("n_docs"),
      sum(col("ca")).as("sa"), sum(col("cb")).as("sb"))
    val u = graft.functions.Similarity.md5Mod(concat(lit("gsig-"), col("doc_id"),
        lit("-"), col("b"))).cast("double") /
      lit(graft.expressions.CrossHash.P.toDouble)
    val cnt = Experiment.PoisCum.zipWithIndex
      .foldRight(lit(9): org.apache.spark.sql.Column) {
        case ((t, k), e) => when(col("u") < t, lit(k)).otherwise(e)
      }.cast("long")
    val res = Partitioning.spread(graders)
      .select(col("doc_id"), col("ca"), col("cb"),
        explode(sequence(lit(0), lit(Experiment.BootB - 1))).as("b"))
      .withColumn("u", u)
      .withColumn("cnt", cnt)
      .groupBy(col("b"))
      .agg(sum(col("cnt") * (col("ca") - col("cb"))).as("sd"),
        sum(col("cnt")).as("nb"))
      .filter(col("nb") > 0L)
      .withColumn("delta_b", col("sd").cast("double") / col("nb").cast("double"))
      .withColumn("g", lit(1))
    val wG = Window.partitionBy(col("g"))
    val ranked = res
      .withColumn("rk", row_number().over(
        wG.orderBy(col("delta_b").asc, col("b").asc)).cast("long"))
      .withColumn("bp", count(lit(1)).over(wG))
      .withColumn("lo_rk", expr("(bp * 25 + 999) div 1000"))
      .withColumn("hi_rk", expr("(bp * 975 + 999) div 1000"))
    val ci = ranked.groupBy(col("g"))
      .agg(max(col("bp")).as("n_resamples"),
        max(when(col("rk") === col("lo_rk"), col("delta_b"))).as("lo"),
        max(when(col("rk") === col("hi_rk"), col("delta_b"))).as("hi"))
    pt.crossJoin(broadcast(ci))
      .select(col("n_docs"), col("n_resamples"),
        round(col("sa").cast("double") / col("n_docs").cast("double"), 6).as("acc_rule"),
        round(col("sb").cast("double") / col("n_docs").cast("double"), 6).as("acc_model"),
        round((col("sa") - col("sb")).cast("double")
          / col("n_docs").cast("double"), 6).as("delta"),
        round(col("lo"), 6).as("ci_lo"), round(col("hi"), 6).as("ci_hi"),
        (col("lo") > 0.0 || col("hi") < 0.0).as("significant"))
  }

  /** Trigram profile width per language. */
  final val TriProfileK = 40

  /** CHARACTER-TRIGRAM language ID (the Cavnar-Trenkle / CLD profile
    * method): per-language top-K trigram profiles learned from the
    * labeled corpus, each doc scored by how much of its trigram mass
    * lands in each profile, argmax wins (alphabetical tie-break; no
    * profile hit → 'und'). The n-gram upgrade of the marker-word
    * lang_id — it works on unseen words, which is why production
    * detectors are n-gram based.
    *
    * Everything is exact integer counts and ranks. Scale shape: NO
    * per-(doc, trigram) census exists anywhere — both passes only
    * need occurrence COUNTS. Pass 1 reduces the trigram stream to
    * (lang, trigram) totals (shuffle bounded by the trigram DOMAIN —
    * |langs| × the character-trigram vocabulary, not the corpus) and
    * takes profiles through the bounded-heap TopK (≤ K×|langs| rows —
    * broadcast-sized forever). Pass 2 is ROW-LOCAL: the profile table
    * pivots into one broadcast row (patterns + language indexes into
    * the sorted language array) and the codegen'd PatternVotes kernel
    * scans each document's bytes ONCE, emitting the per-language vote
    * vector before any exchange — the argmax with alphabetical
    * tie-break is array arithmetic (languages sorted ascending,
    * array_position takes the first maximum). The previous pass 2
    * re-exploded all ~10⁹ corpus trigrams through a broadcast join
    * and a (doc, lang) count shuffle — measured 4.6s warm at sf1
    * against ~2.5s for this shape; at 100 TB the old way re-streams
    * the whole corpus trigram volume, this way streams documents. */
  def langIdTrigram(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // trigram generation for the PROFILE pass runs through the
    // codegen'd CharTrigrams expression: one O(n) byte pass per doc
    // vs the split-to-char-array + per-trigram 3-way concat chain
    // (one single-char string allocated per position). explode of a
    // plain array input keeps the whole stage codegen'd.
    // spread first: the documents table arrives as one row-group at
    // test scale and the trigram explode would otherwise run 1-core
    val base = Partitioning.spread(docs).filter(length(col("text")) >= 3)
    val tris = base.select(col("lang"),
      explode(org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expressions.CharTrigrams(
          org.apache.spark.sql.graftbridge.Bridge.expression(
            lower(col("text")))))).as("tri"))
    val profiles = tris.groupBy(col("lang").as("plang"), col("tri"))
      .agg(count(lit(1)).as("pc"))
      .transform(graft.plans.TopK.perGroup(
        Seq("plang"), Seq("pc" -> false, "tri" -> true), TriProfileK))
      .select(col("plang"), col("tri"))
    // ≤ K×|langs| patterns pivot into ONE broadcast row: sorted
    // language list, pattern strings, per-pattern language index
    val oneRow = profiles.groupBy().agg(
      sort_array(collect_set(col("plang"))).as("langs"),
      collect_list(struct(col("plang"), col("tri"))).as("pt"))
      .select(col("langs"),
        transform(col("pt"), x => x.getField("tri")).as("tris"),
        transform(col("pt"), x => (array_position(col("langs"),
          x.getField("plang")) - 1L).cast("int")).as("lidx"))
      .limit(1)
    val top = base.select(col("doc_id"), lower(col("text")).as("ltext"))
      .crossJoin(broadcast(oneRow))
      .select(col("doc_id"), col("langs"),
        graft.functions.Similarity.patternVotes(
          col("ltext"), col("tris"), col("lidx")).as("vs"))
      .select(col("doc_id"),
        element_at(col("langs"),
          array_position(col("vs"), array_max(col("vs"))).cast("int")).as("plang"),
        array_max(col("vs")).as("votes"))
      .filter(col("votes") > 0L)
    docs.select(col("doc_id"), col("lang"))
      .join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("plang"), lit("und")).as("pred_lang"),
        coalesce(col("votes"), lit(0L)).as("votes"))
      .withColumn("agree", col("lang") === col("pred_lang"))
  }

  /** Restricted vocabulary size for the KL divergence. */
  final val KlVocab = 500

  /** Per-source UNIGRAM KL DIVERGENCE from the corpus distribution —
    * the domain-shift score (DoReMi/DSIR family) that ranks sources by
    * how far their language drifts from the mixture: KL(P_s ‖ Q) over
    * the corpus top-KlVocab terms, +1 Laplace smoothing on both sides
    * so zero cells are defined. The vocabulary is a bounded-heap
    * global TopK (broadcast-sized forever); missing (source, term)
    * cells materialize through the source×vocab spine (the psi_drift
    * zero-cell rule) so both engines smooth identical zeros; the
    * V-term sum folds in sorted term order (sorted-fold float rule),
    * round-6-after-ln. One corpus census shuffle + cell arithmetic. */
  def sourceKl(spark: SparkSession, sfDir: String): DataFrame = {
    // all three token aggregates derive from the shared census
    // warehouse (Σ tf ≡ instance counts, exactly)
    val census = TermCensus.docTermTf(spark, sfDir)
    val corpus = census.groupBy(col("t")).agg(sum(col("tf")).as("ct"))
    val vocab = corpus.transform(graft.plans.TopK.perGroup(
      Seq(), Seq("ct" -> false, "t" -> true), KlVocab))
    val nTot = corpus.agg(sum(col("ct")).as("n_corpus"))
    val srcCounts = census.join(vocab.select(col("t")), Seq("t"))
      .groupBy(col("source"), col("t")).agg(sum(col("tf")).as("cs"))
    val srcTotals = census.groupBy(col("source")).agg(sum(col("tf")).as("n_src"))
    val spine = srcTotals.select(col("source")).crossJoin(vocab)
    val cells = spine
      .join(srcCounts, Seq("source", "t"), "left")
      .na.fill(0L, Seq("cs"))
      .join(srcTotals, Seq("source"))
      .crossJoin(broadcast(nTot))
      .withColumn("p", (col("cs") + 1L).cast("double") /
        (col("n_src") + KlVocab).cast("double"))
      .withColumn("q", (col("ct") + 1L).cast("double") /
        (col("n_corpus") + KlVocab).cast("double"))
      .withColumn("term", col("p") * log(col("p") / col("q")))
    cells.groupBy(col("source"))
      .agg(max(col("n_src")).as("n_tokens"),
        sort_array(collect_list(struct(col("t"), col("term")))).as("terms"))
      .select(col("source"), col("n_tokens"),
        round(aggregate(col("terms"), lit(0.0),
          (a, x) => a + x.getField("term")), 6).as("kl"))
  }

  /** Novelty n-gram width (tokens), shared with containment_dup. */
  final val NovW = 5

  /** PER-DOCUMENT N-GRAM NOVELTY against everything that came before —
    * the curriculum/temporal-dedup signal (a doc whose 5-grams have
    * all been seen in earlier docs adds no new content even when no
    * single earlier doc contains it, so pairwise dedup never flags
    * it). novelty = fraction of the doc's DISTINCT word 5-grams whose
    * corpus-wide FIRST occurrence (min doc_id — ingestion order) is
    * this doc; null when the doc is too short to carry a gram.
    *
    * Scale shape: ONE explicit hash(gram) shuffle feeds everything
    * gram-keyed — a hash(h) layout clusters (doc, h) too, so the
    * distinct, the corpus-wide first-occurrence window min, AND the
    * novelty comparison all ride the same exchange (the old shape
    * paid separate exchanges for the distinct, the min-doc aggregate,
    * and the join back) — then one doc-keyed reduce. All exact
    * integer counts, one terminal divide round 6. The gram space is
    * NOT df-capped: min is a bounded window aggregate, so hub grams
    * cost sort time, not df² rows. */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Partitioning.spread(Tables.documents(spark, sfDir))
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= NovW)
      .withColumn("g", explode(expr(
        s"""transform(sequence(1, size(toks)-${NovW - 1}),
           | i -> concat_ws(' ', element_at(toks,i), element_at(toks,i+1),
           |   element_at(toks,i+2), element_at(toks,i+3), element_at(toks,i+4)))"""
          .stripMargin)))
      .select(col("doc_id"), graft.functions.Similarity.md5Mod(col("g")).as("h"))
      .repartition(col("h"))
      .dropDuplicates("doc_id", "h")
    val perDoc = grams
      .withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("first_doc") === col("doc_id")).cast("long")).as("n_novel"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams").isNotNull,
          round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6))
          .as("novelty"))
  }

  /** Minimum docs sharing a skeleton before it counts as a template. */
  final val TemplateMinDocs = 3

  /** TEMPLATE / BOILERPLATE detection: collapse every digit run to '#'
    * and whitespace runs to one space, lowercase, hash the skeleton —
    * docs that differ only in numbers (order confirmations, listings,
    * log lines) collapse to one skeleton, and skeletons carrying ≥
    * TemplateMinDocs docs are flagged as templates. This is the cheap
    * complement to near-dup detection: MinHash sees two receipts with
    * different totals as distinct-ish; the skeleton sees them as the
    * same form letter. Every doc reports its skeleton population
    * (training pipelines downsample by it rather than hard-drop).
    *
    * Scale shape: skeleton hashing is row-local (codegen'd regexes);
    * one hash-keyed aggregate for the census, joined back UNHINTED
    * (AQE broadcasts the skeleton table while it's small, shuffles at
    * corpus scale). */
  def templateDup(spark: SparkSession, sfDir: String): DataFrame = {
    val skel = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.Similarity.md5Mod(
          regexp_replace(regexp_replace(lower(col("text")), "[0-9]+", "#"),
            // explicit class, NOT \s: Java's \s and DuckDB-RE2's \s
            // disagree on \x0B — the dialect-pinned form is identical
            // on both engines
            "[ \\t\\n\\x0B\\f\\r]+", " ")).as("skeleton"))
    val census = skel.groupBy(col("skeleton")).agg(count(lit(1)).as("n_docs_skeleton"))
    skel.join(census, Seq("skeleton"))
      .select(col("doc_id"), col("skeleton"), col("n_docs_skeleton"),
        (col("n_docs_skeleton") >= TemplateMinDocs).as("is_template"))
  }

  /** Per-document TOKEN ENTROPY — the Shannon diversity of the token
    * distribution, the quality signal that separates natural prose
    * (high entropy) from keyword stuffing and degenerate repetition
    * (low) at a given length; reported with its length-normalized form
    * H/ln(n_tokens) ∈ [0,1] (1 = all tokens distinct).
    *
    * H = ln(N) − (Σ c·ln c)/N over the per-doc token counts c — the
    * count-weighted form needs no per-token probabilities. Float
    * discipline: counts are exact longs; the Σ c·ln c fold runs over
    * the count list sorted ascending (collect_list → sort_array →
    * aggregate, the psi_drift sorted-fold rule; DuckDB folds the same
    * sorted list), and the result rounds to 6 after the one ln-bearing
    * expression. Two clustered shuffles: (doc, token) counts, then the
    * per-doc reduce — both inside one hash(doc_id) layout. */
  def tokenEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    // (doc, term) counts come from the shared census warehouse — the
    // corpus-sized explode+shuffle runs once per suite, not per query
    val counts = TermCensus.docTermTf(spark, sfDir)
      .select(col("doc_id"), col("t").as("tok"), col("tf").as("c"))
    counts
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sort_array(collect_list(col("c"))).as("cs"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(
          log(col("n_tokens").cast("double")) -
            aggregate(col("cs"), lit(0.0),
              (a, c) => a + c.cast("double") * log(c.cast("double"))) /
              col("n_tokens").cast("double"),
          6).as("entropy"),
        round(
          when(col("n_tokens") > 1,
            (log(col("n_tokens").cast("double")) -
              aggregate(col("cs"), lit(0.0),
                (a, c) => a + c.cast("double") * log(c.cast("double"))) /
                col("n_tokens").cast("double")) /
              log(col("n_tokens").cast("double")))
            .otherwise(lit(0.0)),
          6).as("entropy_norm"))
  }

  def qualityClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        column(graft.expressions.HashedLinearScore(
          expression(split(col("text"), " ")), QcBuckets)).as("r"))
      .select(col("doc_id"),
        col("r.n_tokens").as("n_tokens"), col("r.margin_raw").as("margin_raw"))
      .withColumn("score", when(col("n_tokens") > 0,
        col("margin_raw").cast("double") / (lit(1000.0) * col("n_tokens"))))
      .withColumn("flagged", col("margin_raw") > 0)
  }
}
