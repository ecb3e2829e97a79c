package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Tokenizer-training primitives.
  *
  * `bpePairs` is the first iteration of byte-pair-encoding vocabulary
  * training (Sennrich et al. 2016): count every adjacent symbol pair
  * across the corpus, weighted by word frequency — the merge
  * candidates. The scale shape matters more than the arithmetic:
  * aggregate words FIRST (the corpus collapses from O(tokens) rows to
  * O(vocabulary) rows — at 100 TB that is a 4-6 order-of-magnitude
  * reduction), then explode each distinct word's character pairs once
  * and multiply by its count. Exploding pairs per occurrence instead
  * of per distinct word would shuffle the whole corpus.
  */
object Tokenize {

  /** Vocabulary cap for vocabCoverage. */
  final val VocabSize = 1000

  /** Tokenizer vocabulary truncation: the top-V terms by corpus
    * frequency with each term's rank and the cumulative fraction of
    * all tokens covered — the curve that picks a vocab size / measures
    * the OOV rate.
    *
    * Vocabulary-first: the corpus collapses to per-term counts in one
    * map-side-combined shuffle; the GLOBAL top-V then runs through the
    * bounded-heap TopK operator with no grouping (its AllTuples path) —
    * every map task forwards at most V rows, so no global sort of the
    * vocabulary ever happens. The rank/cumsum window orders V rows in
    * one bounded partition, and the total-token count joins as a
    * broadcast scalar. Coverage = exact-long cumsum / exact-long total:
    * one IEEE divide, bit-stable. */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val upToRank = Window.orderBy(col("rank")).rowsBetween(Window.unboundedPreceding, 0)
    counts
      .transform(graft.plans.TopK.ranked(Seq(), Seq("cnt" -> false, "term" -> true), VocabSize, "rank"))
      .withColumn("cum", sum(col("cnt")).over(upToRank))
      .crossJoin(broadcast(total))
      .select(col("term"), col("cnt"), col("rank"),
        (col("cum").cast("double") / col("total").cast("double")).as("cum_coverage"))
  }

  /** Top-50 adjacent character pairs by weighted count (count desc,
    * pair asc tiebreak — fully deterministic). The top-k is a
    * TakeOrdered over the pair aggregate: bounded driver result, no
    * global sort. */
  def bpePairs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("word"))
      // length >= 2: Spark's sequence(1, 0) would run DESCENDING and
      // fabricate pairs for single-character words
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(50)

  /** Pairs reported by the second training iteration. */
  final val Bpe2TopN = 30

  /** The SECOND byte-pair-encoding iteration — the part of tokenizer
    * training bpePairs leaves out: pick the argmax pair of iteration
    * one, APPLY the merge to every word (greedy leftmost non-
    * overlapping, the BPE rule), and recount adjacent-symbol pairs
    * over the merged symbol sequences. Demonstrates the full
    * train-loop body a V-sized vocabulary run iterates; symbols are
    * now variable-length, so pairs are (left, right) columns, not
    * 2-char substrings.
    *
    * Merge application is STRING-LEVEL and engine-portable: each word
    * becomes its space-joined character sequence, and one plain
    * (non-regex) replace of "x y" -> "xy" IS the greedy leftmost merge
    * — sound because every pre-merge symbol is a single character, so
    * the pattern can only match at symbol boundaries, and both
    * engines' replace() scan leftmost non-overlapping.
    *
    * Scale shape: identical to bpePairs — everything after the
    * vocabulary collapse is per-distinct-word row-local work; the
    * argmax merge is a 1-row bounded-heap aggregate broadcast onto the
    * vocabulary. A full V-round trainer iterates this plan with the
    * merge TABLE growing by one row per round (checkpoint cadence, the
    * graph_pagerank discipline); one gated round keeps the oracle
    * replayable. */
  def bpeTrain2(spark: SparkSession, sfDir: String): DataFrame = {
    val words = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    val merge1 = words
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
      .transform(graft.plans.TopK.perGroup(
        Seq(), Seq("cnt" -> false, "pair" -> true), 1))
      .select(col("pair").as("m"))
    words.crossJoin(broadcast(merge1))
      .withColumn("spaced", expr(
        "array_join(transform(sequence(1, length(word)), i -> substr(word, i, 1)), ' ')"))
      .withColumn("merged", expr(
        "replace(spaced, concat(substr(m, 1, 1), ' ', substr(m, 2, 1)), m)"))
      .withColumn("syms", split(col("merged"), " "))
      .filter(size(col("syms")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, size(syms) - 1), i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
        .as("p"))
      .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
      .agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("left_sym"), col("right_sym"))
      .limit(Bpe2TopN)
  }

  /** TOKENIZER FERTILITY by source — the tokenizer-selection table:
    * fertility (subword tokens per whitespace word) and compression
    * (chars per subword token) tell you which sources a tokenizer
    * fragments worst, i.e. where sequence budgets and training cost
    * blow up. Uses token_count's own two tokenizations (whitespace,
    * BPE-ish regex) so the two gate rows describe the same streams;
    * exact integer sums per source, ratios as single fixed divides
    * rounded to 6. One aggregation shuffle on source. */
  def tokenizerFertility(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.documents(spark, sfDir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        size(expr("regexp_extract_all(text, '[a-z]{1,4}|[0-9]|[^a-z0-9 ]', 0)"))
          .cast("long").as("bpe"),
        length(col("text")).cast("long").as("chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("chars")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        round(col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("bpe_tokens").cast("double"), 6)
          .as("chars_per_token"))
}
