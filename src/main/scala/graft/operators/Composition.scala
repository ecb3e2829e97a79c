package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.expressions.CrossHash
import graft.functions.Similarity
import graft.plans.Scope
import graft.sources.Tables

/** Dataset-composition operators that sit at the very end of a
  * training pipeline: the deterministic global shuffle into shards,
  * per-source epoch repetition, and stratified k-fold assignment.
  * All randomness is md5-derived (CrossHash), so shard/fold/copy
  * decisions are reproducible row-local arithmetic both engines
  * compute identically — rerunning the pipeline regenerates the
  * byte-identical dataset layout (the property a training run's
  * resume depends on).
  */
object Composition {

  /** Number of output shards for the deterministic global shuffle. */
  final val NumShards = 8

  /** Draw-range bucket width of the per-shard rank: ord is uniform on
    * [0, 2^61-1), so the cell `ord div OrdBucketW` splits each shard
    * 256 ways with balanced counts. */
  final val OrdBucketW: Long = 1L << 53

  /** Deterministic training-data shuffle: every document gets a shard
    * (md5 mod NumShards) and a dense position within its shard (rank
    * of an independent md5 draw) — the "global shuffle then shard"
    * step that randomizes example order for training while staying
    * byte-reproducible across reruns.
    *
    * A per-shard rank is inherently a global sort per shard; a naive
    * row_number window is ONE task per shard at 100 TB. The position
    * is `Partitioning.cellPrefix` over the cell `ord div OrdBucketW`
    * with weight 1, so no window holds more than ≈ shard/256 rows.
    * Everything is integer-exact; the oracle states the semantics as
    * the single naive per-shard row_number — same positions. */
  def shardAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(
      col("doc_id"),
      pmod(Similarity.md5Mod(concat(lit("shard-"), col("doc_id"))),
        lit(NumShards.toLong)).as("shard"),
      Similarity.md5Mod(concat(lit("ord-"), col("doc_id"))).as("ord"))
    Partitioning.cellPrefix(docs, Seq("shard"), expr(s"ord div ${OrdBucketW}L"),
        Seq(col("ord"), col("doc_id")), lit(1L))
      .select(col("doc_id"), col("shard"), col(Partitioning.Prefix).as("pos"))
  }

  /** Per-source target epochs in TENTHS (source → 10×epochs): the
    * LLaMA-style data recipe where high-quality sources repeat >1
    * epoch and low-quality ones subsample below 1. A literal policy
    * table; the oracle SQL is generated from the same Seq. */
  val epochTenths: Seq[(String, Int)] = Seq.tabulate(20)(i => s"src$i" -> (5 + (i * 7) % 30))

  /** Epoch-mix materialization plan: each document's copy count is
    * floor(epochs) plus one Bernoulli(frac(epochs)) md5 draw — so a
    * source with 2.5 target epochs emits 2 copies of every doc and a
    * deterministic half of the docs get a third. E[copies] = epochs
    * exactly, and the realized count is reproducible row-local
    * arithmetic: zero shuffles, no RNG state, the downstream writer
    * just explodes `n_copies`. */
  def epochMix(spark: SparkSession, sfDir: String): DataFrame = {
    val tenth = CrossHash.P / 10
    val tCase = epochTenths.foldLeft(lit(null).cast("long")) { case (acc, (s, t)) =>
      when(col("source") === s, lit(t.toLong)).otherwise(acc)
    }
    Tables.documents(spark, sfDir)
      .withColumn("tenths", tCase)
      .withColumn("draw", Similarity.md5Mod(concat(lit("epoch-"), col("doc_id"))))
      .withColumn("n_copies",
        expr("tenths div 10") +
          when(col("draw") < lit(tenth) * expr("tenths % 10"), lit(1L)).otherwise(lit(0L)))
      .select(col("doc_id"), col("source"),
        (col("tenths").cast("double") / 10.0).as("target_epochs"), col("n_copies"))
  }

  /** Composed materialization order — the end-to-end "write the
    * training set" plan: epoch replication (epochMix's copy counts)
    * explodes into concrete copy instances, every instance draws an
    * independent md5 shard + order, and the within-shard position
    * comes from the same `cellPrefix` rank on the cell
    * `ord div OrdBucketW` as shardAssign —
    * all FUSED into one Catalyst plan (the pipeline_tokens discipline:
    * the copy fan-out and the draw are row-local stages of the same
    * job, nothing materializes between steps).
    *
    * This is the order a sharded training dataloader replays: shard
    * files in `shard` order, examples within a shard in `pos` order,
    * repeated docs appearing under distinct copy indices at
    * independent positions. Deterministic end to end — a rerun
    * regenerates the byte-identical layout. */
  def trainOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val inst = epochMix(spark, sfDir)
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(0L, n_copies - 1)")).as("copy"))
      .select(col("doc_id"), col("source"), col("copy"),
        pmod(Similarity.md5Mod(
          concat(lit("tshard-"), col("doc_id"), lit("#"), col("copy"))),
          lit(NumShards.toLong)).as("shard"),
        Similarity.md5Mod(
          concat(lit("tord-"), col("doc_id"), lit("#"), col("copy"))).as("ord"))
    Partitioning.cellPrefix(inst, Seq("shard"), expr(s"ord div ${OrdBucketW}L"),
        Seq(col("ord"), col("doc_id"), col("copy")), lit(1L))
      .select(col("doc_id"), col("source"), col("copy"), col("shard"),
        col(Partitioning.Prefix).as("pos"))
  }

  /** Lags (in replay positions) probed by orderAutocorr. */
  final val AutocorrLags: Seq[Long] = Seq(1L, 2L, 4L, 8L)

  /** Shuffle-quality audit of the training order — the check a
    * dataloader team runs before a job burns GPU-months on a bad
    * shuffle: if consecutive replay positions within a shard come from
    * the same source far more often than chance, the order is
    * clustered and the optimizer sees correlated batches. For each lag
    * k, measures P(source[pos] = source[pos−k]) within a shard against
    * the ideal-shuffle expectation Σ_s p_s² (the collision probability
    * of two independent draws from the instance mix).
    *
    * Scale shape: NO per-shard sort — the lagged neighbor is found by
    * an equi-join on (shard, pos−k) against (shard, pos), i.e. one
    * hash shuffle of the order table per side with the |lags| fan-out
    * row-local on the probe side; the expected rate is a two-level
    * aggregate (per-source counts → Σ n², both map-side combined).
    * The order table is persisted: it feeds the probe side, the build
    * side, and the mix aggregate, and its own two-phase rank must not
    * be recomputed per consumer (see the range-rank resample trap).
    * All metrics end in one IEEE divide from exact integer counts. */
  def orderAutocorr(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val ord = s.persist(trainOrder(spark, sfDir)
      .select(col("shard"), col("pos"), col("source")))
    val mix = ord.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n")).as("sum_nsq"), sum(col("n")).as("n_inst"))
    val probe = ord.withColumn("lag",
      explode(array(AutocorrLags.map(lit(_)): _*)))
    probe.as("a").join(ord.as("b"),
        col("a.shard") === col("b.shard") &&
          col("b.pos") === col("a.pos") - col("a.lag"))
      .groupBy(col("a.lag").as("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("a.source") === col("b.source"), 1L).otherwise(0L)).as("n_match"))
      .crossJoin(broadcast(mix))
      .select(col("lag"), col("n_pairs"), col("n_match"),
        round(col("n_match").cast("double") / col("n_pairs").cast("double"), 6)
          .as("match_rate"),
        round(col("sum_nsq").cast("double") /
          (col("n_inst").cast("double") * col("n_inst").cast("double")), 6)
          .as("expected_rate"))
      // |lags|-row result: materialize it eagerly so the scope can
      // release the big cached order table (the graphHits pattern)
      .localCheckpoint()
  }

  /** Number of cross-validation folds. */
  final val NumFolds = 5

  /** Stratified k-fold audit: every document is assigned a fold by md5
    * (row-local, leak-free — assignment depends only on doc_id), and
    * the output is the fold × language contingency table with each
    * cell's share of its language — the balance check that validates
    * the split before cross-validation. One aggregation shuffle on
    * (fold, lang); the per-language totals ride along via a window
    * over the tiny cell table, not a second corpus pass. */
  def kfoldSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.documents(spark, sfDir)
      .select(col("lang"),
        pmod(Similarity.md5Mod(concat(lit("fold-"), col("doc_id"))),
          lit(NumFolds.toLong)).as("fold"))
      .groupBy(col("fold"), col("lang")).agg(count(lit(1)).as("n_docs"))
    val wL = Window.partitionBy(col("lang"))
    cells
      .withColumn("lang_total", sum(col("n_docs")).over(wL))
      .withColumn("lang_share",
        col("n_docs").cast("double") / col("lang_total").cast("double"))
      .select(col("fold"), col("lang"), col("n_docs"), col("lang_total"),
        col("lang_share"))
  }
}
