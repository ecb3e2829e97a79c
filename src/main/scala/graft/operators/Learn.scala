package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Scope
import graft.sources.Tables

/** Distributed model-training primitives — the full-batch gradient
  * step a data-parallel trainer runs per iteration, expressed as the
  * aggregation it really is: per-feature partial sums on every
  * partition, merged associatively (the AllReduce), one weight update.
  */
object Learn {

  /** Hashed feature buckets (fastText-style feature hashing). */
  final val LrBuckets = 256L
  /** Learning rate 1/128 — a BINARY fraction, so the update is exact
    * in IEEE doubles on both engines. */
  final val LrEtaInv = 128L

  /** One FULL-BATCH logistic-regression gradient step from zero
    * weights on hashed token counts, labels y = (lang = 'en') — the
    * data-parallel training step in its honest distributed form. At
    * w = 0 the sigmoid is EXACTLY 1/2, so the gradient
    * g_j = Σ_docs (σ(w·x) − y)·x_j collapses to (mass_neg −
    * mass_pos)/2 per bucket: every term is an exact long and the two
    * divides (by 2 and by η⁻¹ = 128) are binary-exact — the one GD
    * step that is bit-reproducible with NO float-sum ordering anywhere
    * (later steps need exp() and are where a deployment accepts
    * nondeterminism or fixes partition order; this operator pins the
    * mechanics: hash → per-bucket partial sums → merge → update).
    *
    * Scale shape: ONE map-side-combined shuffle of (bucket, class)
    * partial sums — shuffle volume is 2×LrBuckets cells per partition
    * regardless of corpus size, exactly an AllReduce's payload. */
  def logregGrad(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("j",
        pmod(graft.functions.Similarity.md5Mod(concat(lit("lr-"), col("tok"))),
          lit(LrBuckets)))
      .groupBy(col("j"))
      .agg(sum(col("y")).as("s_pos"), sum(lit(1L) - col("y")).as("s_neg"))
      .select(col("j"), col("s_pos"), col("s_neg"),
        ((col("s_neg") - col("s_pos")).cast("double") / 2.0).as("grad"),
        ((col("s_pos") - col("s_neg")).cast("double") / (2.0 * LrEtaInv))
          .as("w_next"))
  }

  /** Exact ROC-AUC of the hashed-linear quality classifier against the
    * lang = 'en' label — the eval metric that closes the train/score
    * loop (logreg_grad trains, quality_classifier scores, this
    * grades). AUC is the rank statistic P(score⁺ > score⁻) with ties
    * counted half; computed EXACTLY from integer counts per distinct
    * score: Σ_s np_s·(2·below_s + nn_s) / (2·P·N), where below_s is
    * the negative mass strictly under s — the numerator stays in
    * decimal(38,0) (the ×2 keeps the tie-half integral), ONE terminal
    * divide, round 6.
    *
    * The cumulative-below runs on the distinct-score cell table via
    * `Partitioning.rangePrefix` — distinct scores are corpus-sized at
    * 100 TB, so no single-partition window touches them. */
  def aucEval(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val lbl = Tables.documents(spark, sfDir)
      .select(col("doc_id"), when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val scored = TextMetrics.qualityClassifier(spark, sfDir)
      .select(col("doc_id"), col("score"))
      .filter(col("score").isNotNull)
      .join(lbl, Seq("doc_id"))
    val cells = scored.groupBy(col("score"))
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
    Partitioning.rangePrefix(s, cells, Nil, Seq(col("score")), col("nn"))
      .select(col("np"), col("nn"), col(Partitioning.Prefix).as("below"))
      .agg(sum(col("np")).as("p"), sum(col("nn")).as("nneg"),
        sum(col("np").cast("decimal(38,0)") * (lit(2L) * col("below") + col("nn")))
          .as("num2"))
      .select(col("p").as("n_pos"), col("nneg").as("n_neg"),
        round(col("num2").cast("double") /
          (lit(2.0) * col("p").cast("double") * col("nneg").cast("double")), 6)
          .as("auc"))
      .localCheckpoint()
  }

  /** Calibration bins over the score range [-1, 1]. */
  final val CalBins = 10L

  /** CALIBRATION CURVE (reliability diagram) of the quality classifier
    * against the lang = 'en' label — AUC says the RANKING is good;
    * calibration says whether the score VALUES mean anything. Scores
    * bin into CalBins fixed-width cells over [-1, 1] (clamped); each
    * cell reports its exact count, mean score (exact margin rationals
    * summed in decimal — no float accumulation), and positive rate.
    * One corpus pass plus a bin-cell reduce. */
  def calibrationCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val lbl = Tables.documents(spark, sfDir)
      .select(col("doc_id"), when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    TextMetrics.qualityClassifier(spark, sfDir)
      .filter(col("score").isNotNull)
      .join(lbl, Seq("doc_id"))
      // bin = floor((clamp(score,-1,1) + 1) / 2 * CalBins), top edge
      // closed — pure double arithmetic on the gate-proven score
      .withColumn("bin",
        least(floor((least(greatest(col("score"), lit(-1.0)), lit(1.0)) + 1.0)
          / 2.0 * CalBins).cast("long"), lit(CalBins - 1)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("y")).as("n_pos"),
        sum(col("margin_raw")).as("sum_margin"),
        sum(col("n_tokens")).as("sum_ntok"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        round(col("sum_margin").cast("double") /
          (lit(1000.0) * col("sum_ntok").cast("double")), 6).as("mean_score_approx"),
        round(col("n_pos").cast("double") / col("n_docs").cast("double"), 6)
          .as("pos_rate"))
  }

  /** woe_binning label cut: quality_score < 0.67 splits the corpus
    * ~50/50 at sf0.01 (probed median 0.672). */
  final val WoeQualityCut = 0.67

  /** WEIGHT-OF-EVIDENCE / INFORMATION-VALUE feature profiling against
    * the low-quality label — the credit-scoring-style screen that
    * ranks candidate filter features BEFORE anyone trains on them.
    * Three features by construction: 'chars' and 'stopword' really
    * drive the label (quality_score is built from length and stopword
    * terms — their IV must come out large) and 'hash_noise' is an
    * md5-parity null control (IV ≈ 0) — the output table demonstrates
    * the discriminative-vs-noise ranking IV exists to make.
    *
    * WOE_bin = ln((pos_share)/(neg_share)) with typed nulls for
    * one-class bins; IV terms from the same fixed-order expression.
    * Scale shape: one corpus pass fans each row into 3 (feature, bin)
    * cells; the map-side-combined shuffle carries the tiny cell grid,
    * totals broadcast from one row. */
  def woeBinning(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars"))
      .join(TextMetrics.qualityScore(spark, sfDir)
        .select(col("doc_id"), col("quality_score"), col("stopword_ratio")),
        Seq("doc_id"))
      .withColumn("y", (col("quality_score") < WoeQualityCut).cast("long"))
    val feats = base.select(col("y"), explode(array(
        struct(lit("chars").as("feature"),
          least(expr("n_chars div 100"), lit(5L)).as("bin")),
        struct(lit("stopword").as("feature"),
          least(floor(col("stopword_ratio") * 20).cast("long"), lit(4L)).as("bin")),
        struct(lit("hash_noise").as("feature"),
          pmod(graft.functions.Similarity.md5Mod(concat(lit("woe-"), col("doc_id"))),
            lit(4L)).as("bin")))).as("fb"))
      .select(col("y"), col("fb.feature").as("feature"), col("fb.bin").as("bin"))
    val tot = base.agg(sum(col("y")).as("p_tot"), sum(lit(1L) - col("y")).as("n_tot"))
    val a = col("n_pos").cast("double") / col("p_tot").cast("double")
    val b = col("n_neg").cast("double") / col("n_tot").cast("double")
    val oneClass = col("n_pos") === 0L || col("n_neg") === 0L
    feats.groupBy(col("feature"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"),
        sum(lit(1L) - col("y")).as("n_neg"))
      .crossJoin(broadcast(tot))
      .select(col("feature"), col("bin"), col("n_docs"), col("n_pos"), col("n_neg"),
        when(oneClass, lit(null).cast("double"))
          .otherwise(round(log(a / b), 6)).as("woe"),
        when(oneClass, lit(null).cast("double"))
          .otherwise(round((a - b) * log(a / b), 6)).as("iv_term"))
  }

  /** pr_curve threshold grid in PER-MILL score units, covering the
    * observed score mass (sf0.01: p5 ≈ −0.43, median ≈ −0.28,
    * p95 ≈ −0.14 — probed before fixing the grid so the sweep is not
    * degenerate at either end). */
  val PrThresholdsMilli: Seq[Long] =
    Seq(-500L, -450L, -400L, -350L, -325L, -300L, -275L, -250L, -225L,
      -200L, -175L, -150L, -100L, -50L, 0L)

  /** PRECISION/RECALL/F1 THRESHOLD SWEEP of the quality classifier
    * against the lang = 'en' label — the operating-point picker
    * beside auc_eval's ranking grade and calibration_curve's score
    * meaning: a filtering deployment reads this table to choose the
    * cut. EXACT at every threshold: score > t/1000 rewrites to the
    * integer predicate margin_raw > t·n_tokens (n_tokens > 0), so no
    * float compare anywhere; the confusion counts are longs and each
    * metric is one terminal divide (F1 = 2tp/(2tp+fp+fn) — the
    * harmonic mean without intermediate rounding).
    *
    * Scale shape: ONE corpus scoring pass fans out against the
    * broadcast literal grid; the map-side-combined shuffle carries
    * |grid| cells per partition regardless of corpus size. */
  def prCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val lbl = Tables.documents(spark, sfDir)
      .select(col("doc_id"), when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val scored = TextMetrics.qualityClassifier(spark, sfDir)
      .filter(col("score").isNotNull)
      .select(col("doc_id"), col("margin_raw"), col("n_tokens"))
      .join(lbl, Seq("doc_id"))
    val grid = spark.range(1)
      .select(explode(typedLit(PrThresholdsMilli)).as("t_milli"))
    scored.crossJoin(broadcast(grid))
      .withColumn("pred", col("margin_raw") > col("t_milli") * col("n_tokens"))
      .groupBy(col("t_milli"))
      .agg(
        sum(when(col("pred") && col("y") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && col("y") === 0L, 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("y") === 1L, 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && col("y") === 0L, 1L).otherwise(0L)).as("tn"))
      .select(col("t_milli"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") === 0L, lit(null).cast("double"))
          .otherwise(round(col("tp").cast("double")
            / (col("tp") + col("fp")).cast("double"), 6)).as("precision"),
        when(col("tp") + col("fn") === 0L, lit(null).cast("double"))
          .otherwise(round(col("tp").cast("double")
            / (col("tp") + col("fn")).cast("double"), 6)).as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") === 0L,
          lit(null).cast("double"))
          .otherwise(round(lit(2.0) * col("tp").cast("double")
            / (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"), 6))
          .as("f1"))
  }
}
