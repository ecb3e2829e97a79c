package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.Scope
import graft.sources.Tables

/** Embedding clustering — the topic-bucketing / semantic-dedup-prep
  * step of a training-data pipeline (assign every vector to a
  * centroid, then refine centroids distributively).
  *
  * Cross-engine float discipline: embeddings quantize to integer
  * fixed-point (floor(x·2^20), the HyperplaneLsh convention), so dot
  * products and norms are EXACT longs; cosine is one double divide of
  * exact inputs, bit-identical on both engines, and the Lloyd update
  * floor-divides integer sums — the refined centroids are integer
  * vectors again. No seeded RNG, no order-dependent float sums: the
  * DuckDB oracle replays the full assign → update → reassign loop and
  * the gate value-checks every assignment.
  *
  * Scale shape: centroids are a 16-row broadcast on both passes; the
  * Lloyd update is one posexplode → (cluster, dim) sum — shuffle
  * volume k×64 partial aggregates, not vectors. Swap `SeedK` vectors
  * for a sampled k-means++ init and loop the update to convergence for
  * the library path; one deterministic iteration is the oracle form.
  */
object Cluster {

  val SeedK = 16
  val Dims = 64

  /** floor(x·2^20) per dimension — integer-exact quantization, shared
    * with Pq (HyperplaneLsh quantizes by the same 2^20 scale). */
  private[operators] def quantize(emb: Column): Column =
    transform(emb, x => floor(x.cast("double") * 1048576).cast("long"))

  /** Exact long dot product of two quantized vectors (zip, left fold —
    * products ≤ 2^40, 64 terms ≤ 2^46: no overflow). */
  private def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Cosine from exact integer dot/norms: one double divide. */
  private def qcos(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** The k-row centroid table packed into ONE broadcastable row
    * `(cents: array<struct<c_id, cq, cnorm>>)` — the carrier for
    * row-local scoring. collect_list order is non-deterministic, but
    * every consumer reduces over the array with an order-free argmax /
    * sort, so the packing order never reaches a result.
    *
    * PRECONDITION: `cents` is non-empty. The global aggregate emits
    * one row with an EMPTY array for an empty centroid table, and the
    * downstream argmax would then yield a null c_id per vector where
    * the old crossJoin shape produced zero rows. Every caller seeds
    * centroids from vec_id < k, which the embeddings table always
    * contains. (Same contract as Ann.centRanked.) */
  private def packCents(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("c_id"), col("cq"), col("cnorm"))).as("cents"))

  /** Row-local argmax-cosine term over a packed centroid array column:
    * `array_max` over per-centroid `struct(cos, -c_id)` picks the
    * highest cosine and, on ties, the SMALLEST c_id (greater −c_id) —
    * exactly the old `row_number over (order by cos desc, c_id)` rank-1
    * row, including the NaN corner (struct comparison and window sort
    * share Spark's NaN-greatest double ordering). Argmax over a set
    * under a strict total order is order-independent, so collect_list
    * nondeterminism is harmless. */
  private def bestCentroid(q: Column, qnorm: Column, cents: Column): Column =
    array_max(transform(cents, c =>
      struct(qcos(qdot(q, c.getField("cq")), qnorm, c.getField("cnorm")).as("cos"),
        (-c.getField("c_id")).as("negid"))))

  /** Argmax-cosine assignment of every vector against a centroid table
    * `(c_id, cq, cnorm)`; ties break toward the smaller c_id.
    *
    * ROW-LOCAL: the centroids ride along as one packed broadcast row
    * and the argmax folds inside the projection — no k× row inflation
    * and no hash(vec_id) exchange of vector payloads (the former
    * crossJoin + rank-1 window shuffled corpus×k rows, each carrying
    * the 64-long q array, just to pick a per-vector max). */
  private def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(packCents(cents)))
      .withColumn("best", bestCentroid(col("q"), col("qnorm"), col("cents")))
      .select(col("vec_id"), col("q"), col("qnorm"),
        (-col("best.negid")).as("c_id"))

  /** One distributed Lloyd refinement step: per-(cluster, dim) integer
    * sums — exact under any partitioning — then a floor division (via
    * pmod, so negative sums floor identically on both engines) back to
    * an integer centroid. LEFT join from the seed dims: a cluster that
    * attracted no vectors keeps its seed centroid instead of silently
    * vanishing (k would shrink — the same guard Ann.kmeansCentroids
    * applies). Shared by clusterAssign and clusterMetrics so the two
    * gate rows cannot drift on the refinement definition. */
  private def refineOnce(cents0: DataFrame, a0: DataFrame): DataFrame = {
    val sums = a0
      .select(col("c_id"), col("vec_id"), posexplode(col("q")).as(Seq("d", "qd")))
      .groupBy(col("c_id"), col("d"))
      .agg(sum(col("qd")).as("sq"), count(lit(1)).as("cnt"))
      // integer `div` (never `/`: double division) on the exact multiple
      .withColumn("cd", expr("(sq - pmod(sq, cnt)) div cnt"))
    val seedDims = cents0
      .select(col("c_id"), posexplode(col("cq")).as(Seq("d", "seed_qd")))
    seedDims
      .join(sums.select(col("c_id"), col("d"), col("cd")), Seq("c_id", "d"), "left")
      .withColumn("cd", coalesce(col("cd"), col("seed_qd")))
      .groupBy(col("c_id"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("cd")))),
        s => s.getField("cd")).as("cq"))
      .withColumn("cnorm", qdot(col("cq"), col("cq")))
  }

  /** Seed assignment (centroids = vectors 0..15) plus one distributed
    * Lloyd refinement; emits each vector's cluster before/after. */
  def clusterAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val vecs = emb.select(col("vec_id"), quantize(col("embedding")).as("q"))
      .withColumn("qnorm", qdot(col("q"), col("q")))

    val cents0 = vecs.filter(col("vec_id") < SeedK)
      .select(col("vec_id").as("c_id"), col("q").as("cq"),
        col("qnorm").as("cnorm"))
    val a0 = assign(vecs, cents0)

    val cents1 = refineOnce(cents0, a0)
    val a1 = assign(a0.select(col("vec_id"), col("q"), col("qnorm")), cents1)
      .select(col("vec_id"), col("c_id").as("c1_id"))

    a0.select(col("vec_id"), col("c_id").as("cluster0"))
      .join(a1.withColumnRenamed("c1_id", "cluster1"), Seq("vec_id"))
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("cluster0"), col("cluster1"),
        (col("cluster0") =!= col("cluster1")).as("moved"))
  }

  /** CLUSTER STABILITY under init choice — the (adjusted) Rand index
    * between the refined assignments of TWO deterministic k-means
    * inits (seed vectors 0..15 vs the 16 smallest md5 draws): k-means
    * is init-sensitive, and a deployment that keys dedup or curriculum
    * decisions on a clustering needs to know whether the partition is
    * a property of the DATA or of the seed. ARI ≈ 1 → stable
    * structure; ARI ≈ 0 → the partition is seed noise (chance-level
    * agreement — ARI's expected value under independence is 0 by
    * construction, which the raw Rand index can't say).
    *
    * Exactness: the contingency table is exact longs; every pair
    * count C(x,2) = (x·(x−1)) div 2 is integer; S/A/B/T convert to
    * double once (int64→double is correctly rounded identically on
    * both engines) and feed fixed-order ratio expressions, round 6.
    * Scale shape: two extra corpus×k broadcast scoring passes beyond
    * cluster_assign's own (same shape), one (k_a × k_b)-cell
    * contingency aggregate — everything after the scoring passes is
    * metadata-scale. The persisted vector table feeds all four
    * passes. */
  /** The two refined assignments side by side (vec_id, ca, cb) —
    * package-visible so the stability spec can replay the
    * contingency/ARI arithmetic against it. A checkpoint in the
    * caller's scope. */
  private[graft] def stabilityAssignments(
      spark: SparkSession, sfDir: String, s: Scope): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val vecs = s.persist(emb.select(col("vec_id"), quantize(col("embedding")).as("q"))
      .withColumn("qnorm", qdot(col("q"), col("q"))))
    val centsA0 = vecs.filter(col("vec_id") < SeedK)
      .select(col("vec_id").as("c_id"), col("q").as("cq"), col("qnorm").as("cnorm"))
    val aA = assign(vecs, refineOnce(centsA0, assign(vecs, centsA0)))
      .select(col("vec_id"), col("c_id").as("ca"))
    val pickB = vecs.select(col("vec_id"),
        graft.functions.Similarity.md5Mod(concat(lit("sd2-"), col("vec_id"))).as("dr"))
      .transform(graft.plans.TopK.perGroup(
        Seq(), Seq("dr" -> true, "vec_id" -> true), SeedK))
      .select(col("vec_id"))
    val centsB0 = vecs.join(broadcast(pickB), Seq("vec_id"))
      .select(col("vec_id").as("c_id"), col("q").as("cq"), col("qnorm").as("cnorm"))
    val aB = assign(vecs, refineOnce(centsB0, assign(vecs, centsB0)))
      .select(col("vec_id"), col("c_id").as("cb"))
    s.checkpoint(aA.join(aB, Seq("vec_id")))
  }

  def clusterStability(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val ct = s.persist(stabilityAssignments(spark, sfDir, s)
      .groupBy(col("ca"), col("cb")).agg(count(lit(1)).as("nij")))
    val cells = ct.agg(sum(expr("(nij * (nij - 1)) div 2")).as("s"),
      sum(col("nij")).as("n"))
    val rowm = ct.groupBy(col("ca")).agg(sum(col("nij")).as("ai"))
      .agg(sum(expr("(ai * (ai - 1)) div 2")).as("a"), count(lit(1)).as("k_a"))
    val colm = ct.groupBy(col("cb")).agg(sum(col("nij")).as("bi"))
      .agg(sum(expr("(bi * (bi - 1)) div 2")).as("b"), count(lit(1)).as("k_b"))
    cells.crossJoin(broadcast(rowm)).crossJoin(broadcast(colm))
      .withColumn("t", expr("(n * (n - 1)) div 2"))
      .withColumn("td", col("t").cast("double"))
      .withColumn("sd", col("s").cast("double"))
      .withColumn("ad", col("a").cast("double"))
      .withColumn("bd", col("b").cast("double"))
      .withColumn("exp_idx", col("ad") * col("bd") / col("td"))
      .select(col("n").as("n_vectors"), col("k_a"), col("k_b"),
        col("s").as("pairs_both"), col("a").as("pairs_a"), col("b").as("pairs_b"),
        round((col("td") + lit(2.0) * col("sd") - col("ad") - col("bd"))
          / col("td"), 6).as("rand_index"),
        when((col("ad") + col("bd")) / 2.0 - col("exp_idx") === 0.0,
          lit(null).cast("double"))
          .otherwise(round((col("sd") - col("exp_idx"))
            / ((col("ad") + col("bd")) / 2.0 - col("exp_idx")), 6)).as("ari"))
      .localCheckpoint()
  }

  /** CLUSTERING QUALITY METRICS for the refined assignment — the eval
    * that decides whether a clustering is good enough to block
    * semantic dedup or curriculum sampling on: per cluster, the member
    * count, the mean and worst cosine to the OWN centroid (cohesion),
    * and the nearest OTHER centroid with its cosine (separation — a
    * cluster whose nn_centroid_cos approaches its mean_cos is
    * bleeding into a neighbor, the Davies-Bouldin failure shape read
    * directly off two columns).
    *
    * Exactness: per-vector own-cos is the usual one-divide double off
    * exact integer dot/norms; the CROSS-ROW mean rides an e6-quantized
    * long sum (floor(cos·10⁶) — order-independent, the
    * embedding_audit discipline) with one terminal divide; min is
    * order-free. Centroid-centroid cosines are 16×16 exact-integer
    * work. Scale shape: one corpus×k broadcast scoring pass (shared
    * shape with cluster_assign), one k-row aggregate, k² centroid
    * table — everything after the scoring pass is metadata-scale. */
  def clusterMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val vecs = emb.select(col("vec_id"), quantize(col("embedding")).as("q"))
      .withColumn("qnorm", qdot(col("q"), col("q")))
    val cents0 = vecs.filter(col("vec_id") < SeedK)
      .select(col("vec_id").as("c_id"), col("q").as("cq"),
        col("qnorm").as("cnorm"))
    val cents1 = refineOnce(cents0, assign(vecs, cents0))
    // row-local own-centroid pick (same argmax term as assign): the
    // former crossJoin + rank-1 window shuffled corpus×k scored rows
    val own = vecs.crossJoin(broadcast(packCents(cents1)))
      .withColumn("best", bestCentroid(col("q"), col("qnorm"), col("cents")))
      .select((-col("best.negid")).as("c_id"), col("vec_id"),
        col("best.cos").as("cos"))
    val per = own
      .withColumn("cos_e6", floor(col("cos") * lit(1000000.0)).cast("long"))
      .groupBy(col("c_id"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("cos_e6")).as("s_e6"),
        min(col("cos")).as("min_cos"))
    val cc = cents1.select(col("c_id").as("ca"), col("cq").as("qa"), col("cnorm").as("na"))
      .crossJoin(broadcast(cents1.select(col("c_id").as("cb"),
        col("cq").as("qb"), col("cnorm").as("nb"))))
      .filter(col("ca") =!= col("cb"))
      .withColumn("cos", qcos(qdot(col("qa"), col("qb")), col("na"), col("nb")))
    val wc = Window.partitionBy(col("ca")).orderBy(col("cos").desc, col("cb"))
    val nn = cc.withColumn("rk", row_number().over(wc)).filter(col("rk") === 1)
      .select(col("ca").as("c_id"), col("cb").as("nn_c_id"), col("cos").as("nn_cos"))
    per.join(nn, Seq("c_id"))
      .select(col("c_id"), col("n_vectors"),
        round(col("s_e6").cast("double")
          / (lit(1000000.0) * col("n_vectors").cast("double")), 6).as("mean_cos"),
        round(col("min_cos"), 6).as("min_cos"),
        col("nn_c_id"), round(col("nn_cos"), 6).as("nn_centroid_cos"))
  }

  /** Cosine threshold above which two cluster-mates are semantic
    * duplicates (the dedup_embedding corpus threshold). */
  final val SemTau = 0.35

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): cluster the
    * embedding space, then deduplicate ONLY within clusters — the
    * cluster assignment is the blocking structure, so the pair count
    * is Σ C(cluster_size, 2) instead of C(n, 2).
    *
    * Pipeline: exact-fixed-point seed assignment (the cluster_assign
    * discipline — argmax cosine against the SeedK seed centroids, ties
    * toward the smaller c_id), then within-cluster pairwise cosine on
    * the raw embeddings (left-to-right fold, the dedup_embedding
    * discipline), and a deterministic keep rule: a vector is dropped
    * iff some SMALLER-id cluster-mate matches it at >= SemTau (the
    * paper keeps one representative per duplicate group; min-id is the
    * order-free choice of representative — the paper's
    * lowest-centroid-similarity variant changes which survivor is
    * kept, not how many).
    *
    * Scale shape: cluster count must grow with the corpus (SemDeDup
    * runs 50k clusters over LAION) so cluster sizes — and the
    * quadratic-within-cluster pair volume — stay bounded; the gate
    * form's SeedK=16 is the oracle-replayable miniature. Emits one row
    * per vector: (vec_id, cluster, kept, dup_of, max_sim). */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val vecs = emb.select(col("vec_id"), quantize(col("embedding")).as("q"))
      .withColumn("qnorm", qdot(col("q"), col("q")))
    val cents0 = vecs.filter(col("vec_id") < SeedK)
      .select(col("vec_id").as("c_id"), col("q").as("cq"),
        col("qnorm").as("cnorm"))
    val a0 = assign(vecs, cents0).select(col("vec_id"), col("c_id"))
    // cluster-mates with the raw embeddings back on (unhinted join —
    // AQE broadcasts the assignment while small); pairs only inside a
    // cluster, canonical a < b
    val withEmb = a0.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val pairs = withEmb.as("a").join(withEmb.as("b"),
        col("a.c_id") === col("b.c_id") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", graft.functions.Similarity.cosine(
        col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= SemTau)
    val dups = pairs.groupBy(col("b.vec_id").as("vec_id"))
      .agg(min(col("a.vec_id")).as("dup_of"), max(col("cos")).as("max_sim"))
    a0.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id").as("cluster"),
        col("dup_of").isNull.as("kept"), col("dup_of"), col("max_sim"))
  }

  /** Fixed-point scale shared with quantize (2^20). */
  final val PcaScale = 1048576L
  /** Power-iteration rounds (static unroll, oracle-replayable). */
  final val PcaIters = 2

  /** Top principal direction of the embedding cloud by POWER ITERATION
    * in exact integer fixed point — distributed linear algebra under
    * the cluster_assign discipline, with every iteration
    * bit-reproducible and replayed by the DuckDB oracle:
    *
    *   w_i = q_i · v          (exact longs: 2^40-scale terms, 64 of them)
    *   u_d = Σ_i q_{i,d} w_i  (decimal(38,0) sums — the only wide type)
    *   v'  = floor(u · 2^20 / max|u|)   (re-quantized integer vector)
    *
    * The rescale divides exact integers via the subtract-pmod form, so
    * floor-vs-truncate never matters; two unrolled rounds converge the
    * direction to the dominant eigenvector (embeddings have a strong
    * first component; a library run iterates with a convergence probe,
    * the graphPagerankConverged discipline). Output: the 64 loadings
    * (one deterministic divide by the exact integer norm) and the
    * Rayleigh-quotient eigenvalue estimate Σw²/Σv² from exact sums.
    *
    * Scale shape: each round is ONE broadcast of the 64-long direction
    * onto the vector table, a row-local dot, and a (dim)-keyed partial
    * sum — 64 cells per executor merge associatively, so the update
    * shuffle is constant-size regardless of corpus size. Nothing
    * vector-count-sized ever shuffles. */
  def embeddingPca(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val vecs = emb.select(col("vec_id"), quantize(col("embedding")).as("q"))

    val v0 = spark.range(1).select(
      transform(sequence(lit(1), lit(Dims)), _ => lit(PcaScale)).as("v"))

    def iterate(vprev: DataFrame): DataFrame = {
      val w = vecs.crossJoin(broadcast(vprev))
        .withColumn("w", qdot(col("q"), col("v")))
        .select(col("vec_id"), col("q"), col("w"))
      val u = w
        .select(col("w"), posexplode(col("q")).as(Seq("d", "qd")))
        .groupBy(col("d"))
        .agg(sum(col("qd").cast("decimal(19,0)") * col("w").cast("decimal(19,0)"))
          .as("u"))
      val m = u.agg(max(abs(col("u"))).as("m"))
      u.crossJoin(broadcast(m))
        .withColumn("num", col("u") * lit(PcaScale).cast("decimal(19,0)"))
        .withColumn("vd",
          ((col("num") - pmod(col("num"), col("m"))) / col("m")).cast("long"))
        .groupBy()
        .agg(transform(array_sort(collect_list(struct(col("d"), col("vd")))),
          s => s.getField("vd")).as("v"))
    }

    val vFinal = (1 to PcaIters).foldLeft(v0)((v, _) => iterate(v))
    val wFinal = vecs.crossJoin(broadcast(vFinal))
      .withColumn("w", qdot(col("q"), col("v")))
    val lambda = wFinal
      .agg(sum(col("w").cast("decimal(19,0)") * col("w").cast("decimal(19,0)"))
        .as("sw2"))
      .crossJoin(broadcast(vFinal.select(qdot(col("v"), col("v")).as("sv2"))))
      .select(round(col("sw2").cast("double") / col("sv2").cast("double"), 6)
        .as("eigenvalue"))
    vFinal
      .select(qdot(col("v"), col("v")).as("sv2"),
        posexplode(col("v")).as(Seq("d", "v_fixed")))
      .crossJoin(broadcast(lambda))
      .select(col("d").cast("long").as("d"), col("v_fixed"),
        (col("v_fixed").cast("double") / sqrt(col("sv2").cast("double")))
          .as("loading"),
        col("eigenvalue"))
  }

  /** Outliers reported per label. */
  final val OutTopK = 5

  /** EMBEDDING TABLE HEALTH AUDIT — the DQ pass a pipeline runs
    * before trusting a vector column: per label, vector count, DIM
    * CONSTANCY (a ragged dim breaks every downstream kernel),
    * zero-vector count (norm 0 — cosine is undefined, a classic
    * upstream-encoder failure), non-finite element count (NaN/Inf
    * poisons any distance), and L2-norm spread (min/mean/max — a
    * collapsed or exploding norm distribution flags a bad checkpoint
    * or missing normalization).
    *
    * Float discipline: each vector's norm folds its OWN array in
    * element order (deterministic in both engines), then QUANTIZES to
    * an e6 long — per-label sums/mins/maxes over longs are exact and
    * order-independent, so no cross-row float summation exists; the
    * mean is one terminal divide, round 6. One map-side-combined
    * label aggregate; nothing corpus-sized shuffles twice. */
  def embeddingAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val normQ = expr(
      """CAST(round(sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),
        | (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * 1000000)
        | AS BIGINT)""".stripMargin)
    val nonFinite = expr(
      "exists(embedding, x -> isnan(x) OR abs(x) = CAST('Infinity' AS FLOAT))")
    Tables.embeddings(spark, sfDir)
      .select(col("label"), size(col("embedding")).as("dim"),
        normQ.as("nq"), nonFinite.cast("long").as("nf"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dim")).as("dim_lo"), max(col("dim")).as("dim_hi"),
        sum((col("nq") === 0L).cast("long")).as("n_zero"),
        sum(col("nf")).as("n_nonfinite"),
        min(col("nq")).as("min_q"), max(col("nq")).as("max_q"),
        sum(col("nq")).as("sum_q"))
      .select(col("label"), col("n_vecs"), col("dim_lo"), col("dim_hi"),
        col("n_zero"), col("n_nonfinite"),
        round(col("min_q").cast("double") / 1e6, 6).as("norm_min"),
        round(col("sum_q").cast("double") / col("n_vecs").cast("double") / 1e6, 6)
          .as("norm_mean"),
        round(col("max_q").cast("double") / 1e6, 6).as("norm_max"),
        (col("dim_lo") === col("dim_hi") && col("n_zero") === 0 &&
          col("n_nonfinite") === 0).as("healthy"))
  }

  /** LABEL-NOISE detection: each vector's squared L2 distance to its
    * OWN label's centroid, the top-K farthest flagged per label — the
    * "probably mislabeled / out-of-distribution" audit a team runs on
    * a labeled embedding set before trusting it (Confident-Learning
    * shape, distance flavor). Centroids are per-label integer means in
    * the clusterAssign fixed-point discipline (per-dim exact sums,
    * pmod floor division), so dist² = Σ(q−c)² is an EXACT long (diffs
    * ≤ 2^21, 64 terms ≤ 2^48) and the ranking has no float in it; the
    * reported ratio vs the label's mean dist² is one fixed double
    * expression, rounded 6.
    *
    * Scale shape: one (label, dim) aggregate (shuffle volume =
    * labels×64 partials), centroids join back UNHINTED (label-count
    * sized — AQE broadcasts), per-label stats ride the same layout,
    * and the report reduces through the bounded-heap TopK — map tasks
    * forward ≤ K rows per label, no global sort. */
  def embeddingOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("q"))
    val sums = vecs
      .select(col("label"), posexplode(col("q")).as(Seq("d", "qd")))
      .groupBy(col("label"), col("d"))
      .agg(sum(col("qd")).as("sq"), count(lit(1)).as("cnt"))
      .withColumn("cd", expr("(sq - pmod(sq, cnt)) div cnt"))
    val cents = sums.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("cd")))),
        s => s.getField("cd")).as("cq"))
    val dists = vecs.join(cents, Seq("label"))
      .withColumn("dist_sq",
        aggregate(zip_with(col("q"), col("cq"), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x))
    val stats = dists.groupBy(col("label"))
      .agg(sum(col("dist_sq").cast("decimal(38,0)")).as("sum_d"),
        count(lit(1)).as("n_label"))
    dists.join(stats, Seq("label"))
      .transform(graft.plans.TopK.perGroup(
        Seq("label"), Seq("dist_sq" -> false, "vec_id" -> true), OutTopK))
      .select(col("label"), col("vec_id"), col("dist_sq"),
        round(col("dist_sq").cast("double") /
          (col("sum_d").cast("double") / col("n_label").cast("double")), 6)
          .as("dist_ratio"))
  }
}
