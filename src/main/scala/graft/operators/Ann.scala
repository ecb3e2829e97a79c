package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Similarity
import graft.plans.Scope
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * The query set (every 100th vector — the ground-truth sampling
  * pattern a real pipeline uses) is broadcast against the corpus, so
  * the corpus side streams through codegen'd cosine without a shuffle;
  * only the (rows × queries) scored pairs shuffle once, on the query
  * key, for the top-k window.
  *
  * The LSH variant is the 100 TB path: a hyperplane bucket equi-join
  * replaces the full cross product, cutting the scored pairs by
  * ~2^planes/π-angle factor while keeping high-cosine recall.
  */
object Ann {

  private val K = 5

  private def queriesOf(df: DataFrame): DataFrame =
    df.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Reduce scored candidates to the k best per query and number them.
    * The custom TopKPerGroup operator keeps a bounded heap map-side, so
    * only k rows per query per partition shuffle — the window that
    * assigns rank numbers then runs over k×queries rows, not the full
    * candidate set. */
  private def rankTopK(scored: DataFrame): DataFrame =
    scored
      .transform(graft.plans.TopK.ranked(
        Seq("q_id"), Seq("cos" -> false, "vec_id" -> true), K, "rank"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cos"))

  /** Brute-force cosine top-k: exact baseline over a sampled query set. */
  def annBruteforce(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    rankTopK(Partitioning.spread(emb).crossJoin(broadcast(queriesOf(emb)))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
      .select(col("q_id"), col("vec_id"), col("cos")))
  }

  /** Every vector with its per-row centroid ranking `ranked:
    * array<struct<c_cos, negid>>`, sorted by (c_cos DESC, c_id ASC) —
    * ROW-LOCAL over the packed one-row centroid broadcast. Replaces
    * the former corpus×k crossJoin + rank window, which shuffled every
    * scored row (embedding payload included) through hash(vec_id) just
    * to read off per-vector ranks. `reverse(array_sort(...))` on
    * `struct(c_cos, -c_id)` reproduces the window order exactly,
    * including the NaN-greatest double corner (array_sort ascending
    * puts NaN last; reversed, first — where a DESC sort puts it).
    *
    * PRECONDITION: `cents` is non-empty — the packing aggregate emits
    * one EMPTY-array row for an empty table, and `element_at(ranked,
    * 1)` in consumers would then error under ANSI instead of yielding
    * the zero rows the old crossJoin produced. Every caller seeds
    * centroids from vec_id < nlist (always present). (Same contract
    * as Cluster.packCents.) */
  private def centRanked(emb: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.agg(collect_list(struct(col("c_id"), col("c_emb"))).as("cents"))
    Partitioning.spread(emb).crossJoin(broadcast(packed))
      .withColumn("ranked", reverse(array_sort(transform(col("cents"), c =>
        struct(Similarity.cosine(col("embedding"), c.getField("c_emb")).as("c_cos"),
          (-c.getField("c_id")).as("negid"))))))
      .select(col("vec_id"), col("embedding"), col("ranked"))
  }

  /** IVF (inverted-file) ANN: a coarse quantizer assigns every vector
    * to its nearest of `nlist` centroids (here deterministic seed
    * vectors — a trained k-means drops in without changing the plan);
    * a query probes its `nprobe` nearest lists and re-ranks candidates
    * by exact cosine. The scale shape: corpus × small broadcast
    * centroid set for assignment, then an equi-join on the list id —
    * candidates shrink by ~nprobe/nlist versus brute force. */
  /** Assign every vector to its list, probe nprobe lists per query,
    * rerank candidates by exact cosine — the IVF search core, generic
    * over where the centroids came from. */
  private def ivfSearch(emb: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val scored = centRanked(emb, cents)
    val assign = scored
      .select(col("vec_id"), col("embedding"),
        (-element_at(col("ranked"), 1).getField("negid")).as("c_id"))
    val probes = scored.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(slice(col("ranked"), 1, nprobe)).as("rc"))
      .select(col("q_id"), col("q_emb"), (-col("rc.negid")).as("c_id"))
    // no distinct needed: a vector lives in exactly one list, so each
    // (query, vector) pair joins at most once
    rankTopK(assign.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
      .select(col("q_id"), col("vec_id"), col("cos")))
  }

  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    // deterministic seed centroids keep the gate oracle reproducible;
    // kmeansCentroids drops in for the trained path (annIvfTrained)
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    ivfSearch(emb, cents, nprobe = 4)
  }

  /** Probe counts swept by annTune. */
  final val TuneProbes = Seq(1, 2, 4, 8)

  /** IVF TUNING CURVE — the measurement an ANN deployment runs before
    * picking nprobe: recall@K of the IVF index against the exact
    * brute-force top-K, swept over nprobe ∈ {1,2,4,8}. One centroid
    * scoring pass serves every level (each probe row carries its
    * centroid rank; a level keeps rows with c_rk ≤ nprobe), and the
    * per-level rerank rides ONE (nprobe, query) window over the
    * blocked candidate set — the sweep costs barely more than the
    * largest single level. Recall is exact-integer hits/possible
    * with one terminal divide, round 6.
    *
    * Scale shape: corpus × broadcast-centroid scoring once, the
    * list-id equi-join fan-out bounded by Σ nprobe/nlist, and the
    * exact baseline reuses annBruteforce's blocked plan. */
  def annTune(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val scored = centRanked(emb, cents)
    val assign = scored
      .select(col("vec_id"), col("embedding"),
        (-element_at(col("ranked"), 1).getField("negid")).as("c_id"))
    val probes = scored.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        posexplode(slice(col("ranked"), 1, TuneProbes.max)).as(Seq("p0", "rc")))
      .select(col("q_id"), col("q_emb"), (-col("rc.negid")).as("c_id"),
        (col("p0") + 1).as("c_rk"))
      .withColumn("nprobe", explode(typedLit(TuneProbes)))
      .filter(col("c_rk") <= col("nprobe"))
    val ivf = assign.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
      .select(col("nprobe"), col("q_id"), col("vec_id"), col("cos"))
      .transform(graft.plans.TopK.perGroup(
        Seq("nprobe", "q_id"), Seq("cos" -> false, "vec_id" -> true), K))
      .select(col("nprobe"), col("q_id"), col("vec_id"))
    val exact = annBruteforce(spark, sfDir)
      .select(col("q_id"), col("neighbor_id").as("vec_id"))
    val totals = exact.agg(count(lit(1)).as("n_exact"),
      count_distinct(col("q_id")).as("n_queries"))
    val spine = spark.range(1)
      .select(explode(typedLit(TuneProbes)).as("nprobe"))
    // the exact top-k is queries × K rows — bounded by the sampled
    // query set, so it broadcasts no matter how big the corpus gets
    val hits = ivf.join(broadcast(exact), Seq("q_id", "vec_id"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hits"))
    spine.join(broadcast(hits), Seq("nprobe"), "left")
      .na.fill(0L, Seq("n_hits"))
      .crossJoin(broadcast(totals))
      .select(col("nprobe"), col("n_queries"), col("n_exact"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_exact").cast("double"), 6)
          .as("recall"))
  }

  /** Distributed Lloyd iterations for the IVF coarse quantizer:
    * init = first nlist vectors; each iteration broadcasts the
    * centroids, assigns every vector to its best list (TopK argmin —
    * bounded heaps, no window sort), and recomputes element-wise means
    * via one posexplode + two-level agg. No driver-side loop over
    * data; `iters` fixed small (Lloyd converges fast for coarse
    * quantizers, and a fixed count keeps the plan static). */
  def kmeansCentroids(emb: DataFrame, nlist: Int, iters: Int): DataFrame = {
    var cents = emb.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    for (_ <- 1 to iters) {
      val assigned = Partitioning.spread(emb).crossJoin(broadcast(cents))
        .withColumn("c_cos", Similarity.cosine(col("embedding"), col("c_emb")))
        .transform(graft.plans.TopK.perGroup(
          Seq("vec_id"), Seq("c_cos" -> false, "c_id" -> true), 1))
      val means = assigned
        .select(col("c_id"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy(col("c_id"), col("d")).agg(avg(col("x")).as("m"))
        .groupBy(col("c_id"))
        .agg(expr("transform(array_sort(collect_list(struct(d, m))), s -> cast(s.m as float))")
          .as("new_emb"))
      // a list that attracted no vectors keeps its previous centroid —
      // the groupBy alone would silently shrink nlist
      cents = cents.select(col("c_id"), col("c_emb").as("prev_emb"))
        .join(means, Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("new_emb"), col("prev_emb")).as("c_emb"))
    }
    cents
  }

  /** IVF with k-means-trained centroids — the production path (the
    * seed-centroid annIvf stays as the oracle-reproducible gate form). */
  def annIvfTrained(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    ivfSearch(emb, kmeansCentroids(emb, nlist = 16, iters = 2), nprobe = 4)
  }

  /** MMR picks per query. */
  final val MmrK = 5
  /** MMR candidate pool width (top-N by relevance before re-ranking). */
  final val MmrPool = 20

  /** MAXIMAL-MARGINAL-RELEVANCE re-ranking (Carbonell & Goldstein,
    * SIGIR'98): from each query's top-20 relevance pool, greedily pick
    * 5 results maximizing λ·rel − (1−λ)·max_{s∈picked} sim(cand, s)
    * with λ = 0.7 — the diversification pass a retrieval pipeline runs
    * so near-duplicate hits don't crowd the result page. The empty
    * picked-set convention is max-sim = 0 (first pick is pure
    * relevance), and ties break on vec_id; both rules are part of the
    * operator definition and replayed by the oracle.
    *
    * Determinism: rel and sim are the engine-identical cosine doubles
    * the ANN family is built on, and every greedy comparison is the
    * same 0.7·rel − 0.3·ms expression on both engines — identical
    * floats, identical argmax, no rounding before the terminal payload
    * columns. The greedy loop is INHERENTLY sequential in k, so the
    * plan unrolls K=5 argmax stages; each stage's inputs are the
    * checkpointed pool (queries×20 rows) and pair-sim (queries×380
    * rows) tables, both BOUNDED BY THE QUERY SET, not the corpus —
    * the unrolled lattice costs the same at any corpus size, and only
    * the pool construction (one broadcast-query scoring pass + bounded
    * TopK) ever sees the full table. */
  def mmrDiversify(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val emb = Tables.embeddings(spark, sfDir)
    // queries×20 — reused by every greedy stage
    val pool = s.checkpoint(Partitioning.spread(emb).crossJoin(broadcast(queriesOf(emb)))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("rel", Similarity.cosine(col("q_emb"), col("embedding")))
      .select(col("q_id"), col("vec_id"), col("embedding"), col("rel"))
      .transform(graft.plans.TopK.perGroup(
        Seq("q_id"), Seq("rel" -> false, "vec_id" -> true), MmrPool)))
    // queries×380 — bounded by the query set
    val ps = s.checkpoint(pool.select(col("q_id"), col("vec_id").as("a"), col("embedding").as("ea"))
      .join(pool.select(col("q_id"), col("vec_id").as("b"), col("embedding").as("eb")),
        Seq("q_id"))
      .filter(col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"),
        Similarity.cosine(col("ea"), col("eb")).as("sim")))
    val cand = pool.select(col("q_id"), col("vec_id"), col("rel"))
    var sel = cand.filter(lit(false))
      .select(col("q_id"), col("vec_id"), col("rel"),
        lit(0.0).as("ms"), lit(0).as("pick"))
    for (k <- 1 to MmrK) {
      val remaining = cand.join(sel.select(col("q_id"), col("vec_id")),
        Seq("q_id", "vec_id"), "left_anti")
      val scored = remaining
        .join(sel.select(col("q_id"), col("vec_id").as("b")), Seq("q_id"), "left")
        .join(ps.select(col("q_id"), col("a").as("vec_id"), col("b"), col("sim")),
          Seq("q_id", "vec_id", "b"), "left")
        .groupBy(col("q_id"), col("vec_id"), col("rel"))
        .agg(coalesce(max(col("sim")), lit(0.0)).as("ms"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy((lit(0.7) * col("rel") - lit(0.3) * col("ms")).desc, col("vec_id"))
      val picked = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id"), col("rel"), col("ms"), lit(k).as("pick"))
      // checkpoint per stage: the next argmax re-reads sel twice (the
      // anti-join and the pair expansion) and the unrolled lineage
      // would otherwise recompute the whole prefix each stage
      sel = s.checkpoint(sel.unionByName(picked))
    }
    sel.select(col("q_id"), col("pick"), col("vec_id"),
      round(col("rel"), 6).as("rel"),
      round(col("ms"), 6).as("max_sim_selected"),
      round(lit(0.7) * col("rel") - lit(0.3) * col("ms"), 6).as("mmr_score"))
  }

  /** LSH-bucketed ANN: L independent hyperplane tables; a candidate
    * shares a bucket with the query in at least one table (classic
    * multi-table recall amplification). Exact cosine ranks candidates
    * only — the full cross product never materializes. */
  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val tables = 2
    val emb = Tables.embeddings(spark, sfDir)
    // (table, bucket) per vector per table, via one explode
    def bucketed(df: DataFrame): DataFrame =
      df.select(col("*"), posexplode(array(
        (0 until tables).map(t => Similarity.lshBucket(col("embedding"), t)): _*))
        .as(Seq("table", "bucket")))
    val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
    val qs = bucketed(queries)
      .select(col("vec_id").as("q_id"), col("table"), col("bucket"))
    // a pair may collide in several tables — dedup bare (q_id, vec_id)
    // ids, so the distinct's shuffle carries no embedding arrays, then
    // rejoin both embedding payloads for the exact-cosine rerank
    val cand = bucketed(Partitioning.spread(emb)).join(broadcast(qs), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    rankTopK(cand
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))),
        Seq("q_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
      .select(col("q_id"), col("vec_id"), col("cos")))
  }

  /** k-NN GRAPH construction over the WHOLE corpus (not just a query
    * sample): every vector gets its k best LSH-candidate neighbors,
    * plus the mutual-kNN flag — the input structure of graph-based ANN
    * indexes (HNSW/NN-Descent seeding), dedup-cluster refinement, and
    * density-based clustering.
    *
    * All-pairs brute force is O(n²) and never materializes here: the
    * candidate set is the LSH self-join — pairs sharing a (table,
    * bucket) cell in any of the L hyperplane tables — so the scored
    * pairs are bucket-volume bounded, the same sub-linear shape as
    * dedup_embedding. Candidates dedup as bare id pairs (no embedding
    * payloads through the distinct), rerank by exact cosine, reduce
    * through the bounded-heap TopK, and the mutual flag is one
    * semi-join of the k×n edge list against its own reverse (pair-key
    * shuffle, k×n rows — never corpus-sized).
    *
    * Recall caveat is inherent to LSH kNN graphs: a vertex sharing no
    * bucket with its true neighbor misses it; multi-table membership
    * amplifies recall exactly as in annLsh, and ann_eval measures the
    * same family's recall directly. */
  def knnGraph(spark: SparkSession, sfDir: String): DataFrame = {
    val tables = 2
    val emb = Tables.embeddings(spark, sfDir)
    def bucketed(df: DataFrame): DataFrame =
      df.select(col("vec_id"), posexplode(array(
        (0 until tables).map(t => Similarity.lshBucket(col("embedding"), t)): _*))
        .as(Seq("table", "bucket")))
    val b = bucketed(Partitioning.spread(emb))
    val cand = b.as("a").join(b.as("b"), Seq("table", "bucket"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src_id"), col("b.vec_id").as("nbr_id"))
      .distinct()
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val knn = cand
      .join(vecs.select(col("vec_id").as("src_id"), col("embedding").as("src_emb")),
        Seq("src_id"))
      .join(vecs.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_emb")),
        Seq("nbr_id"))
      .withColumn("cos", Similarity.cosine(col("src_emb"), col("nbr_emb")))
      .select(col("src_id"), col("nbr_id"), col("cos"))
      .transform(graft.plans.TopK.ranked(
        Seq("src_id"), Seq("cos" -> false, "nbr_id" -> true), K, "rank"))
    val reverse = knn.select(col("nbr_id").as("src_id"), col("src_id").as("nbr_id"))
    knn.join(reverse.withColumn("mutual", lit(true)), Seq("src_id", "nbr_id"), "left")
      .withColumn("mutual", coalesce(col("mutual"), lit(false)))
      .select(col("src_id"), col("nbr_id"), col("rank"), col("cos"), col("mutual"))
  }

  /** Int8 scalar quantization of the embedding column with per-vector
    * reconstruction diagnostics — the 4× memory lever that lets a
    * 100 TB ANN index hold in cluster RAM. Symmetric per-vector
    * scheme: scale = max|x|/127, q_i = ⌊x_i/scale + 0.5⌋ (explicit
    * floor-of-shifted so both engines round identically; |q_i| ≤ 127
    * by construction, no clamp needed). Emits the quantization scale
    * plus MSE, max absolute error, and cosine(original, dequantized)
    * per vector — the table a user reads to decide whether int8 (or a
    * coarser codebook) is safe for their recall target.
    *
    * Entirely row-local (one projection, zero joins, zero shuffles
    * beyond the test-layout spread); every fold runs left-to-right via
    * `aggregate` with a 0.0 seed, bit-identical to the oracle's
    * list_reduce, so the doubles compare exactly un-rounded. */
  def embeddingQuantize(spark: SparkSession, sfDir: String): DataFrame =
    Partitioning.spread(Tables.embeddings(spark, sfDir))
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("scale", expr(
        "aggregate(v, cast(0 as double), (m, x) -> greatest(m, abs(x))) / 127.0"))
      .filter(col("scale") > 0)
      .withColumn("dq", expr(
        "transform(v, x -> cast(floor(x / scale + 0.5) as int) * scale)"))
      .withColumn("se", expr(
        "aggregate(zip_with(v, dq, (a, b) -> (a-b)*(a-b)), cast(0 as double), (s, x) -> s + x)"))
      .withColumn("max_abs_err", expr(
        "aggregate(zip_with(v, dq, (a, b) -> abs(a-b)), cast(0 as double), (m, x) -> greatest(m, x))"))
      .withColumn("dot", expr(
        "aggregate(zip_with(v, dq, (a, b) -> a*b), cast(0 as double), (s, x) -> s + x)"))
      .withColumn("nv", expr(
        "aggregate(v, cast(0 as double), (s, x) -> s + x*x)"))
      .withColumn("nq", expr(
        "aggregate(dq, cast(0 as double), (s, x) -> s + x*x)"))
      .select(col("vec_id"), col("label"), col("scale"),
        (col("se") / size(col("v"))).as("mse"), col("max_abs_err"),
        (col("dot") / (sqrt(col("nv")) * sqrt(col("nq")))).as("cos_sim"))

  /** ANN quality evaluation: recall@k and nDCG@k of the LSH
    * approximation measured against the brute-force exact top-k — the
    * table a vector-store user reads before trusting an index (and the
    * same harness evaluates an IVF or PQ variant by substitution).
    * Binary relevance (approximate hit is in the exact top-k), DCG
    * discounts by log2(rank+1) over the APPROXIMATE list's own order,
    * IDCG normalizes by the ideal prefix of the truth size.
    *
    * Determinism: hit flags and counts are exact; each per-query DCG
    * folds a SORTED gain list (the bigram_lm_score float discipline —
    * at most k terms, but the rule is the rule) and the final ratio
    * rounds to 6. Queries the index returns nothing for still emit
    * (recall 0, ndcg 0) via the left join from the truth side.
    *
    * Scale shape: both inputs are k×queries tables; every join and
    * aggregate here is query-count sized. The expensive parts are the
    * two retrievals themselves, each already audited in its own gate
    * row. */
  def annEval(spark: SparkSession, sfDir: String): DataFrame = {
    val bf = annBruteforce(spark, sfDir).select(col("q_id"), col("neighbor_id"))
    val ls = annLsh(spark, sfDir)
      .select(col("q_id"), col("neighbor_id"), col("rank"))
    val truth = bf.groupBy(col("q_id")).agg(count(lit(1)).as("n_truth"))
    val rel = ls.join(bf.withColumn("relv", lit(true)),
        Seq("q_id", "neighbor_id"), "left")
      .withColumn("relv", coalesce(col("relv"), lit(false)))
    val m = rel.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_retrieved"),
        sum(when(col("relv"), 1L).otherwise(0L)).as("n_hits"),
        sort_array(collect_list(when(col("relv"),
          lit(1.0) / log2(col("rank") + 1)).otherwise(lit(0.0)))).as("gains"))
      .withColumn("dcg", aggregate(col("gains"), lit(0.0), (a, x) => a + x))
    truth.join(m, Seq("q_id"), "left")
      .withColumn("n_retrieved", coalesce(col("n_retrieved"), lit(0L)))
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("dcg", coalesce(col("dcg"), lit(0.0)))
      .withColumn("idcg", aggregate(
        sort_array(transform(sequence(lit(1), col("n_truth").cast("int")),
          i => lit(1.0) / log2(i.cast("double") + 1))),
        lit(0.0), (a, x) => a + x))
      .select(col("q_id"), col("n_truth"), col("n_retrieved"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_truth")).as("recall"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"))
  }
}
