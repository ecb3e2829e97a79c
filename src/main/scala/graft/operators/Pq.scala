package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
import graft.expressions.{L2Long, PqAdc, PqAssign, PqTab}
import graft.plans.Scope
import graft.sources.Tables

/** Product-quantization ANN (Jégou, Douze, Schmid, "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011) — the
  * codebook path a 100 TB vector corpus actually ships: 64-dim
  * embeddings split into M=8 subspaces of 8 dims, each subspace
  * k-means-coded to 4 bits (K=16 centroids), so a vector compresses
  * 64 floats → 8 nibbles and search scans codes against a per-query
  * ADC (asymmetric distance computation) lookup table instead of raw
  * floats.
  *
  * Cross-engine exactness follows the Cluster.scala discipline:
  * coordinates quantize to floor(x·2^20) longs, every subspace L2
  * distance is an exact integer sum ((x-y)² ≤ 2^42, ×8 dims ≤ 2^45 —
  * no overflow), the Lloyd update floor-divides integer sums via
  * pmod, and ADC totals are exact longs — the DuckDB oracle replays
  * the whole train → encode → search pipeline value-for-value.
  *
  * Scale shape: both codebooks (M×K×Dsub = 1024 longs — metadata)
  * collect to the driver and ride the encode/ADC kernels as literal
  * arrays; the Lloyd update shuffles M×K×8
  * partial sums, not vectors; search joins the corpus code table
  * against a broadcast M×K-per-query ADC table and reduces with the
  * bounded-heap TopKPerGroup — the corpus side never shuffles more
  * than k×queries rows. */
object Pq {

  val M = 8      // subspaces
  val Dsub = 8   // dims per subspace
  val K = 16     // centroids per subspace (4-bit codes)
  val TopN = 5
  val Shortlist = 20 // ADC candidates kept per query for exact rerank

  /** Exact integer L2 distance — the codegen'd kernel. */
  private def l2(a: Column, b: Column): Column =
    column(L2Long(expression(a), expression(b)))

  /** FLAT codebook in the kernels' book[(s*K+c)*Dsub+j] layout,
    * COLLECTED to the driver from per-(s, c_id) centroid rows — M×K×
    * Dsub = 1024 longs, metadata, not data. The downstream kernels
    * index BY POSITION, so the contract is that the input carries
    * exactly M×K rows with c_id 0..K-1 per subspace — a 1-based or
    * sparse id set would mis-index silently; the require raises at
    * build time instead. Returning the array (re-entering the plan as
    * ONE literal) deletes the former one-row aggregate → broadcast →
    * corpus crossJoin plumbing around each codebook. */
  private def flatBookArr(c: DataFrame): Array[Long] = {
    val rows = c.select(col("s").cast("long"), col("c_id").cast("long"), col("cq"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      .sortBy { case (s, cid, _) => (s, cid) }
    val expect = (0 until M).flatMap(s => (0 until K).map(c => (s.toLong, c.toLong)))
    require(rows.map { case (s, cid, _) => (s, cid) }.toSeq == expect,
      s"pq codebook: (s, c_id) pairs are not exactly (0..${M - 1}) x (0..${K - 1})")
    require(rows.forall(_._3.length == Dsub),
      s"pq codebook: every centroid must carry $Dsub dims")
    rows.flatMap(_._3)
  }

  /** Train (seed + one exact Lloyd refinement per subspace), encode
    * the corpus, run ADC for the sampled query set, then exact-rerank
    * the per-query ADC shortlist (the FAISS refine stage — ADC alone
    * at 4 bits recalls ~0.24 of exact top-5 here; reranking the top-20
    * shortlist with true integer L2 doubles that while touching only
    * Shortlist×queries full vectors). Emits
    * `(q_id, neighbor_id, rank, adc_dist, l2_dist)`.
    *
    * Both assignment passes and the query ADC tables run as ROW-LOCAL
    * kernels over the full vectors against the one-row broadcast flat
    * codebook (PqAssign / PqTab — single JIT'd loops inside codegen;
    * ties toward the smaller centroid id, the oracle's ORDER BY dist,
    * c_id). The earlier per-subspace formulation exploded the corpus
    * 8× into a second cache, paid two broadcast joins against pivoted
    * codebook rows, and shuffled two corpus-wide collect_list pivots
    * (codes, ADC tables) — all of it per-row loops wearing a join
    * costume; at sf0.1 the rewrite cut the operator ~2.5s → ~1.2s. */
  def annPq(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val emb = Tables.embeddings(spark, sfDir)
    // full quantized vectors: feeds training, both encode passes, and
    // the rerank payload joins
    val qfull = s.persist(Partitioning.spread(emb)
      .select(col("vec_id"), Cluster.quantize(col("embedding")).as("q")))
    val seeds = qfull.filter(col("vec_id") < K)

    // seed codebook: vectors 0..K-1, each cut into its M subvectors
    val cents0 = seeds
      .select(col("vec_id").as("c_id"), posexplode(expr(
        s"transform(sequence(0, ${M - 1}), s -> slice(q, s*$Dsub+1, $Dsub))"))
        .as(Seq("s", "cq")))
      .select(col("s"), col("c_id"), col("cq"))
    // collecting the seed book also materializes the qfull cache, so
    // every later pass reads executor memory
    val book0 = typedLit(flatBookArr(cents0))

    // one Lloyd step: exact integer per-(s, c_id, j) sums, floor-div
    // mean (pmod keeps negative sums flooring identically on both
    // engines); an empty cluster keeps its seed centroid. ONE
    // posexplode of the full vector yields every (s, j, value) triple
    // (s = idx div Dsub, j = idx mod Dsub) with the assignment read
    // from the codes array — no per-subspace row materialization.
    val a0 = qfull
      .select(col("vec_id"), col("q"),
        column(PqAssign(expression(col("q")), expression(book0), M, K, Dsub)).as("codes"))
    val sums = a0
      .select(col("codes"), posexplode(col("q")).as(Seq("idx", "qd")))
      .select(expr(s"CAST(idx div $Dsub AS BIGINT)").as("s"),
        expr(s"codes[idx div $Dsub]").as("c_id"),
        expr(s"CAST(idx % $Dsub AS BIGINT)").as("j"), col("qd"))
      .groupBy(col("s"), col("c_id"), col("j"))
      .agg(sum(col("qd")).as("sq"), count(lit(1)).as("cnt"))
      .withColumn("cd", expr("(sq - pmod(sq, cnt)) div cnt"))
    val seedDims = cents0
      .select(col("s").cast("long").as("s"), col("c_id"),
        posexplode(col("cq")).as(Seq("j", "seed_qd")))
      .withColumn("j", col("j").cast("long"))
    val cents1 = seedDims
      .join(sums.select(col("s"), col("c_id"), col("j"), col("cd")),
        Seq("s", "c_id", "j"), "left")
      .withColumn("cd", coalesce(col("cd"), col("seed_qd")))
      .groupBy(col("s"), col("c_id"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("cd")))),
        x => x.getField("cd")).as("cq"))
    val book1 = typedLit(flatBookArr(cents1))

    // encode + query-side ADC tables: row-local kernels over the full
    // vectors against the LITERAL codebook — no explode, no pivot
    // shuffle, no broadcast crossJoin
    val codes = qfull.select(col("vec_id"),
      column(PqAssign(expression(col("q")), expression(book1), M, K, Dsub)).as("codes"))
    val qtab = qfull.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("q_id"),
        column(PqTab(expression(col("q")), expression(book1), M, K, Dsub)).as("dtab"))

    // ADC scan: corpus codes × broadcast query tables, the distance a
    // pure 8-lookup integer fold — no join key, no aggregation, no
    // shuffle; the only exchange left is TopK's bounded k×queries rows
    val adc = codes
      .crossJoin(broadcast(qtab))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc_dist",
        column(PqAdc(expression(col("codes")), expression(col("dtab")), K)))
      .select(col("q_id"), col("vec_id"), col("adc_dist"))

    // exact rerank of the ADC shortlist: true integer L2 over the full
    // 64-dim quantized vectors, only Shortlist×queries pairs pay for it
    val short = adc.transform(graft.plans.TopK.perGroup(
      Seq("q_id"), Seq("adc_dist" -> true, "vec_id" -> true), Shortlist))
    val reranked = short
      .join(qfull.withColumnRenamed("q", "nv"), Seq("vec_id"))
      .join(broadcast(qfull.filter(pmod(col("vec_id"), lit(100)) === 0)
        .select(col("vec_id").as("q_id"), col("q").as("qv"))), Seq("q_id"))
      .withColumn("l2_dist", l2(col("qv"), col("nv")))

    reranked
      .transform(graft.plans.TopK.ranked(
        Seq("q_id"), Seq("l2_dist" -> true, "vec_id" -> true), TopN, "rank"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        col("adc_dist"), col("l2_dist"))
      // TopN×queries rows: materialize eagerly so the scope can
      // release the full-vector cache (the graphPagerank / dupClusters
      // loop discipline)
      .localCheckpoint()
  }
}
