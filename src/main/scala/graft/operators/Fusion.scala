package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Similarity
import graft.sources.Tables

/** Reciprocal-rank fusion of lexical and semantic retrieval (Cormack,
  * Clarke & Buettcher 2009) — the standard hybrid-search combiner a
  * RAG stack runs: two retrievers with incomparable score scales fuse
  * on RANKS alone, rrf(d) = Σ_lists 1/(k + rank_list(d)), k = 60.
  *
  * Query workload: the ann convention (vec_id % 100 = 0). Each query
  * is a QUERY-BY-DOCUMENT: its embedding drives the semantic list
  * (brute-force cosine top-20, the ann_bruteforce kernel) and its
  * document text drives the lexical list (shared-rare-term count —
  * coordination matching over terms with df ≤ n_docs/10; the df cap
  * keeps stopword-grade terms out of the candidate fan-out, which is
  * what makes the lexical join survive scale: a term's posting fan-out
  * is bounded by the cap, so no hub-term cross product exists).
  *
  * Determinism: ranks come from row_number over (score desc, id asc)
  * — cosine doubles compare identically cross-engine (the
  * ann_bruteforce discipline), lexical scores are integers. The fused
  * score is a sum of two exact-rounded reciprocals of small integers:
  * bit-identical in both engines, no rounding needed.
  *
  * Scale shape: the semantic side broadcasts |Q| query vectors over a
  * spread corpus; the lexical side broadcasts |Q| capped term sets
  * onto the distinct-postings table and reduces through one
  * (q, doc) count shuffle. Both lists collapse through bounded-heap
  * TopK (20 rows/query/partition map-side) before the tiny full-outer
  * fuse; nothing after the first reductions is corpus-sized. */
object Fusion {

  /** RRF smoothing constant (the value from the original paper). */
  final val RrfK = 60
  /** Per-retriever list depth. */
  final val ListK = 20
  /** Fused neighbors reported per query. */
  final val OutK = 10
  /** A query term participates only if df * DfCapInv <= n_docs. */
  final val DfCapInv = 10

  def rrfFusion(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

    // semantic list: brute-force cosine top-ListK per query
    val sem = Partitioning.spread(emb).crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
      .select(col("q_id"), col("vec_id").as("id"), col("cos"))
      .transform(graft.plans.TopK.ranked(
        Seq("q_id"), Seq("cos" -> false, "id" -> true), ListK, "sem_rank"))
      .select(col("q_id"), col("id"), col("sem_rank"))

    // lexical list: shared rare-term counts against the query document
    val postings = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .dropDuplicates("doc_id", "term")
    val nDocs = Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("n_docs"))
    val df = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qterms = postings
      .join(broadcast(queries.select(col("q_id"))),
        col("doc_id") === col("q_id"))
      .join(df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * DfCapInv <= col("n_docs"))
      .select(col("q_id"), col("term"))
    val lex = postings.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id").as("id"))
      .agg(count(lit(1)).as("score"))
      .transform(graft.plans.TopK.ranked(
        Seq("q_id"), Seq("score" -> false, "id" -> true), ListK, "lex_rank"))
      .select(col("q_id"), col("id"), col("lex_rank"))

    // fuse on ranks alone; a doc on one list only still scores
    val fused = sem.join(lex, Seq("q_id", "id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(RrfK) + col("sem_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)))
    fused.transform(graft.plans.TopK.ranked(
        Seq("q_id"), Seq("rrf_score" -> false, "id" -> true), OutK, "fused_rank"))
      .select(col("q_id"), col("id"), col("fused_rank"), col("rrf_score"),
        col("sem_rank"), col("lex_rank"))
  }
}
