package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch main for timing plan variants (dev tool). Current shape:
  * a 10× scale probe for the corpus-composition operators — unions
  * ten id-shifted copies of the sf0.1 documents/embeddings tables into
  * /tmp/sfbig (500k docs / 100k vectors, with every doc duplicated
  * across shards so the dedup graph gets genuinely dense) and times
  * each operator end-to-end. */
object Probe {

  /** Iterative-operator scale probe (`runMain graft.Probe iter100`):
    * dup_clusters and graph_pagerank are the only operators whose cost
    * is rounds × shuffles, and round count is GRAPH-shaped, not
    * size-shaped — so the 10× table probe can't bound them. This
    * drives the extracted loops with synthetic graphs at 1× and 100×
    * edge counts plus a deep-chain worst case, and reports rounds +
    * wall time: the scale claim is (a) round count stays flat as edges
    * grow 100× (CC: diameter-bound; PageRank: tol/damping-bound) and
    * (b) per-round cost grows ~linearly. */
  private def iterProbe(spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    // --- connected components: families of near-dup size (diameter 2:
    // star within each 6-node family) at 60k and 6M edges ---
    for ((scale, nEdges) <- Seq(("cc 1x (60k edges)", 60000L), ("cc 100x (6M edges)", 6000000L))) {
      val fam = spark.range(nEdges)
        .select((col("id") - col("id") % 6).as("doc_a"), col("id").as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b"))
      val rounds = graft.plans.Scope { s =>
        val edges = s.persist(
          fam.unionByName(fam.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
        edges.count()
        t(scale)(graft.operators.Dedup.connectedComponents(edges))._2
      }
      println(s"  rounds=$rounds")
    }
    // --- connected components: deep-chain adversary (diameter = N —
    // the documented worst case for HashMin; rounds must equal ~N) ---
    val chainLen = 64L
    val chain = spark.range(chainLen - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val chainRounds = graft.plans.Scope { s =>
      val chainEdges = s.persist(chain.unionByName(
        chain.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
      chainEdges.count()
      t(s"cc deep chain (n=$chainLen)")(
        graft.operators.Dedup.connectedComponents(chainEdges, maxRounds = 200))._2
    }
    println(s"  rounds=$chainRounds (diameter-bound, as designed)")
    // --- pagerank: hash-mixed graph with a hub at 1× and 100× —
    // convergence rounds are set by damping+tol, not by size ---
    for ((scale, v, e) <- Seq(("pagerank 1x (60k edges)", 30000L, 60000L),
        ("pagerank 100x (6M edges)", 3000000L, 6000000L))) {
      val raw = spark.range(e).select(
          (col("id") % v).as("u"),
          when(col("id") % 100 === 0, 0L)
            .otherwise((col("id") * 2654435761L) % v).as("v"))
        .filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .distinct()
      val rounds = graft.plans.Scope { s =>
        val directed = graft.operators.Graph.prepareDirected(spark, raw, s)
        t(scale)(graft.operators.Graph.graphPagerankConvergedOn(directed, maxRounds = 120))._2
      }
      println(s"  rounds=$rounds")
    }
  }

  /** Build an FK-consistent N× shard set of sf0.1 at `big`: fact
    * tables are unioned id-shifted copies (shift constants far above
    * any real key range so shards never collide), dimensions stay
    * single copies — the realistic fixed-dim-under-growing-fact shape.
    * Each table commits on its own through `Materialize.at`, so a killed
    * build resumes with exactly the tables it had not committed. */
  private def buildShards(spark: org.apache.spark.sql.SparkSession,
      sf: String, big: String, shards: Int): Unit = {
    import graft.sources.{Materialize, Tables}
    def table(t: String)(df: => DataFrame): Unit =
      Materialize.at(spark, big, s"$t.parquet")(_ => df)
    def sharded(df: DataFrame, shifts: (String, Long)*): DataFrame =
      (0 until shards).map(i => shifts.foldLeft(df) { case (d, (c, step)) =>
          d.withColumn(c, col(c) + lit(i * step)) })
        .reduce(_ unionByName _)
    table("documents")(sharded(Tables.documents(spark, sf), "doc_id" -> 10000000L))
    table("embeddings")(sharded(Tables.embeddings(spark, sf), "vec_id" -> 10000000L))
    // 10M events / 1.5k users: ids and users shift per shard so the
    // funnel/retention state fans out instead of piling on 150 keys
    table("events")(sharded(Tables.events(spark, sf),
      "event_id" -> 100000000L, "user_id" -> 10000L))
    table("lineitem")(sharded(Tables.lineitem(spark, sf), "l_orderkey" -> 100000000L))
    // orders/customer shift together so the custkey join keys stay
    // consistent; part stays a single copy (lineitem keeps original
    // partkeys — a fixed dim under a 10× fact, the realistic shape)
    table("orders")(sharded(Tables.orders(spark, sf),
      "o_orderkey" -> 100000000L, "o_custkey" -> 10000000L))
    table("customer")(sharded(Tables.customer(spark, sf), "c_custkey" -> 10000000L))
    // label/dimension tables stay single copies: fixed dims under a
    // 10× fact side (needed by enrich_wide / q5 / entity ops)
    for (t <- Seq("part", "nation", "region", "supplier"))
      table(t)(Tables.table(spark, sf, t))
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession("probe")
    if (args.headOption.contains("iter100")) {
      iterProbe(spark)
      spark.stop()
      return
    }
    val sf = "/root/testdata/sf0.1"
    // "sf100" mode: a 100× shard set (~5M docs / 1M vectors / 100M
    // events / 60M lineitems ≈ sf10) for the scale checkpoint of the
    // rank/dedup/quantile families — one decade beyond the sf1 gate.
    val big100 = args.headOption.contains("sf100")
    val big = if (big100) "/tmp/sf100" else "/tmp/sfbig"
    val shards = if (big100) 100 else 10
    val queryArgs = (if (big100) args.drop(1) else args).toSeq

    buildShards(spark, sf, big, shards)

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }
    def run(name: String): Unit =
      time(name)(SparkEntry.queries(name)(spark, big).queryExecution.toRdd.count())

    graft.sources.Tables.documents(spark, big).count() // warm fs cache
    val targets = if (queryArgs.nonEmpty) queryArgs else Seq(
      "sample_stratified", "domain_mix", "seq_pack", "repetition_score",
      "bigram_lm_score", "doc_keywords", "cluster_assign", "dup_clusters",
      "decontaminate", "bpe_pairs", "col_profile", "zorder_layout",
      "events_funnel", "events_retention",
      // round-4 wave: warehouse / time-series / retrieval / graph
      "scd2_dim", "merge_upsert", "q_corr", "q_cube", "bloom_prune",
      "graph_triangles", "events_gapfill", "events_anomaly",
      "events_attribution", "vocab_coverage", "class_balance",
      "sample_group", "bm25_rank", "assoc_rules", "pareto_front",
      "dq_checks", "pipeline_tokens", "graph_pagerank")
    targets.foreach(run)
    spark.stop()
  }
}
