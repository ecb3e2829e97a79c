package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Scope
import graft.sources.{Materialize, Tables}

/** Distributed graph analytics over a derived co-occurrence graph.
  * (dup_clusters already covers connected components via HashMin label
  * propagation; this adds the other classic: triangle counting.)
  *
  * Graph: parts are vertices; an edge connects two parts bought in the
  * same order (high-quantity lines only, so edge count stays ~linear
  * in orders — per-order pair fan-out is C(items,2) with small items).
  *
  * Triangle counting uses DEGREE ORIENTATION, the standard distributed
  * trick: orient every edge from its (degree, id)-smaller endpoint to
  * the larger, enumerate wedges only at each edge's source, and close
  * them against the canonical edge set. Out-degrees are bounded by
  * O(√m), so the wedge intermediate is O(m^1.5) worst-case instead of
  * Σdeg² — a hub vertex (the skew killer in the naive join) generates
  * NO wedges because all its edges point inward. Three shuffles total:
  * edge distinct, degree agg, wedge-close join. */
object Graph {

  /** PageRank fixed-point scale and damping (17/20 = 0.85 exactly). */
  final val PrScale = 1000000000000L
  final val PrIters = 3

  /** Per-vertex triangle counts warehouse: graph_triangles and
    * graph_clustering both consume the identical counts, and the
    * O(m^1.5) wedge closure (the graph family's most expensive
    * derivation) runs once per suite instead of once per consumer. */
  private def triangleCounts(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.warehouse(spark, sfDir, "triangles")(deriveTriangleCounts(spark, sfDir, _))

  def graphTriangles(spark: SparkSession, sfDir: String): DataFrame =
    triangleCounts(spark, sfDir)

  /** Lazy over caches in the caller's scope: materialize it before the
    * scope ends. */
  private def deriveTriangleCounts(spark: SparkSession, sfDir: String, s: Scope): DataFrame = {
    // the SAME 2-shuffle both-direction derivation PageRank iterates
    // on, persisted hash(u): degrees fall out of the cached layout with
    // NO extra exchange (groupBy(u) finds HashPartitioning(u) already
    // satisfied — out-degree in the both-direction list IS the
    // undirected degree), where the earlier canonical-edge form paid a
    // union + full re-shuffle just to count degrees, then two more
    // degree joins and a separate persisted canonical set to close
    // wedges against
    val directed = directedEdges(spark, sfDir, s)
    val deg = directed.groupBy(col("u").as("p")).agg(count(lit(1)).as("d"))
    // attach endpoint degrees — unhinted: AQE broadcasts the vertex-
    // count-sized deg table while it's small, shuffles at 100 TB
    val withDeg = directed
      .join(deg.select(col("p").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("p").as("v"), col("d").as("dv")), Seq("v"))
    // orient by DEGREE ORDER: keep each undirected edge exactly once,
    // pointing up the (deg, id) total order — a filter, not a union or
    // min/max rewrite, because the both-direction list carries each
    // edge in both orders. Out-degrees are then O(√m)-bounded, so the
    // wedge intermediate is O(m^1.5) and a hub vertex generates no
    // wedges. dst's degree rides along: the wedge pair-order below must
    // match the closing edge's orientation, which is (deg, id) order.
    val oriented = s.persist(withDeg
      .filter(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u").as("src"), col("v").as("dst"), col("dv").as("ddst")))
    oriented.count()
    // wedges at each source; both sides scan the ONE cached oriented
    // list, so the self-join shuffles at most its two hash layouts
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddst") < col("e2.ddst") ||
            (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
    // a triangle's third edge y→z is itself oriented up the (deg, id)
    // order, so closing against the oriented list finds each triangle
    // exactly once
    val triangles = wedges.join(oriented,
      col("y") === col("src") && col("z") === col("dst"))
    triangles
      .select(explode(array(col("x"), col("y"), col("z"))).as("partkey"))
      .groupBy(col("partkey"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** LOCAL CLUSTERING COEFFICIENT per vertex — triangles/possible-
    * wedges, the standard "how clique-like is this neighborhood"
    * measure (Watts-Strogatz): cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)),
    * null for degree-1 vertices where the ratio is undefined. The
    * triangle counts are graphTriangles' own (degree-oriented wedge
    * closure — O(m^1.5), hub-safe) and the degree is one map-side-
    * combined aggregate over the edge file (the result is lazy and
    * reads the edges once, so it needs no iteration-ready cache); the
    * composition adds ONE vertex-keyed join to the triangle plan.
    * Exactness: integers everywhere, one terminal divide, round 6. */
  def graphClustering(spark: SparkSession, sfDir: String): DataFrame = {
    val deg = edgeList(spark, sfDir)
      .groupBy(col("u").as("partkey")).agg(count(lit(1)).as("degree"))
    deg.join(triangleCounts(spark, sfDir), Seq("partkey"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .select(col("partkey"), col("degree"), col("n_triangles"),
        when(col("degree") < 2L, lit(null).cast("double"))
          .otherwise(round((col("n_triangles") * 2).cast("double")
            / (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .as("local_cc"))
  }

  /** PageRank over the (undirected → both-direction) co-purchase
    * graph, damping 0.85, three synchronous iterations — the canonical
    * iterative-graph workload, in the same exact fixed-point
    * discipline as cluster_assign: ranks are longs scaled by 10^12,
    * every contribution is an integer floor-division, so all three
    * rounds are bit-reproducible and the DuckDB oracle replays them
    * with three unrolled CTEs.
    *
    * Scale shape per iteration: one join of the edge list against the
    * rank table (shuffle on vertex id — the partitioning is reused
    * across iterations) and one map-side-combined sum. No driver-side
    * state: the loop is a static 3-deep plan unroll, and a library
    * deployment iterates with checkpointing every few rounds. */
  /** Both-direction edge list — persisted PRE-PARTITIONED on the join
    * key `u`: it feeds every iteration, and without the persist the
    * scan→self-join→distinct derivation replays each round. The
    * repartition pays the edge shuffle exactly once; each prStep's
    * edge⋈rank join then finds its required hash distribution already
    * satisfied on the cached side, so per round only the (much smaller)
    * rank table moves. Without it, every round re-exchanged and
    * re-sorted the full edge list (r05 plan: 10 exchanges, SMJ×6). */
  /** The iteration-ready both-direction edge list, derived with the
    * MINIMUM shuffle count (2) rather than via coPurchaseEdges (4-5):
    * items dedup on (ok, pk) inside an explicit hash(ok) layout that
    * the self-join then reuses (HashPartitioning(ok) satisfies the
    * aggregate's ClusteredDistribution(ok, pk) and the join's
    * ClusteredDistribution(ok) — no re-exchange), the join emits BOTH
    * directions at once (a.pk ≠ b.pk instead of canonical < plus a
    * union), and the final dedup on (u, v) runs inside the hash(u)
    * layout every PageRank round needs anyway. Shared by PageRank
    * (iterates on it directly) and triangle counting (degree-orients
    * it by filtering to the up-(deg,id) direction). */
  /** Suite-run edge warehouse: every co-purchase graph query needs
    * the SAME iteration-ready edge list, and deriving it per query pays
    * the lineitem scan + self-join + dedup floor six-plus times per
    * suite run. Each consumer still gets the persisted
    * HashPartitioning(u) layout its iterations reuse. */
  private def edgeList(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.warehouse(spark, sfDir, "edges")(_ => deriveDirectedEdges(spark, sfDir))

  /** The edge file persisted hash(u)-partitioned in the caller's scope. */
  private def directedEdges(spark: SparkSession, sfDir: String, s: Scope): DataFrame = {
    val n = spark.sessionState.conf.numShufflePartitions
    val directed = s.persist(edgeList(spark, sfDir).repartition(n, col("u")))
    // eager count, same reason as prepareDirected: expose the cached
    // HashPartitioning(u, n) to every consumer round
    directed.count()
    directed
  }

  private def deriveDirectedEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val n = spark.sessionState.conf.numShufflePartitions
    val items = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 25)
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
      .repartition(n, col("ok"))
      .dropDuplicates("ok", "pk")
    items.as("a").join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .repartition(n, col("u"))
      .dropDuplicates("u", "v")
  }

  /** Link-prediction hub cap: wedge centers with degree above this
    * are skipped (their wedge fan-out is quadratic and their signal is
    * noise — the same reason Adamic-Adar down-weights hubs). */
  final val LpDegCap = 64
  /** Candidate edges reported. */
  final val LpTopN = 50
  /** Minimum common-neighbor support: a single shared neighbor is
    * coincidence, not signal (the standard min-support floor in
    * co-occurrence recommendation). Applied BEFORE the anti-join and
    * TopK, it drops ~95% of candidate pairs from the second shuffle
    * while leaving the top-N unchanged — the counts at the cut sit far
    * above 2 (spec-asserted), so the filter is provably lossless for
    * the reported list. */
  final val LpMinSupport = 2

  /** Common-neighbor LINK PREDICTION over the co-purchase graph: for
    * every non-adjacent pair (a, b), count shared neighbors and report
    * the strongest candidates — the "customers who bought X also
    * bought Y" completion the recommender actually serves.
    *
    * Exact common-neighbor counting for all pairs is inherently
    * Σdeg² wedge work, and a hub center alone would emit quadratic
    * pairs of pure popularity noise; the standard fix (shared with
    * Adamic-Adar's 1/log(deg) weighting) is to drop super-hub CENTERS:
    * only wedges whose center degree ≤ LpDegCap contribute, bounding
    * per-center fan-out by the cap² while keeping every
    * discriminative co-neighbor signal. Candidates anti-join the edge
    * list (existing edges are not predictions), then reduce through
    * the bounded-heap global TopK — map tasks forward ≤ TopN rows, no
    * global sort.
    *
    * Scale shape: degrees fall out of the persisted hash(u) edge
    * layout with no extra exchange (the graphTriangles discipline);
    * the capped self-join shuffles that same layout once; the
    * (a, b) count and anti-join are candidate-sized. */
  def graphLinkpred(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val directed = directedEdges(spark, sfDir, s)
    val deg = directed.groupBy(col("u").as("p")).agg(count(lit(1)).as("d"))
    val capped = directed.join(
      deg.filter(col("d") <= LpDegCap).select(col("p").as("u")), Seq("u"))
    val wedges = capped.as("e1").join(capped.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.v").as("a"), col("e2.v").as("b"))
    val cn = wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"))
      .filter(col("common_neighbors") >= LpMinSupport)
    cn
      .join(directed.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .transform(graft.plans.TopK.perGroup(
        Seq(), Seq("common_neighbors" -> false, "a" -> true, "b" -> true), LpTopN))
      .orderBy(col("common_neighbors").desc, col("a"), col("b"))
      .localCheckpoint()
  }

  /** k-core threshold (vertices below this degree peel away). */
  final val KcK = 3
  /** Peel-round cap — well above the observed convergence depth (the
    * spec asserts the fixpoint lands within it); the oracle unrolls
    * exactly this many stages, so even a non-converged truncation
    * would still match stage-for-stage. */
  final val KcMaxRounds = 12

  /** k-CORE DECOMPOSITION (k = 3) by iterative peeling: repeatedly
    * drop vertices whose current degree is below k until the survivor
    * set is stable — the densest-region extraction that separates a
    * co-purchase graph's stable communities from one-off noise (and
    * the third classic iterative-graph workload next to PageRank and
    * connected components).
    *
    * Peeling is NOT monotone (a vertex's degree falls as its
    * neighbors peel), so there is no recursive-CTE form — the oracle
    * unrolls KcMaxRounds filter stages instead, and because the
    * engine's early exit only fires at the fixpoint, engine and
    * oracle agree whether or not convergence lands early.
    *
    * Scale shape per round: the survivor degree aggregate runs inside
    * the cached hash(u) edge layout (no exchange — on the
    * both-direction list out-degree IS undirected degree); the `keep`
    * set is vertex-sized, joined unhinted on BOTH endpoints (AQE
    * broadcasts it while small, shuffle-joins at 100 TB), and each
    * round's survivor edges localCheckpoint — the dup_clusters loop
    * discipline — so lineage stays one round deep and the convergence
    * probe is a count() action, never a collect. */
  def graphKcore(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    var e = directedEdges(spark, sfDir, s)
    var nEdges = e.count()
    var rounds = 0
    var converged = false
    while (!converged && rounds < KcMaxRounds) {
      val keep = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= KcK).select(col("u"))
      // eager=false: the convergence count IS the materializing action
      // — the former eager checkpoint paid a full extra pass per round
      val next = s.checkpoint(e
        .join(keep, Seq("u"), "left_semi")
        .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v")), eager = false)
      val n2 = next.count()
      converged = n2 == nEdges
      nEdges = n2
      // free the superseded round's checkpoint storage eagerly (no-op
      // on the first round, when e is still the persisted edge layout)
      s.free(e)
      e = next
      rounds += 1
    }
    e.groupBy(col("u").as("partkey"))
      .agg(count(lit(1)).as("core_deg"))
      .localCheckpoint()
  }

  /** EDGE-NEIGHBORHOOD JACCARD (the SCAN/sparsification structural
    * similarity): for every edge (u, v) that closes at least one
    * triangle, |N(u)∩N(v)| / |N(u)∪N(v)\{u,v}| — the per-edge signal
    * graph sparsifiers keep edges by and SCAN-style clustering
    * thresholds on. Common-neighbor counts come from the SAME
    * degree-oriented triangle enumeration graphTriangles runs (each
    * triangle contributes its three edges once — O(m^1.5) wedge bound,
    * hub-safe), so cn(u,v) never needs a per-edge neighborhood
    * intersection; |N(u)∪N(v)\{u,v}| = du + dv − 2 − cn by
    * inclusion-exclusion over exact degree longs. Edges closing no
    * triangle have similarity 0 and are not emitted (the sparsifier
    * drops them unseen — that is the point). */
  def graphEdgeJaccard(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val directed = directedEdges(spark, sfDir, s)
    val deg = directed.groupBy(col("u").as("p")).agg(count(lit(1)).as("d"))
    val withDeg = directed
      .join(deg.select(col("p").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("p").as("v"), col("d").as("dv")), Seq("v"))
    val oriented = s.persist(withDeg
      .filter(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u").as("src"), col("v").as("dst"), col("dv").as("ddst")))
    oriented.count()
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddst") < col("e2.ddst") ||
            (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
    val triangles = wedges.join(oriented,
      col("y") === col("src") && col("z") === col("dst"))
    // each triangle touches three edges; canonicalize as (min, max)
    val cn = triangles
      .select(explode(array(
        struct(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b")),
        struct(least(col("x"), col("z")).as("a"), greatest(col("x"), col("z")).as("b")),
        struct(least(col("y"), col("z")).as("a"), greatest(col("y"), col("z")).as("b"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
    cn
      .join(deg.select(col("p").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("p").as("b"), col("d").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("cn"), col("da"), col("db"),
        round(col("cn").cast("double")
          / (col("da") + col("db") - 2 - col("cn")).cast("double"), 6).as("jaccard"))
      .localCheckpoint()
  }

  /** Brand-partition MODULARITY of the co-purchase graph (Newman): for
    * each part brand b, Q_b = L_b/m − (D_b/2m)², where L_b = edges
    * with both endpoints in b, D_b = total degree of b's vertices, m =
    * undirected edge count. ΣQ_b is the assortativity check "do
    * same-brand parts co-purchase more than chance?" — the graph-level
    * diagnostic a recommender team runs before trusting attribute
    * features.
    *
    * Exactness: L_b, D_b, m are exact longs; each contribution is one
    * fixed float expression over them, rounded to 6 (the per-brand
    * rows ARE the output — summing them is the reader's one addition).
    * Scale shape: the brand dimension joins unhinted onto the cached
    * edge layout (AQE broadcasts the part table while it's small); one
    * brand-keyed aggregate each for L and D; everything after is
    * |brands| rows. */
  def graphAssortativity(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val directed = directedEdges(spark, sfDir, s)
    val brands = Tables.part(spark, sfDir)
      .select(col("p_partkey").cast("long").as("pk"), col("p_brand"))
    val withB = s.persist(directed
      .join(brands.select(col("pk").as("u"), col("p_brand").as("bu")), Seq("u"))
      .join(brands.select(col("pk").as("v"), col("p_brand").as("bv")), Seq("v")))
    val m = withB.count() / 2 // both-direction list counts each edge twice
    // intra-brand edges: both directions counted, so halve; degrees:
    // out-degree in the both-direction list IS the undirected degree
    val intra = withB.filter(col("bu") === col("bv"))
      .groupBy(col("bu").as("brand")).agg((count(lit(1)) / 2).cast("long").as("intra_edges"))
    val degs = withB.groupBy(col("bu").as("brand"))
      .agg(count(lit(1)).as("deg_sum"),
        countDistinct(col("u")).as("n_vertices"))
    degs.join(intra, Seq("brand"), "left")
      .na.fill(0L, Seq("intra_edges"))
      .select(col("brand"), col("n_vertices"), col("intra_edges"), col("deg_sum"),
        // + 0.0 canonicalizes IEEE negative zero (a tiny negative
        // contribution rounds to -0.0, which the gate's text compare
        // distinguishes from 0.0)
        (round(
          col("intra_edges").cast("double") / m.toDouble -
            (col("deg_sum").cast("double") / (2.0 * m)) *
              (col("deg_sum").cast("double") / (2.0 * m)),
          6) + lit(0.0)).as("contribution"))
      .localCheckpoint()
  }

  /** BFS hop cap — the oracle's recursion guard and the engine's round
    * cap truncate identically: after k rounds the min-relaxation labels
    * are exact for every vertex within k hops and null beyond, which is
    * precisely the ≤k-hop-path minimum the bounded recursive CTE
    * computes. Convergence normally lands far earlier (co-purchase
    * diameter is small). */
  final val BfsMaxRounds = 20

  /** Multi-source BFS: hop distance from the seed set (every 100th
    * part) over the co-purchase graph — the reachability/radius
    * primitive behind "how far is this product from the promoted set"
    * and the building block of closeness measures.
    *
    * Classic synchronous relaxation: dist₀ = 0 on seeds; each round
    * joins the frontier against the cached hash(u) edge layout (no
    * edge-side exchange), min-aggregates candidate distances, and
    * least-merges into the label table — the dupClusters loop
    * discipline (localCheckpoint per round, count-action convergence
    * probe, never a collect). Unlike peeling, min-relaxation IS
    * monotone, so the oracle is a genuine bounded recursive CTE. */
  def graphBfs(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val directed = directedEdges(spark, sfDir, s)
    var dist = s.checkpoint(directed.select(col("u").as("id")).distinct()
      .withColumn("dist",
        when(col("id") % 100 === 0, lit(0L)).otherwise(lit(null).cast("long"))))
    var rounds = 0
    var changed = 1L
    while (changed > 0 && rounds < BfsMaxRounds) {
      val nb = directed
        .join(dist.filter(col("dist").isNotNull), col("u") === col("id"))
        .select(col("v").as("id"), (col("dist") + 1).as("nd"))
        .groupBy(col("id")).agg(min(col("nd")).as("nd"))
      // the change flag rides the relaxation row itself, so ONE action
      // both materializes the round's checkpoint (eager=false: the
      // count is the materializing action) and probes convergence —
      // the former shape paid a separate eager-checkpoint job PLUS a
      // next⋈dist comparison join (two more exchanges) per round
      val next = s.checkpoint(dist.join(nb, Seq("id"), "left")
        .select(col("id"), least(col("dist"), col("nd")).as("dist"),
          (!(least(col("dist"), col("nd")) <=> col("dist"))).as("chg")), eager = false)
      changed = next.filter(col("chg")).count()
      s.free(dist)
      dist = next
      rounds += 1
    }
    dist.filter(col("dist").isNotNull)
      .select(col("id").as("partkey"), col("dist"))
  }

  /** Both-direction view of a canonical undirected (u, v) edge list,
    * persisted pre-partitioned and MATERIALIZED — the iteration-ready
    * layout. Explicit partition count: a bare repartition(col) leaves
    * the count AQE-flexible, which makes the cached HashPartitioning
    * statically unknowable to consumers — they'd re-exchange anyway.
    * The eager count matters the same way: an unexecuted AQE-cached
    * plan reports unknown partitioning, so consumers planned against
    * it would re-exchange the edges every round — the exact defect
    * this layout exists to remove. After the count the scan exposes
    * HashPartitioning(u, N) and each round's edge⋈rank join plans
    * exchange-free on this side. The cache lives in the caller's
    * scope. */
  def prepareDirected(spark: SparkSession, edges: DataFrame, s: Scope): DataFrame = {
    val directed = s.persist(edges
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      .repartition(spark.sessionState.conf.numShufflePartitions, col("u")))
    directed.count()
    directed
  }

  /** The static vertex table (id, deg, n) every round's rank rebuild
    * joins against. Persisted LAZILY by callers: all consumers of the
    * unroll serialize (round k depends on round k-1), so the first use
    * materializes the cache and the rest hit it — no concurrent-fill
    * race, and no extra eager job. */
  private def prNodes(directed: DataFrame): DataFrame = {
    val nodes = directed.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val nCount = nodes.agg(count(lit(1)).as("n"))
    nodes.crossJoin(broadcast(nCount)).select(col("id"), col("deg"), col("n"))
  }

  /** Uniform initial ranks: (id, deg, n, pr = PrScale div n). */
  private def prInit(nodes: DataFrame): DataFrame =
    nodes.select(col("id"), col("deg"), col("n"), expr(s"${PrScale}L div n").as("pr"))

  /** One synchronous damped round — the SINGLE definition of the
    * recurrence, shared by the gate row's static unroll and the
    * converged variant so the two can never de-twin.
    *
    * `pr` is referenced exactly ONCE (the contribution projection);
    * the rank rebuild joins the in-sums against the STATIC cached
    * vertex table instead of the previous rank table. A k-round unroll
    * is therefore a linear-lineage plan — no per-round checkpoint
    * needed to stop re-execution, so the whole fixed unroll runs as a
    * single job instead of one eager materialization per round (the
    * double-reference shape re-executed round i up to 2^(k-i) times
    * unless each round was checkpointed). */
  private def prStep(nodes: DataFrame, directed: DataFrame, pr: DataFrame): DataFrame = {
    // shuffle_hash on the rank side: the cached edge partitions stream
    // through unsorted (a sort-merge join would re-sort the full edge
    // list every round); the build side is one rank row per vertex in
    // the partition — bounded, and far smaller than the edge side.
    val contrib = pr.select(col("id").as("src"), expr("pr div deg").as("c"))
      .hint("shuffle_hash")
    val inSum = directed.join(contrib, col("u") === col("src"))
      .groupBy(col("v").as("dst")).agg(sum(col("c")).as("s"))
    // left join + coalesce: on the both-direction edge list every
    // vertex has an in-edge, but the recurrence keeps the dangling-
    // vertex semantics explicit so the oracle CTEs replay it verbatim.
    // shuffle_hash pin: hash(id) and hash(dst) are already
    // co-partitioned (nodes is cached off its groupBy; inSum exits its
    // own aggregation exchange), so the SHJ is exchange-free — without
    // the pin AQE rewrites this to a broadcast join, paying a
    // vertex-table collect to the driver + rebroadcast EVERY round (k
    // serial driver round-trips per run, and at 100 TB a vertex-scaled
    // broadcast build each round).
    nodes.join(inSum.hint("shuffle_hash"), col("id") === col("dst"), "left")
      .select(col("id"), col("deg"), col("n"),
        (expr(s"(3 * (${PrScale}L div n)) div 20") +
          expr("(17 * coalesce(s, 0L)) div 20")).as("pr"))
  }

  def graphPagerank(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val directed = directedEdges(spark, sfDir, s)
    // lazy persist, no eager count: the unroll is ONE job and all four
    // references to `nodes` live inside it — the first materialization
    // fills the cache, the rest hit it; an eager count here would just
    // pay an extra job's scheduling
    val nodes = s.persist(prNodes(directed))
    var pr = prInit(nodes)
    for (_ <- 1 to PrIters) pr = prStep(nodes, directed, pr)
    // ONE materializing job for the whole unroll (prStep's lineage is
    // linear), then release the edge and vertex caches — the output
    // checkpoint is self-contained, so repeated invocations (bench
    // passes, long sessions) don't accumulate tables in executor memory
    pr.select(col("id").as("partkey"), col("deg"), col("pr").as("pr_scaled"))
      .localCheckpoint()
  }

  /** The library path for open-ended PageRank: iterate to a delta
    * threshold instead of a fixed unroll, with the dupClusters loop
    * discipline (Dedup.scala:214) — localCheckpoint every
    * `checkpointEvery` rounds truncates the growing lineage, and the
    * convergence probe is a max-aggregate action on the checkpointed
    * ranks (never a data collect). Probe and checkpoint share the same
    * cadence, so each materialization is paid once and the lineage
    * between them stays ≤ `checkpointEvery` joins deep.
    *
    * Ranks are scaled longs (10^12) like the gate row, so the delta is
    * an exact integer max — convergence is deterministic, not subject
    * to float merge order. Returns the rank table plus the number of
    * rounds executed.
    *
    * At cluster scale: swap localCheckpoint for reliable checkpoint()
    * to HDFS/S3 (same cadence) so a lost executor replays at most
    * `checkpointEvery` rounds, mirroring the reference's resume-on-
    * crash behavior (script/itemtoid.py:307). */
  def graphPagerankConverged(
      spark: SparkSession, sfDir: String,
      tol: Long = PrScale / 1000000L,
      maxRounds: Int = 60,
      checkpointEvery: Int = 3): (DataFrame, Int) = Scope { s =>
    graphPagerankConvergedOn(directedEdges(spark, sfDir, s), tol, maxRounds, checkpointEvery)
  }

  /** The same converged loop over a caller-supplied iteration-ready
    * edge list (from `prepareDirected`) — the library path for graphs
    * that don't come from the co-purchase derivation, and the entry
    * point the 100× scale probe drives with synthetic graphs. */
  def graphPagerankConvergedOn(
      directed: DataFrame,
      tol: Long = PrScale / 1000000L,
      maxRounds: Int = 60,
      checkpointEvery: Int = 3): (DataFrame, Int) = Scope { s =>
    val nodes = s.persist(prNodes(directed))
    var pr = s.checkpoint(prInit(nodes))
    var rounds = 0
    var delta = Long.MaxValue
    while (delta > tol && rounds < maxRounds) {
      val prev = pr
      var stepped = 0
      while (stepped < checkpointEvery && rounds + stepped < maxRounds) {
        pr = prStep(nodes, directed, pr)
        stepped += 1
      }
      // single-reference prStep keeps the inter-checkpoint lineage
      // LINEAR (checkpointEvery joins deep, each round executed once);
      // the checkpoint exists to truncate lineage growth across many
      // rounds, not to stop re-execution
      pr = s.checkpoint(pr)
      rounds += stepped
      delta = pr.join(prev.select(col("id"), col("pr").as("prev_pr")), Seq("id"))
        .agg(max(abs(col("pr") - col("prev_pr"))).as("d"))
        .head().getLong(0)
      // ~60 retained checkpoint copies at the 100× probe otherwise —
      // free the superseded window's blocks as soon as the delta that
      // needed them is computed
      s.free(prev)
    }
    require(delta <= tol, s"pagerank did not converge in $rounds rounds (delta=$delta)")
    (pr.select(col("id").as("partkey"), col("deg"), col("pr").as("pr_scaled")), rounds)
  }

  /** Label-propagation rounds — FIXED at 3 so engine and oracle agree
    * converged or not (the kcore discipline: a fixed unroll, not a
    * data-dependent stop). */
  final val LpcIters = 3
  /** Pack base for the (count, min-label) argmax: 2^40. Labels are
    * vertex ids < 2^40 and neighbor-label counts must stay < 2^23 for
    * the packed long — the co-purchase degree bound holds orders of
    * magnitude of headroom at any plausible SF. */
  final val LpcPack = 1L << 40

  /** Community-label warehouse: graph_community and graph_modularity
    * both consume the identical assignment, and the 3-round
    * propagation (the family's only multi-join derivation besides the
    * wedge closure) runs once per suite. */
  private[graft] def communityLabels(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.warehouse(spark, sfDir, "communities")(deriveCommunityLabels(spark, sfDir, _))

  /** SYNCHRONOUS label propagation (Raghavan et al. 2007), made fully
    * deterministic: every vertex starts labeled with its own id; each
    * round it adopts the label most frequent among its neighbors,
    * ties broken by SMALLEST label — the (count, min-label) argmax is
    * one packed-long max, so a round is exactly two shuffles (the
    * edge⋈label join re-using the cached hash(u) edge layout, then the
    * (u, label) cell agg). Integer-only state: bit-reproducible, and
    * the DuckDB oracle replays the identical 3 rounds as unrolled
    * CTEs. */
  private def deriveCommunityLabels(spark: SparkSession, sfDir: String, s: Scope): DataFrame = {
    val directed = directedEdges(spark, sfDir, s)
    // every vertex appears as a source in the both-direction list, so
    // the init distinct runs inside the cached hash(u) layout
    var labels = directed.select(col("u")).distinct()
      .select(col("u").as("lv"), col("u").as("lbl"))
    for (_ <- 1 to LpcIters) {
      labels = directed
        .join(labels.withColumnRenamed("lv", "v"), Seq("v"))
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(max(col("c") * LpcPack + (lit(LpcPack - 1L) - col("lbl"))).as("pk"))
        .select(col("u").as("lv"),
          (lit(LpcPack - 1L) - pmod(col("pk"), lit(LpcPack))).as("lbl"))
    }
    labels.select(col("lv").as("partkey"), col("lbl").as("community"))
  }

  /** Community detection over the co-purchase graph: the per-vertex
    * label-propagation assignment (see deriveCommunityLabels). */
  def graphCommunity(spark: SparkSession, sfDir: String): DataFrame =
    communityLabels(spark, sfDir)

  /** Newman modularity of the DETECTED (label-propagation) partition —
    * the eval that closes graph_community's loop the way
    * cluster_metrics closes cluster_assign (graph_assortativity grades
    * the a-priori brand partition; this grades the discovered one).
    * Per community: size, internal edges, degree mass, and the
    * modularity contribution e_c/m − (d_c/2m)² in the assortativity
    * float discipline — exact longs into two IEEE divides, one
    * product, one subtraction in fixed order, round 6, negative-zero
    * canonicalized. One labels⋈edges join pair inside the cached
    * hash layouts, then community-sized aggs. */
  def graphModularity(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val labels = communityLabels(spark, sfDir)
    val directed = directedEdges(spark, sfDir, s)
    val withC = s.persist(directed
      .join(labels.select(col("partkey").as("u"), col("community").as("cu")), Seq("u"))
      .join(labels.select(col("partkey").as("v"), col("community").as("cv")), Seq("v")))
    val m = withC.count() / 2 // both-direction list counts each edge twice
    val intra = withC.filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg((count(lit(1)) / 2).cast("long").as("internal_edges"))
    val degs = withC.groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("deg_sum"), countDistinct(col("u")).as("n_vertices"))
    degs.join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("internal_edges"))
      .select(col("community"), col("n_vertices"), col("internal_edges"), col("deg_sum"),
        (round(
          col("internal_edges").cast("double") / m.toDouble -
            (col("deg_sum").cast("double") / (2.0 * m)) *
              (col("deg_sum").cast("double") / (2.0 * m)),
          6) + lit(0.0)).as("contribution"))
      .localCheckpoint()
  }

  /** HITS hubs/authorities (Kleinberg) over the canonically-oriented
    * co-purchase graph (u < v — symmetric adjacency would make hub ≡
    * authority, a degenerate readout). Two full mutual-reinforcement
    * iterations run UNNORMALIZED in exact integers: the k-th scores
    * are directed path counts (auth₂ = paths of length 3 ending at v,
    * hub₂ = length 4 from u), so every intermediate is a BIGINT both
    * engines compute identically, and the usual per-round float
    * normalization — which would compound cross-engine ulps — happens
    * ONCE at the end as a single divide by the max, round 6.
    *
    * Scale shape: four sparse mat-vec steps, each an edges⋈vector
    * equi-join + sum agg inside the cached hash(u) edge layout —
    * cost is iterations × one shuffle, the pagerank discipline. */
  def graphHits(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    // no second persist+count: the u<v filter is a narrow predicate
    // over the already-persisted hash(u) edge layout (partitioning
    // preserved), so re-caching a filtered copy paid two extra jobs
    // and double memory for nothing
    val directed = directedEdges(spark, sfDir, s)
    val e = directed.filter(col("u") < col("v"))
    // the u > v slice of the SAME cached both-direction layout IS the
    // transposed edge list (every (u, v) ∈ e appears reversed as
    // (v, u)): hub steps and the in-degree seed join/aggregate on the
    // cache's own hash(u) partitioning instead of re-exchanging the
    // edge list by v — at 100 TB those were edge-sized shuffles, one
    // per hub step plus one for the seed
    val rev = directed.filter(col("u") > col("v"))
    def matvecT(vec: DataFrame): DataFrame = // authᵀ step: mass flows u→v
      e.join(vec.withColumnRenamed("pk", "u"), Seq("u"))
        .groupBy(col("v").as("pk")).agg(sum(col("n")).as("n"))
    def matvec(vec: DataFrame): DataFrame =   // hub step: collect from v,
      // via rev: Σ_{(u,v)∈e} vec(v) grouped by u ≡ Σ_{(v,u)∈rev} vec
      // joined on rev's first column, grouped by its second
      rev.join(vec.withColumnRenamed("pk", "u"), Seq("u"))
        .groupBy(col("v").as("pk")).agg(sum(col("n")).as("n"))
    val auth1 = rev.groupBy(col("u").as("pk")).agg(count(lit(1)).as("n"))
    // hub1 is referenced exactly once (by auth2), so its lineage is
    // linear — a checkpoint here bought nothing but an extra eager job
    val hub1 = matvec(auth1)
    // vertex-sized intermediates the result does not read: the scope
    // frees them once out is materialized
    val auth2 = s.checkpoint(matvecT(hub1))
    val hub2 = s.checkpoint(matvec(auth2))
    // every endpoint of e appears in the both-direction list's u
    // column, so the vertex census is a distinct ON the cache's own
    // partitioning key — no union, no exchange
    val verts = directed.select(col("u").as("partkey")).distinct()
    val maxes = auth2.agg(max(col("n")).as("ma"))
      .crossJoin(hub2.agg(max(col("n")).as("mh")))
    verts
      .join(auth2.select(col("pk").as("partkey"), col("n").as("auth")), Seq("partkey"), "left")
      .join(hub2.select(col("pk").as("partkey"), col("n").as("hub")), Seq("partkey"), "left")
      .na.fill(0L, Seq("auth", "hub"))
      .crossJoin(broadcast(maxes))
      .select(col("partkey"), col("auth"), col("hub"),
        round(col("auth").cast("double") / col("ma").cast("double"), 6).as("auth_score"),
        round(col("hub").cast("double") / col("mh").cast("double"), 6).as("hub_score"))
      .localCheckpoint()
  }

}
