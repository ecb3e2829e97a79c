package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan invariants — the properties that keep these operators
  * viable at 100 TB. A regression here (lost pushdown, a surprise
  * cartesian product, a dropped broadcast) changes cluster cost by
  * orders of magnitude long before any correctness test notices. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("every non-equi join in every registered query has a provably tiny side") {
    // A BroadcastNestedLoopJoin is only acceptable when one side is a
    // broadcast SCALAR (a grand-total aggregate, maxRows = 1) or a
    // provably bounded enumeration — anything else is a latent
    // cartesian product that works at test SF and detonates at 100 TB.
    // Catalyst's logical maxRows proves the bound statically: a global
    // aggregate reports Some(1), limits report Some(n), and products/
    // unions propagate. Queries whose tiny side is data-derived (a
    // distinct over an enumerable column) carry an explicit exemption
    // with the domain bound that justifies it; a NEW unbounded
    // non-equi join fails this test instead of shipping.
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical._
    val bound = 64L
    // static row bound: Catalyst's maxRows plus the pass-through nodes
    // it loses the bound under (broadcast() wraps in a ResolvedHint,
    // whose default UnaryNode.maxRows is None)
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, CreateArray, Explode, Literal, PosExplode}
    import org.apache.spark.sql.catalyst.util.ArrayData
    // static element count of an array expression: literal arrays
    // (typedLit grids, constant-folded sequence(..) grids), CreateArray,
    // and 1:1 transforms over them
    def arraySize(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Long] = e match {
      case Literal(a: ArrayData, _) => Some(a.numElements().toLong)
      case c: CreateArray => Some(c.children.size.toLong)
      case t: ArrayTransform => arraySize(t.argument)
      case _ => None
    }
    def boundedRows(p: LogicalPlan): Option[Long] = p match {
      case a: Aggregate if a.groupingExpressions.isEmpty => Some(1L)
      case _ if p.maxRows.isDefined => p.maxRows
      case h: ResolvedHint => boundedRows(h.child)
      case pr: Project => boundedRows(pr.child)
      case f: Filter => boundedRows(f.child)
      case s: SubqueryAlias => boundedRows(s.child)
      case g: Generate =>
        val per = g.generator match {
          case Explode(ch) => arraySize(ch)
          case PosExplode(ch) => arraySize(ch)
          case _ => None
        }
        for (c <- boundedRows(g.child); n <- per) yield c * n
      case j: Join =>
        for (l <- boundedRows(j.left); r <- boundedRows(j.right)) yield l * r
      case _ => None
    }
    // Data-derived tiny sides the bound cannot prove statically — each
    // exempt row names the domain bound that justifies its non-equi
    // join(s). Adding a NEW non-equi join to an exempt query still
    // fails (site counts are pinned).
    // (r14) the centroid-scoring family needs no exemptions anymore:
    // the packed-centroid rewrite made every such side a global
    // aggregate — provably ONE row to the bound above.
    val exempt: Map[String, (Int, String)] = Map(
      "audience_overlap" -> (1, "event-type pair enumeration: C(|event types|, 2), |types| fixed by the event schema"),
      "kmv_overlap" -> (4, "per-event-type KMV sketches: one row per type pair"),
      "dedup_cross_source" -> (1, "per-source signature aggregates: one row per source label"),
      "source_kl" -> (1, "per-source distributions (|sources|) × bounded-heap top-K vocab"),
      "ks_test" -> (1, "per-source sample CDFs: side rows bounded by |sources|"),
      "bpe_train2" -> (1, "BPE merge-rank table: exactly BpeMerges rows by construction"))
    val unboundedSites = SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.optimizedPlan
        plan.collect {
          case j: Join =>
            val equi = j.condition.exists(_.exists {
              case EqualTo(l, r) =>
                (l.references.subsetOf(j.left.outputSet) && r.references.subsetOf(j.right.outputSet)) ||
                  (r.references.subsetOf(j.left.outputSet) && l.references.subsetOf(j.right.outputSet))
              case EqualNullSafe(l, r) =>
                (l.references.subsetOf(j.left.outputSet) && r.references.subsetOf(j.right.outputSet)) ||
                  (r.references.subsetOf(j.left.outputSet) && l.references.subsetOf(j.right.outputSet))
              case _ => false
            })
            if (!equi &&
              !boundedRows(j.left).exists(_ <= bound) &&
              !boundedRows(j.right).exists(_ <= bound))
              Some(name -> s"left=${j.left.nodeName}, right=${j.right.nodeName}")
            else None
        }.flatten
      }
    val byQuery = unboundedSites.groupBy(_._1)
    val offenders = byQuery.toSeq.sortBy(_._1).flatMap { case (name, sites) =>
      exempt.get(name) match {
        case Some((n, _)) if sites.length == n => None
        case Some((n, _)) if sites.length > n =>
          Some(s"$name: ${sites.length} unbounded non-equi sites but exemption " +
            s"pins $n — the new site needs its own justification")
        case Some(_) => None // fewer than pinned: reported once below
        case None => Some(s"$name: unbounded non-equi join(s): " +
          sites.map(_._2).mkString("; "))
      }
    } ++ exempt.collect {
      case (name, (n, _)) if byQuery.getOrElse(name, Nil).length < n =>
        s"$name: exemption pins $n sites but only " +
          s"${byQuery.getOrElse(name, Nil).length} found — tighten the exemption"
    }
    assert(offenders.isEmpty, "non-equi join guard:\n" + offenders.mkString("\n"))
  }

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(!p.contains("l_comment"), "scan must prune unused columns")
  }

  test("q3_join broadcasts dimensions and pushes all three filters") {
    val p = plan("q3_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"))
    assert(p.contains("GreaterThan(l_shipdate"))
    assert(p.contains("LessThan(o_orderdate"))
  }

  test("q5_starjoin has no cartesian or nested-loop join") {
    val p = plan("q5_starjoin")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("entity matchers block the fuzzy join on one nation equi-key") {
    // Every EntityMatch.bestMatch call is one join of customers to
    // suppliers keyed on the nation key alone; the value is how many
    // calls each query makes. entity_match and the other best_match
    // readers run that join inside the eager warehouse build, so each
    // query is built in a cold session (its own warehouse root) and its
    // sub-executions are audited with its terminal plan. Any join of a
    // customer side to a supplier side must be a hash or merge equi-join.
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
    import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
      CartesianProductExec, HashJoin, SortMergeJoinExec}
    val family = Seq("entity_match" -> 1, "match_certitude" -> 1, "id_dedup" -> 1,
      "blocking_eval" -> 1, "match_eval" -> 2, "entity_cascade" -> 1,
      "entity_lattice" -> 1, "entity_bounded" -> 1, "stage_resume" -> 2)
    def names(ks: Seq[Expression]) = ks.map {
      case a: Attribute => a.name
      case e => e.sql
    }
    def onNation(l: Seq[Expression], r: Seq[Expression], cond: Option[Expression]) =
      cond.isEmpty && Set(names(l), names(r)) == Set(Seq("c_nationkey"), Seq("s_nationkey"))
    for ((name, calls) <- family) {
      val cold = spark.newSession()
      // AQE off: the audited trees are the full static plans
      cold.conf.set("spark.sql.adaptive.enabled", "false")
      val build = SubExecutions.capture(cold) { SparkEntry.queries(name)(cold, sf) }
      val plans = build.executions.map(_.executedPlan) :+
        build.value.queryExecution.executedPlan
      def has(p: SparkPlan, c: String) = p.output.exists(_.name == c)
      val custSupp = plans.flatMap(_.collect {
        case j: BinaryExecNode if (has(j.left, "c_nationkey") && has(j.right, "s_nationkey")) ||
            (has(j.right, "c_nationkey") && has(j.left, "s_nationkey")) => j
      })
      val unblocked = custSupp.collect {
        case j @ (_: BroadcastNestedLoopJoinExec | _: CartesianProductExec) => j.nodeName
      }
      assert(unblocked.isEmpty, s"$name joins customers to suppliers unblocked: $unblocked")
      val blocks = custSupp.count {
        case j: HashJoin => onNation(j.leftKeys, j.rightKeys, j.condition)
        case j: SortMergeJoinExec => onNation(j.leftKeys, j.rightKeys, j.condition)
        case _ => false
      }
      assert(blocks == calls, s"$name: $blocks nation-key equi-joins, expected $calls " +
        s"across ${plans.size} plans")
    }
  }

  test("cdc_chunk computes its chunk table once: one documents scan, one round-robin spread") {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE off: the static plan shows every scan and exchange; a chunk
    // table read twice (an aggregate joined back) re-runs the spread
    // scan and the boundary filter under each read
    val cold = spark.newSession()
    cold.conf.set("spark.sql.adaptive.enabled", "false")
    val p = SparkEntry.queries("cdc_chunk")(cold, sf).queryExecution.executedPlan
    val scans = p.collect { case f: FileSourceScanExec if f.relation.location.rootPaths
      .exists(_.getName.startsWith("documents")) => f }
    val spreads = p.collect { case e: ShuffleExchangeExec
      if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e }
    assert(scans.size == 1 && spreads.size == 1,
      s"${scans.size} documents scans, ${spreads.size} round-robin exchanges:\n$p")
  }

  test("dedup operators never materialize an unblocked cross product") {
    for (q <- Seq("dedup_ngram", "dedup_minhash", "dedup_simhash", "dedup_embedding",
        "contamination_check", "corpus_filter", "enrich_wide", "name_status")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q contains an unblocked join")
    }
  }

  test("enrich_wide computes all attributes in a single aggregation shuffle") {
    val p = plan("enrich_wide")
    // one hash-partitioned Exchange (the per-customer agg); dimension
    // joins broadcast, so nothing else shuffles
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"expected at most one shuffle exchange, plan:\n$p")
  }

  test("contamination_check shuffles on the fingerprint, eval sizes broadcast") {
    val p = plan("contamination_check")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "eval sizes must broadcast")
  }

  test("ann_lsh joins candidates on the bucket equi-key") {
    val p = plan("ann_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("dedup_embedding blocks on (label, lsh bucket), never label alone") {
    val p = plan("dedup_embedding")
    // the candidate equi-join key must include the hyperplane bucket —
    // label-only blocking is quadratic inside a hot label
    assert(p.contains("bucket"), "join key must include the LSH bucket")
    assert(p.contains("hyperplane_lsh"))
  }

  test("itemToId reduces best-match via the bounded-heap TopK operator") {
    import org.apache.spark.sql.functions.col
    val d = java.nio.file.Files.createTempDirectory("graft_planspec")
    java.nio.file.Files.writeString(d.resolve("CAT_1.xml"),
      """<TEI xmlns="http://www.tei-c.org/ns/1.0"><text><body><list>
        |<item xml:id="CAT_1_e1"><name>hugo victor</name>
        | <trait><p>N. 1802 M. 1885.</p></trait></item>
        |</list></body></text></TEI>""".stripMargin)
    val cat = graft.sources.Tables.customer(spark, sf)
      .select(col("c_custkey").cast("string").as("entity_id"),
        col("c_name").as("entity_name"))
    val df = graft.operators.WikidataPipeline.itemToId(spark, d.toString, cat)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("TopKPerGroup"), "best-match must plan as TopKPerGroupExec")
    assert(!p.contains("row_number"), "no window row_number in the match path")
  }

  test("doc_keywords top-5 plans as the bounded-heap TopK operator") {
    val p = plan("doc_keywords")
    assert(p.contains("TopKPerGroup"), "rank<=5 filter must rewrite to TopKPerGroupExec")
    assert(!p.contains("row_number"), "no window row_number in the keyword path")
  }

  test("sampling operators stay shuffle-free on the corpus pass") {
    for (q <- Seq("sample_stratified", "repetition_score")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not shuffle the corpus")
    }
  }

  test("seq_pack windows only over bounded buckets, bucket offsets broadcast") {
    val p = plan("seq_pack")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "bucket offsets must broadcast back")
    // the within-bucket window partitions by (lang, bucket), never lang alone
    assert(p.contains("windowspecdefinition(lang") || p.contains("PartitionSpec: [lang"),
      s"plan must show the window specs:\n$p")
  }

  test("cluster_assign broadcasts centroid tables on both passes") {
    val p = plan("cluster_assign")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      "both centroid tables (seed + Lloyd) must broadcast")
  }

  test("word_count keeps partial aggregation map-side") {
    val p = plan("word_count")
    assert(p.contains("partial_count") || p.contains("HashAggregate"))
  }

  test("documents scans prune to referenced columns") {
    val p = plan("token_count")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("sample_group and bm25_rank reduce via the bounded-heap TopK operator") {
    for (q <- Seq("sample_group", "bm25_rank", "events_attribution")) {
      val p = plan(q)
      assert(p.contains("TopKPerGroup"), s"$q must plan TopKPerGroupExec")
      assert(!p.contains("row_number"), s"$q must not fall back to a window")
    }
    // vocab_coverage caps via global TopK FIRST; its rank window then
    // orders only the V surviving rows (bounded partition by design)
    val p = plan("vocab_coverage")
    assert(p.contains("TopKPerGroup"), "global top-V must use the bounded heap")
  }

  test("bloom_prune filters the fact scan before the join") {
    val p = plan("bloom_prune")
    assert(p.contains("might_contain"), "bloom membership filter must be in the plan")
    // formatted explain prints top-down: the join node must appear
    // BEFORE (above) the bloom Filter that guards the fact scan — a
    // might_contain evaluated above the join would prune nothing
    val filterPos = p.indexOf("might_contain")
    val joinPos = p.indexOf("HashJoin")
    assert(filterPos >= 0 && joinPos >= 0 && joinPos < filterPos,
      "bloom filter must sit below the join, on the scan side")
  }

  test("vocab-scale model joins carry no forced broadcast hint") {
    // unigram/bigram/df model tables grow with the corpus vocabulary;
    // a forced broadcast hint bypasses AQE's size check and OOMs the
    // driver at 100×. Only one-row scalar aggregates (vocab size,
    // n_docs) may keep a hint — so cap hinted joins at the scalar count.
    def hinted(name: String): Int = {
      val df: DataFrame = SparkEntry.queries(name)(spark, sf)
      "strategy=broadcast".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    }
    assert(hinted("unigram_score") == 0, "unigram freq join must be unhinted")
    assert(hinted("substring_dup") == 0, "duplicated-shingle join must be unhinted")
    assert(hinted("bigram_lm_score") <= 1, "only the one-row vocab agg may hint")
    assert(hinted("doc_keywords") <= 1, "only the one-row n_docs agg may hint")
  }

  test("q_cube expands grouping sets in a single aggregation pass") {
    val p = plan("q_cube")
    assert(p.contains("Expand"), "cube must plan one Expand, not a union of scans")
    // formatted explain prints each node twice (tree + detail):
    // 2 tables ⇒ at most 4 textual occurrences
    assert("Scan parquet".r.findAllIn(p).size <= 4, "one scan per table only")
  }

  test("graph_triangles joins stay equi-key, no cartesian wedge explosion") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("events_gapfill generates the grid distributed, no driver calendar") {
    val p = plan("events_gapfill")
    assert(p.contains("Generate") && p.contains("explode"),
      "sequence+explode must run in-plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("eager sub-executions: loop-body plans stay bounded, no cartesian products") {
    // The EAGER operators (iterative loops, cache-materializing counts,
    // localCheckpoints) execute most of their plan during the query
    // BUILD, so the terminal-plan checks above are blind exactly where
    // plans are most complex. Capture every sub-execution live via
    // SubExecutions (the PlanAudit mechanism) and pin the loop-body
    // shape: max exchanges per sub-plan per operator. A rewrite that
    // adds a shuffle to a round's plan fails here, at any round count
    // — the bound is per-ROUND, so it is scale-free.
    // LINEAGE CAPS for the representative LOOPS: each checkpoint
    // window's sub-plan holds at most (rounds-per-checkpoint ×
    // per-round shuffles) exchanges, a constant — if the checkpoint
    // cadence ever breaks, a later window's plan contains every
    // preceding round and the count grows without bound, which is
    // exactly the failure mode that stalls a 60-round run at scale.
    // Bounds = observed window maxima with AQE/tiny-sf slack; they
    // are scale-free because the window size is fixed in code. The
    // heaviest ONE-SHOT eager pipelines are checked for capture +
    // no-cartesian only — their single sub-plan's exchange count
    // moves with AQE's runtime replanning, so a pin would be noise.
    // every loop family in the PLANS.md eager appendix has one pinned
    // representative: HashMin CC (dup_clusters), pagerank/hits power
    // iterations, BFS frontier, k-core peel, greedy MMR, and ann_pq's
    // codebook train (Lloyd step + two build guards — ONE captured
    // sub-plan whose exchange count is iteration-bound by code, 24
    // observed, constant in corpus size because codebooks are M×K
    // rows by construction).
    // ann_pq pin tightened 36 → 12 in r15: the codebooks collect to
    // the driver and re-enter as literals, deleting the per-book
    // one-row-aggregate → broadcast → corpus-crossJoin plumbing
    // (observed max sub-plan: 8 exchanges at sf0.1).
    val pinned = Map(
      // graph_hits pin tightened 16 → 12 in r15: hub steps and the
      // in-degree seed now ride the transposed (u > v) slice of the
      // cached hash(u) layout — no edge-sized exchange remains in
      // the matvec path (observed max sub-plan: 10 at sf0.1).
      "graph_pagerank" -> 16, "graph_bfs" -> 8, "dup_clusters" -> 6,
      "mmr_diversify" -> 16, "graph_hits" -> 12, "graph_kcore" -> 8,
      "ann_pq" -> 12,
      "containment_dup" -> Int.MaxValue)
    for ((name, maxEx) <- pinned) {
      val plans = SubExecutions.capture(spark) { SparkEntry.queries(name)(spark, sf) }
        .executions.map(_.explainString(ExplainMode.fromString("formatted")))
      assert(plans.nonEmpty, s"$name captured no eager sub-executions " +
        "— did the operator stop checkpointing, or the listener break?")
      for (p <- plans) {
        assert(!p.contains("CartesianProduct"),
          s"$name eager sub-plan contains a cartesian product")
        val ex = "\\(\\d+\\) Exchange".r.findAllIn(p).size
        assert(ex <= maxEx,
          s"$name checkpoint-window sub-plan grew to $ex exchanges " +
            s"(lineage cap $maxEx) — is the checkpoint cadence broken?")
      }
    }
  }

  test("embedding_pca: fully-lazy power iteration, terminal plan bounded") {
    // embedding_pca is the one loop family with NO eager sub-plans: the
    // foldLeft composes all PcaIters rounds into ONE declarative plan
    // (each round's v is a lazy broadcast subtree, never an action), so
    // its lineage cap lives on the terminal plan — exchange count is
    // iteration-bound by code (8 rounds × ~4-5 constant-size shuffles +
    // the eigenvalue tail, 37 observed), independent of corpus size. A
    // broken composition (an eager count, or a round re-deriving its
    // predecessor) moves this number.
    val p = SparkEntry.queries("embedding_pca")(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"))
    val ex = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(ex <= 48, s"embedding_pca terminal plan grew to $ex exchanges")
  }
}
