package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.{Materialize, Tables}

/** Entity resolution — the Spark re-expression of the reference's
  * Wikidata full-text-search cascade (script/itemtoid.py:222
  * launch_query / relaunch_query): for each source record, find the
  * best-matching record in an entity catalog and score how certain
  * the match is (script/itemtoid.py:91-113 request()'s paramcount).
  *
  * Spark-first shape: the remote API lookup becomes a **blocked fuzzy
  * join** — candidates are generated inside an equi-join on a blocking
  * key (here nationkey; first-token/soundex for free text), scored
  * with an edit distance, and reduced to the best match per source row
  * by a pack-and-min argmin aggregate. The blocking key bounds the
  * pair count, so the operator scales linearly in input size instead
  * of quadratically; skewed blocks split under AQE.
  */
object EntityMatch {

  /** Candidate pairs: customer × supplier within a nation block,
    * scored by levenshtein over normalized names. */
  private def scoredPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      // the probe side arrives as a single row group at test scale —
      // without this the whole scoring stage runs as ONE task; at
      // cluster scale the scan is already many partitions and this
      // round-robin is a cheap no-op relative to the scoring
      .transform(Partitioning.spread)
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    // supplier is SF-proportional: no hint, AQE broadcasts when small
    cust.join(supp, col("c_nationkey") === col("s_nationkey"))
      .withColumn("distance", levenshtein(col("c_name"), col("s_name")))
  }

  /** (distance, suppkey) packed into one long: distance in the high
    * bits, key in the low 48. min(packed) IS argmin with the
    * (distance, suppkey) tiebreak — and unlike min_by over a struct
    * (which degrades to SortAggregate with per-row struct allocation),
    * a long min runs in codegen'd HashAggregate with full map-side
    * combine: one row per (partition, customer) reaches the shuffle. */
  private val KeyMask = (1L << 48) - 1
  private def packed: Column =
    (col("distance").cast("long") * lit(1L << 48)) + col("s_suppkey")
  private def unpackKey(p: Column): Column = p.bitwiseAND(lit(KeyMask))

  /** Suite-run best-match warehouse: four queries (entity_match,
    * match_certitude, id_dedup, match_eval via its matchers) consume
    * the identical (customer-sized) argmin table, and each would
    * otherwise replay the blocked levenshtein scoring join. */
  private[graft] def bestPacked(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.warehouse(spark, sfDir, "best_match")(_ => deriveBestPacked(spark, sfDir))

  private def deriveBestPacked(spark: SparkSession, sfDir: String): DataFrame =
    scoredPairs(spark, sfDir)
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .agg(min(packed).as("p"))
      .withColumn("match_id", unpackKey(col("p")))
      .withColumn("distance", shiftright(col("p"), 48).cast("long"))

  /** Best match per customer (argmin distance, suppkey tiebreak). */
  def entityMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").as("match_id"), col("s_name").as("match_name"))
    bestPacked(spark, sfDir)
      .join(supp, Seq("match_id"))
      .select(col("c_custkey"), col("c_name"), col("match_id"),
        col("match_name"), col("distance"))
  }

  /** The entity stage over an EXPLICIT item subset — the resume path's
    * unit of work (see Restart.stageResume): the same blocked
    * levenshtein argmin as entityMatch, but over whatever slice of the
    * item table the caller hands in. Matching is per-customer
    * independent, so match(subset) ≡ full-run restricted to the subset
    * — the property the stage_resume gate asserts. */
  def entityMatchFor(spark: SparkSession, sfDir: String, cust: DataFrame): DataFrame = {
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    val best = cust
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .transform(Partitioning.spread)
      .join(supp, col("c_nationkey") === col("s_nationkey"))
      .withColumn("distance", levenshtein(col("c_name"), col("s_name")))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(min(packed).as("p"))
      .withColumn("match_id", unpackKey(col("p")))
      .withColumn("distance", shiftright(col("p"), 48).cast("long"))
    best.join(supp.select(col("s_suppkey").as("match_id"),
        col("s_name").as("match_name")), Seq("match_id"))
      .select(col("c_custkey"), col("c_name"), col("match_id"),
        col("match_name"), col("distance"))
  }

  /** Certitude scoring: count matched "parameters" exactly like the
    * reference counts query parameters present in a successful search
    * (itemtoid.py:91-113), then threshold. */
  def matchCertitude(spark: SparkSession, sfDir: String): DataFrame = {
    entityMatchWithBal(spark, sfDir)
      .withColumn("param_name", (col("distance") <= 12).cast("int"))
      .withColumn("param_bal", (abs(col("c_acctbal") - col("s_acctbal")) < lit(2000.0)).cast("int"))
      .withColumn("param_key", (pmod(col("c_custkey"), lit(10)) === pmod(col("match_id"), lit(10))).cast("int"))
      .withColumn("paramcount", col("param_name") + col("param_bal") + col("param_key"))
      .withColumn("certitude", (col("paramcount") >= 2))
      .select(col("c_custkey"), col("match_id"), col("paramcount"), col("certitude"))
  }

  /** entityMatch keeping the balance columns needed by certitude. */
  private def entityMatchWithBal(spark: SparkSession, sfDir: String): DataFrame = {
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").as("match_id"), col("s_acctbal"))
    bestPacked(spark, sfDir)
      .join(supp, Seq("match_id"))
      .select(col("c_custkey"), col("c_acctbal"), col("match_id"),
        col("s_acctbal"), col("distance"))
  }

  /** Retry cascade — the reference relaunches its search with fewer
    * parameters when the strict query returns nothing (itemtoid.py:307
    * relaunch_query), degrading certitude per fallback. Spark form:
    * pass 1 is a cheap equi-join on a strict key (here the numeric name
    * tail + nation; certitude 2); only the unmatched remainder pays for
    * pass 2's fuzzy scoring (certitude 1); rows with no candidate at
    * all surface with certitude 0. The anti-join between passes keeps
    * each pass's input shrinking — the distributed shape of a
    * try-cheapest-first lookup cascade. */
  def entityCascade(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))

    val exact = cust.join(supp,
        col("c_nationkey") === col("s_nationkey") &&
          substring(col("c_name"), -5, 5) === substring(col("s_name"), -5, 5))
      .groupBy(col("c_custkey"))
      .agg(min(col("s_suppkey")).as("match_id"))
      .withColumn("method", lit("exact"))
      .withColumn("certitude", lit(2))

    val rest = cust.join(exact.select(col("c_custkey")), Seq("c_custkey"), "left_anti")
      .transform(Partitioning.spread)
    val fuzzy = rest.join(supp, col("c_nationkey") === col("s_nationkey"))
      .withColumn("distance", levenshtein(col("c_name"), col("s_name")))
      .groupBy(col("c_custkey"))
      .agg(min(packed).as("p"))
      .select(col("c_custkey"),
        unpackKey(col("p")).as("match_id"),
        lit("fuzzy").as("method"), lit(1).as("certitude"))

    val matched = exact.select(col("c_custkey"), col("match_id"), col("method"), col("certitude"))
      .unionByName(fuzzy)
    cust.select(col("c_custkey"))
      .join(matched, Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        col("match_id"),
        coalesce(col("method"), lit("none")).as("method"),
        coalesce(col("certitude"), lit(0)).as("certitude"))
  }

  /** K-LEVEL PARAMETER-SUBTRACTIVE RETRY LATTICE — the full shape of
    * the reference's relaunch cascade (itemtoid.py:187-221
    * relaunch_query + itemtoid.py:254-305 launch_query): the first
    * query carries ALL available parameters; on failure the dates
    * drop one at a time, then each remaining parameter is removed
    * singly (restoring it before trying the next), and the certitude
    * of a successful match counts the parameters that SURVIVED in the
    * winning query (itemtoid.py:91-113 paramcount).
    *
    * Parameter mapping onto the catalog twin: the nation block plays
    * the always-kept surname; the three subtractive parameters are
    * key-residue (date 1 analog), balance bucket (date 2 analog), and
    * name-tail digit (the occupation/status analog). Lattice priority
    * replays the reference's retry order exactly:
    * 0 = all three, 1-3 = drop one (key first, the dates-first rule),
    * 4-6 = single-parameter fallbacks, 7 = block-only last resort
    * (the reference's name-only final query). Certitude = surviving
    * parameter count + 1 for the block: 4/3/2/1, and 0 when the block
    * itself is empty.
    *
    * Spark-first shape: a sequential 8-pass anti-join chain would
    * replay the retries literally, but with a LOCAL candidate set the
    * cascade is equivalent to one blocked equi-join computing each
    * pair's best-satisfied level, then a packed-long argmin per
    * source row ((level, suppkey) lexicographic via min over
    * level·2⁴⁸+key — codegen'd HashAggregate with full map-side
    * combine). One shuffle join + one agg instead of eight passes;
    * the per-pair when-chain is whole-stage codegen'd. */
  def entityLattice(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"))
      .transform(Partitioning.spread)
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
    val pKey = pmod(col("c_custkey"), lit(97L)) === pmod(col("s_suppkey"), lit(97L))
    val pBal = floor(col("c_acctbal") / lit(1000.0)) ===
      floor(col("s_acctbal") / lit(1000.0))
    val pNm = expr("right(c_name, 1)") === expr("right(s_name, 1)")
    val prio = when(pKey && pBal && pNm, 0L)
      .when(pBal && pNm, 1L).when(pKey && pNm, 2L).when(pKey && pBal, 3L)
      .when(pKey, 4L).when(pBal, 5L).when(pNm, 6L)
      .otherwise(7L)
    val best = cust.join(supp, col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("c_custkey"))
      .agg(min(prio * lit(1L << 48) + col("s_suppkey")).as("p"))
      .select(col("c_custkey"),
        unpackKey(col("p")).as("match_id"),
        shiftright(col("p"), 48).cast("int").as("level"))
    Tables.customer(spark, sfDir).select(col("c_custkey"))
      .join(best, Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("match_id"), col("level"),
        coalesce(
          when(col("level") === 0, 4)
            .when(col("level") <= 3, 3)
            .when(col("level") <= 6, 2)
            .when(col("level") === 7, 1),
          lit(0)).as("certitude"))
  }

  /** Bounded-distance cap for entityBounded (distances saturate at
    * BoundedK + 1). */
  final val BoundedK = 8

  /** Blocked best-match with the BANDED levenshtein kernel — the
    * entity_match workload on the codegen'd BoundedLevenshtein
    * expression (expressions/BoundedLevenshtein.scala): distances
    * saturate at BoundedK+1 and the DP exits a candidate the moment
    * its band exceeds the bound, so an obviously-far pair costs
    * O(length gap check) instead of the full O(n·m) table — the
    * standard ER optimization once blocking keys stop being
    * selective at corpus scale. Saturation is oracle-expressible:
    * DuckDB replays least(levenshtein(a, b), k+1) value-for-value,
    * including the argmin ties it introduces (suppkey tie-break). */
  def entityBounded(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .transform(Partitioning.spread)
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    val best = cust.join(supp, col("c_nationkey") === col("s_nationkey"))
      .withColumn("d",
        expr(s"levenshtein_bounded(c_name, s_name, $BoundedK)").cast("long"))
      .groupBy(col("c_custkey"))
      .agg(min(col("d") * lit(1L << 48) + col("s_suppkey")).as("p"))
      .select(col("c_custkey"),
        unpackKey(col("p")).as("match_id"),
        shiftright(col("p"), 48).cast("int").as("distance"))
    Tables.customer(spark, sfDir).select(col("c_custkey"))
      .join(best, Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("match_id"), col("distance"),
        (col("distance") <= BoundedK).as("matched"))
  }

  /** Deduplicated set of matched entity ids — the reference's
    * idset.py:11 build_idset, which feeds the enrichment stage. */
  def idDedup(spark: SparkSession, sfDir: String): DataFrame =
    bestPacked(spark, sfDir)
      .select(col("match_id"))
      .distinct()

  /** Deterministic labeled truth sample for matcher evaluation —
    * INDEPENDENT of the matchers' scoring (no levenshtein anywhere):
    * a ~3/7 sample of customers; every 5th labeled customer truly has
    * no counterpart (ground-truth silence); otherwise the truth id is
    * the smallest same-nation supplier key with
    * (s_suppkey + c_custkey) % 3 = 0 (null when the nation has none —
    * more silence truth). Plays the role of the reference's labeled
    * 100-row sample (script/itemtoid_test.py:73 test_isolate). */
  private def truthSample(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 7 < 3)
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_nationkey"))
    cust.join(supp,
        col("c_nationkey") === col("s_nationkey") &&
          (col("s_suppkey") + col("c_custkey")) % 3 === 0, "left")
      .groupBy(col("c_custkey"))
      .agg(min(col("s_suppkey")).as("cand"))
      .select(col("c_custkey"),
        when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("cand"))
          .cast("long").as("truth_id"))
  }

  /** Score tagged matcher outputs (matcher, c_custkey, match_id,
    * level) against the truth sample, per (matcher, level) plus an
    * 'all' row per matcher — BOTH matchers through ONE truth join and
    * ONE aggregation (the earlier per-matcher version joined and
    * aggregated twice, recomputing the truth sample each time: 12
    * exchanges for what is one pass). The truth side is exploded per
    * matcher name first, so a truth customer absent from one matcher's
    * output still scores as that matcher's silence. Reference metric
    * semantics (itemtoid_test.py:261-285): "result" = a found id is
    * the true one; "silence" = correctly returning nothing. */
  private def evalMatchers(truth: DataFrame, results: DataFrame,
      matchers: Seq[String]): DataFrame = {
    val j = truth
      .select(col("c_custkey"), col("truth_id"),
        explode(array(matchers.map(lit): _*)).as("matcher"))
      .join(results, Seq("c_custkey", "matcher"), "left")
      .select(col("matcher"), col("truth_id"), col("match_id"),
        coalesce(col("level").cast("string"), lit("none")).as("lvl"))
    // per-level rows + an 'all' row in one pass: explode each joined
    // row into its level group and the overall group, then aggregate —
    // one shuffle on (matcher, level), no second scan of anything
    val g = j.select(col("matcher"), col("truth_id"), col("match_id"),
        explode(array(col("lvl"), lit("all"))).as("level"))
      .groupBy(col("matcher"), col("level"))
      .agg(
        count(lit(1)).as("n"),
        count(col("match_id")).as("n_result"),
        count(when(col("match_id") === col("truth_id"), 1)).as("true_result"),
        count(col("truth_id")).as("n_truth"),
        count(when(col("match_id").isNull, 1)).as("n_silence"),
        count(when(col("match_id").isNull && col("truth_id").isNull, 1)).as("true_silence"),
        count(when(col("truth_id").isNull, 1)).as("n_truth_silence"))
    val p = col("true_result").cast("double") / col("n_result")
    val r = col("true_result").cast("double") / col("n_truth")
    g.select(
      col("matcher"), col("level"), col("n"), col("n_result"),
      col("true_result"),
      when(col("n_result") > 0, round(p, 6)).as("precision_result"),
      when(col("n_truth") > 0, round(r, 6)).as("recall_result"),
      when(col("n_result") > 0 && col("n_truth") > 0 && p + r > 0,
        round(lit(2) * p * r / (p + r), 6)).as("f1_result"),
      col("n_silence"), col("true_silence"),
      when(col("n_silence") > 0,
        round(col("true_silence").cast("double") / col("n_silence"), 6)).as("precision_silence"),
      when(col("n_truth_silence") > 0,
        round(col("true_silence").cast("double") / col("n_truth_silence"), 6)).as("recall_silence"))
  }

  /** Match-accuracy evaluation — the Spark analogue of the reference's
    * scoring harness (script/itemtoid_test.py:179 test_algorithm):
    * precision/recall/F1 of found ids and of correct silences, for
    * entity_cascade per certitude level and match_certitude per
    * paramcount, against the deterministic truth sample. This is the
    * table a user reads to justify matchCertitude's `paramcount >= 2`
    * threshold: precision_result should rise with the level. */
  def matchEval(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = truthSample(spark, sfDir)
    val casc = entityCascade(spark, sfDir)
      .select(col("c_custkey"), col("match_id"), col("certitude").as("level"),
        lit("entity_cascade").as("matcher"))
    val cert = matchCertitude(spark, sfDir)
      .select(col("c_custkey"), col("match_id"), col("paramcount").as("level"),
        lit("match_certitude").as("matcher"))
    evalMatchers(truth, casc.unionByName(cert),
      Seq("entity_cascade", "match_certitude"))
  }

  /** Silence audit over the cascade output — the reference's
    * count_empty (script/itemtoid_test.py:299): after the run, how
    * many items still carry NO id, counted over the labeled test
    * subset AND the full table, as the representativeness check that
    * the test sample reflects the whole corpus. Empty = no candidate
    * at any cascade level (entityCascade certitude 0 / null match_id);
    * the test subset is match_eval's ~3/7 sampling rule, so this row
    * pair audits exactly the population match_eval scores.
    *
    * Shape: one scan of the cascade output; each row contributes to
    * 'real' and, when sampled, to 'test' via a row-local 1-or-2-element
    * explode — a single 2-group hash aggregate (map-side combined), no
    * second corpus pass. Percentages follow the reference's
    * round(empty/total*100, 2). */
  def countEmpty(spark: SparkSession, sfDir: String): DataFrame = {
    // Independent derivation instead of replaying the cascade (the
    // oracle SQL states the same one): under entityCascade, a customer
    // ends with match_id NULL iff its nation has NO supplier at all —
    // the fuzzy pass matches ANY same-nation candidate (min over a
    // non-empty set always exists), and the exact pass only ever fires
    // inside a same-nation join. Equivalence is value-checked by the
    // gate (the oracle derives emptiness the same way); this avoids
    // re-running the blocked levenshtein scoring join (customers ×
    // same-nation suppliers) only to read off NULL-ness.
    val suppNations = Tables.supplier(spark, sfDir)
      .select(col("s_nationkey")).distinct()
    Tables.customer(spark, sfDir)
      .join(broadcast(suppNations),
        col("c_nationkey") === col("s_nationkey"), "left")
      .select(col("s_nationkey").isNull.cast("long").as("is_empty"),
        explode(when(col("c_custkey") % 7 < 3,
          array(lit("test"), lit("real"))).otherwise(array(lit("real"))))
          .as("dataset"))
      .groupBy(col("dataset"))
      .agg(sum(col("is_empty")).as("empty_rows"), count(lit(1)).as("total_rows"))
      .select(col("dataset"), col("empty_rows"), col("total_rows"),
        round(col("empty_rows").cast("double") * 100.0 /
          col("total_rows").cast("double"), 2).as("pct_empty"))
  }

  /** Sorted-neighborhood window width (pairs up to this rank apart). */
  final val SnWindow = 3

  /** SORTED-NEIGHBORHOOD blocking (Hernández & Stolfo): sort the
    * combined record set on a normalized key and emit candidate pairs
    * only within a sliding rank window — the third classic ER blocking
    * family next to equi-key blocks (entity_match) and LSH buckets
    * (dedup_*), and the one that catches near-misses an equi-block
    * splits apart (adjacent keys block together regardless of any
    * exact attribute agreeing).
    *
    * ONE range shuffle does all the work: repartitionByRange lays the
    * records out in global (key, rec_id) order across partitions,
    * sortWithinPartitions orders each partition, and a per-partition
    * sliding buffer of SnWindow rows emits every within-partition pair
    * directly — a sliding rank window never needs ABSOLUTE ranks, only
    * rank DIFFERENCES, which are local. The ≤ SnWindow·n_partitions
    * pairs that straddle a partition edge come from a tiny edge table
    * (each partition's first/last SnWindow rows + its row count, one
    * extra cache read): exact global ranks for edge rows cost a prefix
    * sum over the per-partition counts, and the straddling pairs are
    * an equi-join of exploded successor ranks against the head rows —
    * all on ≤ 2·SnWindow·n_partitions rows. The old shape ranked the
    * FULL table (window + offset join) and then shuffled a SnWindow×
    * exploded probe table into a rank equi-join — three data-sized
    * exchanges this shape never pays. An eager checkpoint pins one
    * set of sampled range boundaries for both readers (the rule
    * `Partitioning.rangePrefix` states; the interior and edge passes
    * must see the SAME physical layout or straddling pairs are
    * lost/duplicated); the lazy result reads it, so it is the result's
    * own storage. */
  private def snPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val session = spark
    import session.implicits._
    val recs = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("rec_id"), lower(col("c_name")).as("key"))
      .unionByName(Tables.supplier(spark, sfDir)
        .select((col("s_suppkey") + 1000000000L).as("rec_id"), lower(col("s_name")).as("key")))
    val n = spark.sessionState.conf.numShufflePartitions
    val w = SnWindow
    val sorted = recs.repartitionByRange(n, col("key"), col("rec_id"))
      .sortWithinPartitions(col("key"), col("rec_id"))
      .select(col("rec_id"), col("key")).as[(Long, String)]
      .localCheckpoint()
    val interior = sorted.mapPartitions { it =>
      val buf = new scala.collection.mutable.ArrayDeque[(Long, String)]()
      it.flatMap { case (id, key) =>
        val s = buf.size
        val out = buf.iterator.zipWithIndex.map { case ((ida, ka), i) =>
          (ida, ka, id, key, (s - i).toLong)
        }.toVector
        buf.append((id, key))
        if (buf.size > w) buf.removeHead()
        out
      }
    }.toDF("id_a", "key_a", "id_b", "key_b", "rank_dist")
    val edges = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      val head = new scala.collection.mutable.ArrayBuffer[(Long, String)]()
      val tail = new scala.collection.mutable.ArrayDeque[(Long, String, Long)]()
      var pn = 0L
      it.foreach { case (id, key) =>
        if (pn < w) head += ((id, key))
        tail.append((id, key, pn))
        if (tail.size > w) tail.removeHead()
        pn += 1
      }
      (head.iterator.zipWithIndex.map { case ((id, k), i) =>
        (pid, pn, "h", i.toLong, id, k)
      } ++ tail.iterator.map { case (id, k, li) =>
        (pid, pn, "t", li, id, k)
      }).toVector.iterator
    }.toDF("pid", "pn", "side", "lidx", "rec_id", "key")
    val offs = edges.groupBy(col("pid")).agg(max(col("pn")).as("pn"))
      .withColumn("poff", coalesce(sum(col("pn")).over(
        Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("poff"))
    val ranked = edges.join(offs, Seq("pid"))
      .withColumn("grank", col("poff") + col("lidx"))
    val heads = ranked.filter(col("side") === "h")
      .select(col("pid").as("pid_b"), col("rec_id").as("id_b"),
        col("key").as("key_b"), col("grank").as("grank_b"))
    val straddling = ranked.filter(col("side") === "t")
      .select(col("pid").as("pid_a"), col("rec_id").as("id_a"),
        col("key").as("key_a"), col("grank").as("grank_a"),
        explode(expr(s"sequence(grank + 1, grank + $w)")).as("grank_b"))
      .join(heads, Seq("grank_b"))
      // same-partition successors are already interior pairs
      .filter(col("pid_a") =!= col("pid_b"))
      .select(col("id_a"), col("key_a"), col("id_b"), col("key_b"),
        (col("grank_b") - col("grank_a")).as("rank_dist"))
    interior.unionByName(straddling)
  }

  def sortedBlocking(spark: SparkSession, sfDir: String): DataFrame =
    snPairs(spark, sfDir)
      .select(col("id_a"), col("id_b"), col("rank_dist"),
        levenshtein(col("key_a"), col("key_b")).cast("long").as("lev"))
      .filter(col("lev") <= 4)

  /** BLOCKING-STRATEGY EVAL: candidate volume, recall against the
    * gold best-match pairs, and reduction ratio vs the full cross
    * product, for three blocking strategies side by side — the ER
    * engineering decision (match_eval grades the MATCHER; this grades
    * the BLOCKER, where the recall/cost trade is actually made):
    *
    *  - `nation_block` — the production equi-block (recall 1.0 by
    *    construction: the gold derives inside it; its row calibrates
    *    the others' cost),
    *  - `mod10_block` — a hash-key block (cheap, recall ≈ 1/10: keys
    *    are independent — the control),
    *  - `sorted_neighborhood` — snPairs' rank-window candidates
    *    restricted to cross-type pairs.
    *
    * No strategy MATERIALIZES its candidate set except SN (already
    * window-bounded): equi-block volumes are Σ per-key count
    * products — count tables joined, never pairs. Exact longs, two
    * terminal divides per row. */
  def blockingEval(spark: SparkSession, sfDir: String): DataFrame = {
    val gold = bestPacked(spark, sfDir).select(col("c_custkey"), col("match_id"))
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("cn"))
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_nationkey").cast("long").as("sn"))
    val goldKeys = gold
      .join(cust, Seq("c_custkey"))
      .join(supp.withColumnRenamed("s_suppkey", "match_id"), Seq("match_id"))
    val nGold = gold.agg(count(lit(1)).as("n_gold"))
    val fullCross = cust.agg(count(lit(1)).as("nc"))
      .crossJoin(supp.agg(count(lit(1)).as("ns")))
      .select((col("nc") * col("ns")).as("n_cross"))

    def equiBlock(name: String, ck: Column, sk: Column,
        hitCond: Column): DataFrame = {
      val cand = cust.groupBy(ck.as("k")).agg(count(lit(1)).as("c"))
        .join(supp.groupBy(sk.as("k")).agg(count(lit(1)).as("s")), Seq("k"))
        .agg(sum(col("c") * col("s")).as("n_candidates"))
      val hits = goldKeys.agg(sum(hitCond.cast("long")).as("n_hits"))
      cand.crossJoin(hits).select(lit(name).as("strategy"),
        col("n_candidates"), col("n_hits"))
    }
    val nation = equiBlock("nation_block", col("cn"), col("sn"),
      col("cn") === col("sn"))
    val mod10 = equiBlock("mod10_block", pmod(col("c_custkey"), lit(10L)),
      pmod(col("s_suppkey"), lit(10L)),
      pmod(col("c_custkey"), lit(10L)) === pmod(col("match_id"), lit(10L)))
    val snCand = snPairs(spark, sfDir)
      .select(when(col("id_a") < 1000000000L, col("id_a"))
          .otherwise(col("id_b")).as("c_custkey"),
        when(col("id_a") < 1000000000L, col("id_b"))
          .otherwise(col("id_a")).as("sid"),
        ((col("id_a") < 1000000000L) =!= (col("id_b") < 1000000000L)).as("cross"))
      .filter(col("cross"))
      .select(col("c_custkey"), (col("sid") - 1000000000L).as("match_id"))
    // ONE pass over the SN candidates: gold is unique per c_custkey
    // (argmin), so a broadcast left join marks hits without changing
    // the row count, and count + conditional sum replace the former
    // two separate aggregations (each of which re-ran the whole
    // snPairs interior+straddling subtree).
    val snRow = snCand
      .join(broadcast(gold.withColumn("hit", lit(1L))),
        Seq("c_custkey", "match_id"), "left")
      .agg(count(lit(1)).as("n_candidates"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .select(lit("sorted_neighborhood").as("strategy"),
        col("n_candidates"), col("n_hits"))
    nation.unionByName(mod10).unionByName(snRow)
      .crossJoin(broadcast(nGold))
      .crossJoin(broadcast(fullCross))
      .select(col("strategy"), col("n_candidates"), col("n_gold"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_gold").cast("double"), 6)
          .as("recall"),
        round(lit(1.0) - col("n_candidates").cast("double")
          / col("n_cross").cast("double"), 6).as("reduction"))
  }
}
