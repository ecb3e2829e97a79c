package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Similarity
import graft.plans.Scope
import graft.sources.{Materialize, Tables}

/** Deduplication operators for a training-data pipeline, each bounding
  * its candidate-pair set so nothing materializes O(n²) rows:
  *
  *  - exact:     hash groupBy (one shuffle on the 16-byte hash)
  *  - ngram:     word-trigram Jaccard inside (lang, length-bucket) blocks
  *  - minhash:   MinHash signatures + LSH banding; pairs only form
  *               inside a band bucket, then verify by true Jaccard
  *  - simhash:   SimHash64 + 16-bit chunk blocking (any of 4 chunks
  *               equal → candidate), verify by hamming distance
  *  - embedding: cosine similarity inside label blocks
  *
  * The band/chunk equi-joins shuffle on the bucket key, so they scale
  * out and AQE splits skewed buckets; the verify step runs only on
  * candidates.
  */
object Dedup {

  /** Exact dedup: md5 over text groups identical documents; the lowest
    * doc_id in a group is canonical. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("text_hash"))
    Tables.documents(spark, sfDir)
      .withColumn("text_hash", md5(col("text")))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id"), col("text_hash"), col("group_size"),
        col("canonical_id"), col("is_dup"))
  }

  /** Distinct word trigrams of a text column (shared shingle def for
    * ngram/minhash dedup and their oracles). Repartitions first: the
    * test corpus is one row group, and shingling + signature hashing
    * are the compute-heavy stages — without the spread they run as a
    * single task. The spread is an unconditional full exchange, paid
    * even where the scan already splits (see `Partitioning.spread`). */
  private[operators] def shingled(df: DataFrame): DataFrame =
    Partitioning.spread(df)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", trigrams("toks"))

  private def trigrams(toks: String): Column = expr(
    s"array_distinct(transform(sequence(1, size($toks)-2), i -> " +
      s"concat_ws(' ', element_at($toks,i), element_at($toks,i+1), element_at($toks,i+2))))")

  /** Exact n-gram Jaccard near-dup pairs via PREFIX FILTERING (the
    * AllPairs/PPJoin family, Bayardo et al. WWW'07) — COMPLETE for
    * jaccard ≥ 0.5 with no length blocking at all:
    *
    * Order every doc's shingle hashes by (corpus frequency, hash) —
    * rarest first, one global total order. For threshold t, a doc's
    * PREFIX is its first n - ⌈t·n⌉ + 1 shingles. If jaccard(A,B) ≥ t,
    * the globally-smallest common shingle must sit in BOTH prefixes
    * (if it were outside A's prefix, all |A∩B| ≥ t·n_A commons would
    * have to fit in A's ⌈t·n_A⌉-1 suffix slots — contradiction), so an
    * equi-join on prefix shingles finds every qualifying pair. Rare-
    * first ordering makes prefix collisions ≈ genuine near-dups, not
    * vocabulary noise — candidates stay near-linear where any
    * complete size-blocked scheme degenerates to all ratio-2 pairs.
    *
    * Shingle hashes are md5-based (Md5Mod61) so the DuckDB oracle
    * reproduces the ordering, the prefixes, and the candidate set
    * exactly. (The seed-salted k2 draw below leads with the salt so
    * the two xxhash64 draws are genuinely independent.) One shuffle each: frequency agg, per-doc rank, prefix
    * self-join (bare ids through the distinct), then the two payload
    * rejoins for the O(n+m) sorted-jaccard verify; an implied
    * size-ratio prune (min ≥ max/2) runs before it.
    *
    * BUILDING the result runs Spark jobs: the clone-ratio probe (one
    * aggregate over the shingled corpus, see [[cloneHeavy]]) picks
    * the verify route while the DataFrame is constructed, so every
    * call pays that job even if the result is never read: 111–127 ms
    * median over a 500-doc checkpointed corpus on a 4-core host (a
    * plain count: 55–71 ms; an rsd-0.02 sketch: 321–404 ms, most of
    * it generating projection code for its 410-long buffer, not
    * reading rows). The result stays lazy; the shingled corpus it
    * reads several times is held as its own checkpoint storage, never
    * as a cache entry. */
  def dedupNgram(spark: SparkSession, sfDir: String): DataFrame =
    Scope(s => ngramPairsOver(Tables.documents(spark, sfDir), s))

  /** Clone-ratio cutoff (rows per distinct shingle-set key) above
    * which the n-gram verify stage takes the distinct-content
    * representative route. Break-even sits where the rep path's extra
    * machinery (a corpus-array dropDuplicates exchange + pair distinct
    * + fan-back join) is repaid by pairs collapsing ~multiplicity² —
    * at mean multiplicity 1.5 a clone family of 2 already stands for
    * ~2.2 raw pairs and the trade flips. Below it every pair verifies
    * against its own arrays (the clone-light shape that was fastest at
    * sf0.1 before r14 made the rep route unconditional). */
  final val CloneRepVerifyRatio = 1.5

  /** Each doc's sorted md5-mod-61 shingle hash set `sh`, its size `n`
    * and its 128-bit content key `sk` — the table [[ngramPairsOver]]
    * reads for its prefixes, its verify payload and its clone probe. */
  private[graft] def keyedSets(docs: DataFrame): DataFrame =
    shingled(docs)
      .withColumn("sh", array_sort(transform(col("shingles"), s => Similarity.md5Mod(s))))
      .withColumn("n", size(col("sh")))
      // salt FIRST: xxhash64 folds arguments into the running hash, so
      // a trailing salt would make k2 = H(salt, seed=k1) — a pure
      // function of k1, collapsing the key to 64 collision bits. With
      // the salt leading, k2 hashes sh under a different effective
      // seed and is independent of k1 (~2^-128 joint collision).
      .withColumn("sk", struct(xxhash64(col("sh")).as("k1"),
        xxhash64(lit(0x9e3779b97f4a7c15L), col("sh")).as("k2")))
      .select(col("doc_id"), col("lang"), col("n"), col("sk"), col("sh"))

  /** The clone-ratio probe over a [[keyedSets]] table: true (the
    * representative verify route) when rows per distinct content key
    * reach [[CloneRepVerifyRatio]]. One job, one map-side aggregate:
    * the HLL++ sketch runs at rsd 0.05 (p = 9, a 52-long buffer). HLL++
    * is an imperative aggregate, so it runs outside whole-stage codegen
    * and every task generates projections over the whole buffer; at
    * rsd 0.02 (p = 12, 410 longs) that made the probe three times as
    * dear. ±5% error around the cutoff only picks between routes that
    * cost about the same there, and both emit identical rows. An exact
    * distinct count would shuffle every 16-byte key. */
  private[graft] def cloneHeavy(keyed: DataFrame): Boolean = {
    val probe = keyed.agg(count(lit(1)), approx_count_distinct(col("sk"), 0.05)).head()
    probe.getLong(0).toDouble / math.max(probe.getLong(1), 1L) >= CloneRepVerifyRatio
  }

  /** The prefix-filtered pair pipeline over any (doc_id, lang, text)
    * frame — dedup_ngram runs it on the raw corpus; the production
    * composition ([[dedupNgramSurvivor]]) on exact-dedup survivors.
    *
    * VERIFY-STAGE PAYLOAD: candidate pairs never carry shingle arrays.
    * Each doc's shingle SET gets a 128-bit content key — two
    * independent-seed xxhash64 draws over the sorted hash array,
    * computed directly on the array. The key is internal only — never
    * oracle-visible — and a key collision needs BOTH 64-bit draws to
    * collide on the same pair (~2^-128 per distinct-content pair; the
    * 61-bit shingle hashes underneath carry far more collision mass).
    * The pair stream ships keys only (~250× lighter than the ~n-long
    * arrays it replaces), and the exact sorted-merge Jaccard runs once
    * per DISTINCT content pair — the representative arrays join against
    * a key-deduplicated side. On a clone-heavy corpus (the sf10 worst
    * case: 100 identical copies per doc, ~247M
    * candidate pairs) the distinct-content pair set is smaller by the
    * clone multiplicity SQUARED, which is what turns the verify
    * stage's former disk-exceeding SMJ spill into a bounded join; on
    * a clone-free corpus it degrades to one verify per pair — the old
    * cost — while the inter-join shuffles still carry keys, not
    * arrays. Output is identical either way: every (doc_a, doc_b)
    * pair keeps its own exact Jaccard.
    *
    * `repVerify`: Some(b) pins the verify route (callers that already
    * know the clone profile — the survivor composition feeds a
    * text-distinct frame, so its sk multiplicity is ~1 by
    * construction and the probe job would be wasted); None probes the
    * clone ratio and decides. The route is a COST choice only — both
    * branches emit identical rows — so a pinned route can never
    * change a result, only its price.
    *
    * The tables read more than once are lazy checkpoints in the
    * caller's scope: a lazy result keeps them as its own storage, an
    * eagerly materialized one lets the scope free them. */
  private[graft] def ngramPairsOver(docs: DataFrame, s: Scope,
      repVerify: Option[Boolean] = None): DataFrame = {
    // reused by the prefix build, the key rejoins, and the representative side
    val base = s.checkpoint(keyedSets(docs), eager = false)
    val u = base.select(col("doc_id"), col("lang"), col("n"), col("sk"),
      explode(col("sh")).as("h"))
    val freq = u.groupBy(col("h")).agg(count(lit(1)).as("f"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("f"), col("h"))
    // (n, sk) ride the prefix rows through the self-join, so candidate
    // pairs come out ALREADY keyed — the former shape re-joined `base`
    // twice (once per side) after the distinct just to re-attach what
    // the prefix rows knew all along: two whole joins (and their
    // exchanges) for +24 B/row on the prefix stream.
    val pfx = u.join(freq, Seq("h"))
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= expr("n - ceil(n * 0.5) + 1"))
      .select(col("doc_id"), col("lang"), col("h"), col("n"), col("sk"))
    // keyed pairs; the size-ratio prune runs BEFORE the distinct so the
    // pair-dedup exchange only carries survivors. distinct over
    // (doc_a, doc_b, sk_a, sk_b) equals distinct over (doc_a, doc_b):
    // sk is a function of the doc id.
    val keyed = pfx
      .select(col("doc_id").as("doc_a"), col("lang"), col("h"),
        col("n").as("n_a"), col("sk").as("sk_a"))
      .join(pfx.select(col("doc_id").as("doc_b"), col("lang"), col("h"),
        col("n").as("n_b"), col("sk").as("sk_b")),
        Seq("lang", "h"))
      .filter(col("doc_a") < col("doc_b") &&
        least(col("n_a"), col("n_b")) * 2 >= greatest(col("n_a"), col("n_b")))
      .select(col("doc_a"), col("doc_b"), col("sk_a"), col("sk_b"))
      .distinct()
    // ADAPTIVE VERIFY (trade-off on CloneRepVerifyRatio): both branches
    // emit identical rows — sh is a function of sk, so a rep's Jaccard
    // IS every member pair's Jaccard.
    val useRep = repVerify.getOrElse(cloneHeavy(base))
    if (useRep) {
      // exact Jaccard once per distinct content pair, on representative
      // arrays. keyed is pinned on this route only: it feeds BOTH the
      // distinct-content-pair build and the fan-back join — without the
      // pin the whole prefix self-join + distinct subtree would execute
      // twice. The per-pair route below reads it once.
      val pinned = s.checkpoint(keyed, eager = false)
      val reps = base.select(col("sk"), col("sh")).dropDuplicates("sk")
      val verified = nearDups(pinned.select(col("sk_a"), col("sk_b")).distinct(),
        reps, "sk", "sk_a", "sk_b")
      pinned.join(verified, Seq("sk_a", "sk_b"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    } else {
      // clone-light: one exact Jaccard per pair, arrays attached by id
      nearDups(keyed, base.select(col("doc_id"), col("sh")), "doc_id", "doc_a", "doc_b")
    }
  }

  /** Jaccard threshold at which a verified pair counts as a near-dup. */
  private final val NearDupJaccard = 0.5

  /** The VERIFY half of every filter-and-verify operator here: a
    * blocking join (prefix shingles, LSH bands) yields candidate
    * `pairs` of bare keys `a`/`b`, so the blocking join and its distinct
    * shuffle two ids per pair; only then does each side's sorted hash
    * set `sh` (and every other non-`key` column of `sets`, suffixed
    * `_a`/`_b`) join on — one equi-join per side, broadcast while
    * `sets` is small — and `sortedJaccard` merges the two sorted arrays
    * in O(n+m). Every candidate is returned, unfiltered. */
  private def verify(pairs: DataFrame, sets: DataFrame, key: String,
      a: String, b: String): DataFrame = {
    def side(k: String, x: String) =
      sets.select(sets.columns.toSeq.map(c => col(c).as(if (c == key) k else s"${c}_$x")): _*)
    pairs.join(side(a, "a"), Seq(a)).join(side(b, "b"), Seq(b))
      .withColumn("jaccard", Similarity.sortedJaccard(col("sh_a"), col("sh_b")))
  }

  /** The candidates that [[verify]] keeps: (a, b, jaccard) at Jaccard
    * ≥ [[NearDupJaccard]]. */
  private def nearDups(pairs: DataFrame, sets: DataFrame, key: String,
      a: String, b: String): DataFrame =
    verify(pairs, sets, key, a, b)
      .filter(col("jaccard") >= NearDupJaccard)
      .select(col(a), col(b), col("jaccard"))

  /** The PRODUCTION dedup composition — exact-clone collapse FIRST,
    * prefix-filtered n-gram pairs over the survivors only — mechanized
    * as its own gated row instead of living as prose in the scale
    * notes. Complete pair-listing dedup is inherently quadratic in
    * per-family clone multiplicity (a 100-clone family is C(100,2) =
    * 4950 output pairs for ANY complete algorithm — the sf10 probe's
    * dedup_ngram verify stage exceeded single-host disk on exactly
    * that); collapsing exact clones to one survivor each makes the
    * n-gram stage's candidate AND output volume linear in the
    * distinct-content corpus, which is the shape that survives 100 TB.
    * Each survivor pair carries both families' multiplicities and
    * `expanded_pairs` = m_a·m_b — the exact count of raw cross-family
    * near-dup pairs it stands for, so nothing the collapsed run
    * "skips" goes unaccounted. (Within-family pairs are dedup_exact's
    * own output: group_size per canonical row.)
    *
    * Scale shape: the collapse shuffles (text_hash, doc_id) rows ONLY
    * — a map-side-combined groupBy over 24-byte rows picks each
    * family's canonical id and size, and document text never enters
    * that exchange (the former md5(text) window dragged the full
    * corpus text through one hash-partitioned sort — at 100 TB a
    * corpus-sized network shuffle of payload). Survivor text is then
    * recovered by joining the canonical-id list back against the
    * columnar scan: the id side is survivor-count × 16 B (broadcast
    * when it fits; even as a shuffle join, text moves once, unsorted
    * — never worse than the window, and the second local parquet read
    * is the cheap side of that trade). Then the [[ngramPairsOver]]
    * pipeline on the (strictly smaller) survivor set, then two
    * survivor-count-sized multiplicity joins. */
  def dedupNgramSurvivor(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val docs = Tables.documents(spark, sfDir)
    val fams = docs
      .select(md5(col("text")).as("text_hash"), col("doc_id"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("group_size"))
      .select(col("doc_id"), col("group_size"))
    // feeds the pair pipeline and both multiplicity joins
    val survivors = s.persist(docs.join(fams, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("text"), col("group_size")))
    val mult = survivors.select(col("doc_id"), col("group_size"))
    // survivors are text-distinct by construction → sk multiplicity ~1
    // → pin the per-pair verify route, skipping the clone-ratio probe
    ngramPairsOver(survivors.select(col("doc_id"), col("lang"), col("text")), s,
        repVerify = Some(false))
      .join(mult.select(col("doc_id").as("doc_a"), col("group_size").as("m_a")),
        Seq("doc_a"))
      .join(mult.select(col("doc_id").as("doc_b"), col("group_size").as("m_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("m_a"), col("m_b"), (col("m_a") * col("m_b")).as("expanded_pairs"))
      .localCheckpoint()
  }

  /** MinHash+LSH near-dup candidates: 16-hash signature, 8 bands × 2
    * rows, pairs form inside a band bucket only, then verified by true
    * shingle Jaccard. Candidate recall at j=0.8 is 1-(1-0.64)^8 ≈ 0.9997
    * with no unblocked cross join anywhere.
    *
    * A suite-run pair warehouse: dedup_incremental, dup_clusters (→
    * split_holdout, dup_survivor), pair_bleu, split_leakage,
    * dedup_cross_source and dataset_card read the identical verified
    * pair table, and each would otherwise replay the full
    * shingle→signature→band→verify derivation. */
  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.warehouse(spark, sfDir, "minhash_pairs") { s =>
      val sigs = minhashSigs(spark, sfDir, s)
      nearDups(bandCandidates(sigs), sigs.select(col("doc_id"), col("sh")),
        "doc_id", "doc_a", "doc_b")
    }

  /** MinHash signature length, and rows per band of the production
    * banding ([[bandCandidates]]: 8 bands × 2 rows). */
  private final val SigLen = 16
  private final val CandRows = 2

  /** Per doc of the shingled corpus: the sorted xxhash64 shingle set
    * `sh` (the verify payload) and the [[SigLen]]-hash MinHash
    * signature `sig`. Persisted in the caller's scope: the banding and
    * both verify joins read it, and without the persist the
    * shingle+signature subtree recomputes 3x. */
  private def minhashSigs(spark: SparkSession, sfDir: String, s: Scope): DataFrame =
    s.persist(shingled(Tables.documents(spark, sfDir))
      .withColumn("sh", array_sort(expr("transform(shingles, s -> xxhash64(s))")))
      .withColumn("sig", Similarity.minhashSig(col("shingles"), SigLen))
      .select(col("doc_id"), col("sh"), col("sig")))

  /** Distinct pairs (doc_a < doc_b) sharing one of the signature's
    * [[CandRows]]-row bands. The band key is the slice VALUES
    * (comma-joined), not a rehash: bucket equality is then exactly
    * signature-slice equality, which the DuckDB oracle reproduces (a
    * murmur rehash would add its own collision pairs). */
  private def bandCandidates(sigs: DataFrame): DataFrame = {
    val banded = sigs.select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, ${SigLen / CandRows - 1}), b -> " +
          s"array_join(transform(slice(sig, b*$CandRows+1, $CandRows), x -> cast(x as string)), ','))"))
          .as(Seq("band", "band_key")))
    banded.select(col("doc_id").as("doc_a"), col("band"), col("band_key"))
      .join(banded.select(col("doc_id").as("doc_b"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Row-local LSH test: signatures `a` and `b` agree on some whole band
    * of `rows` consecutive hashes (bands = [[SigLen]] / rows). */
  private def sharesBand(a: String, b: String, rows: Int): Column = expr(
    s"exists(sequence(0, ${SigLen / rows - 1}), b -> " +
      s"slice($a, b*$rows+1, $rows) = slice($b, b*$rows+1, $rows))")

  /** Rows-per-band configs swept by minhashBandTune (bands = 16/r).
    * r = 1 (16 bands of one hash) is deliberately excluded: a single
    * shared minhash value is a candidate, so hub values blow the pair
    * set up ~125× at sf0.1 (155k pairs for 5k docs, measured) — the
    * sweep exists to pick a config, not to pay for the degenerate
    * one. Every r here is a multiple of [[CandRows]]. */
  final val BandTuneRows = Seq(2, 4, 8)

  /** LSH BAND-CONFIGURATION TUNING CURVE — the measurement run before
    * committing a (bands × rows) choice for a 100 TB dedup pass: for
    * each config over the SAME 16-hash signature, the candidate-pair
    * volume (the cost driver: every candidate is a verification join
    * row) and the verified-duplicate yield (jaccard ≥ 0.5), so the
    * cost/recall trade reads directly off one table. The theoretical
    * candidate probability at the threshold, 1-(1-τ^r)^b, rides along
    * as a rounded payload for sanity-checking the empirical counts.
    *
    * The configs NEST: an r-row band is the concatenation of r/2
    * aligned 2-row bands, so a pair sharing a band at r = 4 or 8 also
    * shares every 2-row band inside it — each config's candidate set
    * is an exact subset of the r = 2 set. So only the r = 2 set is
    * built (the production [[bandCandidates]]), each of its pairs is
    * verified once, and each config's membership is the row-local
    * [[sharesBand]] test on the pair's two signatures; one global
    * aggregate counts candidates and verified pairs per config. Scale
    * shape: dedupMinhash's join plus three row-local predicates;
    * nothing grows faster than the r = 2 candidate set. */
  def minhashBandTune(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val sigs = minhashSigs(spark, sfDir, s)
    val pairs = verify(bandCandidates(sigs), sigs, "doc_id", "doc_a", "doc_b")
    val tallies = BandTuneRows.flatMap { r =>
      val in = sharesBand("sig_a", "sig_b", r)
      Seq(count(when(in, 1)), count(when(in && col("jaccard") >= NearDupJaccard, 1)))
    }
    val counts = pairs.agg(tallies.head, tallies.tail: _*).head()
    // one row per swept config: the driver holds them (metadata, not
    // data) and they re-enter verbatim, so the result owns no storage
    spark.createDataFrame(BandTuneRows.zipWithIndex.map { case (r, i) =>
        (r, counts.getLong(2 * i), counts.getLong(2 * i + 1)) })
      .toDF("r", "n_candidates", "n_verified")
      .select(col("r").as("rows_per_band"),
        expr("16 div r").as("n_bands"),
        col("n_candidates"), col("n_verified"),
        when(col("n_candidates") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_verified").cast("double")
            / col("n_candidates").cast("double"), 6)).as("precision"),
        round(lit(1.0) - pow(lit(1.0) - pow(lit(0.5), col("r")),
          lit(16.0) / col("r")), 6).as("p_cand_at_tau"))
  }

  /** Incremental-batch fraction: 1-in-10 docs by md5 draw. */
  final val IncBatchMod = 10L

  /** INCREMENTAL ingestion dedup — the shape a 100 TB corpus actually
    * runs daily: an incoming BATCH (~10%, md5-split for the gate; a
    * real deployment passes the new partition) checked against the
    * standing CORPUS, never corpus-vs-corpus. Two detectors per batch
    * doc: exact (md5 text-hash membership, a semi join against the
    * corpus hash set) and near (the dedupMinhash banding — candidate
    * pairs form only inside shared band buckets, verified by true
    * shingle Jaccard ≥ 0.5, then filtered to batch×corpus pairs; the
    * max matching Jaccard is reported). Batch-batch and corpus-corpus
    * pairs are deliberately ignored: they are the standing dedup's
    * job, not ingestion's.
    *
    * Scale shape: the near detector reads dedupMinhash's file-backed
    * pair warehouse (the signature/banding cost is shared machinery,
    * paid once per session) plus one hash semi join; at deployment the
    * corpus side's signatures are PRECOMPUTED and only the batch
    * re-hashes. */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = dedupMinhash(spark, sfDir)
    val flags = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("h"),
        (pmod(Similarity.md5Mod(concat(lit("inc-"), col("doc_id"))),
          lit(IncBatchMod)) === 0).as("is_batch"))
    val batch = flags.filter(col("is_batch"))
    val corpus = flags.filter(!col("is_batch"))
    val exactDup = batch
      .join(corpus.select(col("h")), Seq("h"), "left_semi")
      .select(col("doc_id"), lit(true).as("dup_exact"))
    val fa = flags.select(col("doc_id").as("doc_a"), col("is_batch").as("ba"))
    val fb = flags.select(col("doc_id").as("doc_b"), col("is_batch").as("bb"))
    val near = pairs
      .join(fa, Seq("doc_a")).join(fb, Seq("doc_b"))
      .filter(col("ba") =!= col("bb"))
      .select(when(col("ba"), col("doc_a")).otherwise(col("doc_b")).as("doc_id"),
        col("jaccard"))
      .groupBy(col("doc_id")).agg(max(col("jaccard")).as("near_jaccard"))
    batch.select(col("doc_id"))
      .join(exactDup, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_exact"), lit(false)).as("dup_exact"),
        col("near_jaccard"),
        (coalesce(col("dup_exact"), lit(false)) || col("near_jaccard").isNotNull)
          .as("is_dup"))
  }

  /** SimHash near-dup pairs: 64-bit fingerprint, blocked on any equal
    * 16-bit chunk (pigeonhole: hamming ≤ 3 ⇒ some chunk equal), then
    * verified by exact hamming distance. */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Partitioning.spread(Tables.documents(spark, sfDir))
      .withColumn("sim", Similarity.simhash64(split(col("text"), " ")))
      .select(col("doc_id"), col("sim"))
    val chunked = docs.select(col("doc_id"), col("sim"),
      posexplode(expr("transform(sequence(0, 3), c -> (shiftright(sim, c*16) & 65535))"))
        .as(Seq("chunk", "chunk_val")))
    val a = chunked.select(col("doc_id").as("doc_a"), col("sim").as("sim_a"),
      col("chunk"), col("chunk_val"))
    val b = chunked.select(col("doc_id").as("doc_b"), col("sim").as("sim_b"),
      col("chunk"), col("chunk_val"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b"))
      .distinct()
      .withColumn("hamming", Similarity.hamming(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Embedding-cosine near-dup pairs inside (label, LSH-bucket) blocks.
    *
    * Blocking on label alone is quadratic within a label (a hot label
    * explodes at corpus scale), so each vector is also bucketed by 2
    * hyperplane-LSH tables × 4 planes; candidates must share a bucket
    * in SOME table. Candidate ids dedup bare (the embeddings rejoin
    * after the distinct), then exact cosine verifies. */
  def dedupEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    val tables = 2
    val planes = 4
    val emb = Tables.embeddings(spark, sfDir)
    val bucketed = emb.select(col("vec_id"), col("label"),
      posexplode(array((0 until tables).map(t =>
        Similarity.lshBucket(col("embedding"), t, planes)): _*)).as(Seq("tbl", "bucket")))
    val cand = bucketed.select(col("vec_id").as("vec_a"), col("label"), col("tbl"), col("bucket"))
      .join(bucketed.select(col("vec_id").as("vec_b"), col("label"), col("tbl"), col("bucket")),
        Seq("label", "tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), Seq("vec_a"))
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), Seq("vec_b"))
      .withColumn("cos", Similarity.cosine(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= 0.35)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Near-dup cluster formation: connected components over the verified
    * minhash pair graph, so a whole family of near-duplicates collapses
    * to one canonical id (min doc_id in the component) — the step that
    * turns pairwise dedup output into per-cluster keep/drop decisions.
    *
    * Iterative min-label propagation (HashMin): every node adopts the
    * smallest label among itself and its neighbors until fixpoint —
    * O(component diameter) rounds of one equi-join + one min-agg, the
    * scalable CC formulation (GraphX/GraphFrames use the same loop;
    * near-dup components are shallow, so rounds stay single-digit).
    * localCheckpoint truncates the growing lineage each round; the
    * convergence probe is a count() action (an aggregate, not a
    * driver-side data collection). */
  def dupClusters(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val pairs = dedupMinhash(spark, sfDir).select(col("doc_a"), col("doc_b"))
    val edges = s.persist(pairs.unionByName(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    // eager: the propagation rounds iterate on the cached edges
    edges.count()
    val (labels, _) = connectedComponents(edges)
    val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("lab"))
      .select(col("id").as("doc_id"), col("lab").as("cluster_id"), col("cluster_size"))
  }

  /** SURVIVORSHIP selection per near-dup cluster — the decision step
    * that turns dup_clusters' components into an executable keep/drop
    * list: within each cluster the highest-quality document (rule
    * score; min doc_id on exact ties) survives as canonical, every
    * other member is marked drop with its canonical pointer — the
    * "which copy do we keep" rule every dedup deployment needs and
    * pairwise output alone cannot answer.
    *
    * Exactness: the quality scores are quality_score's own
    * gate-proven doubles (bit-identical cross-engine), so the
    * per-cluster float max and the equality-then-min-id tie-break
    * replay exactly in SQL. Scale shape: the cluster table
    * (pair-graph sized, tiny next to the corpus) broadcasts onto the
    * quality scan to prune it; the argmax is two cluster-sized aggs,
    * never a window over corpus rows. */
  def dupSurvivor(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = dupClusters(spark, sfDir)
    val scored = TextMetrics.qualityScore(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
      .join(broadcast(clusters), Seq("doc_id"))
    val best = scored.groupBy(col("cluster_id"))
      .agg(max(col("quality_score")).as("best_q"))
    val canon = scored.join(broadcast(best), Seq("cluster_id"))
      .filter(col("quality_score") === col("best_q"))
      .groupBy(col("cluster_id")).agg(min(col("doc_id")).as("canonical_id"))
    // quality_score stays the UNROUNDED gate-proven double: a
    // round(·, 6) hit a .xxxxxx5 half-way double at sf0.001 where the
    // two engines' rounding modes disagree (the quality_score gate row
    // avoids rounding for the same reason)
    scored.join(broadcast(canon), Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality_score"),
        col("canonical_id"),
        when(col("doc_id") === col("canonical_id"), lit("keep"))
          .otherwise(lit("drop")).as("action"))
  }

  /** Holdout fraction: test iff the group draw < P / SplitTestInv. */
  final val SplitTestInv = 10L

  /** LEAKAGE-SAFE train/test split — the holdout assignment an eval
    * pipeline must use instead of a per-document coin flip: a
    * document's split is keyed on its NEAR-DUP CLUSTER root
    * (dupClusters' connected components over the verified minhash
    * pair graph), so two near-duplicates can never straddle the
    * boundary and leak test content into training. Singletons key on
    * their own id; the draw is the md5-threshold rule shared with
    * sample_stratified, so the oracle replays the exact assignment.
    *
    * Scale shape: the cluster labels are the dupClusters output
    * (near-dup-pair-count sized, tiny next to the corpus) left-joined
    * back unhinted; everything else is row-local hashing. */
  def splitHoldout(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = dupClusters(spark, sfDir)
      .select(col("doc_id"), col("cluster_id"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("group_key", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("draw", Similarity.md5Mod(
        concat(lit("split-"), col("group_key"))))
      .select(col("doc_id"), col("group_key"),
        when(col("draw") < lit(graft.expressions.CrossHash.P / SplitTestInv),
          lit("test")).otherwise(lit("train")).as("split"))
  }

  /** SPLIT-LEAKAGE AUDIT: how many verified near-dup pairs straddle
    * the train/test boundary, under BOTH split policies — the naive
    * per-document draw (what most pipelines ship first) and the
    * cluster-keyed leakage-safe draw (splitHoldout). The safe policy
    * must report cross = 0 BY CONSTRUCTION (both ends of every
    * near-dup pair share a cluster root, so they share a draw); the
    * naive policy's cross count is the leaked-eval-content volume
    * this audit exists to surface. A fixed policy×category spine
    * zero-fills the absent cells so "no leakage" is an explicit row,
    * not a missing one.
    *
    * Scale shape: the pair table is the file-backed minhash warehouse
    * (near-dup-pair sized, tiny next to the corpus); split labels are
    * row-local md5 draws joined pair-end-wise; the category counts are
    * one aggregate over 2×|pairs| rows. */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = dedupMinhash(spark, sfDir).select(col("doc_a"), col("doc_b"))
    val testCut = graft.expressions.CrossHash.P / SplitTestInv
    val sp = splitHoldout(spark, sfDir)
      .select(col("doc_id"), col("split").as("safe_split"))
      .withColumn("naive_split",
        when(Similarity.md5Mod(concat(lit("split-"), col("doc_id"))) < testCut,
          lit("test")).otherwise(lit("train")))
    val lab = pairs
      .join(sp.select(col("doc_id").as("doc_a"), col("safe_split").as("sa"),
        col("naive_split").as("na")), Seq("doc_a"))
      .join(sp.select(col("doc_id").as("doc_b"), col("safe_split").as("sb"),
        col("naive_split").as("nb")), Seq("doc_b"))
    def cat(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      when(x === y, concat(x, lit("-"), y)).otherwise(lit("cross"))
    val cnt = lab.select(lit("cluster_safe").as("policy"), cat(col("sa"), col("sb")).as("category"))
      .unionByName(lab.select(lit("naive").as("policy"), cat(col("na"), col("nb")).as("category")))
      .groupBy(col("policy"), col("category")).agg(count(lit(1)).as("n_pairs"))
    val tot = pairs.agg(count(lit(1)).as("n_total"))
    val grid = spark.range(1)
      .select(explode(typedLit(Seq("cluster_safe", "naive"))).as("policy"))
      .crossJoin(spark.range(1).select(
        explode(typedLit(Seq("train-train", "test-test", "cross"))).as("category")))
    grid.join(broadcast(cnt), Seq("policy", "category"), "left")
      .na.fill(0L, Seq("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("policy"), col("category"), col("n_pairs"),
        when(col("n_total") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_pairs").cast("double")
            / col("n_total").cast("double"), 6)).as("pair_share"))
  }

  /** Distinct endpoints of the verified near-dup pair set — the
    * "document is near-dup-exposed" predicate dataset_card reports
    * per source. Pair-warehouse sized. */
  private[operators] def dupDocIds(spark: SparkSession, sfDir: String): DataFrame = {
    val p = dedupMinhash(spark, sfDir)
    p.select(col("doc_a").as("doc_id"))
      .unionByName(p.select(col("doc_b").as("doc_id")))
      .distinct()
  }

  /** CROSS-SOURCE DUPLICATION MATRIX: verified near-dup pairs bucketed
    * by the (unordered) source pair of their endpoints — the
    * provenance-overlap question ("how much of source X is recycled
    * from source Y") that decides which source to drop when a mixture
    * is over budget. Diagonal cells are within-source redundancy;
    * off-diagonal cells are cross-source copying. A full source×source
    * spine zero-fills absent cells so clean source pairs read as
    * explicit zeros.
    *
    * Scale shape: the pair table is the file-backed minhash warehouse
    * (near-dup-pair sized); the two source lookups are row-local
    * equi-joins against the (doc_id, source) projection; the matrix is
    * |sources|² — metadata-scale forever. */
  def dedupCrossSource(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = dedupMinhash(spark, sfDir).select(col("doc_a"), col("doc_b"))
    val ds = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val lab = pairs
      .join(ds.select(col("doc_id").as("doc_a"), col("source").as("src_a")), Seq("doc_a"))
      .join(ds.select(col("doc_id").as("doc_b"), col("source").as("src_b")), Seq("doc_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
    val cnt = lab.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val tot = pairs.agg(count(lit(1)).as("n_total"))
    val srcs = ds.select(col("source")).distinct()
    val grid = srcs.select(col("source").as("source_a"))
      .join(srcs.select(col("source").as("source_b")),
        col("source_a") <= col("source_b"))
    grid.join(broadcast(cnt), Seq("source_a", "source_b"), "left")
      .na.fill(0L, Seq("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        when(col("n_total") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_pairs").cast("double")
            / col("n_total").cast("double"), 6)).as("pair_share"))
  }

  /** BLEU/ROUGE-style n-gram overlap metrics over the VERIFIED
    * near-dup pairs — the eval-metric family (clipped n-gram
    * precision, n-gram recall, brevity penalty) a pipeline uses to
    * quantify how close candidate/reference text pairs are, here
    * exercised on the minhash pairs so the workload is natural and
    * the oracle replayable.
    *
    * Exactness: clipped counts Σ_g min(c_cand(g), c_ref(g)) and both
    * denominators are exact integers (shared grams only — a gram
    * missing from either side clips to 0), so p1/p2/rouge1/rouge2 are
    * single deterministic divides; only the composed BLEU-2 touches
    * exp/ln and rounds to 6 (the house ln discipline). Degenerate
    * pairs with a zero precision score 0 by definition.
    *
    * Scale shape: pair-keyed joins against the two per-doc gram-count
    * tables — everything is (doc, gram)-keyed equi-join work bounded
    * by pair count × doc length; nothing quadratic, nothing
    * corpus-sized after the count aggregation. */
  def pairBleu(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = dedupMinhash(spark, sfDir).select(col("doc_a"), col("doc_b"))
    // Census only docs that appear in some pair: every downstream use
    // of uni/bi/lens inner-joins against the pair list, so non-member
    // docs can never reach the output — tokenizing and gram-counting
    // them was pure discarded work. The member-id list is pair-count-
    // sized, which on a clone-heavy corpus can approach corpus-sized
    // (every doc in some verified pair) — so the semi-join carries NO
    // forced broadcast hint: AQE broadcasts it while its runtime size
    // is small and falls back to a shuffle join when it is not,
    // instead of OOMing the driver on a data-scaled build side.
    val memberIds = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    val docs = Tables.documents(spark, sfDir)
      .join(memberIds, Seq("doc_id"), "left_semi")
      .withColumn("toks", filter(split(col("text"), " "), t => t =!= ""))
    val uni = docs.select(col("doc_id"), explode(col("toks")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val bi = docs.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))"))
        .as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val lens = docs.select(col("doc_id"),
      size(col("toks")).cast("long").as("len"))

    def clipped(counts: DataFrame): DataFrame = pairs
      .join(counts.select(col("doc_id").as("doc_a"), col("g"), col("c").as("ca")),
        Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("g"), col("c").as("cb")),
        Seq("doc_b", "g"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("ca"), col("cb"))).as("clip"))
    def totals(counts: DataFrame, side: String): DataFrame = counts
      .groupBy(col("doc_id").as(side)).agg(sum(col("c")).as(s"tot_$side"))

    val uc = clipped(uni).withColumnRenamed("clip", "clip1")
    val bc = clipped(bi).withColumnRenamed("clip", "clip2")
    val out = pairs
      .join(uc, Seq("doc_a", "doc_b"), "left")
      .join(bc, Seq("doc_a", "doc_b"), "left")
      .join(lens.select(col("doc_id").as("doc_a"), col("len").as("len_c")), Seq("doc_a"))
      .join(lens.select(col("doc_id").as("doc_b"), col("len").as("len_r")), Seq("doc_b"))
      .withColumn("clip1", coalesce(col("clip1"), lit(0L)))
      .withColumn("clip2", coalesce(col("clip2"), lit(0L)))
      .withColumn("p1", col("clip1").cast("double") / col("len_c"))
      .withColumn("p2", when(col("len_c") >= 2,
        col("clip2").cast("double") / (col("len_c") - 1)).otherwise(lit(0.0)))
      .withColumn("rouge1", col("clip1").cast("double") / col("len_r"))
      .withColumn("rouge2", when(col("len_r") >= 2,
        col("clip2").cast("double") / (col("len_r") - 1)).otherwise(lit(0.0)))
      .withColumn("bp", least(lit(1.0),
        exp(lit(1.0) - col("len_r").cast("double") / col("len_c"))))
      .withColumn("bleu2", when(col("p1") > 0 && col("p2") > 0,
        round(col("bp") * exp((log(col("p1")) + log(col("p2"))) / 2), 6))
        .otherwise(lit(0.0)))
    out.select(col("doc_a"), col("doc_b"), col("len_c"), col("len_r"),
      col("clip1"), col("clip2"), col("p1"), col("p2"),
      col("rouge1"), col("rouge2"), col("bleu2"))
  }

  /** HashMin label propagation over a BOTH-DIRECTION edge list
    * (doc_a, doc_b) — the library-level loop dupClusters runs, exposed
    * so callers (and the 100× scale probe) can run it on any edge set.
    * O(component diameter) rounds of one equi-join + one min-agg;
    * localCheckpoint truncates the growing lineage each round; the
    * convergence probe is a count() action (an aggregate, never a
    * driver-side data collection). Returns (id, lab) plus the number
    * of rounds executed — rounds is the cost driver at scale, so the
    * probe asserts on it directly. */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 25): (DataFrame, Int) = Scope { s =>
    var labels = s.checkpoint(edges.select(col("doc_a").as("id")).distinct()
      .withColumn("lab", col("id")))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val neighborMin = edges.join(labels, edges("doc_a") === labels("id"))
        .select(col("doc_b").as("id"), col("lab"))
      // the previous label rides the union as a sentinel-padded column
      // (every id has exactly one row in `labels`, so min(pl) recovers
      // it), letting ONE action both materialize the round's
      // checkpoint (eager=false) and probe convergence — the former
      // shape paid an eager-checkpoint job plus a next⋈labels
      // comparison join per round
      val next = s.checkpoint(labels.select(col("id"), col("lab"), col("lab").as("pl"))
        .unionByName(neighborMin.select(col("id"), col("lab"),
          lit(Long.MaxValue).as("pl")))
        .groupBy(col("id"))
        .agg(min(col("lab")).as("lab"), min(col("pl")).as("prev")), eager = false)
      changed = next.filter(col("lab") =!= col("prev")).count()
      // the superseded round's checkpoint blocks are freed NOW, not at
      // scope end — a long loop otherwise stacks one vertex-sized
      // block set per round in the block manager
      s.free(labels)
      labels = next
      rounds += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $rounds rounds")
    // drop the fused prev column — callers see the same (id, lab)
    // contract as before
    (labels.select(col("id"), col("lab")), rounds)
  }

  /** LSH-parameter evaluation via controlled corruption — the dedup
    * analogue of matchEval (the reference tunes its matcher against a
    * labeled sample, script/itemtoid_test.py:179; a dedup pipeline
    * tunes its bands×rows the same way). Natural corpora are bimodal
    * (jaccard ≈ 0 noise plus ≥ 0.9 near-copies), so measuring recall
    * on organic pairs exercises two buckets; instead each sampled doc
    * is corrupted at 12 controlled rates (drop every k-th token,
    * k ∈ 3..48), which sweeps the true-jaccard axis end to end. Per
    * jaccard bucket the table reports measured band-collision recall
    * of the 8×2 MinHash scheme next to its analytic S-curve
    * 1-(1-j²)⁸ — the two columns agreeing is what justifies
    * dedupMinhash's parameters; a user re-tunes by editing rows (bands
    * = 16 / rows) here and re-reading the table.
    *
    * Every pair is (original, its own variant), so the whole operator
    * is ROW-LOCAL — shingle, sign, and band-compare happen inside one
    * projection with no pair join anywhere; the only shuffle is the
    * 11-bucket final agg. At 100 TB the eval sample is a fixed-size
    * labeled holdout; here it is the deterministic doc_id % 10 slice. */
  def dedupEval(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = 2
    val bands = SigLen / rows
    val ks = Seq(3, 4, 5, 6, 8, 10, 12, 16, 20, 24, 32, 48)
    val pairs = Partitioning.spread(Tables.documents(spark, sfDir))
      .filter(col("doc_id") % 10 === 0)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("k", explode(typedLit(ks)))
      // 1-based position i survives iff i % k ≠ 0 (DuckDB's range is
      // 1-based; Spark's lambda index is 0-based, hence i+1)
      .withColumn("vtoks", expr(
        "filter(transform(toks, (x, i) -> IF((i+1) % k != 0, x, NULL)), x -> x IS NOT NULL)"))
      .filter(size(col("vtoks")) >= 3)
      .withColumn("sho", trigrams("toks"))
      .withColumn("shv", trigrams("vtoks"))
      .withColumn("inter", size(array_intersect(col("sho"), col("shv"))))
      .withColumn("jaccard", col("inter").cast("double")
        / (size(col("sho")) + size(col("shv")) - col("inter")))
      .withColumn("sig_o", Similarity.minhashSig(col("sho"), SigLen))
      .withColumn("sig_v", Similarity.minhashSig(col("shv"), SigLen))
      .withColumn("found", sharesBand("sig_o", "sig_v", rows))
    pairs
      .groupBy((floor(col("jaccard") * 10) / 10.0).as("bucket"))
      .agg(
        count(lit(1)).as("n_pairs"),
        count(when(col("found"), 1)).as("n_found"),
        round(avg(col("jaccard")), 6).as("avg_jaccard"),
        round(avg(lit(1.0) - pow(lit(1.0) - pow(col("jaccard"), rows), bands)), 6)
          .as("lsh_theory"))
      .withColumn("recall",
        round(col("n_found").cast("double") / col("n_pairs"), 6))
  }

  /** Substring-level exact dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): instead of whole-
    * document decisions, the coverage fraction of each document by
    * REPEATED k-token windows — the signal used to excise repeated
    * passages (boilerplate, licenses, templated spans) from
    * pretraining data. A window is duplicated if its shingle occurs
    * anywhere else in the corpus, including the same doc;
    * covered_tokens = size of the UNION of the duplicated windows'
    * [pos, pos+k-1] intervals. The paper builds a suffix array; this
    * is its distributed re-expression.
    *
    * Scale shape, two exchanges and zero materializations: the
    * shingle stream takes ONE hash(sh) exchange where a window count
    * marks duplicated shingles in place (the previous shape paid a
    * frequency aggregate PLUS a join-back over a persisted copy of
    * the stream), then the duplicated windows take one hash(doc)
    * exchange where the per-doc interval union folds as a running-max
    * sweep — each window contributes the part of [pos, pos+k-1] above
    * the max end seen so far, a textbook merge-intervals length in
    * one window function. The previous shape exploded every
    * duplicated window into its k positions and paid a corpus-wide
    * DISTINCT over up to k× the shingle stream; the sweep shuffles
    * the duplicated windows once and never widens. The terminal
    * per-doc aggregate rides the sweep's partitioning. */
  def substringDup(spark: SparkSession, sfDir: String, k: Int = 8): DataFrame = {
    val docs = Partitioning.spread(Tables.documents(spark, sfDir))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    val windows = docs
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), i -> concat_ws(' ', slice(toks, i, $k)))"))
        .as(Seq("pos0", "sh")))
      // 8-byte md5 shingle key instead of the ~50-byte literal string:
      // the occurrence count shuffles 6× fewer bytes, and the DuckDB
      // oracle recomputes the exact same hash (CrossHash). A collision
      // would merge two windows' counts — ~n²/2^62, and
      // cross-engine-identical either way
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        graft.functions.Similarity.md5Mod(col("sh")).as("sh"))
    val dup = windows
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("occ") > 1)
    val covered = dup
      .withColumn("prev_end", max(col("pos") + (k - 1)).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("contrib", col("pos") + (k - 1) -
        greatest(coalesce(col("prev_end"), lit(0L)), col("pos") - 1))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("covered_tokens"))
    docs.select(col("doc_id"), col("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double")
          / col("n_tokens"), 6).as("dup_coverage"))
  }

  /** Df-cap FLOOR for the containment/cosine inverted indexes. The
    * effective cap is corpus-RELATIVE: max(floor, n_docs/8) — an
    * absolute cap degenerates as the corpus grows (every df scales
    * with N, so a fixed bound eventually drops the whole rare-term
    * space and the operator silently emits zero pairs; the sf0.1
    * probe measured exactly that). n_docs/8 pins the boilerplate
    * definition at "appears in >12.5% of docs" at any scale, while
    * the floor keeps tiny corpora from over-pruning. */
  final val ContainDfCap = 64
  /** Containment window width (tokens). */
  final val ContainW = 5
  /** Keep threshold containment >= ContainNum/ContainDen (exact
    * integer comparison; the double is display only). */
  final val ContainNum = 4
  final val ContainDen = 5

  /** ASYMMETRIC near-dup detection: Jaccard CONTAINMENT
    * C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| over distinct word
    * 5-grams. Jaccard-based dedup (dedup_ngram/minhash) is blind to
    * the quote/subset case — a short doc wholly embedded in a long one
    * scores tiny symmetric Jaccard but containment ≈ 1 from the short
    * side. This is the detector for quotation mining, doc-in-doc
    * training leakage, and version-of relationships (Broder's
    * containment from the original resemblance paper).
    *
    * Both directions of every pair emit (C is not symmetric). The
    * gram space is df-capped: grams seen in more than ContainDfCap
    * docs (boilerplate) leave BOTH the numerator and the denominator,
    * so the measure is self-consistent on the rare-gram space and the
    * self-join's per-gram fan-out is bounded by the cap² — no hub-gram
    * cross product at any corpus size. The keep test is the exact
    * integer form 5·shared ≥ 4·|A| (containment ≥ 0.8) — the reported
    * double is one deterministic divide.
    *
    * Scale shape: ONE distinct-gram hash(h) exchange, where a window
    * count marks each gram's document frequency in place (the
    * gram-frequency aggregate plus its gram-cardinality-sized
    * join-back — two sorts and a merge over the full stream — was
    * pure re-derivation of information the exchange already
    * co-located); the cap filter and the df ≥ 2 self-join slice both
    * preserve that partitioning AND its h-sorted order, so the
    * equi-self-join runs exchange-free and sort-free, and the
    * (src,dst) count shuffle is the only further exchange. df = 1
    * grams (the bulk of the rare-gram space the cap keeps) feed the
    * denominator census but never the self-join — they cannot
    * produce a pair. */
  def containmentDup(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    // per-doc distinct grams dedupe ROW-LOCALLY (array_distinct over
    // the hashed gram array) — the equivalent dropDuplicates(doc, h)
    // costs a full-corpus shuffle for a set that is per-doc by
    // definition; md5_mod61 is the registered SQL form of the same
    // cross-engine hash, so the distinct-on-hash semantics are
    // unchanged
    val grams = Partitioning.spread(Tables.documents(spark, sfDir))
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= ContainW)
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(sequence(1, size(toks)-${ContainW - 1}),
           | i -> md5_mod61(concat_ws(' ', element_at(toks,i), element_at(toks,i+1),
           |   element_at(toks,i+2), element_at(toks,i+3), element_at(toks,i+4)))))"""
          .stripMargin)).as("h"))
    // corpus-relative cap: one-row doc count broadcast onto the gram
    // stream (see ContainDfCap scaladoc)
    val nDocs = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    // ONE hash(h) exchange; the per-gram document frequency is a
    // window count over it — in place, no aggregate + join-back. The
    // window's sort by h also leaves the stream h-ORDERED, which the
    // self-join below inherits (SortMergeJoin with zero sorts).
    val gwin = grams
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .crossJoin(broadcast(nDocs))
    val gc = s.persist(gwin
      .filter(col("df") <= greatest(lit(ContainDfCap.toLong), expr("n_docs div 8")))
      .select(col("doc_id"), col("h"), col("df")))
    gc.count() // materialize once: feeds sizes, both join sides
    val nsz = gc.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // the self-join only ever matches grams held by ≥2 docs — df = 1
    // (the bulk of the rare-gram space the cap keeps) contributes to
    // the DENOMINATOR census above but can never produce a pair, so
    // both join sides read the df ≥ 2 slice of the SAME persisted
    // hash(h)-partitioned, h-sorted layout — at sf1 this drops the
    // join's input ~7× without touching output semantics
    val dupg = gc.filter(col("df") >= 2L).select(col("doc_id"), col("h"))
    val inter = dupg.select(col("doc_id").as("src_id"), col("h"))
      .join(dupg.select(col("doc_id").as("dst_id"), col("h")), Seq("h"))
      .filter(col("src_id") =!= col("dst_id"))
      .groupBy(col("src_id"), col("dst_id"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(nsz.select(col("doc_id").as("src_id"), col("n").as("n_src_grams")),
        Seq("src_id"))
      .filter(col("n_shared") * ContainDen >= col("n_src_grams") * ContainNum)
      .select(col("src_id"), col("dst_id"), col("n_src_grams"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_src_grams")).as("containment"))
      .localCheckpoint()
  }

  /** Df-cap FLOOR for cosine term pairs; effective cap is
    * max(floor, n_docs/8) — the corpus-relative containment_dup
    * discipline (see ContainDfCap). */
  final val CosDfCap = 64

  /** WEIGHTED COSINE similarity pairs over term-frequency vectors —
    * the tf-weighted complement of dedup_ngram's set Jaccard: two docs
    * that repeat the same rare vocabulary at similar rates score high
    * even when their shingle sets diverge (paraphrase/rewrite
    * detection). Sparse all-pairs via the inverted term index: dots
    * accumulate through a df-capped term self-join (per-term fan-out ≤
    * cap², no hub-term cross product), so no vector pair is ever
    * materialized densely.
    *
    * The keep test cos ≥ 1/2 runs EXACTLY in integers: tf counts are
    * longs, dot = Σ tf_a·tf_b and the norms Σ tf² are exact, and with
    * dot ≥ 0 the test is 4·dot² ≥ |a|²·|b|² — no float in the
    * decision; the reported cosine is one double expression, round 6.
    * Scale shape: one (doc, term) count shuffle, one df aggregate, the
    * capped self-join, one pair-key reduce — the containment_dup plan
    * with weights. */
  def docCosinePairs(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    // per-doc TFs from the shared census warehouse
    val tf = TermCensus.docTermTf(spark, sfDir)
      .select(col("doc_id"), col("t"), col("tf"))
    val nDocs = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val rare = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") <= greatest(lit(CosDfCap.toLong), expr("n_docs div 8")))
    val gc = s.persist(tf.join(rare.select(col("t")), Seq("t")))
    gc.count() // materialize once: feeds norms and both join sides
    val norms = gc.groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val dots = gc.select(col("doc_id").as("src_id"), col("t"), col("tf").as("tfa"))
      .join(gc.select(col("doc_id").as("dst_id"), col("t"), col("tf").as("tfb")),
        Seq("t"))
      .filter(col("src_id") < col("dst_id"))
      .groupBy(col("src_id"), col("dst_id"))
      .agg(sum(col("tfa") * col("tfb")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("src_id"), col("n2").as("na")), Seq("src_id"))
      .join(norms.select(col("doc_id").as("dst_id"), col("n2").as("nb")), Seq("dst_id"))
      .filter(lit(4L) * col("dot") * col("dot") >= col("na") * col("nb"))
      .select(col("src_id"), col("dst_id"), col("dot"), col("na"), col("nb"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6)
          .as("cosine"))
      .localCheckpoint()
  }
}
