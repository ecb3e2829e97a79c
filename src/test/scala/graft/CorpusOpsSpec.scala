package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Cluster, Sampling, TextMetrics}

/** Semantic checks for the corpus-composition operators (sampling,
  * mixing, packing, repetition, LM scoring, clustering). */
class CorpusOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("json_shred aggregates equal the arithmetic model (parse round-trip)") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val model = docs.flatMap { case (id, lang, n) =>
      val score = id % 3 + id % 11 + id % 13
      Seq((s"t${id % 5}", lang, id, score, n), (s"u${id % 7}", lang, id, score, n))
    }.groupBy(r => (r._1, r._2)).map { case ((tag, lang), rs) =>
      (tag, lang, rs.length.toLong, rs.map(_._4).sum, rs.map(_._5).sum,
        rs.map(_._3).distinct.length.toLong)
    }.toSet
    val got = graft.operators.Shred.jsonShred(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == model)
    // every doc contributes exactly its two tag rows
    assert(got.toSeq.map(_._3).sum == 2L * docs.length)
  }

  test("span_corruption stats replay from a literal mask walk") {
    val out = graft.operators.Chunk.spanCorruption(spark, sf).collect()
    val nTok = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val id = r.getLong(0); val n = nTok(id)
      val mask = (0L until n).map(i => (i + id) % 7 < 2)
      val masked = mask.count(identity).toLong
      val spans = mask.zipWithIndex.count { case (m, i) => m && (i == 0 || !mask(i - 1)) }.toLong
      assert(r.getLong(1) == n && r.getLong(2) == masked && r.getLong(3) == spans, s"doc $id")
      // spans are length <= 2 by construction: mean in (1, 2]
      if (spans > 0) {
        val mean = r.getDouble(5)
        assert(mean > 0.99 && mean <= 2.0, s"doc $id mean span $mean")
      }
    }
  }

  test("tokenizer_fertility aggregates token_count's own streams exactly") {
    val perDoc = TextMetrics.tokenCount(spark, sf)
      .join(graft.sources.Tables.documents(spark, sf)
        .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("chars")),
        Seq("doc_id"))
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("ws_tokens"),
        r.getAs[Long]("bpe_tokens"), r.getAs[Long]("chars")))
    val model = perDoc.groupBy(_._1).map { case (s, rs) =>
      (s, rs.length.toLong, rs.map(_._2).sum, rs.map(_._3).sum, rs.map(_._4).sum)
    }
    val got = graft.operators.Tokenize.tokenizerFertility(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    model.foreach { case (s, n, ws, bpe, chars) =>
      val r = got(s)
      assert(r.getLong(1) == n && r.getLong(2) == ws && r.getLong(3) == bpe, s)
      assert(math.abs(r.getDouble(4) - bpe.toDouble / ws) < 1e-5, s"$s fertility")
      assert(math.abs(r.getDouble(5) - chars.toDouble / bpe) < 1e-5, s"$s compression")
      // the BPE-ish tokenizer must fragment more than whitespace
      assert(r.getDouble(4) > 1.0, s"$s fertility must exceed 1")
    }
  }

  test("sample_stratified keeps ~rate per language with exact HT weights") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Sampling.sampleStratified(spark, sf)
    val keptPerLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, r) <- Sampling.strataRates; n <- perLang.get(lang)) {
      val k = keptPerLang.getOrElse(lang, 0L).toDouble
      val expect = n * r / 10.0
      // md5 draws are uniform; allow 4 sigma of binomial noise + slack
      val sigma = math.sqrt(n * (r / 10.0) * (1 - r / 10.0))
      assert(math.abs(k - expect) <= 4 * sigma + 3,
        s"$lang kept $k expected ~$expect (n=$n)")
    }
    kept.collect().foreach { row =>
      val r = Sampling.strataRates.toMap.apply(row.getString(1))
      assert(row.getDouble(2) == 10.0 / r)
    }
  }

  test("domain_mix hits per-source budgets and never exceeds the corpus") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val n = docs.count()
    val bySrc = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Sampling.domainMix(spark, sf)
    val keptBySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sumW = Sampling.mixWeights.map(_._2).sum
    for ((src, w) <- Sampling.mixWeights; nSrc <- bySrc.get(src)) {
      val target = math.min(nSrc.toDouble, w.toDouble * (n / 2) / sumW)
      val k = keptBySrc.getOrElse(src, 0L).toDouble
      val sigma = math.sqrt(target + 1)
      assert(k <= nSrc, s"$src kept more than exists")
      assert(math.abs(k - target) <= 4 * sigma + 3,
        s"$src kept $k, target ~$target of $nSrc")
    }
    kept.collect().foreach(r => assert(r.getDouble(2) >= 1.0)) // HT weight
  }

  test("temperature_mix replays the exact sqrt-weight table") {
    val bySrc = graft.sources.Tables.documents(spark, sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = bySrc.values.sum
    val w = bySrc.view.mapValues(c => math.floor(math.sqrt(c.toDouble) * 1000000.0).toLong).toMap
    val sumW = w.values.sum
    val rows = Sampling.temperatureMix(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet == bySrc.keySet)
    rows.foreach { r =>
      val s = r.getString(0)
      assert(r.getLong(1) == bySrc(s), s"$s count")
      assert(r.getLong(2) == w(s), s"$s weight")
      assert(math.abs(r.getDouble(3) - bySrc(s).toDouble / n) < 1e-6)
      assert(math.abs(r.getDouble(4) - w(s).toDouble / sumW) < 1e-6)
      assert(r.getLong(5) == (BigInt(w(s)) * (n / 2) / sumW).toLong, s"$s expected docs")
      val boost = (w(s).toDouble / sumW) / (bySrc(s).toDouble / n)
      assert(math.abs(r.getDouble(6) - boost) < 1e-6)
      // temperature flattens: small sources boosted above 1, large below
      if (bySrc(s).toDouble / n < w(s).toDouble / sumW) assert(boost > 1.0 - 1e-9)
    }
    // the α = 1/2 mix sits between raw and uniform: strictly flatter
    // when the raw mix is skewed, identical when already uniform
    val maxRaw = bySrc.values.max.toDouble / n
    val maxTemp = rows.map(_.getDouble(4)).max
    assert(maxTemp <= maxRaw + 1e-9, "temperature sharpened the mix")
    if (bySrc.values.max > bySrc.values.min * 11 / 10)
      assert(maxTemp < maxRaw, "temperature failed to flatten a skewed mix")
  }

  test("seq_pack two-phase offsets equal the naive single-window prefix sum") {
    val naive = {
      val t = graft.sources.Tables.documents(spark, sf)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t.withColumn("tok_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select("doc_id", "tok_offset").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val packed = Sampling.seqPack(spark, sf).collect()
    assert(packed.nonEmpty)
    packed.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("tok_offset") == naive(id), s"offset mismatch doc $id")
      assert(r.getAs[Long]("seq_first") <= r.getAs[Long]("seq_last"))
      assert(r.getAs[Long]("n_seqs") ==
        r.getAs[Long]("seq_last") - r.getAs[Long]("seq_first") + 1)
      // a straddling doc spans at most floor((n-1)/budget) + 2 sequences
      assert(r.getAs[Long]("n_seqs") <=
        (r.getAs[Long]("n_tokens") - 1) / Sampling.SeqBudget + 2)
    }
  }

  test("repetition_score matches an explode-side recomputation") {
    val rep = TextMetrics.repetitionScore(spark, sf)
    val docs = graft.sources.Tables.documents(spark, sf)
    val topWord = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").count()
      .groupBy("doc_id").agg(max("count").as("mx"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rep.collect().foreach { r =>
      val n = r.getAs[Long]("n_words")
      assert(r.getAs[Double]("top_word_frac") == topWord(r.getAs[Long]("doc_id")).toDouble / n)
      Seq("dup_word_ratio", "dup_bigram_ratio", "top_word_frac", "top_bigram_frac")
        .foreach { c =>
          val v = r.getAs[Double](c)
          assert(v >= 0.0 && v <= 1.0, s"$c=$v out of range")
        }
    }
  }

  test("bigram_lm_score: bigram counts line up and smoothed log-probs are negative") {
    val lm = TextMetrics.bigramLmScore(spark, sf)
    val nWords = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nw"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    lm.collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_bigrams") == math.max(nWords(id) - 1, 0L))
      if (r.getAs[Long]("n_bigrams") > 0) {
        assert(r.getAs[Long]("sum_c2") >= r.getAs[Long]("n_bigrams")) // each bigram counts itself
        assert(r.getAs[Double]("mean_logp") < 0.0) // probabilities < 1
      }
    }
  }

  // The clone-light frame (the raw test corpus) and a clone-heavy one
  // (each text cloned under two more doc_ids, ratio 3 — the profile
  // that sends the clone probe down the rep route).
  private def routeFrames = {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text"))
    val cloned = docs
      .unionByName(docs.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        col("lang"), col("text")))
      .unionByName(docs.select((col("doc_id") + lit(2000000L)).as("doc_id"),
        col("lang"), col("text")))
    (docs, cloned)
  }

  test("ngram adaptive verify: rep and per-pair routes emit identical pairs") {
    // The clone-ratio probe only picks a COST shape — both verify
    // branches must produce the same rows on any corpus, and the
    // probed route (None) must equal both pinned ones.
    val (docs, cloned) = routeFrames
    // each route returns its lazy result from a scope, as dedup_ngram
    // does: the result must read its own checkpoints after the scope
    // closes, and no cache entry may outlive it
    def pairs(frame: org.apache.spark.sql.DataFrame, rep: Option[Boolean]) = {
      val df = graft.plans.Scope(s => graft.operators.Dedup.ngramPairsOver(frame, s, rep))
      assert(spark.sharedState.cacheManager.isEmpty)
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    val Seq(_, heavy) = Seq(docs, cloned).map { frame =>
      val rep = pairs(frame, Some(true)).toSet
      assert(pairs(frame, Some(false)).toSet == rep, "verify routes disagree")
      assert(pairs(frame, None).toSet == rep, "probed route disagrees")
      rep
    }
    // the clone-heavy frame must contain every cross-clone pair of a
    // doc with itself (jaccard 1.0 between clones of the same text)
    val someId = docs.select(min(col("doc_id"))).head().getLong(0)
    assert(heavy.exists { case (a, b, j) =>
      a == someId && b == someId + 1000000L && j == 1.0 })
  }

  test("ngram clone probe: per-pair route at ratio 1, rep route at ratio 3") {
    import graft.operators.Dedup.{cloneHeavy, keyedSets}
    val (docs, cloned) = routeFrames
    assert(!cloneHeavy(keyedSets(docs)), "raw corpus (no clones) took the rep route")
    assert(cloneHeavy(keyedSets(cloned)), "3x cloned corpus took the per-pair route")
  }

  test("dup_clusters: components are closed over the pair graph and keyed by their min id") {
    val pairs = graft.operators.Dedup.dedupMinhash(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = graft.operators.Dedup.dupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"))).toMap
    assert(clusters.nonEmpty)
    // both endpoints of every near-dup pair collapse to one cluster
    pairs.foreach { case (a, b) =>
      assert(clusters(a)._1 == clusters(b)._1, s"pair ($a,$b) split across clusters")
    }
    // the cluster id is a member, and it is the smallest member
    val members = clusters.groupBy(_._2._1).map { case (cid, m) => cid -> m.keys.toSeq }
    members.foreach { case (cid, ms) =>
      assert(ms.min == cid, s"cluster $cid not keyed by min member ${ms.min}")
      ms.foreach(m => assert(clusters(m)._2 == ms.size, s"size mismatch in $cid"))
    }
  }

  test("dup_survivor keeps exactly the best-quality min-id doc per cluster") {
    val clusters = graft.operators.Dedup.dupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val q = TextMetrics.qualityScore(spark, sf)
      .select(col("doc_id"), col("quality_score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = graft.operators.Dedup.dupSurvivor(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet == clusters.keySet, "one row per clustered doc")
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, ms) =>
      val ids = ms.map(_.getLong(0))
      val bestQ = ids.map(q).max
      val canon = ids.filter(id => q(id) == bestQ).min
      ms.foreach { r =>
        assert(r.getLong(4) == canon, s"cluster $cid canonical")
        assert(r.getString(5) == (if (r.getLong(0) == canon) "keep" else "drop"))
        assert(r.getDouble(3) == q(r.getLong(0)))
        assert(r.getLong(2) == clusters(r.getLong(0))._2)
      }
      assert(ms.count(_.getString(5) == "keep") == 1, s"cluster $cid keep count")
    }
  }

  test("vocab_growth is a genuine Heaps curve: cumulative trigram vocab replays") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
      .sortBy(_._1)
    def grams(toks: Seq[String]): Seq[String] =
      if (toks.length < 3) Seq.empty
      else (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" "))
    val n = docs.length
    val seen = scala.collection.mutable.Set.empty[String]
    var cumG = 0L
    var cumV = 0L
    val perDecile = Array.fill(10)((0L, 0L, 0L)) // docs, grams, newv at decile end
    docs.zipWithIndex.foreach { case ((_, toks), i) =>
      val gs = grams(toks)
      cumG += gs.length
      gs.distinct.foreach(g => if (seen.add(g)) cumV += 1)
      val d = (i * 10) / n
      val (a, _, _) = perDecile(d)
      perDecile(d) = (a + 1, cumG, cumV)
    }
    val rows = graft.operators.Zipf.vocabGrowth(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == (0L to 9L).toSet)
    (0 to 9).foreach { d =>
      val r = rows(d.toLong)
      assert(r.getLong(1) == perDecile(d)._1, s"decile $d docs")
      assert(r.getLong(3) == perDecile(d)._2, s"decile $d cum grams")
      assert(r.getLong(4) == perDecile(d)._3, s"decile $d cum vocab")
    }
    // the curve must actually grow (the unigram version measured flat)
    assert(rows(9L).getLong(4) > 2 * rows(0L).getLong(4), "vocab saturated: degenerate curve")
    val betas = (1 to 9).map(d => rows(d.toLong).getDouble(5))
    betas.foreach(b => assert(b > 0.0 && b < 1.0, s"heaps beta $b out of range"))
  }

  test("zipf_fit OLS replays over the exact top-rank frequencies") {
    val counts = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w")).filter(col("w") =!= "")
      .groupBy("w").count().collect().map(r => r.getString(0) -> r.getLong(1))
    val top = counts.sortBy { case (t, f) => (-f, t) }.take(graft.operators.Zipf.ZipfTopN)
    val xs = top.indices.map(i => math.log((i + 1).toDouble))
    val ys = top.map(t => math.log(t._2.toDouble))
    val nn = top.length.toDouble
    def s(v: Seq[Double]) = v.sorted.sum
    val (sx, sy) = (s(xs), s(ys))
    val (sxx, sxy, syy) =
      (s(xs.map(x => x * x)), s(xs.zip(ys).map { case (x, y) => x * y }), s(ys.map(y => y * y)))
    val dxy = nn * sxy - sx * sy
    val dxx = nn * sxx - sx * sx
    val dyy = nn * syy - sy * sy
    val r = graft.operators.Zipf.zipfFit(spark, sf).collect().head
    assert(r.getLong(0) == top.length)
    assert(r.getLong(1) == counts.length)
    assert(r.getLong(2) == counts.map(_._2).sum)
    assert(math.abs(r.getDouble(4) - dxy / dxx) < 1e-6, "slope")
    assert(math.abs(r.getDouble(6) - dxy * dxy / (dxx * dyy)) < 1e-6, "r2")
    // the synthetic corpus is measurably NOT Zipfian — that finding is
    // the screen's purpose (benford_check's FAIL discipline)
    assert(r.getDouble(4) > -0.5, "slope should be far from a natural-language -1")
  }

  test("doc_keywords: at most 5 per doc, led by the doc's max term frequency") {
    val kw = TextMetrics.docKeywords(spark, sf).collect()
    val byDoc = kw.groupBy(_.getAs[Long]("doc_id"))
    val topTf = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "w").count()
      .groupBy("doc_id").agg(max("count").as("mx"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byDoc.foreach { case (id, rows) =>
      assert(rows.length <= 5)
      assert(rows.map(_.getAs[Long]("tf")).max == topTf(id),
        s"doc $id keywords miss the modal term")
      rows.foreach(r => assert(r.getAs[Double]("tfidf") >= 0.0))
    }
  }

  test("cluster_assign: seeds keep their own cluster and the Lloyd step converges") {
    val a = Cluster.clusterAssign(spark, sf).collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      assert(r.getAs[Long]("cluster0") >= 0 && r.getAs[Long]("cluster0") < Cluster.SeedK)
      assert(r.getAs[Long]("cluster1") >= 0 && r.getAs[Long]("cluster1") < Cluster.SeedK)
    }
    // a seed vector has cosine exactly 1 with itself — unbeatable
    a.filter(_.getAs[Long]("vec_id") < Cluster.SeedK)
      .foreach(r => assert(r.getAs[Long]("cluster0") == r.getAs[Long]("vec_id")))
    // one refinement must not reshuffle everything
    val moved = a.count(_.getAs[Boolean]("moved"))
    assert(moved < a.length, s"every vector moved ($moved of ${a.length})")
  }

  test("substring_dup matches a brute-force window recount") {
    import graft.operators.Dedup
    val cov = Dedup.substringDup(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("covered_tokens"))).toMap
    // brute force: global window multiset, then per-doc interval union
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      // limit -1 keeps trailing empty tokens, matching Spark/DuckDB
      // split semantics — Java's default drops them, which would
      // desync window positions on a trailing-space document
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ", -1).toSeq)
    val k = 8
    val windowCount = scala.collection.mutable.Map.empty[String, Int]
    for ((_, toks) <- docs; i <- 0 to toks.length - k)
      windowCount.updateWith(toks.slice(i, i + k).mkString(" ")) {
        c => Some(c.getOrElse(0) + 1) }
    for ((id, toks) <- docs) {
      val coveredPos = (for {
        i <- 0 to toks.length - k
        if windowCount(toks.slice(i, i + k).mkString(" ")) > 1
        p <- i until i + k
      } yield p).toSet
      val (n, c) = cov(id)
      assert(n == toks.length.toLong, s"doc $id token count")
      assert(c == coveredPos.size.toLong,
        s"doc $id: covered $c != brute-force ${coveredPos.size}")
    }
    // the operator must actually find substring-level duplication here
    assert(cov.values.exists(_._2 > 0), "corpus has no duplicated 8-gram at all")
  }

  test("colloc_pmi matches a brute-force bigram recount") {
    import graft.operators.TextMetrics
    val got = TextMetrics.collocPmi(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getAs[Long]("c12"), r.getAs[Double]("pmi")))
      .toMap
    assert(got.nonEmpty && got.size <= 50)
    // brute force the corpus counts
    val texts = graft.sources.Tables.documents(spark, sf)
      .select(col("text")).collect().map(_.getString(0))
    val uni = scala.collection.mutable.Map.empty[String, Long]
    val bi = scala.collection.mutable.Map.empty[(String, String), Long]
    for (t <- texts) {
      val toks = t.split(" ", -1) // -1: keep trailing empties like Spark/DuckDB split
      toks.filter(_.nonEmpty).foreach(w => uni.updateWith(w)(c => Some(c.getOrElse(0L) + 1)))
      toks.sliding(2).filter(_.length == 2)
        .foreach(p => bi.updateWith((p(0), p(1)))(c => Some(c.getOrElse(0L) + 1)))
    }
    val n1 = uni.values.sum.toDouble
    val n2 = bi.values.sum.toDouble
    // the operator's top-k must be the count-ordered head of the table
    val expectTop = bi.toSeq.filter(_._2 >= 5)
      .sortBy { case ((a, b), c) => (-c, a, b) }.take(50)
    assert(got.keySet == expectTop.map(_._1).toSet)
    expectTop.foreach { case (pair, c12) =>
      val (gc, gpmi) = got(pair)
      assert(gc == c12)
      val expected = math.log(c12 * n1 * n1 / (n2 * uni(pair._1) * uni(pair._2))) / math.log(2)
      assert(math.abs(gpmi - expected) < 1e-5, s"$pair pmi $gpmi vs $expected")
    }
  }

  test("value_histogram bins partition the events exactly") {
    import graft.operators.Profile
    val bins = Profile.valueHistogram(spark, sf).collect()
    val total = graft.sources.Tables.events(spark, sf)
      .filter(col("value").isNotNull).count()
    assert(bins.map(_.getAs[Long]("n")).sum == total, "bins must partition all events")
    bins.foreach { r =>
      val lo = r.getAs[Double]("bin_lo")
      val (mn, mx) = (r.getAs[Double]("bin_min"), r.getAs[Double]("bin_max"))
      assert(r.getAs[Long]("n") > 0, "no empty bins emitted")
      assert(mn >= lo && mx < lo + 50.0 && mn <= mx,
        s"bin at $lo holds [$mn,$mx] outside its 50-unit width")
    }
  }

  test("events_rolling matches a brute-force trailing-hour recount") {
    import graft.queries.Events
    val rows = Events.eventsRolling(spark, sf).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("ts_us"), r.getAs[Long]("n_last_hour")))
    val byUser = rows.groupBy(_._2)
    // recount the RANGE frame per event for a handful of users
    byUser.take(5).foreach { case (_, evs) =>
      for ((id, _, ts, n) <- evs) {
        val expected = evs.count { case (_, _, t2, _) =>
          t2 >= ts - 3600L * 1000000 && t2 <= ts }
        assert(n == expected, s"event $id: rolling count $n != $expected")
      }
    }
    // RANGE (not ROWS): ts ties within a user must share identical counts
    val tied = byUser.values.flatMap(_.groupBy(_._3).values.filter(_.length > 1))
    tied.foreach { peers =>
      assert(peers.map(_._4).distinct.length == 1, "tied timestamps must be frame peers")
    }
  }

  test("embedding_audit equals a local per-vector replay") {
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .collect().map(r => (r.getInt(2),
        r.getAs[scala.collection.Seq[Float]](1).toSeq))
    val got = graft.operators.Cluster.embeddingAudit(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(8), r.getBoolean(9))).toMap
    vecs.groupBy(_._1).foreach { case (label, vs) =>
      val qs = vs.map { case (_, e) =>
        val n2 = e.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
        math.round(math.sqrt(n2) * 1e6)
      }
      val (n, dLo, dHi, nz, nf, mn, mean, mx, healthy) = got(label)
      assert(n == vs.size && dLo == vs.map(_._2.size).min && dHi == vs.map(_._2.size).max)
      assert(nz == qs.count(_ == 0L) && nf == 0L)
      assert(math.abs(mn - qs.min / 1e6) < 1e-6)
      assert(math.abs(mx - qs.max / 1e6) < 1e-6)
      val meanExp = BigDecimal(qs.sum.toDouble / qs.size / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(mean - meanExp) < 1e-9)
      assert(healthy == (dLo == dHi && nz == 0))
    }
  }
}
