package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Composition, Graph, Scd, Ann}
import graft.queries.{Events, Relational, Stats}

/** Property tests for the round-7 composition / warehouse / graph
  * additions — each operator checked against an independent local
  * model, not against its own plan. */
class CompositionOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("shard_assign positions are dense 0..n-1 per shard and cover every doc") {
    val out = Composition.shardAssign(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.length == total)
    assert(out.map(_.getLong(0)).distinct.length == total)
    out.groupBy(_.getLong(1)).foreach { case (shard, rows) =>
      val pos = rows.map(_.getLong(2)).sorted
      assert(pos.sameElements(0L until pos.length.toLong),
        s"shard $shard positions not dense: ${pos.take(5).mkString(",")}")
    }
    // the draw-range prefix rank must be a deterministic rerun fixpoint
    val model = Composition.shardAssign(spark, sf).collect()
    assert(model.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("shard_assign and train_order pos equal a naive per-shard row_number") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Similarity.md5Mod
    // the single-window semantics the oracle states: at ~60 docs and
    // ~120 instances per shard, some of its 256 draw-range cells hold
    // two or more rows, so a wrong order inside a cell shows as well
    // as a wrong cell offset
    def naive(t: org.apache.spark.sql.DataFrame, order: Seq[String]) =
      t.withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(order.map(col): _*)).cast("long") - 1L)
    def draws(t: org.apache.spark.sql.DataFrame, tag: String, key: org.apache.spark.sql.Column) =
      t.withColumn("shard", pmod(md5Mod(concat(lit(s"${tag}shard-"), key)),
          lit(Composition.NumShards.toLong)))
        .withColumn("ord", md5Mod(concat(lit(s"${tag}ord-"), key)))
    val docs = draws(graft.sources.Tables.documents(spark, sf).select("doc_id"), "",
      col("doc_id").cast("string"))
    val wantShard = naive(docs, Seq("ord", "doc_id")).select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gotShard = Composition.shardAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wrongShard = (gotShard diff wantShard).take(3)
    assert(wantShard.nonEmpty && gotShard.size == wantShard.size && wrongShard.isEmpty,
      "shard_assign pos")
    val inst = Composition.epochMix(spark, sf).filter(col("n_copies") >= 1)
      .select(col("doc_id"), explode(expr("sequence(0L, n_copies - 1)")).as("copy"))
    val wantTrain = naive(draws(inst, "t", concat(col("doc_id"), lit("#"), col("copy"))),
        Seq("ord", "doc_id", "copy")).select("doc_id", "copy", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val gotTrain = Composition.trainOrder(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val wrongTrain = (gotTrain diff wantTrain).take(3)
    assert(wantTrain.nonEmpty && gotTrain.size == wantTrain.size && wrongTrain.isEmpty,
      "train_order pos")
  }

  test("order_autocorr: md5 order scores near the ideal-shuffle collision rate") {
    val out = Composition.orderAutocorr(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    assert(out.map(_._1).toSeq == Composition.AutocorrLags)
    // independent model of the expectation: Σ_s p_s² over instances
    val inst = Composition.trainOrder(spark, sf).groupBy(col("source")).count()
      .collect().map(_.getLong(1))
    val n = inst.sum.toDouble
    val expModel = inst.map(c => (c / n) * (c / n)).sum
    out.foreach { case (lag, nPairs, nMatch, rate, exp) =>
      assert(math.abs(exp - expModel) < 1e-4, s"lag $lag expected_rate")
      assert(nPairs > 0 && nMatch <= nPairs)
      assert(math.abs(rate - nMatch.toDouble / nPairs) < 1e-6)
      // the md5 replay order IS a good shuffle: observed within 3σ of
      // the binomial null around the collision expectation
      val sigma = math.sqrt(expModel * (1 - expModel) / nPairs)
      assert(math.abs(rate - expModel) < 3.5 * sigma,
        s"lag $lag: rate $rate vs exp $expModel (σ=$sigma) — order is clustered")
    }
    // larger lags have fewer in-shard pairs (positions run out)
    assert(out.map(_._2).toSeq == out.map(_._2).sortBy(-_).toSeq)
  }

  test("dedup_url canonicalization rules, each on a literal") {
    import spark.implicits._
    val cases = Seq(
      // case + www + default port + utm + param order + fragment
      ("HTTP://WWW.Site.COM:80/a/b?utm_source=x&z=2&a=1#frag",
        "http://site.com/a/b?a=1&z=2"),
      // https default port stripped; non-default kept
      ("https://site.com:443/a", "http" + "s://site.com/a"),
      ("http://site.com:8080/a", "http://site.com:8080/a"),
      // :443 on http is NOT a default port
      ("http://site.com:443/a", "http://site.com:443/a"),
      // trailing slash + empty query survives as no query
      ("http://site.com/a/?utm_x=1", "http://site.com/a"))
    val got = cases.map(_._1).toDF("url")
      .select(graft.operators.Web.canonicalUrl(col("url"))).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, e) => assert(g == e) }
  }

  test("dedup_url families cover every doc and merge genuinely distinct raws") {
    val out = graft.operators.Web.dedupUrl(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.map(_.getLong(1)).sum == total, "every doc lands in exactly one family")
    assert(out.exists(_.getLong(2) >= 2),
      "at least one family must merge two DISTINCT raw variants, else the canonicalizer is untested")
  }

  test("chat_turns: validator catches exactly the injected role-flips") {
    val out = graft.operators.Chat.chatTurns(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.length == total)
    out.foreach { r =>
      val id = r.getLong(0); val nt = r.getLong(1)
      // the flip lands at turn index 1, so it only exists when nt >= 2
      val corrupted = id % 13 == 0 && nt >= 2
      assert(r.getBoolean(3) == !corrupted, s"doc $id alternation_ok")
      assert(r.getBoolean(2) == (id % 5 == 0), s"doc $id has_system")
      assert(r.getDouble(5) > 0, s"doc $id avg_turn_chars")
    }
    // the three QA verdicts must all occur (no degenerate column)
    assert(out.exists(!_.getBoolean(3)) && out.exists(_.getBoolean(3)))
    assert(out.exists(_.getBoolean(4)) && out.exists(!_.getBoolean(4)))
  }

  test("epoch_mix copies are floor/ceil of the target and average toward it") {
    val rows = Composition.epochMix(spark, sf)
      .select(col("source"), col("target_epochs"), col("n_copies")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getDouble(1); val c = r.getLong(2)
      assert(c == math.floor(t).toLong || c == math.ceil(t).toLong,
        s"${r.getString(0)}: copies $c not in {floor, ceil} of $t")
    }
    // realized epochs per source within a loose Bernoulli tolerance
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val t = rs.head.getDouble(1)
      val mean = rs.map(_.getLong(2)).sum.toDouble / rs.length
      assert(math.abs(mean - t) < 0.5, s"$src realized $mean vs target $t")
    }
  }

  test("kfold_split cells partition the corpus and shares sum to 1 per lang") {
    val cells = Composition.kfoldSplit(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(cells.map(_.getLong(2)).sum == total)
    cells.groupBy(_.getString(1)).foreach { case (lang, rs) =>
      assert(math.abs(rs.map(_.getDouble(4)).sum - 1.0) < 1e-9, lang)
      assert(rs.map(_.getLong(3)).distinct.length == 1, s"$lang lang_total differs")
      assert(rs.head.getLong(3) == rs.map(_.getLong(2)).sum)
    }
  }

  test("train_order emits n_copies instances per doc at dense per-shard positions") {
    val copies = Composition.epochMix(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val out = Composition.trainOrder(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length == copies.values.sum)
    out.groupBy(_._1).foreach { case (doc, rs) =>
      assert(rs.length == copies(doc), s"doc $doc instance count")
      assert(rs.map(_._2).sorted.sameElements(0L until rs.length.toLong))
    }
    out.groupBy(_._3).foreach { case (shard, rs) =>
      val pos = rs.map(_._4).sorted
      assert(pos.sameElements(0L until pos.length.toLong), s"shard $shard not dense")
    }
  }

  test("retract_agg equals a from-scratch aggregation of the modified table") {
    val base = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderstatus"), col("o_orderkey").cast("long"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val modified = base.filter(_._2 % 13 != 0).map(x => (x._1, x._3)) ++
      base.filter(_._2 % 7 == 0).map(x => (x._1, x._3 + x._3 / 10))
    val model = modified.groupBy(_._1).map { case (s, xs) =>
      s -> (xs.length.toLong, xs.map(_._2).sum)
    }
    operators.Scd.retractAgg(spark, sf).collect().foreach { r =>
      val (n, cents) = model(r.getString(0))
      assert(r.getAs[Long]("n_rows") == n)
      assert(math.abs(r.getAs[Double]("total") - cents / 100.0) < 1e-6)
    }
  }

  test("cdc_apply equals a local latest-wins replay with tombstones") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").cast("long"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").cast("double")).collect()
    val model = orders.map { r =>
      val ok = r.getLong(0)
      (ok / 100, (ok, if (ok % 17 == 0) "D" else "U", r.getString(1), r.getDouble(2)))
    }.groupBy(_._1).flatMap { case (key, vs) =>
      val versions = vs.map(_._2)
      val (seq, op, status, price) = versions.maxBy(_._1)
      if (op == "D") None
      else Some((key, versions.length.toLong, seq, status, price))
    }.toSet
    val got = Scd.cdcApply(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSet
    assert(got == model)
  }

  test("scd2_asof attaches the version current at each order date") {
    val dim = Scd.scd2Dim(spark, sf)
      .select(col("custkey").cast("long"), col("version"), col("status"),
        col("valid_from").cast("string"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    val byCust = dim.groupBy(_._1)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
        col("o_orderdate").cast("string")).collect()
    val model = orders.map { r =>
      val (ok, ck, d) = (r.getLong(0), r.getLong(1), r.getString(2))
      val (_, v, s, _) = byCust(ck).filter(_._4 <= d).maxBy(x => (x._4, x._2))
      (ok, v, s)
    }.toSet
    val got = Scd.scd2Asof(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getString(4))).toSet
    assert(got == model)
  }

  test("events_hopping fans every event into exactly 4 windows") {
    val nEvents = spark.read.parquet(s"$sf/events.parquet").count()
    val out = Events.eventsHopping(spark, sf)
      .agg(sum(col("n_events"))).head().getLong(0)
    assert(out == 4 * nEvents)
    // window geometry: every window is 1h wide, start aligned to 15min
    Events.eventsHopping(spark, sf)
      .select(unix_micros(col("window_start")).as("s"), unix_micros(col("window_end")).as("e"))
      .collect().foreach { r =>
        assert(r.getLong(1) - r.getLong(0) == 3600L * 1000000)
        assert(r.getLong(0) % (900L * 1000000) == 0)
      }
  }

  test("q_groupingsets marginals re-aggregate the 2-D cells") {
    val rows = Relational.qGroupingSets(spark, sf).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val cells = rows.filter(_._3 == 0)
    val byStatus = rows.filter(_._3 == 1) // priority rolled up
    val byPrio = rows.filter(_._3 == 2)   // status rolled up
    assert(rows.length == cells.length + byStatus.length + byPrio.length)
    byStatus.foreach { case (st, pr, _, n, tot) =>
      assert(pr.isEmpty)
      val sub = cells.filter(_._1 == st)
      assert(sub.map(_._4).sum == n)
      assert(math.abs(sub.map(_._5).sum - tot) < 1e-6)
    }
    byPrio.foreach { case (st, pr, _, n, _) =>
      assert(st.isEmpty)
      assert(cells.filter(_._2 == pr).map(_._4).sum == n)
    }
  }

  test("winsorize clips exactly the tail mass and bounds the robust mean") {
    val cents = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("c")).collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    Stats.winsorize(spark, sf).collect().foreach { r =>
      val vs = cents(r.getString(0)).map(_._2 * 8.0)
      val (n, lo8, hi8) = (r.getLong(1), r.getDouble(4) * 800, r.getDouble(5) * 800)
      assert(n == vs.length)
      assert(r.getLong(2) == vs.count(_ < lo8 - 1e-9), "n_clip_lo")
      assert(r.getLong(3) == vs.count(_ > hi8 + 1e-9), "n_clip_hi")
      assert(r.getDouble(6) >= r.getDouble(4) - 1e-9 && r.getDouble(6) <= r.getDouble(5) + 1e-9,
        "winsorized mean must lie inside the clip band")
    }
  }

  test("graph_kcore equals a local peel-to-fixpoint replay") {
    // rebuild the co-purchase edge set with the same derivation
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 25)
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
      .dropDuplicates("ok", "pk").collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder: Seq[Seq[Long]] =
      li.toSeq.groupBy(_._1).values.map(_.map(_._2)).toSeq
    var edges: Set[(Long, Long)] = byOrder.flatMap { g =>
      for { a <- g; b <- g if a < b } yield (a, b)
    }.toSet
    var done = false
    while (!done) {
      val deg: Map[Long, Int] = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy((v: Long) => v).map { case (v, xs) => v -> xs.length }
      val keep = deg.filter(_._2 >= Graph.KcK).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      done = next == edges
      edges = next
    }
    val modelDeg: Map[Long, Long] = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy((v: Long) => v).map { case (v, xs) => v -> xs.length.toLong }
    val got = Graph.graphKcore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == modelDeg)
    got.values.foreach(d => assert(d >= Graph.KcK))
  }

  test("graph_bfs equals a local multi-source BFS replay") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 25)
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
      .dropDuplicates("ok", "pk").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = li.toSeq.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct
      for { a <- ps; b <- ps if a != b } yield (a, b)
    }.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
    // textbook BFS from all seeds at once
    var dist = adj.keySet.filter(_ % 100 == 0).map(_ -> 0L).toMap
    var frontier = dist.keySet
    var d = 0L
    while (frontier.nonEmpty) {
      d += 1
      val next = frontier.flatMap(adj.getOrElse(_, Set.empty[Long]))
        .filterNot(dist.contains)
      dist = dist ++ next.map(_ -> d)
      frontier = next
    }
    val got = Graph.graphBfs(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == dist.filter(_._2 <= Graph.BfsMaxRounds))
  }

  test("events_ewma replays the halving recurrence per type over sorted hours") {
    val rows = queries.Events.eventsEwma(spark, sf)
      .select(col("event_type"), unix_micros(col("hour")).as("h"),
        col("hour_value"), col("ewma_value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      var acc = Double.NaN
      sorted.foreach { case (_, _, hv, ew) =>
        val cents = math.round(hv * 100).toDouble
        acc = if (acc.isNaN) cents else (acc + cents) / 2.0
        // Spark round() is HALF_UP (rint would be half-even)
        // valueOf (Double.toString semantics), matching Spark's round()
        val expected = java.math.BigDecimal.valueOf(acc / 100.0)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        assert(math.abs(ew - expected) < 1e-9,
          s"ewma $ew vs replay ${acc / 100.0}")
      }
    }
  }

  test("cdc_chunk boundaries are content-defined: chunks tile each doc, dedup_ratio sane") {
    val out = operators.Chunk.cdcChunk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), length(col("text")).cast("long").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.length == docs.size)
    out.foreach { case (id, nChunks, minC, maxC, totalChars, ratio) =>
      assert(totalChars == docs(id), s"doc $id chunks don't tile the text")
      assert(nChunks >= 1 && minC >= 1 && maxC <= totalChars)
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    // shift-resilience is the point: at least some chunk mass is shared
    // across the corpus (the generator reuses sentence templates)
    assert(out.exists(_._6 > 0.0), "no shared chunk found in a templated corpus")
  }

  test("cdc_chunk n_chunks and shared chunk mass replay from a local CDC chunking") {
    import graft.expressions.CrossHash.md5Mod
    import operators.Chunk.{CdcMod, CdcW}
    // Spark's length/substring count code points, 1-based
    def chunkText(text: String): Seq[String] = {
      val cps = text.codePoints().toArray
      def sub(i: Int, n: Int) = new String(cps, i - 1, n)
      val len = cps.length
      val starts = 1 +: (2 to len - (CdcW - 1)).filter(i => md5Mod(sub(i, CdcW)) % CdcMod == 0)
      val bounds = starts :+ (len + 1)
      bounds.sliding(2).map { case Seq(a, b) => sub(a, b - a) }.toSeq
    }
    val chunks = graft.sources.Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).filter(_._2.nonEmpty)
      .map { case (id, text) => id -> chunkText(text).map(c => (c.codePointCount(0, c.length).toLong, md5Mod(c))) }
    val occ = chunks.flatMap(_._2.map(_._2)).groupBy(identity).map { case (h, hs) => h -> hs.length }
    val want = chunks.map { case (id, cs) =>
      val shared = cs.collect { case (n, h) if occ(h) > 1 => n }.sum
      val total = cs.map(_._1).sum
      val ratio = java.math.BigDecimal.valueOf(shared.toDouble / total)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      (id, cs.length.toLong, cs.map(_._1).min, cs.map(_._1).max, total, ratio)
    }.toSet
    val got = operators.Chunk.cdcChunk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toSet
    assert(want.exists(_._6 > 0.0) && want.exists(_._2 > 1), "replay found no shared or split doc")
    assert(got == want, s"mismatched docs: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
  }

  test("ab_sprt: LLR replays from cumulative counts, decisions respect Wald bounds") {
    val rows = operators.Experiment.abSprt(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getString(5)))
    assert(rows.map(_._1).toSet == Set(0L, 1L), "both variants present")
    val lr1 = math.log(0.15 / 0.10); val lr0 = math.log((1.0 - 0.15) / (1.0 - 0.10))
    rows.foreach { case (v, day, cumN, cumC, llr, dec) =>
      assert(cumC <= cumN && cumN > 0, s"$v/$day counts")
      val expect = BigDecimal(cumC * lr1 + (cumN - cumC) * lr0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(llr - expect) < 1e-9, s"$v/$day llr $llr vs $expect")
      val expDec = if (llr >= operators.Experiment.SprtHi) "accept_h1"
        else if (llr <= operators.Experiment.SprtLo) "accept_h0" else "continue"
      assert(dec == expDec, s"$v/$day decision")
    }
    // cumulative counts are monotone within a variant
    rows.groupBy(_._1).values.foreach { vs =>
      val sorted = vs.sortBy(_._2).map(_._3)
      assert(sorted.sameElements(sorted.sorted), "cum_n monotone")
    }
  }

  test("prefix_boilerplate finds exactly the injected shared header") {
    val out = operators.Boilerplate.prefixBoilerplate(spark, sf).collect()
    out.foreach { r =>
      val src = r.getString(0)
      // common prefix = 'archive of <src> :: volume ' — the volume
      // digit (doc_id % 3) varies within every source
      val expLcp = ("archive of " + src + " :: volume ").length.toLong
      assert(r.getLong(2) == expLcp, s"$src lcp_len ${r.getLong(2)} vs $expLcp")
      assert(r.getString(3) == ("archive of " + src + " :: volume ").take(24), s"$src head")
      assert(r.getDouble(4) > 0 && r.getDouble(4) < 1, s"$src boiler_frac")
    }
    // the library LCP helper on literals, incl. the identical-pair edge
    import spark.implicits._
    val lcp = Seq(("abcx", "abcy"), ("same", "same"), ("", "x"),
      ("ab", "abc"), ("abc", "ab"))
      .toDF("a", "b")
      .select(operators.Boilerplate.lcpLen(col("a"), col("b"))).as[Long].collect()
    // strict-prefix pairs must return the SHORTER length (zip_with pads
    // the short side with nulls, so the mismatch is never a false)
    assert(lcp.toSeq == Seq(3L, 4L, 0L, 2L, 2L))
  }

  test("graph_hits path counts replay from a brute-force in-memory HITS") {
    val edges = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 25)
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
      .distinct().collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.flatMap { g =>
        val ps: Seq[Long] = g.map(_._2).distinct.sorted
        ps.flatMap(a => ps.filter(_ > a).map(b => (a, b)))
      }.toSet
    // NB: map over Seq, not the grouped Set — equal addends must not collapse
    val a1 = edges.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val h1 = edges.groupBy(_._1).view
      .mapValues(_.toSeq.map(e => a1(e._2)).sum).toMap
    val a2 = edges.groupBy(_._2).view
      .mapValues(_.toSeq.map(e => h1.getOrElse(e._1, 0L)).sum).toMap
    val h2 = edges.groupBy(_._1).view
      .mapValues(_.toSeq.map(e => a2.getOrElse(e._2, 0L)).sum).toMap
    val got = operators.Graph.graphHits(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val verts = edges.flatMap(e => Seq(e._1, e._2))
    assert(got.keySet == verts)
    verts.foreach { v =>
      assert(got(v) == (a2.getOrElse(v, 0L), h2.getOrElse(v, 0L)), s"vertex $v")
    }
    // orientation makes the two roles genuinely different
    assert(got.values.exists(p => p._1 != p._2), "hub == auth everywhere: degenerate")
  }

  test("ab_segments cells partition the user table; z replays from counts") {
    val rows = operators.Experiment.abSegments(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet == (0L to 4L).toSet)
    val totalUsers = graft.sources.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(rows.map(r => r.getLong(1) + r.getLong(3)).sum == totalUsers)
    rows.foreach { r =>
      val (na, ca, nb, cb) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ca <= na && cb <= nb)
      if (na > 0 && nb > 0) {
        val lift = cb.toDouble / nb - ca.toDouble / na
        assert(math.abs(r.getDouble(7) - BigDecimal(lift)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
        val p = (ca + cb).toDouble / (na + nb)
        if (p > 0 && p < 1) {
          val z = lift / math.sqrt(p * (1 - p) * (1.0 / na + 1.0 / nb))
          assert(math.abs(r.getDouble(8) - BigDecimal(z)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
        }
      }
    }
  }

  test("ab_test moments match a local per-user replay") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id").cast("long"), col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val perUser = ev.groupBy(_._1).map { case (u, xs) =>
      u -> xs.filter(_._2 == "purchase").map(_._3).sum
    }
    val byVariant = perUser.groupBy { case (u, _) =>
      java.lang.Long.remainderUnsigned(
        graft.expressions.CrossHash.md5Lower64(s"ab-$u"),
        graft.expressions.CrossHash.P) % 2
    }
    val out = operators.Experiment.abTest(spark, sf).head()
    val a = byVariant.getOrElse(0L, Map.empty).values.toSeq
    val b = byVariant.getOrElse(1L, Map.empty).values.toSeq
    assert(out.getAs[Long]("n_a") == a.size && out.getAs[Long]("n_b") == b.size)
    assert(math.abs(out.getAs[Double]("mean_a") - a.sum.toDouble / a.size / 100.0) < 1e-4)
    assert(math.abs(out.getAs[Double]("mean_b") - b.sum.toDouble / b.size / 100.0) < 1e-4)
    // Welch z from the same moments
    def variance(xs: Seq[Long]): Double = {
      val n = xs.size.toDouble
      val m = xs.sum.toDouble / n
      xs.map(x => (x - m) * (x - m)).sum / (n - 1)
    }
    if (a.size > 1 && b.size > 1 && (variance(a) > 0 || variance(b) > 0)) {
      val z = (b.sum.toDouble / b.size - a.sum.toDouble / a.size) /
        math.sqrt(variance(a) / a.size + variance(b) / b.size)
      assert(math.abs(out.getAs[Double]("z_score") - z) < 1e-4,
        s"z ${out.getAs[Double]("z_score")} vs replay $z")
    }
  }

  test("psi_drift is ~0 for identical halves and large for disjoint bins") {
    // the operator on real data: finite, sane range
    val rows = operators.Experiment.psiDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val psi = r.getAs[Double]("psi")
      assert(!psi.isNaN && !psi.isInfinite && psi >= 0.0 - 1e-9,
        s"${r.getString(0)}: psi $psi")
      assert(r.getAs[Long]("n_before") > 0 && r.getAs[Long]("n_after") > 0)
    }
  }

  test("funnel_time percentiles bound a local replay of conversion delays") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id").cast("long"), col("event_type"),
        unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val delays = ev.groupBy(_._1).flatMap { case (_, xs) =>
      val views = xs.filter(_._2 == "view").map(_._3)
      if (views.isEmpty) None
      else {
        val v = views.min
        val ps = xs.filter(x => x._2 == "purchase" && x._3 > v).map(_._3)
        if (ps.isEmpty) None else Some(ps.min - v)
      }
    }.toSeq.sorted
    val out = operators.Experiment.funnelTime(spark, sf).head()
    assert(out.getAs[Long]("n_conversions") == delays.size)
    if (delays.nonEmpty) {
      assert(out.getAs[Double]("p125_s") >= delays.head / 1e6 - 1e-6)
      assert(out.getAs[Double]("p875_s") <= delays.last / 1e6 + 1e-6)
      assert(out.getAs[Double]("p50_s") >= out.getAs[Double]("p125_s"))
      assert(out.getAs[Double]("p875_s") >= out.getAs[Double]("p50_s"))
    }
  }

  test("events_heatmap cells partition events; dow formula matches java.time") {
    val out = queries.Events.eventsHeatmap(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/events.parquet").count()
    assert(out.map(_.getAs[Long]("n_events")).sum == total)
    out.foreach { r =>
      val dow = r.getAs[Long]("dow"); val hour = r.getAs[Long]("hour")
      assert(dow >= 0 && dow <= 6 && hour >= 0 && hour <= 23)
    }
    // cross-check the arithmetic dow against java.time on real rows
    graft.sources.Tables.events(spark, sf)
      .select(unix_micros(col("ts"))).limit(200).collect().foreach { r =>
        val us = r.getLong(0)
        val expected = java.time.Instant.ofEpochSecond(us / 1000000)
          .atZone(java.time.ZoneOffset.UTC).getDayOfWeek.getValue % 7 // SUNDAY=7→0
        assert((us / 86400000000L + 4) % 7 == expected)
      }
  }

  test("sorted_blocking pairs are exactly the close pairs within the rank window") {
    val recs = (spark.read.parquet(s"$sf/customer.parquet")
        .select(col("c_custkey").cast("long"), lower(col("c_name"))).collect()
        .map(r => (r.getLong(0), r.getString(1))) ++
      spark.read.parquet(s"$sf/supplier.parquet")
        .select(col("s_suppkey").cast("long") + 1000000000L, lower(col("s_name"))).collect()
        .map(r => (r.getLong(0), r.getString(1)))).toSeq
    val ranked = recs.sortBy(x => (x._2, x._1)).zipWithIndex
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val model = (for {
      ((ra, ia)) <- ranked; ((rb, ib)) <- ranked
      if ib > ia && ib <= ia + graft.operators.EntityMatch.SnWindow
      l = lev(ra._2, rb._2) if l <= 4
    } yield (ra._1, rb._1, (ib - ia).toLong, l.toLong)).toSet
    val got = graft.operators.EntityMatch.sortedBlocking(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == model)
  }

  test("events_transitions counts all consecutive pairs; rows sum to 1") {
    val rows = queries.Events.eventsTransitions(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val nEvents = spark.read.parquet(s"$sf/events.parquet").count()
    val nUsers = graft.sources.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    // every event except each user's first contributes one transition
    assert(rows.map(_._3).sum == nEvents - nUsers)
    rows.groupBy(_._1).foreach { case (from, rs) =>
      assert(rs.map(_._4).distinct.length == 1, s"$from from_total differs")
      assert(rs.head._4 == rs.map(_._3).sum)
      assert(math.abs(rs.map(_._5).sum - 1.0) < 1e-4, s"$from probabilities")
    }
  }

  test("events_interpolate brackets every interior hour; exact at coincident events") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        (col("value").cast("decimal(18,2)") * 100).cast("long"),
        col("event_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val H = 3600000000L
    val byUser = ev.groupBy(_._1).map { case (u, xs) =>
      // latest-wins collapse at equal timestamps, as the operator does
      u -> xs.groupBy(_._2).map { case (us, ys) =>
        us -> ys.maxBy(_._4)._3
      }.toSeq.sortBy(_._1)
    }
    val out = queries.Events.eventsInterpolate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expectedCount = byUser.map { case (_, series) =>
      val mn = series.head._1; val mx = series.last._1
      val h0 = (mn + H - 1) / H; val h1 = mx / H
      math.max(0L, h1 - h0 + 1)
    }.sum
    assert(out.length == expectedCount)
    // value bounds: interpolation lies between bracket values
    val seriesMap = byUser
    out.foreach { case (u, t, v) =>
      val s = seriesMap(u)
      val before = s.filter(_._1 <= t)
      val after = s.filter(_._1 >= t)
      assert(before.nonEmpty && after.nonEmpty, s"user $u probe $t unbracketed")
      val va = before.last._2 / 100.0
      val vb = after.head._2 / 100.0
      assert(v >= math.min(va, vb) - 1e-6 && v <= math.max(va, vb) + 1e-6,
        s"user $u at $t: $v outside [$va, $vb]")
      if (before.last._1 == t)
        assert(math.abs(v - va) < 1e-6, "coincident probe must take the event value")
    }
  }

  test("kmv_overlap estimates track the exact overlap within sketch error") {
    val rows = operators.Sketch.kmvOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val estJ = r.getAs[Double]("est_jaccard")
      val exJ = r.getAs[Double]("exact_jaccard")
      val estU = r.getAs[Double]("est_union")
      val exU = r.getAs[Long]("exact_union")
      // KMV with K=64: relative std err ~ 1/sqrt(K-1) ≈ 0.126; allow 4σ
      assert(math.abs(estU - exU) <= math.max(4 * exU / math.sqrt(64 - 1), 8.0),
        s"${r.getString(0)}x${r.getString(1)}: union est $estU vs exact $exU")
      assert(math.abs(estJ - exJ) <= 0.5, s"jaccard est $estJ vs exact $exJ")
      assert(r.getAs[Long]("n_uk") <= operators.Sketch.KmvK)
    }
  }

  test("q_decile tiers partition customers with monotone spend boundaries") {
    val rows = Relational.qDecile(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    val nCust = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey")).distinct().count()
    assert(rows.map(_._2).sum == nCust)
    assert(rows.map(_._1).sameElements(0L until rows.length.toLong))
    // decile sizes differ by at most 1; spend ranges are non-increasing
    val sizes = rows.map(_._2)
    assert(sizes.max - sizes.min <= 1)
    rows.sliding(2).foreach {
      case Array(hi, lo) => assert(hi._5 >= lo._4 - 1e-9,
        s"decile ${hi._1} min ${hi._5} < decile ${lo._1} max ${lo._4}")
      case _ =>
    }
  }

  test("graph_assortativity contributions reconstruct from a local graph replay") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 25)
      .select(col("l_orderkey"), col("l_partkey").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.distinct
    val edges = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSet
    val brand = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey").cast("long"), col("p_brand")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val m = edges.size.toDouble
    val rows = Graph.graphAssortativity(spark, sf).collect()
    assert(rows.nonEmpty)
    var q = 0.0
    rows.foreach { r =>
      val b = r.getString(0)
      val lb = edges.count { case (u, v) => brand(u) == b && brand(v) == b }
      val db = edges.toSeq.flatMap(e => Seq(e._1, e._2)).count(brand(_) == b)
      assert(r.getAs[Long]("intra_edges") == lb, s"$b intra")
      assert(r.getAs[Long]("deg_sum") == db, s"$b degree")
      q += r.getAs[Double]("contribution")
    }
    // modularity of a real partition is a proper fraction
    assert(q > -1.0 && q < 1.0)
  }

  test("events_wow restates week deltas from the weekly cells") {
    val rows = queries.Events.eventsWow(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(4)).map(_.asInstanceOf[Double])))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.head._4.isEmpty, "first week must report null wow")
      sorted.sliding(2).foreach {
        case Array(prev, cur) =>
          cur._4.foreach { w =>
            val expected = (cur._3 - prev._3).toDouble / prev._3
            assert(math.abs(w - expected) < 1e-6)
          }
        case _ =>
      }
    }
  }

  test("graph_edge_jaccard equals a local neighborhood-intersection replay") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 25)
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
      .dropDuplicates("ok", "pk").collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.toSeq.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
    val out = Graph.graphEdgeJaccard(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(5)))).toMap
    // every edge with a common neighbor appears, with the exact counts
    val expected = edges.toSeq.flatMap { case (a, b) =>
      val cn = (adj(a) & adj(b)).size
      if (cn == 0) None
      else Some((a, b) -> (cn.toLong,
        cn.toDouble / (adj(a).size + adj(b).size - 2 - cn)))
    }.toMap
    assert(out.keySet == expected.keySet)
    expected.foreach { case (e, (cn, j)) =>
      assert(out(e)._1 == cn, s"edge $e cn")
      assert(math.abs(out(e)._2 - j) < 1e-5, s"edge $e jaccard")
    }
  }

  test("knn_graph ranks are dense, cosines ordered, mutual flag symmetric") {
    val edges = Ann.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(edges.nonEmpty)
    val edgeSet = edges.map(e => (e._1, e._2)).toSet
    edges.groupBy(_._1).foreach { case (src, rs) =>
      val sorted = rs.sortBy(_._3)
      assert(sorted.map(_._3).sameElements(1L to rs.length.toLong), s"ranks not dense for $src")
      assert(rs.length <= 5)
      // cosine non-increasing along rank
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 >= b._4 - 1e-12)
        case _ =>
      }
    }
    edges.foreach { e =>
      assert(e._5 == edgeSet.contains((e._2, e._1)), s"mutual flag wrong for $e")
    }
  }
}
