package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, RangeJoin}
import graft.plans.TopK

/** Randomized differential tests: the distributed operators against
  * brute-force in-memory references over seeded random data. Catches
  * the class of bug example-based specs miss — boundary alignment,
  * bucket edges, tie handling — without any oracle dependency. */
class DifferentialSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  test("asOf equals the brute-force latest-at-or-before over random data") {
    val leftRows = Seq.fill(300)((rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong))
    val rightRows = Seq.fill(150)((rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong, rnd.nextLong()))
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq // unique (k, ts)
    val left = leftRows.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      .toDF("lid", "k", "tsn").withColumn("ts", timestamp_micros(col("tsn") * 1000000))
      .drop("tsn")
    val right = rightRows.toDF("k", "tsn", "payload")
      .withColumn("ts", timestamp_micros(col("tsn") * 1000000)).drop("tsn")

    val got = AsOfJoin.asOf(left, right, "k", "ts", Seq("payload"))
      .select("lid", "asof_payload").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap

    val byKey = rightRows.groupBy(_._1)
    val expected = leftRows.zipWithIndex.map { case ((k, t), i) =>
      i.toLong -> byKey.getOrElse(k, Seq.empty)
        .filter(_._2 <= t).sortBy(r => (r._2, r._3)).lastOption.map(_._3)
    }.toMap
    assert(got == expected)
  }

  test("asOfNearest equals the brute-force min-|dt| (tie -> backward) over random data") {
    val leftRows = Seq.fill(300)((rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong))
    val rightRows = Seq.fill(150)((rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong, rnd.nextLong()))
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq // unique (k, ts)
    val left = leftRows.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      .toDF("lid", "k", "tsn").withColumn("ts", timestamp_micros(col("tsn") * 1000000))
      .drop("tsn")
    val right = rightRows.toDF("k", "tsn", "payload")
      .withColumn("ts", timestamp_micros(col("tsn") * 1000000)).drop("tsn")

    val got = AsOfJoin.asOfNearest(left, right, "k", "ts", Seq("payload"))
      .select("lid", "asof_payload").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap

    val byKey = rightRows.groupBy(_._1)
    val expected = leftRows.zipWithIndex.map { case ((k, t), i) =>
      val cands = byKey.getOrElse(k, Seq.empty)
      i.toLong -> (if (cands.isEmpty) None else {
        // min |dt|; tie -> the backward (earlier-ts) candidate
        val best = cands.minBy(r => (math.abs(r._2 - t), r._2))
        Some(best._3)
      })
    }.toMap
    assert(got == expected)
  }

  test("intervalMerge covers each instant once vs brute-force union over random data") {
    // random per-user intervals through the gate query's own grammar
    // is awkward to replay here; test the sweep core instead with an
    // independent in-memory union model over random (user, s, e)
    val rows = Seq.tabulate(400)(i =>
      (i.toLong, rnd.nextInt(6).toLong, rnd.nextInt(3000).toLong, 1L + rnd.nextInt(200)))
      .map { case (id, u, s, d) => (id, u, s, s + d) }
    val df = rows.toDF("event_id", "user_id", "s", "e")
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
    val got = df
      .withColumn("maxe", max(col("e")).over(
        ord.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("brk", when(col("maxe").isNull || col("s") > col("maxe"), 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(ord.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("s")).as("start"), max(col("e")).as("end"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // brute-force: per user, mark covered instants, read off maximal runs
    val expected = rows.groupBy(_._2).flatMap { case (u, rs) =>
      val pts = rs.flatMap(r => r._3 until r._4).toSet
      val sorted = pts.toSeq.sorted
      if (sorted.isEmpty) Seq.empty
      else {
        val runs = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
        var start = sorted.head; var prev = sorted.head
        for (p <- sorted.tail) {
          if (p != prev + 1) { runs += ((start, prev + 1)); start = p }
          prev = p
        }
        runs += ((start, prev + 1))
        runs.map { case (s, e) => (u, s, e) }
      }
    }.toSet
    assert(got == expected)
  }

  test("bandJoin equals the brute-force range predicate over random data") {
    val rows = Seq.tabulate(400)(i =>
      (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(5000).toLong))
    val ev = rows.toDF("event_id", "user_id", "tsn")
      .withColumn("ts", timestamp_micros(col("tsn") * 1000000))
      .withColumn("event_type", lit("x")).drop("tsn")
    val width = 37L

    val got = RangeJoin.bandJoin(ev, widthSec = width)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      a <- rows; b <- rows
      if a._2 == b._2 && b._3 > a._3 && b._3 <= a._3 + width
    } yield (a._1, b._1)).toSet
    assert(got == expected)
  }

  test("TopKPerGroup equals brute-force sort-take over random data") {
    val rows = Seq.tabulate(500)(i => (i.toLong, rnd.nextInt(12), rnd.nextInt(100)))
    val df = rows.toDF("id", "g", "score")
    val k = 4
    val got = df.transform(TopK.perGroup(Seq("g"), Seq("score" -> false, "id" -> true), k))
      .select("id").collect().map(_.getLong(0)).toSet
    val expected = rows.groupBy(_._2).values.flatMap(
      _.sortBy(r => (-r._3, r._1)).take(k).map(_._1)).toSet
    assert(got == expected)

    // TopK.ranked against a driver-side sort-and-number: scores over
    // 0..4 make ties common, so the id tie-break decides the ranks;
    // groups 0-2 are smaller than k; ids are written shuffled
    val r = new scala.util.Random(7)
    val sizes = Seq(1, 2, 3) ++ Seq.fill(9)(5 + r.nextInt(60))
    val tied = sizes.zipWithIndex
      .flatMap { case (n, g) => Seq.fill(n)((g, r.nextInt(5))) }
      .zipWithIndex.map { case ((g, s), id) => (id.toLong, g, s) }
    val tdf = r.shuffle(tied).toDF("id", "g", "score")
    val cases = Seq(Seq("g") -> k, Seq.empty[String] -> 25)
    val want = cases.map { case (group, n) =>
      tied.groupBy(t => if (group.isEmpty) 0 else t._2).values.flatMap(
        _.sortBy(t => (-t._3, t._1)).take(n).zipWithIndex
          .map { case (t, i) => (t._2, t._1, i + 1L) }).toSet
    }
    assert(tied.groupBy(_._2).values.count(g => g.count(_._3 == g.map(_._3).max) > k) > 3,
      "ties must cross the cut")
    def ranked(d: org.apache.spark.sql.DataFrame, group: Seq[String], n: Int) =
      d.transform(TopK.ranked(group, Seq("score" -> false, "id" -> true), n, "rank"))
    val conf = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = conf.map(spark.conf.get)
    try for (parts <- Seq(1, 4, 7); aqe <- Seq(true, false)) {
      spark.conf.set(conf(0), parts.toLong)
      spark.conf.set(conf(1), aqe)
      for (((group, n), expected) <- cases.zip(want)) {
        val got = ranked(tdf, group, n).select("g", "id", "rank").collect()
          .map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSeq
        val wrong = got.filterNot(expected)
        assert(got.size == expected.size && wrong.isEmpty,
          s"ranked partitions=$parts aqe=$aqe group=$group: e.g. ${wrong.take(3).mkString(" ")}")
      }
      val empty = ranked(tdf.filter(lit(false)), Seq("g"), k)
      assert((empty.schema.map(f => f.name -> f.dataType.simpleString), empty.count()) ==
        (Seq("id" -> "bigint", "g" -> "int", "score" -> "int", "rank" -> "bigint"), 0L),
        s"ranked partitions=$parts aqe=$aqe empty input")
    } finally conf.zip(saved).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("stripStatus equals an independent token-model over random title phrases") {
    import graft.functions.{MatchingTables, NameFunctions}
    val titles = MatchingTables.status.keys.toVector
    val words = Vector("dupont", "broglie", "rohan", "xavier", "ducros", "abbévillier")
    val parts = Vector("de", "la", "du", "le")
    def phrase(): String = Seq.fill(2 + rnd.nextInt(4))(rnd.nextInt(4) match {
      case 0 => titles(rnd.nextInt(titles.size))
      case 1 => parts(rnd.nextInt(parts.size))
      case _ => words(rnd.nextInt(words.size))
    }).mkString(" ")
    val inputs = Seq.fill(120)(phrase())
    val got = inputs.toDF("n")
      .select(NameFunctions.stripStatus(col("n"))).collect().map(_.getString(0))
    // independent model: drop tokens that are title words (longest-first
    // multi-word titles consumed first) or particles, keep the rest
    def model(s: String): String = {
      var t = " " + s.toLowerCase + " "
      // two sweeps, like the operator's two regex passes: a repeated
      // adjacent title ("duc duc") shares its delimiter space, so one
      // non-overlapping scan only consumes the first occurrence
      for (_ <- 1 to 2; k <- NameFunctions.statusKeys) // longest first
        t = t.replace(" " + k + " ", "  ")
      t.split("\\s+").filter(w => w.nonEmpty && !NameFunctions.particles.contains(w))
        .mkString(" ")
    }
    inputs.zip(got).foreach { case (in, out) =>
      assert(out == model(in), s"stripStatus('$in')")
    }
  }

  test("occupationExtract equals an independent model over random traits") {
    import graft.functions.{MatchingTables, NameFunctions}
    val keys = MatchingTables.functions.keys.toVector
    val noise = Vector("né", "en", "1800.", "à", "paris,", "fils", "de")
    def trait_(): String = Seq.fill(3 + rnd.nextInt(5))(
      if (rnd.nextBoolean()) keys(rnd.nextInt(keys.size)) else noise(rnd.nextInt(noise.size))
    ).mkString(" ")
    val inputs = Seq.fill(150)(trait_())
    val got = inputs.toDF("t")
      .select(NameFunctions.occupationExtract(col("t"))).collect()
      .map(r => Option(r.getString(0)))
    def model(s: String): Option[String] = {
      val hits = s.toLowerCase.split("\\s+").toSeq
        .map(_.replaceAll("^[^a-zà-ÿ'-]+|[^a-zà-ÿ'-]+$", ""))
        .flatMap(MatchingTables.functions.get)
      val d = hits.distinct
      if (d.isEmpty) None
      else if (d.contains("marshal") && (d.contains("general") || d.contains("military")))
        Some("marshal")
      else if (d.size > 1 && d.contains("general") && d.contains("military")) Some("general")
      else if (d.size > 1 && d.contains("emperor")) Some("emperor")
      else Some(hits.head)
    }
    inputs.zip(got).foreach { case (in, out) =>
      assert(out == model(in), s"occupationExtract('$in')")
    }
  }

  test("eventsAttribution equals brute force over random event streams") {
    for (seed <- Seq(1, 7)) {
      val r = new scala.util.Random(seed)
      val types = Seq("click", "purchase", "view")
      // dense per-user traffic with many exact-hour-boundary gaps
      val rows = (0 until 3000).map { i =>
        val us = 1700000000000000L + r.nextInt(200) * 1800000000L // 30-min grid, ~4 days
        (i.toLong, us, r.nextInt(25).toLong, types(r.nextInt(3)), 1.0, """{"k":1}""")
      }
      val dir = java.nio.file.Files.createTempDirectory(s"graft_attr$seed").toString
      rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

      val got = graft.queries.Events.eventsAttribution(spark, dir).collect()
        .map(x => x.getLong(0) -> ((x.getLong(3), x.getLong(4)))).toMap

      val clicks = rows.filter(_._4 == "click")
        .groupBy(x => (x._3, x._2)).map { case ((u, t), es) => (u, t, es.map(_._1).max) }
        .groupBy(_._1)
      val expected = rows.filter(_._4 == "purchase").flatMap { case (pid, pus, u, _, _, _) =>
        clicks.getOrElse(u, Nil)
          .filter(c => c._2 <= pus && pus - c._2 <= 3600000000L)
          .toSeq.sortBy(c => (-c._2, -c._3)).headOption.map(c => pid -> ((c._3, c._2)))
      }.toMap
      assert(got == expected, s"seed $seed")
      assert(expected.nonEmpty, s"seed $seed generated no attributable purchases")
    }
  }

  test("paretoFront equals the quadratic dominance filter over random parts") {
    for (seed <- Seq(3, 11)) {
      val r = new scala.util.Random(seed)
      // prices snapped to bucket edges often: exercises BucketWidth joints
      val rows = (0 until 1500).map { i =>
        val price = (r.nextInt(40) * 25).toDouble + (if (r.nextBoolean()) 0.0 else r.nextInt(100) / 10.0)
        (i.toLong, price, r.nextInt(60))
      }
      val dir = java.nio.file.Files.createTempDirectory(s"graft_sky$seed").toString
      rows.toDF("p_partkey", "p_retailprice", "p_size")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")

      val got = graft.operators.Skyline.paretoFront(spark, dir).collect()
        .map(_.getLong(0)).toSet
      val expected = rows.filter { case (_, p, s) =>
        !rows.exists { case (_, q, t) => q <= p && t >= s && (q < p || t > s) }
      }.map(_._1).toSet
      assert(got == expected, s"seed $seed")
      assert(expected.nonEmpty)
    }
  }

  test("distributed exact percentiles equal the built-in bit-for-bit, single and multi column") {
    // the whole contract of ExactQuantile is that the rank pipeline
    // replicates Percentile's interpolation EXACTLY — gate queries
    // only exercise it on the suite's tables, so random skew/dup/neg
    // distributions pin it here (duplicates force multi-row value
    // brackets; negatives and heavy skew stress the GK brackets)
    // probes include the clamped ends (0.0 / 1.0 take the ±∞ sentinel
    // bracket) and non-binary fractions; acc=200 keeps the GK slack
    // argument meaningful at n=4000 (εn = 60 rows, same ratio as the
    // production accuracy at 200k+ rows)
    val probes = Seq(0.0, 0.125, 0.33, 0.5, 0.77, 1.0)
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(seed)
      val rows = Seq.fill(4000)((
        math.round(math.pow(10, r.nextDouble() * 4)) - 500, // skewed, negative
        r.nextInt(40).toLong)) // heavy duplication (mixed-segment ties)
      val df = rows.toDF("a", "b")
      val bracket = graft.operators.ExactQuantile
        .bracketPercentilesMulti(df, Seq("a", "b"), probes, acc = 200)
        .collect().map(r0 => r0.getString(0) -> r0.getSeq[Double](1)).toMap
      for (c <- Seq("a", "b")) {
        val want = df.agg(percentile(col(c).cast("double"),
            array(probes.map(lit(_)): _*))).head().getSeq[Double](0)
        assert(bracket(c) == want, s"seed $seed bracket $c: ${bracket(c)} != $want")
      }
    }
  }

  test("rangePrefix equals the single-partition window reference under any partitioning") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Partitioning
    import graft.plans.Scope
    // two groups large enough to span several range partitions, 28
    // small ones sharing partitions, one singleton; the leading order
    // key is descending and heavily duplicated, (o1, id) is unique
    val r = new scala.util.Random(11)
    val sizes = Seq(900, 500) ++ Seq.fill(28)(1 + r.nextInt(12)) :+ 1
    val rows = sizes.zipWithIndex
      .flatMap { case (n, g) =>
        Seq.fill(n)((g.toLong, r.nextInt(5).toLong, r.nextInt(100).toLong)) }
      .zipWithIndex.map { case ((g, o1, w), id) => (g, o1, id.toLong, w) }
    val df = rows.toDF("g", "o1", "id", "w")
    val order = Seq(col("o1").desc, col("id"))
    def reference(group: Seq[String], weight: org.apache.spark.sql.Column) = {
      val wg = Window.partitionBy(group.map(col): _*)
      df.withColumn(Partitioning.Prefix, coalesce(sum(weight).over(
          wg.orderBy(order: _*).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn(Partitioning.GroupTotal, sum(weight).over(wg))
        .collect().toSet
    }
    val cases = Seq((Seq("g"), col("w")), (Seq.empty[String], lit(1L)))
    val want = cases.map { case (g, w) => reference(g, w) }
    // cellPrefix's cell is the order key (4 - o1)·2048 + id cut every
    // 3000 keys: the two large groups get cells of up to ~360 rows,
    // wider than a range partition at 7 partitions, while the small
    // groups' cells of a few rows share shuffle partitions
    assert(rows.size < 2048)
    val cell = expr("((4 - o1) * 2048 + id) div 3000")
    val prefixes = Seq[(String, (Scope, org.apache.spark.sql.DataFrame, Seq[String],
        org.apache.spark.sql.Column) => org.apache.spark.sql.DataFrame)](
      "rangePrefix" -> ((s, d, g, w) => Partitioning.rangePrefix(s, d, g, order, w)),
      "cellPrefix" -> ((_, d, g, w) => Partitioning.cellPrefix(d, g, cell, order, w)))
    val conf = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = conf.map(spark.conf.get)
    try for (parts <- Seq(1, 4, 7); aqe <- Seq(true, false); (name, prefix) <- prefixes) {
      spark.conf.set(conf(0), parts.toLong)
      spark.conf.set(conf(1), aqe)
      for (((g, w), expected) <- cases.zip(want)) {
        val got = Scope(s => prefix(s, df, g, w).collect())
        val wrong = got.filterNot(expected)
        assert(got.length == rows.size && wrong.length == 0,
          s"$name partitions=$parts aqe=$aqe group=$g: e.g. ${wrong.take(3).mkString(" ")}")
      }
      val empty = Scope { s =>
        val out = prefix(s, df.filter(lit(false)), Seq("g"), col("w"))
        (out.columns.toSeq, out.count())
      }
      assert(empty == (df.columns.toSeq ++ Seq(Partitioning.Prefix, Partitioning.GroupTotal), 0L),
        s"$name empty input")
    } finally conf.zip(saved).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("bestMatch equals the brute-force blocked argmin under any partitioning") {
    import graft.operators.EntityMatch
    // names over a two-letter alphabet make distance ties common, so
    // the s_suppkey tie-break decides many winners; supplier keys are
    // written shuffled, and nation 5 has customers but no supplier
    val r = new scala.util.Random(23)
    def name() = Seq.fill(1 + r.nextInt(4))("ab"(r.nextInt(2))).mkString
    val custRows = (1L to 400L).map(k => (k, name(), r.nextInt(6).toLong))
    val suppRows = r.shuffle((1L to 60L).toList)
      .map(k => (k, name(), r.nextInt(5).toLong, r.nextInt(10000) / 100.0))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = Seq(d(i - 1)(j) + 1, d(i)(j - 1) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)).min
      d(a.length)(b.length)
    }
    val scored = custRows.map { case (k, n, nat) =>
      (k, n, suppRows.filter(_._3 == nat).map(s => (lev(n, s._2).toLong, s._1))) }
    val want = scored.collect { case (k, n, c) if c.nonEmpty =>
      val (d, s) = c.min
      (k, n, s, d)
    }
    assert(want.size < custRows.size, "some customer must have no candidate")
    assert(scored.count { case (_, _, c) => c.nonEmpty && c.count(_._1 == c.min._1) > 1 } > 50,
      "ties must be common")
    val dir = java.nio.file.Files.createTempDirectory("graft_best_match").toFile
    suppRows.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$dir/supplier.parquet")
    val cust = custRows.toDF("c_custkey", "c_name", "c_nationkey")
    def best(c: org.apache.spark.sql.DataFrame) = EntityMatch.bestMatch(spark, dir.toString, c,
      Seq("c_custkey", "c_name"), levenshtein(col("c_name"), col("s_name")))
    val conf = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = conf.map(spark.conf.get)
    try for (parts <- Seq(1, 4, 7); aqe <- Seq(true, false)) {
      spark.conf.set(conf(0), parts.toLong)
      spark.conf.set(conf(1), aqe)
      val got = best(cust).collect()
        .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3))).toSeq
      val wrong = got.diff(want)
      assert(got.size == want.size && wrong.isEmpty,
        s"partitions=$parts aqe=$aqe: e.g. ${wrong.take(3).mkString(" ")}")
      val empty = best(cust.filter(lit(false)))
      assert((empty.columns.toSeq, empty.count()) ==
        (Seq("c_custkey", "c_name", "match_id", EntityMatch.Score), 0L),
        s"partitions=$parts aqe=$aqe empty input")
    } finally {
      conf.zip(saved).foreach { case (k, v) => spark.conf.set(k, v) }
      org.apache.hadoop.fs.FileUtil.fullyDelete(dir)
    }
  }

  test("SegmentHot kernel equals the per-boundary when-chain on random bounds") {
    // the codegen'd kernel replaced 2m per-boundary when() chains
    // (which silently drop the stage out of codegen past ~30 bounds);
    // this pins its packed (seg << 1 | hot) against the chain
    // semantics element-for-element, including ±∞ sentinels, exact
    // boundary hits, and null boundary slots (empty-column GK output)
    val r = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val m = 1 + r.nextInt(9)
      val los = Array.fill(m)(
        if (r.nextInt(12) == 0) Double.NegativeInfinity
        else if (r.nextInt(12) == 0) Double.NaN // stand-in for null slot
        else r.nextInt(100).toDouble)
      val his = los.map(lo =>
        if (r.nextInt(12) == 0) Double.PositiveInfinity
        else if (r.nextInt(12) == 0) Double.NaN
        else (if (lo.isInfinite || lo.isNaN) r.nextInt(100).toDouble
              else lo + r.nextInt(10)))
      val v = if (r.nextBoolean()) r.nextInt(110).toDouble - 5
        else los(r.nextInt(m)) // force exact boundary hits
      if (!v.isNaN) {
        def slot(x: Double): Option[Double] = if (x.isNaN) None else Some(x)
        val seg = (0 until m).flatMap(j => Seq(slot(los(j)), slot(his(j))))
          .count { case Some(b) => v >= b; case None => false }
        val hot = (0 until m).exists(j => (slot(los(j)), slot(his(j))) match {
          case (Some(lo), Some(hi)) => v >= lo && v <= hi
          case _ => false
        })
        val want = (seg.toLong << 1) | (if (hot) 1L else 0L)
        val losData = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          los.map(x => if (x.isNaN) null else java.lang.Double.valueOf(x)))
        val hisData = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          his.map(x => if (x.isNaN) null else java.lang.Double.valueOf(x)))
        val got = graft.expressions.SegmentHot.compute(v, losData, hisData)
        assert(got == want, s"v=$v los=${los.toSeq} his=${his.toSeq}")
      }
    }
  }

  test("SegmentHot pins NaN values to the top segment, hot for nothing") {
    // Spark orders NaN above +∞; Java comparisons would send NaN to
    // segment 0 (all false) and inflate every segment's prefix offset.
    // The kernel must count NaN above every non-null boundary so only
    // a probe whose rank reaches the NaN region is disturbed — and
    // that probe hits the raise_error backstop (no hot value).
    import org.apache.spark.sql.catalyst.util.ArrayData
    def arr(xs: Seq[Any]): ArrayData = ArrayData.toArrayData(
      xs.map { case null => null; case d: Double => java.lang.Double.valueOf(d) })
    // 3 probes, one null slot: 5 non-null boundaries → seg 5, hot 0
    val los = arr(Seq(Double.NegativeInfinity, 10.0, null))
    val his = arr(Seq(5.0, 20.0, Double.PositiveInfinity))
    assert(graft.expressions.SegmentHot.compute(Double.NaN, los, his) == (5L << 1))
    // +∞ value is NOT NaN: counts all non-null bounds AND is hot for
    // an armed [30, +∞] sentinel bracket (NaN with the same bounds
    // still reaches the top segment but arms nothing)
    val los2 = arr(Seq(Double.NegativeInfinity, 10.0, 30.0))
    assert(graft.expressions.SegmentHot.compute(
      Double.PositiveInfinity, los2, his) == ((6L << 1) | 1L))
    assert(graft.expressions.SegmentHot.compute(Double.NaN, los2, his) == (6L << 1))
  }

  test("SegmentHot rejects unequal-length boundary arrays") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val a2 = ArrayData.toArrayData(Array(1.0, 2.0))
    val a3 = ArrayData.toArrayData(Array(1.0, 2.0, 3.0))
    val e = intercept[IllegalArgumentException] {
      graft.expressions.SegmentHot.compute(1.5, a2, a3)
    }
    assert(e.getMessage.contains("differ in length"))
  }
}
