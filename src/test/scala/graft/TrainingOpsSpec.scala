package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._

/** Semantic checks for the training-data (stage C) operators. */
class TrainingOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("kmeans centroids: k rows, full dims, and trained IVF keeps useful recall") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val cents = Ann.kmeansCentroids(emb, nlist = 16, iters = 2).collect()
    assert(cents.length == 16)
    assert(cents.forall(_.getAs[Seq[Float]]("c_emb").length == 64))
    val truth = Ann.annBruteforce(spark, sf)
      .select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val trained = Ann.annIvfTrained(spark, sf)
      .select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & trained).size.toDouble / truth.size
    assert(recall >= 0.3, s"trained-IVF recall vs brute force = $recall")
  }

  test("semantic_dedup matches a brute-force within-cluster replay") {
    val out = Cluster.semanticDedup(spark, sf).collect()
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getAs[Seq[Float]]("embedding").toArray).toMap
    assert(out.length == emb.size, "one row per vector")
    // the operator's own cluster column defines the blocks; replay the
    // pair phase brute-force with the same left-to-right cosine fold
    val cluster = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val ids = emb.keys.toArray.sorted
    val expected = ids.map { v =>
      val mates = ids.filter(u => u < v && cluster(u) == cluster(v))
        .map(u => (u, cos(emb(u), emb(v))))
        .filter(_._2 >= Cluster.SemTau)
      v -> (if (mates.isEmpty) None
            else Some((mates.map(_._1).min, mates.map(_._2).max)))
    }.toMap
    assert(out.exists(!_.getBoolean(2)), "some vector should be dropped at sf0.001")
    out.foreach { r =>
      val v = r.getLong(0)
      expected(v) match {
        case None =>
          assert(r.getBoolean(2) && r.isNullAt(3) && r.isNullAt(4), s"vec $v should be kept")
        case Some((dupOf, maxSim)) =>
          assert(!r.getBoolean(2) && r.getLong(3) == dupOf, s"vec $v dup_of")
          assert(math.abs(r.getDouble(4) - maxSim) < 1e-12, s"vec $v max_sim")
      }
    }
  }

  test("quality_classifier margin matches a direct hash recompute") {
    val out = TextMetrics.qualityClassifier(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length == docs.size, "one row per document")
    import graft.expressions.CrossHash
    out.foreach { r =>
      val toks = docs(r.getLong(0)).split(" ").filter(_.nonEmpty)
      val margin = toks.map { t =>
        val b = CrossHash.md5Mod("qc-" + t) % TextMetrics.QcBuckets
        CrossHash.md5Mod("qw-" + b) % 2001 - 1000
      }.sum
      assert(r.getLong(1) == toks.length, s"doc ${r.getLong(0)} n_tokens")
      assert(r.getLong(2) == margin, s"doc ${r.getLong(0)} margin_raw")
      if (toks.nonEmpty)
        assert(r.getDouble(3) == margin.toDouble / (1000.0 * toks.length))
      assert(r.getBoolean(4) == (margin > 0))
    }
    // the deterministic weights span both signs (a constant-sign table
    // would make the classifier vacuous)
    val w = graft.expressions.HashedLinearScore.weights(TextMetrics.QcBuckets)
    assert(w.exists(_ > 0) && w.exists(_ < 0))
  }

  test("dedup_exact groups are consistent") {
    val d = Dedup.dedupExact(spark, sf)
    // canonical id is never flagged dup; group members share the hash count
    assert(d.filter(col("doc_id") === col("canonical_id") && col("is_dup")).count() == 0)
  }

  test("dedup_ngram pairs are all above threshold and blocked") {
    val p = Dedup.dedupNgram(spark, sf).collect()
    p.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.5))
  }

  test("dedup_minhash candidates cover the ngram near-dups (same-block)") {
    val ngram = Dedup.dedupNgram(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.dedupMinhash(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // banding recall at j>=0.5 is probabilistic; require most, not all
    val covered = ngram.count(mh.contains)
    assert(ngram.isEmpty || covered >= ngram.size / 2,
      s"minhash covered $covered of ${ngram.size} ngram pairs")
  }

  test("dedup_eval: row-local plan, exact-dup bucket fully recalled, sane bounds") {
    val ev = Dedup.dedupEval(spark, sf)
    // the whole eval is (original, own-variant) pairs — no pair join
    // may appear anywhere in the physical plan
    val plan = ev.queryExecution.executedPlan.toString
    Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "CartesianProduct")
      .foreach(j => assert(!plan.contains(j), s"dedup_eval plan contains $j"))
    val rows = ev.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_pairs"); val f = r.getAs[Long]("n_found")
      assert(f >= 0 && f <= n)
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      // identical shingle sets hash to identical signatures: the 1.0
      // bucket must be found by every band, i.e. recall exactly 1
      if (r.getAs[Double]("bucket") == 1.0) assert(rec == 1.0)
      // high-jaccard buckets sit on the steep-right part of the S-curve
      if (r.getAs[Double]("bucket") >= 0.8)
        assert(r.getAs[Double]("lsh_theory") >= 0.9)
    }
  }

  test("embedding_quantize: row-local plan, int8 error bounds hold") {
    val qz = Ann.embeddingQuantize(spark, sf)
    val plan = qz.queryExecution.executedPlan.toString
    Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "CartesianProduct")
      .foreach(j => assert(!plan.contains(j), s"embedding_quantize plan contains $j"))
    val rows = qz.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      // symmetric int8 rounding error is at most scale/2 per dimension
      assert(r.getAs[Double]("max_abs_err") <= scale / 2 + 1e-12)
      assert(r.getAs[Double]("mse") <= scale * scale / 4 + 1e-12)
      assert(r.getAs[Double]("cos_sim") > 0.99,
        s"vec ${r.getAs[Long]("vec_id")} cos ${r.getAs[Double]("cos_sim")}")
    }
  }

  test("ann_pq: ranks contiguous, distances monotone, useful recall vs exact L2") {
    val pq = Pq.annPq(spark, sf).collect()
    assert(pq.nonEmpty)
    val byQ = pq.groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length).toSeq)
      val dists = sorted.map(_.getAs[Long]("l2_dist"))
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b })
    }
    // exact integer-L2 top-5 (same floor(x*2^20) quantization) as truth
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576).toLong).toArray)
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val truth = vecs.filter(_._1 % 100 == 0).map { case (qid, qv) =>
      qid -> vecs.filter(_._1 != qid)
        .map { case (id, v) => (l2(qv, v), id) }.sorted.take(5).map(_._2).toSet
    }.toMap
    val found = byQ.map { case (q, rows) =>
      q -> rows.map(_.getAs[Long]("neighbor_id")).toSet
    }
    // keysIterator, not keys: mapping a key SET to counts would
    // deduplicate equal per-query counts before the sum
    val hits = truth.keysIterator.map(q => (truth(q) & found.getOrElse(q, Set())).size).sum
    val total = truth.values.map(_.size).sum
    assert(hits.toDouble / total >= 0.4,
      s"PQ rerank recall@5 vs exact L2 = $hits/$total")
  }

  test("dedup_simhash pairs are within hamming bound") {
    Dedup.dedupSimhash(spark, sf).collect()
      .foreach(r => assert(r.getAs[Int]("hamming") <= 3))
  }

  test("simhash of identical token arrays is identical, near for near") {
    import spark.implicits._
    val df = Seq(
      ("a b c d e f g h", "a b c d e f g h"),
      ("a b c d e f g h", "a b c d e f g x")).toDF("t1", "t2")
      .select(
        graft.functions.Similarity.simhash64(split(col("t1"), " ")).as("h1"),
        graft.functions.Similarity.simhash64(split(col("t2"), " ")).as("h2"))
      .withColumn("ham", graft.functions.Similarity.hamming(col("h1"), col("h2")))
      .collect()
    assert(df(0).getAs[Int]("ham") == 0)
    assert(df(1).getAs[Int]("ham") < 32) // near-dup ⇒ well under random-64-bit expectation
  }

  test("ann_bruteforce returns k ranked neighbors per query") {
    val a = Ann.annBruteforce(spark, sf)
    val perQ = a.groupBy("q_id").count().collect()
    assert(perQ.nonEmpty)
    perQ.foreach(r => assert(r.getAs[Long]("count") == 5))
    // ranks are 1..k with descending cosine
    val ranks = a.filter(col("q_id") === a.select(min("q_id")).head().getLong(0))
      .orderBy("rank").collect()
    val cosines = ranks.map(_.getAs[Double]("cos"))
    assert(cosines.sameElements(cosines.sorted.reverse))
  }

  test("ann_lsh neighbors are a subset of same-bucket vectors with correct ranks") {
    val a = Ann.annLsh(spark, sf)
    assert(a.count() > 0)
    a.groupBy("q_id").count().collect().foreach(r => assert(r.getAs[Long]("count") <= 5))
  }

  test("doc_fingerprint: shared long substring implies shared fingerprint") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val fps = Seq(
      ("x " + base), (base + " y")).toDF("text")
      .select(graft.functions.Similarity.winnow(col("text"), 8, 4).as("fp"))
      .collect().map(_.getSeq[Long](0).toSet)
    assert(fps(0).intersect(fps(1)).nonEmpty)
  }

  test("multimodal decoder reads real BMP/WAV headers from literal bytes") {
    import spark.implicits._
    // hand-built files, independent of the generator: a 2x2 24bpp BMP
    // (rows padded to 8 bytes -> 16 pixel bytes, file 70 bytes) and a
    // 44.1kHz stereo 16-bit WAV with 4 samples (16 data bytes)
    def le32(v: Long) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val bmp = Array[Byte]('B', 'M') ++ le32(70) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(16) ++ le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0) ++
      Array.fill[Byte](16)(0x7f)
    val wav = "RIFF".getBytes ++ le32(52) ++ "WAVE".getBytes ++ "fmt ".getBytes ++
      le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++ le32(44100 * 4) ++
      le16(4) ++ le16(16) ++ "data".getBytes ++ le32(16) ++ Array.fill[Byte](16)(1)
    // top-down variant: biHeight is SIGNED per BITMAPINFOHEADER — a
    // Windows screen capture carries height -2, not 4294967294
    val bmpTopDown = bmp.clone()
    le32(-2L & 0xffffffffL).copyToArray(bmpTopDown, 22)
    // minimal PNG: signature + IHDR (320x240, 8-bit RGB, BE dims) +
    // a 12-byte IDAT + IEND — big-endian fields, unlike BMP/WAV
    def be32(v: Long) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes ++ be32(320) ++ be32(240) ++
      Array[Byte](8, 2, 0, 0, 0) ++ be32(0) ++
      be32(12) ++ "IDAT".getBytes ++ Array.fill[Byte](12)(3) ++ be32(0) ++
      be32(0) ++ "IEND".getBytes ++ be32(0xae426082L)
    val out = Multimodal.decodeMeta(
        Seq(MediaRecord(1L, bmp), MediaRecord(2L, wav),
          MediaRecord(3L, bmpTopDown), MediaRecord(4L, png)).toDS())
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val p = out(4L)
    assert(p.getAs[String]("media_type") == "png")
    assert(p.getAs[Long]("width") == 320 && p.getAs[Long]("height") == 240)
    assert(p.getAs[Long]("bit_depth") == 8 && p.getAs[Long]("data_bytes") == 12)
    assert(p.getAs[String]("magic") == "89504E47")
    val b = out(1L)
    assert(b.getAs[String]("media_type") == "bmp")
    assert(b.getAs[Long]("width") == 2 && b.getAs[Long]("height") == 2)
    assert(out(3L).getAs[Long]("height") == -2L)
    assert(b.getAs[Long]("bit_depth") == 24 && b.getAs[Long]("data_bytes") == 16)
    assert(b.getAs[Long]("byte_len") == 70)
    val w = out(2L)
    assert(w.getAs[String]("media_type") == "wav")
    assert(w.getAs[Long]("sample_rate") == 44100 && w.getAs[Long]("channels") == 2)
    assert(w.getAs[Long]("bit_depth") == 16 && w.getAs[Long]("data_bytes") == 16)
    assert(w.getAs[String]("magic") == "52494646")
    assert(w.getAs[String]("content_sha256").length == 64)
  }

  test("multimodal_resize halves a literal BMP with exact pixel choice and padding") {
    def le32(v: Long) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    // 3x2 24bpp: stride 12 (9 pixel bytes + 3 pad); pixel (x,row) byte
    // values encode their coordinates so sampling mistakes are visible
    val px = (0 until 2).flatMap { row =>
      (0 until 3).flatMap(x => Seq[Byte]((10 * row + x).toByte,
        (10 * row + x + 100).toByte, (10 * row + x + 50).toByte)) ++
        Seq[Byte](0, 0, 0)
    }.toArray
    val bmp = Array[Byte]('B', 'M') ++ le32(54 + 24) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(3) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(24) ++ le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0) ++ px
    val out = Multimodal.resizeBmpHalf(bmp)
    // out dims ceil(3/2)=2 x ceil(2/2)=1; stride 8; file 54+8
    assert(out.length == 62)
    assert((out(18) & 0xff) == 2 && (out(22) & 0xff) == 1)
    // sampled pixels: stored row 0, x=0 and x=2
    assert(out.slice(54, 57).toSeq == Seq[Byte](0, 100, 50).toSeq)
    assert(out.slice(57, 60).toSeq == Seq[Byte](2, 102, 52).toSeq)
    // fresh row padding zeroed
    assert(out(60) == 0 && out(61) == 0)
    // the resized file must itself decode as a valid BMP
    import spark.implicits._
    val meta = Multimodal.decodeMeta(Seq(MediaRecord(9L, out)).toDS()).head()
    assert(meta.getAs[String]("media_type") == "bmp")
    assert(meta.getAs[Long]("width") == 2 && meta.getAs[Long]("height") == 1)
    assert(meta.getAs[Long]("data_bytes") == 8)
    // gate-level: every output is ceil-half of its input geometry
    Multimodal.multimodalResize(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("out_w") == (r.getAs[Long]("in_w") + 1) / 2)
      assert(r.getAs[Long]("out_h") == (r.getAs[Long]("in_h") + 1) / 2)
      assert(r.getAs[String]("out_sha256").length == 64)
    }
  }

  test("audio_resample halves a literal WAV with exact frame choice and patched header") {
    def le32(v: Long) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    // stereo 16-bit, 5 frames (ba=4): frame f carries bytes 4f..4f+3
    val data = (0 until 5).flatMap(f => Seq[Byte]((4 * f).toByte, (4 * f + 1).toByte,
      (4 * f + 2).toByte, (4 * f + 3).toByte)).toArray
    val wav = "RIFF".getBytes ++ le32(36 + 20) ++ "WAVE".getBytes ++ "fmt ".getBytes ++
      le32(16) ++ le16(1) ++ le16(2) ++ le32(8000) ++ le32(8000 * 4) ++
      le16(4) ++ le16(16) ++ "data".getBytes ++ le32(20) ++ data
    val out = Multimodal.resampleWavHalf(wav)
    // ceil(5/2) = 3 frames kept (0, 2, 4): 12 data bytes, file 56
    assert(out.length == 56)
    assert(out.slice(44, 56).toSeq == Seq[Byte](0, 1, 2, 3, 8, 9, 10, 11, 16, 17, 18, 19).toSeq)
    import spark.implicits._
    val meta = Multimodal.decodeMeta(Seq(MediaRecord(9L, out)).toDS()).head()
    assert(meta.getAs[String]("media_type") == "wav")
    assert(meta.getAs[Long]("sample_rate") == 4000 && meta.getAs[Long]("channels") == 2)
    assert(meta.getAs[Long]("data_bytes") == 12)
    Multimodal.multimodalAudioResample(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("out_rate") * 2 == r.getAs[Long]("in_rate"))
      assert(r.getAs[Long]("out_frames") == (r.getAs[Long]("in_frames") + 1) / 2)
    }
  }

  test("multimodal generator emits well-formed files the decoder accepts") {
    val m = Multimodal.multimodalMeta(spark, sf).limit(200).collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      val t = r.getAs[String]("media_type")
      assert(t == "bmp" || t == "wav" || t == "png", s"unknown media type for ${r}")
      if (t == "bmp") {
        // header-decoded dims must be in the generator's ranges and the
        // payload must contain exactly header + imageSize bytes
        assert(r.getAs[Long]("width") >= 2 && r.getAs[Long]("width") <= 15)
        assert(r.getAs[Long]("height") >= 1 && r.getAs[Long]("height") <= 9)
        assert(r.getAs[Long]("byte_len") == 54 + r.getAs[Long]("data_bytes"))
      } else if (t == "wav") {
        assert(r.getAs[Long]("sample_rate") >= 8000 && r.getAs[Long]("sample_rate") <= 15000)
        assert(Set(1L, 2L).contains(r.getAs[Long]("channels")))
        assert(r.getAs[Long]("byte_len") == 44 + r.getAs[Long]("data_bytes"))
      } else {
        // PNG: sig(8) + IHDR(25) + IDAT header(8) + data + CRC(4) + IEND(12)
        assert(r.getAs[Long]("width") >= 1 && r.getAs[Long]("width") <= 13)
        assert(r.getAs[Long]("height") >= 1 && r.getAs[Long]("height") <= 7)
        assert(r.getAs[Long]("bit_depth") == 8)
        assert(r.getAs[Long]("data_bytes") ==
          3 * r.getAs[Long]("width") * r.getAs[Long]("height"))
        assert(r.getAs[Long]("byte_len") == 57 + r.getAs[Long]("data_bytes"))
      }
    }
    assert(m.map(_.getAs[String]("media_type")).toSet == Set("bmp", "wav", "png"))
  }

  test("as-of join attaches the latest at-or-before right row per key") {
    import spark.implicits._
    val left = Seq((1L, "2024-01-01 10:00:00", "a"), (1L, "2024-01-01 12:00:00", "b"),
      (2L, "2024-01-01 09:00:00", "c"))
      .toDF("k", "ts_s", "tag").withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val right = Seq((1L, "2024-01-01 09:30:00", 100L), (1L, "2024-01-01 11:00:00", 200L),
      (2L, "2024-01-01 09:30:00", 300L)) // after left's only row for k=2
      .toDF("k", "ts_s", "payload").withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val out = AsOfJoin.asOf(left, right, "k", "ts", Seq("payload"))
      .select("tag", "asof_payload").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("a") == Some(100L)) // 09:30 is latest <= 10:00
    assert(out("b") == Some(200L)) // 11:00 is latest <= 12:00
    assert(out("c") == None)       // nothing at or before 09:00
  }

  test("as-of join never mixes columns from different right rows") {
    import spark.implicits._
    val left = Seq((1L, "2024-01-01 10:00:00"))
      .toDF("k", "ts_s").withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val right = Seq((1L, "2024-01-01 08:00:00", Some(5L)), (1L, "2024-01-01 09:00:00", None))
      .toDF("k", "ts_s", "payload").withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .withColumn("rid", monotonically_increasing_id())
    val r = AsOfJoin.asOf(left, right, "k", "ts", Seq("rid", "payload")).head()
    // the 09:00 row (payload null) is the true match: its null must NOT
    // be backfilled from the older 08:00 row
    assert(r.isNullAt(r.fieldIndex("asof_payload")))
  }

  test("banded range join finds exactly the in-range pairs") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, "2024-01-01 10:00:00"), (2L, 10L, "2024-01-01 10:03:00"),
      (3L, 10L, "2024-01-01 10:04:59"), (4L, 10L, "2024-01-01 10:10:00"),
      (5L, 11L, "2024-01-01 10:01:00")) // other user: never pairs
      .toDF("event_id", "user_id", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).withColumn("event_type", lit("x"))
    val pairs = RangeJoin.bandJoin(ev, widthSec = 300)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1→2 (3min), 1→3 (4:59), 2→3 (1:59), 3→4 (5:01 → out), 4 pairs with none after
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("lang_id prediction is deterministic and covers all docs") {
    val l = TextMetrics.langId(spark, sf)
    assert(l.count() == graft.sources.Tables.documents(spark, sf).count())
  }

  test("doc_chunk tiles every document with the declared stride and runs shuffle-free") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunks = Chunk.docChunk(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(chunks.keySet == docs.keySet, "every doc chunked")
    chunks.foreach { case (id, cs) =>
      val n = docs(id).length
      val expected = if (n <= Chunk.Size) 1L
        else (n - Chunk.Size + Chunk.Stride - 1) / Chunk.Stride + 1L
      assert(cs.length == expected, s"doc $id: ${cs.length} chunks, expected $expected")
      cs.sortBy(_.getAs[Long]("chunk_idx")).zipWithIndex.foreach { case (c, i) =>
        assert(c.getAs[Long]("chunk_start") == i.toLong * Chunk.Stride)
        val len = math.min(Chunk.Size, n - i * Chunk.Stride)
        assert(c.getAs[Long]("chunk_len") == len, s"doc $id chunk $i length")
      }
      // the final chunk reaches the end of the document
      val last = cs.maxBy(_.getAs[Long]("chunk_idx"))
      assert(last.getAs[Long]("chunk_start") + last.getAs[Long]("chunk_len") == n)
    }
    // map-only fan-out: the physical plan must contain no exchange
    val plan = Chunk.docChunk(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "doc_chunk must not shuffle")
  }

  test("cms_topk estimates never undershoot and hit the true heavy hitters") {
    val out = Sketch.cmsTopk(spark, sf).collect()
    assert(out.length == Sketch.TopN)
    out.foreach { r =>
      assert(r.getAs[Long]("over_est") >= 0, s"CMS underestimated ${r}")
      assert(r.getAs[Long]("cms_est") ==
        r.getAs[Long]("exact_cnt") + r.getAs[Long]("over_est"))
    }
    // candidates are the true exact top-k: replay with a plain global sort
    val brute = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t")).filter(col("t") =!= "")
      .groupBy("t").count()
      .orderBy(col("count").desc, col("t")).limit(Sketch.TopN)
      .collect().map(_.getString(0)).toSet
    assert(out.map(_.getAs[String]("token")).toSet == brute)
  }

  test("hll_distinct estimate tracks the exact NDV within HLL error bounds") {
    val out = Sketch.hllDistinct(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val exact = r.getAs[Long]("n_distinct_tokens")
      val est = r.getAs[Double]("hll_est")
      val zeros = r.getAs[Long]("n_zero_regs")
      assert(exact > 0 && est > 0)
      assert(zeros >= 0 && zeros <= Sketch.HllM)
      // m=256 gives sigma ~ 1.04/sqrt(256) = 6.5%; allow 4 sigma (the
      // raw estimator biases high below ~3m, where linear counting
      // would normally take over — the audit columns expose that zone)
      val rel = math.abs(est - exact) / exact
      assert(rel < 0.26, s"source ${r.getAs[String]("source")}: est $est vs exact $exact")
      // rel_err column restates (est - exact) / exact, rounded to 6
      val r6 = BigDecimal((est - exact) / exact)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("rel_err") == r6)
      // the harmonic sum is bounded by its all-empty/all-saturated ends
      val regSum = r.getAs[Double]("reg_sum")
      assert(regSum > 0 && regSum <= Sketch.HllM.toDouble * math.pow(2.0, 62))
    }
  }

  test("rrf_fusion ranks are dense, scores restate the reciprocal sum, sem side matches ann") {
    val out = Fusion.rrfFusion(spark, sf).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rows) =>
      val ranks = rows.map(_.getAs[Long]("fused_rank")).sorted
      assert(ranks.toSeq == (1L to rows.length).toSeq, s"query $q ranks not dense")
      rows.foreach { r =>
        val sem = Option(r.getAs[java.lang.Long]("sem_rank")).map(_.toLong)
        val lex = Option(r.getAs[java.lang.Long]("lex_rank")).map(_.toLong)
        assert(sem.nonEmpty || lex.nonEmpty)
        val expect = sem.map(v => 1.0 / (Fusion.RrfK + v)).getOrElse(0.0) +
          lex.map(v => 1.0 / (Fusion.RrfK + v)).getOrElse(0.0)
        assert(r.getAs[Double]("rrf_score") == expect)
      }
      // fused order is non-increasing in score
      val byRank = rows.sortBy(_.getAs[Long]("fused_rank")).map(_.getAs[Double]("rrf_score"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // the semantic list is the ann_bruteforce ranking: where both
    // report a (query, neighbor), the ranks agree
    val ann = Ann.annBruteforce(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Long]("rank"))
      .toMap
    out.foreach { r =>
      Option(r.getAs[java.lang.Long]("sem_rank")).foreach { sr =>
        ann.get((r.getAs[Long]("q_id"), r.getAs[Long]("id")))
          .foreach(annRank => assert(annRank == sr.toLong))
      }
    }
  }

  test("containment_dup matches a local rare-gram replay") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // replay: distinct 5-gram STRINGS per doc (hash is injective enough
    // for equality-of-sets here), df-capped, then pairwise containment
    val gramSets = docs.map { case (id, text) =>
      val toks = text.split(" ")
      id -> (if (toks.length < Dedup.ContainW) Set.empty[String]
             else toks.sliding(Dedup.ContainW).map(_.mkString(" ")).toSet)
    }.toMap
    val df = gramSets.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
    val capped = gramSets.map { case (id, gs) =>
      id -> gs.filter(g => df(g) <= Dedup.ContainDfCap)
    }
    val inv = capped.toSeq.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2) }
    val expected = (for {
      (g, ids) <- inv.toSeq; a <- ids; b <- ids if a != b
    } yield (a, b)).distinct.flatMap { case (a, b) =>
      val shared = (capped(a) & capped(b)).size
      if (capped(a).nonEmpty &&
        shared * Dedup.ContainDen >= capped(a).size * Dedup.ContainNum)
        Some((a, b) -> shared)
      else None
    }.toMap
    val got = Dedup.containmentDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_shared")).toMap
    assert(got == expected)
  }

  test("bpe_train2 applies the argmax merge greedily and recounts merged symbols") {
    val words = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w")).collect()
      .map(_.getString(0)).filter(_.length >= 2)
    // replay iteration 1 -> argmax merge
    val c1 = words.flatMap(w => w.sliding(2)).groupBy(identity)
      .map { case (p, o) => p -> o.size.toLong }
    val merge = c1.toSeq.sortBy { case (p, c) => (-c, p) }.head._1
    // apply greedy leftmost merge, recount variable-length symbol pairs
    def symbols(w: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        if (i + 1 < w.length && w.substring(i, i + 2) == merge) {
          out += merge; i += 2
        } else { out += w.substring(i, i + 1); i += 1 }
      }
      out.toSeq
    }
    val c2 = words.flatMap(w => symbols(w).sliding(2).filter(_.length == 2)
        .map(s => (s(0), s(1))))
      .groupBy(identity).map { case (p, o) => p -> o.size.toLong }
    val expected = c2.toSeq
      .sortBy { case ((l, r), c) => (-c, l, r) }.take(Tokenize.Bpe2TopN)
      .map { case ((l, r), c) => (l, r, c) }
    val got = Tokenize.bpeTrain2(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("graph_linkpred candidates are non-edges scored by capped common neighbors") {
    val rows = Graph.graphLinkpred(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.length <= Graph.LpTopN)
    // replay the graph locally
    val items = graft.sources.Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 25)
      .select(col("l_orderkey"), col("l_partkey").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.distinct
    val edges = items.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
    rows.foreach { case (a, b, cn) =>
      assert(a < b && !edges.contains((a, b)), s"($a,$b) is an existing edge")
      val commonCapped = (adj(a) & adj(b))
        .count(w => adj(w).size <= Graph.LpDegCap)
      assert(cn == commonCapped, s"($a,$b): got $cn, replay $commonCapped")
    }
    // scores arrive in non-increasing order
    val scores = rows.map(_._3)
    assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
    // min-support losslessness: replay the FULL unfiltered candidate
    // ranking locally and check the operator returns exactly its
    // support-clearing prefix — the floor only ever trims pairs that
    // could not have been reported anyway (or sits below the cut)
    val fullCounts = adj.toSeq
      .filter { case (_, nb) => nb.size <= Graph.LpDegCap }
      .flatMap { case (_, nb) =>
        val ns = nb.toSeq.sorted
        for (i <- ns.indices; j <- (i + 1) until ns.length) yield (ns(i), ns(j))
      }
      .groupBy(identity[(Long, Long)]).map { case (p, xs) => (p, xs.length.toLong) }
      .filter { case (p, _) => !edges.contains(p) }
    val unfilteredTop = fullCounts.toSeq
      .sortBy { case ((a, b), c) => (-c, a, b) }.take(Graph.LpTopN)
    val expected = unfilteredTop.filter(_._2 >= Graph.LpMinSupport)
      .map { case ((a, b), c) => (a, b, c) }
    assert(rows.toSeq.sorted == expected.sorted,
      "operator output is not the support-clearing prefix of the unfiltered ranking")
  }

  test("ann_eval recall and ndcg restate the lsh-vs-bruteforce overlap") {
    val bf = Ann.annBruteforce(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ls = Ann.annLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank")))
    val out = Ann.annEval(spark, sf).collect()
    assert(out.map(_.getAs[Long]("q_id")).toSet == bf.map(_._1))
    out.foreach { r =>
      val q = r.getAs[Long]("q_id")
      val truth = bf.filter(_._1 == q)
      val retrieved = ls.filter(_._1 == q)
      val hits = retrieved.count(x => truth.contains((q, x._2)))
      assert(r.getAs[Long]("n_truth") == truth.size)
      assert(r.getAs[Long]("n_retrieved") == retrieved.length)
      assert(r.getAs[Long]("n_hits") == hits)
      assert(r.getAs[Double]("recall") == hits.toDouble / truth.size)
      // replay ndcg with the operator's own fold order (sorted gains)
      def log2(x: Double) = math.log(x) / math.log(2.0)
      val gains = retrieved.map { case (_, n, rank) =>
        if (truth.contains((q, n))) 1.0 / log2(rank + 1.0) else 0.0
      }.sorted
      val dcg = gains.foldLeft(0.0)(_ + _)
      val idcg = (1 to truth.size).map(i => 1.0 / log2(i + 1.0)).sorted
        .foldLeft(0.0)(_ + _)
      val expect = BigDecimal(dcg / idcg)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("ndcg") == expect)
    }
  }

  test("blocklist_filter counts and flags match a local replay") {
    val rows = TextMetrics.blocklistFilter(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size)
    val block = TextMetrics.blockWords.toSet
    rows.foreach { r =>
      val toks = docs(r.getLong(0)).split(" ").filter(_.nonEmpty)
      val hits = toks.count(block)
      assert(r.getAs[Long]("n_tokens") == toks.length)
      assert(r.getAs[Long]("n_hits") == hits)
      assert(r.getAs[Long]("n_distinct_blocked") == toks.toSet.intersect(block).size)
      assert(r.getAs[Boolean]("flagged") ==
        (hits * TextMetrics.BlockDen >= toks.length * TextMetrics.BlockNum))
    }
    // the gate list is chosen so both outcomes occur
    assert(rows.exists(_.getAs[Boolean]("flagged")))
    assert(rows.exists(!_.getAs[Boolean]("flagged")))
  }

  test("pair_bleu restates clipped overlap metrics on a sample pair") {
    val out = Dedup.pairBleu(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq).toMap
    def counts(xs: Seq[String]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    out.foreach { r =>
      val c = docs(r.getAs[Long]("doc_a"))
      val ref = docs(r.getAs[Long]("doc_b"))
      val c1 = counts(c); val r1 = counts(ref)
      val clip1 = c1.map { case (g, n) => math.min(n, r1.getOrElse(g, 0)) }.sum
      val c2 = counts(c.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq)
      val r2 = counts(ref.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq)
      val clip2 = c2.map { case (g, n) => math.min(n, r2.getOrElse(g, 0)) }.sum
      assert(r.getAs[Long]("len_c") == c.length && r.getAs[Long]("len_r") == ref.length)
      assert(r.getAs[Long]("clip1") == clip1, s"pair ${r.getLong(0)},${r.getLong(1)} clip1")
      assert(r.getAs[Long]("clip2") == clip2)
      assert(r.getAs[Double]("p1") == clip1.toDouble / c.length)
      // near-dup pairs overlap heavily: BLEU-2 must be positive
      assert(r.getAs[Double]("bleu2") > 0)
    }
  }

  test("split_holdout never separates near-duplicates") {
    val split = Dedup.splitHoldout(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(split.size == graft.sources.Tables.documents(spark, sf).count())
    assert(split.values.map(_._2).toSet.subsetOf(Set("train", "test")))
    // every verified near-dup pair lands on the same side
    val pairs = Dedup.dedupMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a)._1 == split(b)._1, s"pair ($a,$b) split across groups")
      assert(split(a)._2 == split(b)._2, s"pair ($a,$b) split across holdout")
    }
    // both sides are populated at this scale
    assert(split.values.map(_._2).toSet == Set("train", "test"))
  }

  test("split_leakage: safe policy has zero cross pairs, counts replay the pair labels") {
    val rows = Dedup.splitLeakage(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(rows.size == 6, "fixed 2-policy x 3-category spine")
    assert(rows(("cluster_safe", "cross")) == 0L,
      "cluster-keyed split must never straddle a verified near-dup pair")
    val nPairs = Dedup.dedupMinhash(spark, sf).count()
    Seq("cluster_safe", "naive").foreach { p =>
      val total = Seq("train-train", "test-test", "cross").map(c => rows((p, c))).sum
      assert(total == nPairs, s"policy $p categories must partition the pair set")
    }
    // the naive per-doc draw replayed literally
    val split = Dedup.splitHoldout(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val naive = graft.sources.Tables.documents(spark, sf).select(col("doc_id"),
        graft.functions.Similarity.md5Mod(concat(lit("split-"), col("doc_id"))).as("d"))
      .collect().map(r => r.getLong(0) ->
        (if (r.getLong(1) < graft.expressions.CrossHash.P / Dedup.SplitTestInv) "test"
         else "train")).toMap
    val pairs = Dedup.dedupMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val naiveCross = pairs.count { case (a, b) => naive(a) != naive(b) }
    assert(rows(("naive", "cross")) == naiveCross.toLong)
    val safeCross = pairs.count { case (a, b) => split(a) != split(b) }
    assert(safeCross == 0)
  }

  test("minhash_band_tune: candidates widen as rows shrink; (8,2) level replays dedup_minhash") {
    val rows = Dedup.minhashBandTune(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Dedup.BandTuneRows)
    rows.foreach { case (r, b, cand, ver) =>
      assert(b == 16 / r)
      assert(ver <= cand, s"r=$r verified exceeds candidates")
    }
    // fewer rows per band = looser buckets = at least as many candidates
    rows.sliding(2).foreach { case Array(loose, tight) =>
      assert(loose._3 >= tight._3,
        s"candidates must not grow as rows-per-band rises: $loose vs $tight")
    case _ =>
    }
    // the r=2 level IS dedup_minhash's production config (8 bands x 2)
    assert(rows.find(_._1 == 2).get._4 == Dedup.dedupMinhash(spark, sf).count())
    // each config's counts replay one banded self-join per config over
    // the same 16-hash signature (slice arrays as the band key), with
    // Jaccard over the shingle strings
    val docs = graft.sources.Tables.documents(spark, sf)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", array_distinct(expr("transform(sequence(1, size(toks)-2), " +
        "i -> concat_ws(' ', element_at(toks,i), element_at(toks,i+1), element_at(toks,i+2)))")))
      .select(col("doc_id"), col("shingles"),
        graft.functions.Similarity.minhashSig(col("shingles"), 16).as("sig"))
    val side = docs.select(col("doc_id"), col("shingles"))
    rows.foreach { case (r, _, cand, ver) =>
      val banded = docs.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${16 / r - 1}), b -> slice(sig, b*$r+1, $r))")).as(Seq("band", "key")))
      val ref = banded.select(col("doc_id").as("doc_a"), col("band"), col("key"))
        .join(banded.select(col("doc_id").as("doc_b"), col("band"), col("key")), Seq("band", "key"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
        .join(side.select(col("doc_id").as("doc_a"), col("shingles").as("s_a")), Seq("doc_a"))
        .join(side.select(col("doc_id").as("doc_b"), col("shingles").as("s_b")), Seq("doc_b"))
        .agg(count(lit(1)), count(when(size(array_intersect(col("s_a"), col("s_b"))) * 2 >=
          size(array_union(col("s_a"), col("s_b"))), 1)))
        .head()
      assert(cand > 0 && ver > 0, s"r=$r: empty config proves nothing")
      assert((cand, ver) == (ref.getLong(0), ref.getLong(1)),
        s"r=$r: (n_candidates, n_verified) vs the banded self-join")
    }
  }

  test("mmr_diversify replays a literal local greedy MMR over the pool") {
    val out = Ann.mmrDiversify(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val (x, y) = (a(i).toDouble, b(i).toDouble)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val qs = emb.keys.filter(_ % 100 == 0).toSeq.sorted
    assert(out.length == qs.size * Ann.MmrK)
    qs.foreach { q =>
      val pool = emb.keys.filter(_ != q).toSeq
        .map(v => (v, cos(emb(q), emb(v))))
        .sortBy { case (v, rel) => (-rel, v) }.take(Ann.MmrPool)
      var picked = Vector.empty[Long]
      for (_ <- 1 to Ann.MmrK) {
        val best = pool.filterNot(p => picked.contains(p._1)).map { case (v, rel) =>
          val ms = if (picked.isEmpty) 0.0
            else picked.map(s => cos(emb(v), emb(s))).max
          (v, 0.7 * rel - 0.3 * ms)
        }.minBy { case (v, score) => (-score, v) }._1
        picked :+= best
      }
      val got = out.filter(_._1 == q).sortBy(_._2).map(_._3).toVector
      assert(got == picked, s"query $q: greedy picks diverge ($got vs $picked)")
    }
  }

  test("dedup_cross_source partitions the pair set and replays the source labels") {
    val rows = Dedup.dedupCrossSource(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    rows.keys.foreach { case (a, b) => assert(a <= b, "unordered pair keys") }
    val src = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.dedupMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.values.sum == pairs.length, "matrix must partition the pair set")
    val expected = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (src(a), src(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.view.mapValues(_.length.toLong).toMap
    expected.foreach { case (k, n) => assert(rows(k) == n, s"cell $k") }
    // zero-filled spine: every cell of the source grid is present
    val nSrc = src.values.toSet.size
    assert(rows.size == nSrc * (nSrc + 1) / 2)
  }

  test("cluster_metrics cohesion/separation are consistent with cluster_assign") {
    val m = Cluster.clusterMetrics(spark, sf).collect()
    val sizes = Cluster.clusterAssign(spark, sf).collect()
      .groupBy(_.getLong(3)).view.mapValues(_.length.toLong).toMap // cluster1
    assert(m.map(_.getLong(1)).sum == sizes.values.sum)
    m.foreach { r =>
      val c = r.getLong(0)
      assert(r.getLong(1) == sizes(c), s"cluster $c size disagrees with cluster_assign")
      val (mean, mn, nnCos) = (r.getDouble(2), r.getDouble(3), r.getDouble(5))
      assert(mn <= mean + 1e-6 && mean <= 1.0 + 1e-9, s"cluster $c cohesion bounds")
      assert(nnCos < 1.0, s"cluster $c nearest-other-centroid must not be identical")
      assert(r.getLong(4) != c, s"cluster $c nn must be another cluster")
    }
  }

  test("dataset_card totals reconcile with the corpus and the pair warehouse") {
    val rows = graft.operators.Quality.datasetCard(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "source", "lang", "n_chars").collect()
    assert(rows.map(_.getLong(1)).sum == docs.length, "doc totals")
    val bySource = docs.groupBy(_.getString(1))
    assert(rows.length == bySource.size, "one row per source")
    rows.foreach { r =>
      val src = r.getString(0)
      val mine = bySource(src)
      assert(r.getLong(1) == mine.length)
      // majority language replay
      val top = mine.groupBy(_.getString(2)).view.mapValues(_.length).toSeq
        .minBy { case (l, n) => (-n, l) }
      assert(r.getString(5) == top._1, s"$src top_lang")
      assert(math.abs(r.getDouble(6) - top._2.toDouble / mine.length) < 1e-6)
      assert(r.getLong(7) <= r.getLong(1), s"$src dup_docs bound")
      assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1.0 + 1e-9, s"$src mean_quality")
    }
    // dup exposure reconciles with the verified pair endpoints
    val dupIds = Dedup.dedupMinhash(spark, sf).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val srcOf = docs.map(d => d.getLong(0) -> d.getString(1)).toMap
    val expDup = dupIds.groupBy(srcOf).view.mapValues(_.size.toLong).toMap
    rows.foreach { r =>
      assert(r.getLong(7) == expDup.getOrElse(r.getString(0), 0L),
        s"${r.getString(0)} dup_docs")
    }
  }

  test("multimodal_dedup frame totals reconcile with multimodal_features' fingerprints") {
    val rows = Multimodal.multimodalDedup(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("bmp", "wav", "png"))
    // the features op emits the SAME sampled fingerprints per doc
    val feats = Multimodal.multimodalFeatures(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](5)))
    val fmt = (id: Long) => (id % 3) match {
      case 0 => "bmp"; case 1 => "wav"; case _ => "png"
    }
    val byFmt = feats.groupBy { case (id, _) => fmt(id) }
      .view.mapValues(_.flatMap { case (id, fhs) => fhs.map(h => (id, h)) }).toMap
    rows.foreach { case (f, r) =>
      val frames = byFmt.getOrElse(f, Array.empty[(Long, Long)]).toSeq
      assert(r.getLong(1) == frames.length, s"$f n_frames")
      val groups = frames.groupBy(_._2)
      assert(r.getLong(2) == groups.size, s"$f n_distinct_frames")
      assert(r.getLong(3) == frames.length - groups.size, s"$f n_dup_frames")
      assert(r.getLong(5) == groups.values.map(_.length).max, s"$f max_frame_copies")
      assert(r.getLong(6) ==
        groups.values.count(g => g.map(_._1).distinct.length >= 2), s"$f shared")
    }
    // the operator exists to find CONTENT-level duplication: non-zero here
    assert(rows.values.map(_.getLong(3)).sum > 0, "corpus has shared frames")
  }

  test("pack_efficiency reconciles with a literal fold over seq_pack's layout") {
    val sp = Sampling.seqPack(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(5), r.getLong(6)))
    val out = Sampling.packEfficiency(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    sp.groupBy(_._1).foreach { case (lang, rows) =>
      val r = out(lang)
      val total = rows.map(_._2).sum
      val nSeqs = rows.map(_._3).max + 1
      assert(r.getLong(1) == rows.length)
      assert(r.getLong(2) == total)
      assert(r.getLong(3) == nSeqs)
      assert(r.getLong(4) ==
        (BigInt(total) * 1000000 / (BigInt(nSeqs) * Sampling.SeqBudget)).toLong)
      assert(r.getLong(5) == rows.count(_._4 > 1))
      // greedy contiguous packing wastes only the final sequence's tail
      assert(r.getLong(4) > 800000L && r.getLong(4) <= 1000000L,
        s"$lang fill_ppm=${r.getLong(4)}")
    }
  }

  test("embedding_pca matches a local BigInt power-iteration replay") {
    val embs = graft.sources.Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => BigInt(math.floor(x.toDouble * Cluster.PcaScale).toLong)).toVector)
    val dims = embs.head.length
    var v = Vector.fill(dims)(BigInt(Cluster.PcaScale))
    for (_ <- 1 to Cluster.PcaIters) {
      val ws = embs.map(q => q.zip(v).map { case (a, b) => a * b }.sum)
      val u = (0 until dims).map(d =>
        embs.zip(ws).map { case (q, w) => q(d) * w }.sum).toVector
      val m = u.map(_.abs).max
      v = u.map { ud =>
        val num = ud * Cluster.PcaScale
        val p = ((num % m) + m) % m
        (num - p) / m
      }
    }
    val got = Cluster.embeddingPca(spark, sf).collect().sortBy(_.getLong(0))
    assert(got.length == dims)
    got.zipWithIndex.foreach { case (r, d) =>
      assert(BigInt(r.getLong(1)) == v(d), s"dim $d: ${r.getLong(1)} vs ${v(d)}")
    }
    // loadings are the unit-normalized direction; eigenvalue positive
    val norm2 = got.map(r => r.getDouble(2) * r.getDouble(2)).sum
    assert(math.abs(norm2 - 1.0) < 1e-9)
    assert(got.head.getDouble(3) > 0)
  }

  test("dsir_sample selects K non-target docs by gumbel-perturbed log ratio") {
    val out = Sampling.dsirSample(spark, sf).collect()
    assert(out.length == math.min(Sampling.DsirK,
      graft.sources.Tables.documents(spark, sf)
        .filter(col("source") =!= Sampling.DsirTarget).count()).toInt)
    assert(out.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to out.length).toSeq)
    out.foreach { r =>
      assert(r.getAs[Double]("score") ==
        r.getAs[Double]("log_ratio") + r.getAs[Double]("gumbel_key"))
      assert(r.getAs[Long]("n_toks") > 0)
    }
    // selection excludes the target domain entirely
    val targetIds = graft.sources.Tables.documents(spark, sf)
      .filter(col("source") === Sampling.DsirTarget)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.forall(r => !targetIds.contains(r.getAs[Long]("doc_id"))))
    // scores arrive in rank order
    val byRank = out.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("score"))
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
  }

  test("filter_attrition funnel chains and final survivors match a direct filter") {
    val rows = Quality.filterAttrition(spark, sf).collect()
      .sortBy(_.getAs[Long]("stage"))
    assert(rows.map(_.getAs[String]("rule")).toSeq ==
      Seq("min_chars", "min_tokens", "exact_dedup", "dup_word_frac", "word_len_band"))
    val n0 = rows.head.getAs[Long]("n_in")
    assert(n0 == graft.sources.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_out") <= r.getAs[Long]("n_in"))
      assert(r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_in") - r.getAs[Long]("n_out"))
    }
    // the funnel chains: stage k's intake is stage k-1's output
    rows.sliding(2).foreach { case Array(prev, next) =>
      assert(next.getAs[Long]("n_in") == prev.getAs[Long]("n_out"))
    }
    assert(rows.last.getAs[Double]("cum_survival") ==
      rows.last.getAs[Long]("n_out").toDouble / n0)
  }

  test("ann_tune recall curve is monotone and its nprobe=4 level replays ann_ivf") {
    val out = Ann.annTune(spark, sf).orderBy("nprobe").collect()
    assert(out.map(_.getInt(0)).toSeq == Ann.TuneProbes)
    // widening the probe set can only add candidates, so recall is
    // monotone non-decreasing in nprobe and hits never exceed the truth
    val recalls = out.map(_.getAs[Double]("recall")).toSeq
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone: $recalls")
    out.foreach { r =>
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_exact"))
      assert(r.getAs[Long]("n_exact") >= r.getAs[Long]("n_queries"))
    }
    val truth = Ann.annBruteforce(spark, sf).select("q_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf4 = Ann.annIvf(spark, sf).select("q_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits4 = out.find(_.getInt(0) == 4).get.getAs[Long]("n_hits")
    assert(hits4 == (truth & ivf4).size.toLong,
      s"nprobe=4 sweep level diverges from the standalone ann_ivf plan")
  }

  test("cluster_stability ARI replays from the exact pair-count arithmetic") {
    val pairs = graft.plans.Scope(s => Cluster.stabilityAssignments(spark, sf, s).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    val n = pairs.length.toLong
    def comb2(x: Long): Long = x * (x - 1) / 2
    val s = pairs.groupBy(p => (p._2, p._3)).values.map(g => comb2(g.size.toLong)).sum
    val a = pairs.groupBy(_._2).values.map(g => comb2(g.size.toLong)).sum
    val b = pairs.groupBy(_._3).values.map(g => comb2(g.size.toLong)).sum
    val t = comb2(n).toDouble
    val exp = a.toDouble * b.toDouble / t
    val ari = (s - exp) / ((a + b) / 2.0 - exp)
    val ri = (t + 2.0 * s - a - b) / t
    val r = Cluster.clusterStability(spark, sf).collect().head
    assert(r.getLong(0) == n)
    assert((r.getLong(3), r.getLong(4), r.getLong(5)) == ((s, a, b)))
    assert(math.abs(r.getDouble(6) - ri) < 1e-6, "rand index")
    assert(math.abs(r.getDouble(7) - ari) < 1e-6, "ari")
    // the assignment pair must not be trivially identical or disjoint
    assert(pairs.exists(p => p._2 != p._3) || ri == 1.0)
    assert(r.getDouble(7) < r.getDouble(6),
      "ARI must discount the chance agreement RI reports")
    // init A's final assignment is cluster_assign's own refined one
    val ca1 = Cluster.clusterAssign(spark, sf).collect()
      .map(r2 => r2.getLong(0) -> r2.getLong(3)).toMap
    pairs.foreach(p => assert(ca1(p._1) == p._2, s"vec ${p._1} init-A drift"))
  }
}
