package graftbench

/** The benchmark's fixed workloads. Query names are `SparkEntry.queries`
  * keys; the lists are part of the benchmark's definition and change
  * only together with the pinned results in `expected/`. */
final case class Workload(
    name: String,
    queries: Seq[String],
    clients: Int,
    // results go through sources.Sinks instead of toRdd.count
    sink: Boolean,
    // fixed count of untimed passes before measurement (see README)
    warmupPasses: Int,
    // wall seconds of one measured pass on a 4-core host, harness
    // cleanup included; sets the pass count for --seconds
    nominalPassS: Double,
    // nearest-rank percentile reported as query_tail_s (see README)
    tailPct: Double) {

  /** The odd pass count nearest to `seconds / nominalPassS`, at least 3.
    * It depends on --seconds only, not on how fast the passes run, and
    * an odd count keeps the median on one pass. */
  def measuredPasses(seconds: Double): Int = {
    val n = math.max(3, math.round(seconds / nominalPassS).toInt)
    if (n % 2 == 0) n + 1 else n
  }
}

object Workloads {

  /** Reference-pipeline operators (SURVEY §2-A) in pipeline order, TEI
    * ingest to word count. */
  val catalogueEnrich: Seq[String] = Seq(
    "tei_extract", "name_normalize", "name_status", "entity_match",
    "enrich_join", "ref_inject", "word_count")

  /** Training-data operators: dedup_ngram (eager probe, then heavy
    * execution), minhash_band_tune (eager jobs while built) and the
    * execution-bound cdc_chunk. */
  val corpusHeavy: Seq[String] = Seq(
    "dedup_ngram", "minhash_band_tune", "cdc_chunk")

  /** Lazy, storage-neutral queries (no eager job besides parquet schema
    * inference, nothing left persisted), including the
    * `Partitioning.spread` sites multimodal_meta, lang_id_trigram,
    * ann_lsh and zipf_fit. */
  val analyticsConcurrent: Seq[String] = Seq(
    "multimodal_meta", "lang_id_trigram", "ann_lsh", "zipf_fit",
    "q1_agg", "q3_join", "events_funnel", "ab_test", "cms_topk")

  val all: Map[String, Workload] = Seq(
    // Odd list lengths and odd pass counts put the median and the tail
    // percentile on the middle sample of one query each, so they move
    // with that query's speed, not with the gap between two.
    Workload("catalogue_enrich", catalogueEnrich, clients = 1, sink = true,
      warmupPasses = 3, nominalPassS = 4.0, tailPct = 0.94),
    Workload("corpus_heavy", corpusHeavy, clients = 1, sink = false,
      warmupPasses = 4, nominalPassS = 4.5, tailPct = 0.85),
    Workload("analytics_concurrent", analyticsConcurrent, clients = 4,
      sink = false, warmupPasses = 1, nominalPassS = 8.0, tailPct = 0.89),
  ).map(w => w.name -> w).toMap
}
