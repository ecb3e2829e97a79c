package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Fixed-size overlapping document chunking — the retrieval/indexing
  * prep step (RAG, embedding-table build, long-doc truncation) that
  * turns each document into a deterministic set of character windows.
  *
  * Chunk i of a document covers characters [i*Stride, i*Stride+Size);
  * the final chunk is the short tail. The whole operator is pure
  * row-local fan-out — sequence + explode + substr inside one
  * whole-stage-codegen span, ZERO shuffles — so it scales as a map-only
  * pass no matter the corpus size: 100 TB in, ~1.25x that out, never a
  * wide dependency. Chunk identity travels as md5(chunk_text) so a
  * downstream exact-dedup or embedding join keys on a 32-byte hash, not
  * the text payload.
  */
object Chunk {

  /** Window width in characters. */
  final val Size = 400
  /** Window start-to-start distance; Size - Stride = 80 chars overlap. */
  final val Stride = 320

  def docChunk(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("n"))
      // exact integer chunk count: 1 + ceil((n - Size) / Stride) for n > Size
      .withColumn("nchunks",
        when(col("n") <= Size, 1L)
          .otherwise(expr(s"(n - $Size + ${Stride - 1}) DIV $Stride") + 1L))
      .select(col("doc_id"), col("text"), col("n"),
        explode(sequence(lit(0L), col("nchunks") - 1L)).as("chunk_idx"))
      .withColumn("chunk_start", col("chunk_idx") * Stride)
      .withColumn("chunk_text",
        col("text").substr(col("chunk_start").cast("int") + 1, lit(Size)))
      .select(
        col("doc_id"), col("chunk_idx"), col("chunk_start"),
        length(col("chunk_text")).cast("long").as("chunk_len"),
        size(filter(split(col("chunk_text"), " "), t => t =!= ""))
          .cast("long").as("n_tokens"),
        md5(col("chunk_text")).as("chunk_hash"))
  }

  /** Content-defined chunking window (chars of rolling context). */
  final val CdcW = 8
  /** Boundary divisor: a chunk starts where md5(window) ≡ 0 (mod 64),
    * giving ~64-char expected chunks. */
  final val CdcMod = 64

  /** CONTENT-DEFINED chunking (the rsync/FastCDC family): a chunk
    * boundary opens wherever the hash of the local CdcW-char window
    * hits 0 mod CdcMod — so an insertion early in a document only
    * perturbs chunk boundaries locally, and identical passages chunk
    * identically regardless of their offset. That shift-resilience is
    * exactly what fixed-size docChunk lacks, and why dedup storage and
    * incremental corpus sync use CDC.
    *
    * Boundary detection is row-local (filter over a position sequence,
    * each position hashing CdcW chars through the codegen'd md5_mod61
    * — the oracle recomputes the identical hash); the corpus-level
    * dedup profile is ONE count window partitioned by chunk hash, so
    * the chunk table is computed once: an aggregate joined back would
    * read it twice, and with nothing pinned both reads re-run the
    * spread scan and the per-position boundary filter, the operator's
    * only CPU-heavy stage. `h` is md5_mod61 of a non-null substring,
    * so it is never null and every chunk row is counted. Output per
    * doc: chunk count, length extremes, and how much of the corpus'
    * chunk mass this document shares with any other chunk occurrence
    * (the storage-dedup win CDC exists for). */
  def cdcChunk(spark: SparkSession, sfDir: String): DataFrame = {
    val chunks = Partitioning.spread(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .filter(col("len") >= 1)
      // chunk start positions: 1, plus every window-hash boundary
      .withColumn("starts", concat(array(lit(1)),
        when(col("len") >= CdcW + 1, expr(
          s"filter(sequence(2, len - ${CdcW - 1}), i -> md5_mod61(substring(text, i, $CdcW)) % $CdcMod = 0)"))
          .otherwise(expr("cast(array() as array<int>)"))))
      .withColumn("bounds", concat(col("starts"), array(col("len") + 1)))
      .select(col("doc_id"),
        explode(expr(
          """transform(sequence(1, size(starts)), j ->
            |  substring(text, element_at(bounds, j),
            |    element_at(bounds, j + 1) - element_at(bounds, j)))""".stripMargin))
          .as("chunk"))
      .select(col("doc_id"), length(col("chunk")).cast("long").as("clen"),
        graft.functions.Similarity.md5Mod(col("chunk")).as("h"))
    chunks.withColumn("occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        min(col("clen")).as("min_chunk"), max(col("clen")).as("max_chunk"),
        sum(col("clen")).as("total_chars"),
        sum(when(col("occ") > 1, col("clen")).otherwise(lit(0L))).as("shared_chars"))
      .select(col("doc_id"), col("n_chunks"), col("min_chunk"), col("max_chunk"),
        col("total_chars"),
        round(col("shared_chars").cast("double") / col("total_chars"), 6)
          .as("dedup_ratio"))
  }

  /** Span-corruption preview — the audit a T5/UL2-style denoising
    * pipeline runs before committing a masking configuration: apply
    * the deterministic span mask to each document's token stream and
    * report what the objective will actually see (token count, masked
    * count, span count via run-start detection on the mask, mask
    * fraction, mean span length). Mask rule: token i is masked when
    * (i + doc_id) mod 7 < 2 — length-2 spans, ~2/7 corruption, phase
    * varied per doc so spans land differently across the corpus.
    * Entirely row-local collection expressions; zero shuffles. */
  def spanCorruption(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("n_masked", expr(
        "size(filter(sequence(0L, n_tokens - 1), i -> (i + doc_id) % 7 < 2))"))
      .withColumn("n_spans", expr(
        """size(filter(sequence(0L, n_tokens - 1),
          |  i -> (i + doc_id) % 7 < 2 AND (i = 0 OR (i - 1 + doc_id) % 7 >= 2)))"""
          .stripMargin))
      .select(col("doc_id"), col("n_tokens"),
        col("n_masked").cast("long").as("n_masked"),
        col("n_spans").cast("long").as("n_spans"),
        round(col("n_masked").cast("double") / col("n_tokens").cast("double"), 6)
          .as("mask_frac"),
        when(col("n_spans") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_masked").cast("double") / col("n_spans").cast("double"), 6))
          .as("mean_span_len"))
}
