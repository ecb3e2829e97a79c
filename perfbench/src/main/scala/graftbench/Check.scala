package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-insensitive content hash of a query result.
  *
  * Each row is hashed with xxhash64 over its columns in name order;
  * doubles enter as their 9-significant-digit rendering (parallel
  * summation may differ in the last ulp between runs), every other type
  * natively, each with a null marker. The row hashes are summed exactly, so equal multisets of
  * rows give equal hashes whatever the row order or partitioning. */
object Check {
  final case class Pinned(rows: Long, hash: String)

  def contentHash(df: DataFrame): Pinned = {
    val fields = df.schema.fields.toSeq
    val renamed = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.sortBy(_._1.name).flatMap { case (f, i) =>
      val c = col(s"c$i")
      val v = f.dataType match {
        case DoubleType | FloatType =>
          val d = c.cast(DoubleType)
          when(d.isNaN, lit("NaN")).when(d === 0.0, lit("0"))
            .otherwise(format_string("%.9g", d))
        case _ => c
      }
      // xxhash64 skips nulls, so mark them or (null, x) = (x, null)
      Seq(c.isNull, v)
    }
    // a constant first argument keeps the hash defined for zero columns
    val h = xxhash64((lit(0) +: cols): _*).cast("decimal(38,0)")
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast("decimal(38,0)")))
      .head()
    Pinned(r.getLong(0), r.getDecimal(1).toPlainString)
  }

  /** `expected/<scale>.json`: {"query": {"rows": n, "hash": "..."}, ...} */
  def load(path: java.nio.file.Path): Map[String, Pinned] = {
    val text = java.nio.file.Files.readString(path)
    val entry = "\"([A-Za-z0-9_]+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(\\d+)\\s*,\\s*\"hash\"\\s*:\\s*\"(-?\\d+)\"\\s*\\}".r
    entry.findAllMatchIn(text).map(m => m.group(1) -> Pinned(m.group(2).toLong, m.group(3))).toMap
  }

  def render(pins: Seq[(String, Pinned)]): String =
    pins.sortBy(_._1).map { case (q, p) =>
      s"""  "$q": {"rows": ${p.rows}, "hash": "${p.hash}"}"""
    }.mkString("{\n", ",\n", "\n}\n")
}
