package graft.sources

import java.io.FileNotFoundException
import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the harness's parquet tables: the one per-session table
  * resolver.
  *
  * One parquet table per name under `sfDir` (`<sfDir>/<name>.parquet`,
  * a file or a directory of part files). The first touch of a path in
  * a session infers its schema from the parquet footers, which runs one
  * Spark job; every later touch passes that schema to the reader and
  * runs none. Catalyst keeps full pushdown and pruning freedom either
  * way.
  *
  * The memo holds schemas only. Never rows: base tables are never
  * cached. Never the DataFrame: each touch returns a fresh relation,
  * with fresh attribute ids so a self-join of one table resolves, that
  * lists the files again. It is kept per session (weakly, so a dropped
  * session takes its entries with it), because inference reads under
  * the session's conf (nanosecond timestamps as longs, for one), and
  * a `newSession()` infers under its own. Its key is the path plus the
  * path's leaf-file stamp — each file's path, length and modification
  * time, from one Hadoop FileSystem listing and no Spark job — so a
  * table rewritten at the same path is inferred again, never read
  * through a stale schema. Concurrent first touches of one path may
  * both infer; the first to finish is kept, and both schemas are equal.
  *
  * Accessors exist per table so call sites stay typo-safe. */
object Tables {

  /** Every leaf file under a path: (path, length, modification time). */
  private type Stamp = Seq[(String, Long, Long)]

  private val schemas = Collections.synchronizedMap(
    new WeakHashMap[SparkSession, ConcurrentHashMap[(String, Stamp), StructType]]())

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = (path, stamp(spark, new Path(path)))
    val memo = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
    memo.get(key) match {
      case null =>
        // inferred outside the memo's bin lock: a concurrent first
        // touch infers twice, harmlessly
        val df = spark.read.parquet(path)
        memo.putIfAbsent(key, df.schema)
        df
      case pinned => spark.read.schema(pinned).parquet(path)
    }
  }

  /** A missing path stamps empty; its inferring read then fails with
    * Spark's own error and memoizes nothing. */
  private def stamp(spark: SparkSession, path: Path): Stamp = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Seq.newBuilder[(String, Long, Long)]
    try {
      val it = fs.listFiles(path, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: FileNotFoundException => }
    files.result().sorted
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** The events table's `ts` physical type has varied across harness
    * data generations — TIMESTAMP(NANOS) (read as raw longs via
    * spark.sql.legacy.parquet.nanosAsLong, set in GraftSession),
    * micros with isAdjustedToUTC=false (read as TIMESTAMP_NTZ), or a
    * true UTC-adjusted timestamp. Normalize all three to session-tz
    * TimestampType so every consumer (unix_micros arithmetic, window
    * functions, the gate's epoch-micros canonicalization) sees one
    * type. Sessions pin spark.sql.session.timeZone=UTC, so the
    * NTZ→LTZ cast is value-preserving and the gate's epoch micros
    * equal the oracle's epoch_us over the same naive values. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", raw.col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
