package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import graft.plans.Scope

/** Build once, write parquet, read back: the one home of every derived
  * table the engine materializes — the session warehouses the suite
  * queries share and `operators.Restart`'s resumable pipeline stages.
  *
  * `at(spark, dir, name)(build)` writes `build`'s result to
  * `<dir>/<name>` and then commits it with the marker
  * `<dir>/<name>._COMPLETE`. A build or write that throws leaves no
  * marker, so the next touch rebuilds; a committed table is never
  * rebuilt. The marker holds the written schema as JSON and appears
  * whole or not at all (written under a temporary name, then renamed).
  * Every read-back hands that schema to the reader, so touching a
  * committed table runs no schema-inference job.
  *
  * Concurrent touches of one path build it once. Each path has its own
  * lock, taken outside the lock map's bins, so a build may itself
  * materialize another path (triangle counts build the edge list) and
  * touches of different paths do not wait on each other.
  *
  * Paths go through the Hadoop FileSystem API, so `dir` may be local,
  * HDFS or an object store. */
object Materialize {

  private val locks = new ConcurrentHashMap[String, AnyRef]()
  private val roots = new ConcurrentHashMap[String, String]()

  /** `name` under `dir`, built by `build` (inside a scope that ends
    * once the table is written) unless it already committed. */
  def at(spark: SparkSession, dir: String, name: String)
      (build: Scope => DataFrame): DataFrame = {
    val path = new Path(dir, name)
    val schema = locks.computeIfAbsent(path.toString, _ => new AnyRef).synchronized {
      committed(spark, dir, name).getOrElse {
        val written = Scope { s =>
          val df = build(s)
          df.write.mode("overwrite").parquet(path.toString)
          df.schema
        }
        commit(spark, marker(dir, name), written)
        written
      }
    }
    spark.read.schema(schema).parquet(path.toString)
  }

  /** The schema `name` committed under `dir`, if it committed. */
  def committed(spark: SparkSession, dir: String, name: String): Option[StructType] = {
    val m = marker(dir, name)
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try Some(DataType.fromJson(new String(in.readAllBytes(), UTF_8)).asInstanceOf[StructType])
      finally in.close()
    }
  }

  /** A session warehouse: `at` under one temp root per (session,
    * dataset), deleted when the JVM exits. Warehouses are file-backed,
    * not cached DataFrames, because the bench harnesses clear the Spark
    * cache between queries: a columnar file survives the clear and costs
    * one pruned scan, while a lazily re-materializing InMemoryRelation
    * mid-plan measured slower than deriving the table again. */
  def warehouse(spark: SparkSession, sfDir: String, name: String)
      (build: Scope => DataFrame): DataFrame =
    at(spark, warehouseRoot(spark, sfDir), name)(build)

  /** The temp root holding (spark, sfDir)'s warehouses. */
  private[graft] def warehouseRoot(spark: SparkSession, sfDir: String): String =
    roots.computeIfAbsent(s"${System.identityHashCode(spark)}|$sfDir", _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_warehouse")
      sys.addShutdownHook(FileUtil.fullyDelete(d.toFile))
      d.toString
    })

  private def marker(dir: String, name: String) = new Path(dir, s"$name._COMPLETE")

  private def commit(spark: SparkSession, m: Path, schema: StructType): Unit = {
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(m.getParent, s".${m.getName}.${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(schema.json.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, m)) throw new java.io.IOException(s"could not commit $m")
  }
}
