package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** graft.sources.Tables — the per-session resolver infers each base
  * table's schema once and pins it on every later touch. */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  private val baseTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Row count and an order-free sum of per-row hashes. */
  private def contentHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).first()
    (r.getLong(0), r.getDecimal(1))
  }

  private def scratchDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"tables-spec-$tag").toString

  test("a warm touch of every base table runs no job and reads what inference reads") {
    for (t <- baseTables) {
      Tables.table(spark, sf, t)
      val warm = SubExecutions.capture(spark)(Tables.table(spark, sf, t))
      assert(warm.jobs == 0, s"$t: warm touch ran ${warm.jobs} job(s)")
      val inferred = spark.read.parquet(s"$sf/$t.parquet")
      assert(warm.value.schema == inferred.schema, t)
      assert(contentHash(warm.value) == contentHash(inferred), t)
    }
    val events = SubExecutions.capture(spark)(Tables.events(spark, sf))
    assert(events.jobs == 0)
    assert(events.value.schema("ts").dataType == TimestampType)
  }

  test("every touch is a fresh relation, so a self-join resolves") {
    val a = Tables.nation(spark, sf)
    val b = Tables.nation(spark, sf)
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    assert(a.join(b, a("n_regionkey") === b("n_regionkey")).count() ==
      a.groupBy("n_regionkey").count().select(sum(col("count") * col("count"))).first().getLong(0))
  }

  test("a new session infers under its own entry") {
    Tables.region(spark, sf)
    val cold = spark.newSession()
    assert(SubExecutions.capture(cold)(Tables.region(cold, sf)).jobs > 0)
    assert(SubExecutions.capture(cold)(Tables.region(cold, sf)).jobs == 0)
  }

  test("a table rewritten at the same path is inferred again") {
    val dir = scratchDir("rewrite")
    spark.range(10).toDF("id").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id"))
    assert(SubExecutions.capture(spark)(Tables.table(spark, dir, "t")).jobs == 0)
    spark.range(10).withColumn("extra", col("id") * 2)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val rewritten = Tables.table(spark, dir, "t")
    assert(rewritten.columns.toSeq == Seq("id", "extra"))
    assert(rewritten.agg(sum("extra")).first().getLong(0) == 90L)
  }

  test("four threads touching one cold path at once all get its schema") {
    val dir = scratchDir("race")
    spark.range(20).select(col("id"), (col("id") % 3).cast("string").as("k"))
      .write.parquet(s"$dir/t.parquet")
    val expected = spark.read.parquet(s"$dir/t.parquet").schema
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val touches = (1 to 4).map(_ => pool.submit(() => {
        start.await()
        val df = Tables.table(spark, dir, "t")
        (df.schema, df.count())
      }))
      start.countDown()
      assert(touches.map(_.get(120, TimeUnit.SECONDS)) == Seq.fill(4)((expected, 20L)))
    } finally pool.shutdownNow()
    assert(SubExecutions.capture(spark)(Tables.table(spark, dir, "t")).jobs == 0)
  }
}
