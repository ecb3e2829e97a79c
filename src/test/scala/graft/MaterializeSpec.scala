package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Materialize

/** graft.sources.Materialize — build once, commit with a marker that
  * records the schema, read back without inference. */
class MaterializeSpec extends AnyFunSuite {
  import TestSpark._

  /** A (session, dataset) key no other suite touches: a cold root. */
  private def coldKey(tag: String) = s"materialize-spec-$tag-${System.nanoTime()}"

  test("four threads touching one cold warehouse at once build it once") {
    val key = coldKey("race")
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val touches = (1 to 4).map(_ => pool.submit(() => {
        start.await()
        Materialize.warehouse(spark, key, "shared") { _ =>
          builds.incrementAndGet()
          Thread.sleep(200)
          spark.range(10).toDF("id")
        }.count()
      }))
      start.countDown()
      assert(touches.map(_.get(120, TimeUnit.SECONDS)) == Seq.fill(4)(10L))
    } finally pool.shutdownNow()
    assert(builds.get == 1)
  }

  test("a cold session builds graph triangles and their nested edge list") {
    val cold = spark.newSession()
    assert(operators.Graph.graphTriangles(cold, sf).count() > 0)
    val root = Materialize.warehouseRoot(cold, sf)
    assert(Materialize.committed(cold, root, "edges").nonEmpty)
    assert(Materialize.committed(cold, root, "triangles").nonEmpty)
  }

  test("a build that throws commits nothing and the next touch rebuilds") {
    val key = coldKey("fail")
    val root = Materialize.warehouseRoot(spark, key)
    intercept[Exception] {
      Materialize.warehouse(spark, key, "t") { _ =>
        spark.range(5).select(expr("raise_error('lost executor')").cast("long").as("id"))
      }
    }
    assert(Materialize.committed(spark, root, "t").isEmpty)
    val builds = new AtomicInteger(0)
    def touch() = Materialize.warehouse(spark, key, "t") { _ =>
      builds.incrementAndGet()
      spark.range(5).toDF("id")
    }
    assert(touch().count() == 5)
    assert(touch().count() == 5)
    assert(builds.get == 1)
    assert(Materialize.committed(spark, root, "t").nonEmpty)
  }

  test("a warm touch runs no job and reads the schema inference would find") {
    val key = coldKey("warm")
    val root = Materialize.warehouseRoot(spark, key)
    // non-nullable, nested and decimal fields: the recorded schema must
    // read back exactly as an inferring read sees the files
    def build = Materialize.warehouse(spark, key, "nested") { _ =>
      spark.range(20).select(col("id"), array(col("id"), lit(1L)).as("a"),
        struct(col("id").cast("decimal(12,2)").as("d")).as("s"))
    }
    build
    operators.Graph.graphTriangles(spark, sf)
    val tables = Seq(
      (root, "nested", () => build),
      (Materialize.warehouseRoot(spark, sf), "triangles",
        () => operators.Graph.graphTriangles(spark, sf)))
    for ((dir, name, touch) <- tables) {
      val warm = SubExecutions.capture(spark)(touch())
      assert(warm.jobs == 0, s"$name: warm touch ran ${warm.jobs} job(s)")
      assert(warm.value.schema == spark.read.parquet(s"$dir/$name").schema, name)
    }
  }
}
