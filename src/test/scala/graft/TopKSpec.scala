package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.TopK
import graft.sources.Tables

/** The custom TopKPerGroup operator must agree row-for-row with the
  * window rank-filter form, while shuffling only k rows per group per
  * partition. */
class TopKSpec extends AnyFunSuite {
  import TestSpark._

  test("top-3 orders per customer equals the window form") {
    val ord = Tables.orders(spark, sf)
    val custom = ord.transform(TopK.perGroup(
        Seq("o_custkey"), Seq("o_totalprice" -> false, "o_orderkey" -> true), 3))
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .collect().map(_.mkString("|")).toSet
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val window = ord.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .collect().map(_.mkString("|")).toSet
    assert(custom == window)
  }

  test("plan shows two-phase exec with one exchange between") {
    val ord = Tables.orders(spark, sf)
    val plan = ord.transform(TopK.perGroup(
        Seq("o_custkey"), Seq("o_totalprice" -> false), 3))
      .queryExecution.executedPlan.toString
    // the exec node renders without the Exec suffix
    assert("TopKPerGroup \\[".r.findAllIn(plan).size == 2, plan)
    assert(plan.contains("Exchange") || plan.contains("ShuffleQueryStage"), plan)
  }

  test("ranked plan shows two-phase exec with one exchange, none before the window") {
    // the final top-k leaves its rows hash-partitioned by the groups,
    // so the rank window reuses that exchange instead of adding one
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, false)
    try {
      val plan = Tables.orders(spark, sf).transform(TopK.ranked(
          Seq("o_custkey"), Seq("o_totalprice" -> false, "o_orderkey" -> true), 3, "rank"))
        .queryExecution.executedPlan.toString
      assert("TopKPerGroup \\[".r.findAllIn(plan).size == 2, plan)
      assert("\\bExchange\\b".r.findAllIn(plan).size == 1, plan)
      assert(plan.contains("Window"), plan)
    } finally spark.conf.set(key, saved)
  }

  test("empty grouping gives a global top-k") {
    val ord = Tables.orders(spark, sf)
    val global = ord.transform(TopK.perGroup(
        Seq.empty, Seq("o_totalprice" -> false, "o_orderkey" -> true), 5))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val expected = ord.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(5).select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(global == expected)
  }

  test("unpartitioned rank filter also rewrites safely") {
    val ord = Tables.orders(spark, sf)
    val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val df = ord.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("o_orderkey")
    // whether or not the rule fires, the result must be the true top-5
    val expected = ord.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(5).select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(df.collect().map(_.getLong(0)).toSet == expected)
  }

  test("invalid k is rejected eagerly") {
    val ord = Tables.orders(spark, sf)
    intercept[IllegalArgumentException] {
      ord.transform(TopK.perGroup(Seq("o_custkey"), Seq("o_orderkey" -> true), 0))
    }
  }

  test("k larger than any group returns everything") {
    val ord = Tables.orders(spark, sf)
    val n = ord.count()
    val all = ord.transform(TopK.perGroup(
      Seq("o_custkey"), Seq("o_orderkey" -> true), 1000000)).count()
    assert(all == n)
  }
}
