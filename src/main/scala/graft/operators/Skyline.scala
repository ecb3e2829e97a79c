package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** 2-D Pareto front (skyline): the parts no other part beats on BOTH
  * (lower-or-equal price, greater-or-equal size) with one strict —
  * the multi-objective shortlist query.
  *
  * The naive formulation is an O(n²) NOT-EXISTS self-join. The 2-D
  * structure gives a running-max form instead: scanning prices in
  * ascending order, a (price, max-size-at-that-price) group is on the
  * front iff its size strictly exceeds every size seen at a lower
  * price. That is a GLOBAL order statistic — and computing it with one
  * window would mean a single-task global sort. It runs as the
  * two-phase distributed prefix of `Partitioning.cellPrefix`, but
  * combines with `greatest`, not `+`, so it keeps its own copy:
  * per-price max (one shuffle, map-side combined), price-range buckets
  * carry local maxima, an exclusive prefix-max over the tiny bucket
  * table broadcasts back, and the within-bucket window sees only its
  * bucket's groups. The original rows rejoin the surviving
  * (price, size) front — ties on both axes all keep (no strict
  * dominator exists). */
object Skyline {

  /** Price-bucket width for the distributed prefix-max. */
  final val BucketWidth = 100.0

  def paretoFront(spark: SparkSession, sfDir: String): DataFrame = {
    val perPrice = Tables.part(spark, sfDir)
      .groupBy(col("p_retailprice").as("price"))
      .agg(max(col("p_size")).as("msize"))
      .withColumn("bucket", floor(col("price") / BucketWidth).cast("long"))

    val perBucket = perPrice.groupBy(col("bucket"))
      .agg(max(col("msize")).as("bucket_max"))
    val wB = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    // exclusive prefix over buckets: tiny table, window is fine there
    val bucketPrev = perBucket
      .withColumn("prev_bucket_max", max(col("bucket_max")).over(wB))
      .select(col("bucket"), col("prev_bucket_max"))

    val wP = Window.partitionBy(col("bucket")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val front = perPrice
      .join(broadcast(bucketPrev), Seq("bucket"))
      .withColumn("prev_in_bucket", max(col("msize")).over(wP))
      .withColumn("prev_max", greatest(
        coalesce(col("prev_bucket_max"), lit(Int.MinValue)),
        coalesce(col("prev_in_bucket"), lit(Int.MinValue))))
      .filter(col("msize") > col("prev_max"))
      .select(col("price"), col("msize"))

    Tables.part(spark, sfDir)
      .join(front, col("p_retailprice") === col("price") && col("p_size") === col("msize"))
      .select(col("p_partkey"), col("p_retailprice").as("price"), col("p_size").as("size"))
  }
}
