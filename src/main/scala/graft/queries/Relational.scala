package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Partitioning
import graft.plans.Scope
import graft.sources.Tables

/** Relational analytics core: scan→filter→agg, multiway joins,
  * windows, rollups, semi/anti joins.
  *
  * Money is aggregated as DECIMAL(18,2)/(18,4) so sums are exact and
  * order-independent — a parallel double sum would differ from the
  * single-threaded oracle in the last ulp and fail the hash compare.
  * Terminal projections cast money to double (one correctly-rounded
  * conversion of the exact sum), giving the driver's hasher a single
  * canonical representation on both engines — NO query emits a decimal
  * column (the driver's hasher renders Spark-parquet decimals and
  * oracle floats differently, e.g. '123.40' vs '123.4'; every r03
  * hash-fail had a terminal DECIMAL and every terminal-double twin
  * passed).
  *
  * Exactness bound for the terminal double cast: a long-backed
  * DECIMAL(18,x) has ≤18 significant digits, but doubles hold only ~15.95
  * (2^53); above that both engines still round the SAME exact decimal
  * value, and DuckDB's wide-decimal path (int128 → double, then divide
  * by 10^scale) can double-round and land 1 ulp away from Spark's
  * BigDecimal.doubleValue. Sums here stay exact in ≤16 digits up to
  * roughly SF 10^4 (sum_charge e6 ≈ 10^16 at SF ~30k); past that the
  * gate projection should compare scaled longs instead of doubles.
  */
object Relational {

  import org.apache.spark.sql.Column

  // exact-decimal money helpers — shared via functions.Money (the
  // fixed-point rationale and exactness bounds are documented there)
  private def dec2(c: Column): Column = graft.functions.Money.dec2(c)
  private def e2(c: Column): Column = graft.functions.Money.e2(c)
  private def discPriceE4: Column = graft.functions.Money.discPriceE4
  private def chargeE6: Column = graft.functions.Money.chargeE6
  private def sumFixed(c: Column, div: Long, scale: Int): Column =
    graft.functions.Money.sumFixed(c, div, scale)


  /** TPC-H Q1-style pricing summary. Single scan, partial aggregation
    * map-side, one shuffle on the (tiny) grouping key.
    *
    * All money sums are exact decimals internally; only the terminal
    * projection casts to double (one correctly-rounded conversion of an
    * exact value is bit-stable under any parallelism), so the driver's
    * hasher sees a canonical float64 on both engines. */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_quantity"))).cast("decimal(18,2)").cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("decimal(18,2)").cast("double").as("sum_base_price"),
        sumFixed(discPriceE4, 10000L, 4).cast("double").as("sum_disc_price"),
        graft.functions.Money.sumFixedDouble(chargeE6, 1000000L).as("sum_charge"),
        count(lit(1)).as("count_order"))
  }

  /** TPC-H Q3-style shipping priority: filter-pushdown on both fact
    * scans, join on orderkey, top-10. The customer dim is broadcast. */
  def q3Join(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < to_timestamp(lit("1995-03-15 00:00:00")))
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > to_timestamp(lit("1995-03-15 00:00:00")))
    // no broadcast hints: orders JOIN customer is SF-proportional —
    // AQE broadcasts it at test scale, shuffles it at cluster scale
    li.join(ord.join(cust, col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sumFixed(discPriceE4, 10000L, 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      // top-10 keyed on the exact decimal; only the surviving rows cast
      .withColumn("revenue", col("revenue").cast("double"))
  }

  /** TPC-H Q5-style local-supplier volume: star join where every
    * dimension (region→nation→{customer,supplier}) broadcasts and the
    * only shuffles are fact-fact on orderkey plus the final agg. */
  def q5StarJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val region = Tables.region(spark, sfDir).filter(col("r_name") === "EUROPE")
    val nation = Tables.nation(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val supp = Tables.supplier(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")))
    val li = Tables.lineitem(spark, sfDir)

    val natreg = nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
    // only the bounded dims (nation x region) are hinted; customer and
    // supplier scale with SF and are left to AQE
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(natreg), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sumFixed(discPriceE4, 10000L, 4).cast("double").as("revenue"))
  }

  /** TPC-H Q14-style promo effect: one month of lineitem joined to the
    * part dimension, revenue per part type plus the promo share. The
    * share divides two exact decimal sums once — a single double
    * division of exact inputs is bit-stable under any parallelism. */
  def qPromo(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1996-02-01 00:00:00")))
    val part = Tables.part(spark, sfDir)
    li.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_items"),
        sumFixed(discPriceE4, 10000L, 4).cast("double").as("revenue"),
        sumFixed(when(col("p_brand") === "Brand#1", discPriceE4).otherwise(lit(0L)),
          10000L, 4).cast("double").as("brand1_revenue"))
      .withColumn("brand1_share", col("brand1_revenue") / col("revenue"))
  }

  /** Window functions: per-nation customer spend rank + running total.
    * One shuffle for the agg, one for the window partitioning. */
  def qWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val spend = ord.groupBy(col("o_custkey"))
      .agg(sum(dec2(col("o_totalprice"))).cast("decimal(18,2)").as("spend"),
        count(lit(1)).as("n_orders"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("spend").desc, col("o_custkey"))
    // rank as long (DuckDB row_number is BIGINT); windows order by the
    // exact decimal spend, only the terminal projection casts to double
    spend
      .withColumn("rank_in_nation", row_number().over(w).cast("long"))
      .withColumn("running_spend", sum(col("spend")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("decimal(28,2)"))
      .filter(col("rank_in_nation") <= 3)
      .select(col("c_nationkey"), col("c_name"), col("spend").cast("double").as("spend"),
        col("n_orders"), col("rank_in_nation"), col("running_spend").cast("double").as("running_spend"))
  }

  /** Multi-level aggregation (ROLLUP) over order status/priority. */
  def qRollup(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("decimal(18,2)").cast("double").as("total"))
  }

  /** Full CUBE over (mktsegment, orderpriority): all four grouping
    * sets in one pass — Spark expands the cube into a single Expand +
    * hash aggregate, so the fact table is scanned once, not 4×. */
  def qCube(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    // customer is SF-proportional: no broadcast hint — AQE picks the
    // strategy per actual size, the cube itself adds no extra scan
    Tables.orders(spark, sfDir)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("decimal(18,2)").cast("double").as("total"))
  }

  /** Decile (spend-tier) analysis: customers ranked by lifetime spend,
    * cut into ten rank-deciles, one summary row per tier — the RFM-style
    * segmentation a marketing warehouse runs. The decile of 0-based
    * rank r over n rows is floor(r·10/n): pure integer arithmetic both
    * engines state identically (deliberately NOT SQL ntile(), whose
    * remainder-distribution rule differs subtly; the formula is the
    * portable contract).
    *
    * The global rank is `Partitioning.rangePrefix`'s exact two-phase
    * prefix — no single-partition ntile window at any scale. */
  def qDecile(spark: SparkSession, sfDir: String): DataFrame = Scope { s =>
    val spend = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(dec2(col("o_totalprice"))).cast("decimal(18,2)").as("spend"))
      .select(col("o_custkey").as("custkey"),
        (col("spend") * 100).cast("long").as("cents"))
    val byDec = Partitioning.rangePrefix(s, spend, Nil,
        Seq(col("cents").desc, col("custkey")), lit(1L))
      .withColumn("decile", expr(s"(${Partitioning.Prefix} * 10) div ${Partitioning.GroupTotal}"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("cents"),
        max(col("cents")).as("max_cents"), min(col("cents")).as("min_cents"))
      .localCheckpoint()
    byDec
      .select(col("decile"), col("n_customers"),
        (col("cents").cast("double") / 100.0).as("total_spend"),
        (col("max_cents").cast("double") / 100.0).as("max_spend"),
        (col("min_cents").cast("double") / 100.0).as("min_spend"))
  }

  /** RANGE-frame windowed aggregation — trailing-7-day revenue per
    * order priority over the daily series: the frame is defined by
    * VALUE distance (rangeBetween −6..0 on the epoch day), not row
    * offsets, so a gap day SHORTENS the window instead of silently
    * letting the frame reach further back — the semantics a
    * rows-frame (q_window) cannot express, and the n_days_in_window
    * column makes the distinction visible in the output. Exact cents
    * throughout; the per-priority daily series is calendar-scale, so
    * the partitioned window never touches corpus-sized data. */
  def qRangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("priority"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("day"),
        dec2(col("o_totalprice")).as("p"))
      .groupBy(col("priority"), col("day"))
      .agg((sum(col("p")).cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("priority")).orderBy(col("day"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("trail7_cents", sum(col("cents")).over(w))
      .withColumn("n_days_in_window", count(lit(1)).over(w))
      .select(col("priority"), col("day"),
        (col("cents").cast("double") / 100.0).as("day_total"),
        (col("trail7_cents").cast("double") / 100.0).as("trail7_total"),
        col("n_days_in_window"))
  }

  /** Arbitrary GROUPING SETS — the general form rollup and cube are
    * special cases of: the two 1-D marginals plus the 2-D cells of
    * (status, priority), but NOT the grand total (the set a dashboard
    * actually asks for). One Expand pass over the scan — Spark
    * replicates each row once per matching set before a single hash
    * aggregate, so the fact table is read once, not |sets|×.
    * grouping_id() disambiguates a real NULL key from a rolled-up one
    * in the output contract. */
  def qGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("decimal(18,2)").cast("double").as("total"))
  }

  /** Pivot: order counts per status × priority, priorities as columns.
    * Values are enumerated explicitly, so the plan is ONE pass of
    * conditional aggregates — no driver-side distinct-value collect
    * (the two-arg pivot would run one) and no second job at 100 TB. */
  def qPivot(spark: SparkSession, sfDir: String): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", prios)
      .agg(count(lit(1)))
      .na.fill(0L, prios)
      .withColumnsRenamed(prios.map(p => p -> s"p${p.charAt(0)}").toMap)
  }

  /** UNPIVOT (melt) — the inverse reshape of q_pivot: the wide
    * status×priority count matrix back to long (status, priority, n)
    * rows via stack(), which expands row-locally in the SAME projection
    * (no join, no explode shuffle — each wide row emits its 5 cells
    * where it sits). Zero cells are kept: a melt that drops them would
    * not round-trip the matrix. The composition q_pivot → q_unpivot is
    * the schema-evolution path a warehouse uses to move a legacy wide
    * table into a long fact. */
  def qUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    qPivot(spark, sfDir).selectExpr(
      "o_orderstatus",
      "stack(5, " + prios.map(p => s"'$p', p${p.charAt(0)}").mkString(", ") +
        ") AS (o_orderpriority, n_orders)")
  }

  /** Exact interpolated quantiles of the integer key columns. The
    * probe points are exact binary fractions (k/8), so (n-1)*q, the
    * interpolation weight, and the blend of two < 2^31 integers are
    * all exact in double — Spark's percentile() and DuckDB's
    * quantile_cont() agree bit-for-bit. At 100 TB the library swaps in
    * approx_percentile (t-digest) — the gate locks the exact path. */
  def qQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    // exact percentiles via the DISTRIBUTED bracket-refinement pipeline
    // (operators.ExactQuantile) — the built-in `percentile` aggregate
    // merges every partition's value→count map in one final task, a
    // distinct-value-sized single-task census that cannot scale; the
    // replacement replicates its interpolation bit-for-bit. Dispatch
    // rides free plan-statistics bytes — no count job
    graft.operators.ExactQuantile
      .percentilesOfMulti(li, Seq("l_orderkey", "l_partkey", "l_suppkey"),
        Seq(0.125, 0.25, 0.5, 0.75, 0.875))
      .select(col("column_name"),
        col("qs")(0).as("p125"), col("qs")(1).as("p25"), col("qs")(2).as("p50"),
        col("qs")(3).as("p75"), col("qs")(4).as("p875"))
  }

  /** Grouped exact quantiles: the per-group distribution summary
    * (p12.5..p87.5 of l_quantity per return flag) in ONE aggregation
    * shuffle — the same exact-interpolation discipline as qQuantiles
    * (integral values, binary-fraction probes → both engines' blend
    * formulas are exact), now with the percentile state living per
    * group. Per-group sorted-buffer state is bounded by the group's
    * value cardinality; at 100 TB the library swaps approx_percentile
    * (t-digest, mergeable) under the identical query shape. */
  def qQuantilesGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val qs = array(Seq(0.125, 0.25, 0.5, 0.75, 0.875).map(lit): _*)
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), percentile(col("l_quantity"), qs).as("q"))
      .select(col("l_returnflag"), col("n_rows"),
        col("q")(0).as("p125"), col("q")(1).as("p25"), col("q")(2).as("p50"),
        col("q")(3).as("p75"), col("q")(4).as("p875"))
  }

  /** Set operations: nations with a high-balance customer vs a
    * high-balance supplier — INTERSECT (both) and EXCEPT
    * (customer-side only), each a distinct-semantics hash set op,
    * flagged in one output. */
  def qSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_acctbal") > 9000)
      .select(col("c_nationkey").cast("long").as("nationkey"))
    val supp = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") > 9000)
      .select(col("s_nationkey").cast("long").as("nationkey"))
    val both = cust.intersect(supp).withColumn("in_both", lit(true))
    val custOnly = cust.except(supp).withColumn("in_both", lit(false))
    both.unionByName(custOnly)
  }

  /** Semi/anti join: customers with an open order but no high-priority
    * order. Both sides are existence checks — no row multiplication. */
  def qExists(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val open = ord.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val urgent = ord.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    cust.join(open, col("c_custkey") === open("o_custkey"), "left_semi")
      .join(urgent, col("c_custkey") === urgent("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }
}
