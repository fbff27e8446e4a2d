package graft.analytics

import graft.Tables
import graft.functions.TextFeatures.hash60
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** General analytics over the TPC-H-ish star schema — the scale-bearing
  * query set (big shuffles, joins, distinct aggregation) that exercises
  * the physical-plan properties SURVEY.md §4 calls out: predicate/column
  * pushdown into the parquet scan, broadcast joins for small dimensions,
  * partial aggregation before the shuffle.
  *
  * Money math: testdata stores doubles; double sums are order-dependent
  * across engines, so every SUM input is cast to exact DECIMAL first
  * (associative, engine-independent) and results are cast to double at the
  * presentation edge. Ratio math is IEEE double in the same operation
  * order as the oracle SQL.
  */
object StarAnalytics {

  private val D124 = DecimalType(12, 4)
  // Tight precisions keep decimal products exact (within precision 38) in
  // BOTH engines: money is 2dp < 1e8, rates are 2dp in [0,2). A wide
  // (12,4)^3 product overflows 38 and Spark silently reduces scale.
  private val Money = DecimalType(10, 2)
  private val Rate  = DecimalType(3, 2)

  // ---- pricing summary (TPC-H Q1 shape): the heavy scan+agg ------------
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(Money)).as("_sq"),
        sum(col("l_extendedprice").cast(Money)).as("_sbp"),
        sum(col("l_extendedprice").cast(Money)
          * (lit(1).cast(Rate) - col("l_discount").cast(Rate))).as("_sdp"),
        sum(col("l_extendedprice").cast(Money)
          * (lit(1).cast(Rate) - col("l_discount").cast(Rate))
          * (lit(1).cast(Rate) + col("l_tax").cast(Rate))).as("_scp"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        col("_sq").cast("double").as("sum_qty"),
        col("_sbp").cast("double").as("sum_base_price"),
        col("_sdp").cast("double").as("sum_disc_price"),
        col("_scp").cast("double").as("sum_charge"),
        round(col("_sq").cast("double") / col("count_order"), 4).as("avg_qty"),
        round(col("_sbp").cast("double") / col("count_order"), 4).as("avg_price"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_base_price,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
      |       round(CAST(sum(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
      |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) / count(*), 4) AS avg_price,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- shipping priority (TPC-H Q3 shape): 3-way join + topk -----------
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val cust   = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord    = Tables.orders(spark, dir).filter(col("o_orderdate") < cutoff)
    val li     = Tables.lineitem(spark, dir).filter(col("l_shipdate") > cutoff)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast(Money)
        * (lit(1).cast(Rate) - col("l_discount").cast(Rate))).as("_rev"))
      .select(
        col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"),
        col("_rev").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val shippingPrioritySql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ---- top customers by spend: join + agg + topk -----------------------
  def topCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .agg(
        sum(col("o_totalprice").cast(D124)).as("_spend"),
        count(lit(1)).as("order_count"))
      .select(
        col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("_spend").cast("double").as("total_spend"),
        col("order_count"))
      .orderBy(col("total_spend").desc, col("c_custkey"))
      .limit(25)

  val topCustomersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS total_spend,
      |       count(*) AS order_count
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name, c_mktsegment
      |ORDER BY total_spend DESC, c_custkey LIMIT 25""".stripMargin

  // ---- nation revenue: snowflake join chain through dims ---------------
  def nationRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(col("o_totalprice").cast(D124)).as("_rev"),
        count(lit(1)).as("order_count"))
      .select(col("r_name"), col("n_name"),
        col("_rev").cast("double").as("revenue"), col("order_count"))
      .orderBy("r_name", "n_name")

  val nationRevenueSql: String =
    """SELECT r_name, n_name,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS revenue,
      |       count(*) AS order_count
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // ---- event daily rollup: time bucketing + exact distinct count -------
  def eventDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(
        count(lit(1)).as("events"),
        countDistinct(col("user_id")).as("unique_users"),
        sum(col("value").cast(D124)).as("_sv"))
      .select(col("event_type"), col("day"), col("events"), col("unique_users"),
        col("_sv").cast("double").as("value_sum"))
      .orderBy("event_type", "day")

  val eventDailySql: String =
    """SELECT event_type, date_trunc('day', ts) AS day,
      |       count(*) AS events,
      |       count(DISTINCT user_id) AS unique_users,
      |       CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS value_sum
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, day""".stripMargin

  // ---- brand profit (TPC-H Q9 shape): lineitem × part × supplier × nation
  // Both dimensions broadcast (2k / 100 rows; at scale AQE falls back to
  // shuffle joins); one hash aggregate on (nation, brand).
  def brandProfit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("p_brand"))
      .agg(
        sum(col("l_extendedprice").cast(Money)
          * (lit(1).cast(Rate) - col("l_discount").cast(Rate))).as("_rev"),
        count(lit(1)).as("line_count"))
      .select(col("n_name"), col("p_brand"),
        col("_rev").cast("double").as("revenue"), col("line_count"))
      .orderBy("n_name", "p_brand")

  val brandProfitSql: String =
    """SELECT n_name, p_brand,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
      |       count(*) AS line_count
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name, p_brand
      |ORDER BY n_name, p_brand""".stripMargin

  // ---- table_profile: per-column data profiling (training-pipeline QA) -
  // One scan computes every column's stats; stack unpivots to one row per
  // column. The oracle's UNION ALL shape produces identical values.
  private val ProfileCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  def tableProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val measures = count(lit(1)).as("n") +: ProfileCols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"nd_$c"),
      min(col(c)).cast("double").as(s"min_$c"),
      max(col(c)).cast("double").as(s"max_$c")))
    val stackArgs = ProfileCols
      .map(c => s"'$c', n, nn_$c, nd_$c, min_$c, max_$c").mkString(", ")
    li.agg(measures.head, measures.tail: _*)
      .selectExpr(s"stack(${ProfileCols.length}, $stackArgs) AS " +
        "(column_name, n_rows, n_nonnull, n_distinct, min_v, max_v)")
      .orderBy("column_name")
  }

  val tableProfileSql: String = {
    val selects = ProfileCols.map { c =>
      s"""SELECT '$c' AS column_name, count(*) AS n_rows, count($c) AS n_nonnull,
         |       count(DISTINCT $c) AS n_distinct,
         |       CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v
         |FROM lineitem""".stripMargin
    }
    selects.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // ---- table_profile_approx: the 100 TB profiling path -----------------
  /** Sketch-based distinct counts: `approx_count_distinct` (HLL++, rsd
    * 2%) needs no Expand — one pass, constant sketch memory per
    * column, partial-merge across the shuffle — where exact
    * countDistinct×4 expands lineitem 4× (the `table_profile` cost). At
    * 100 TB the production profile runs ONLY the sketches; this
    * oracle-checked entry computes both and emits the within-5% law as a
    * boolean per column (HLL estimates are engine-specific, so the bound,
    * not the estimate, is what both engines can agree on — the oracle's
    * exact side answers `true`).
    */
  def tableProfileApprox(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // The sketches MUST live in their own aggregate: mixed into the same
    // agg as count(DISTINCT), Catalyst's distinct rewrite (Expand +
    // two-phase agg keyed on (gid, value)) would attach a 4 KB HLL buffer
    // to every distinct value's partial group — measured 82 s vs ~3 s at
    // sf0.1. Two single-row global aggs + a 1-row cross join instead; the
    // production profile at 100 TB runs ONLY the sketch agg (one scan, no
    // Expand) — the exact side here exists to check the bound.
    val exactMeasures = count(lit(1)).as("n") +: ProfileCols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"nd_$c")))
    val approxMeasures = ProfileCols.map(c =>
      approx_count_distinct(col(c), 0.02).as(s"ad_$c"))
    val stackArgs = ProfileCols
      .map(c => s"'$c', n, nn_$c, nd_$c, ad_$c").mkString(", ")
    li.agg(exactMeasures.head, exactMeasures.tail: _*)
      .crossJoin(li.agg(approxMeasures.head, approxMeasures.tail: _*))
      .selectExpr(s"stack(${ProfileCols.length}, $stackArgs) AS " +
        "(column_name, n_rows, n_nonnull, nd, ad)")
      .select(col("column_name"), col("n_rows"), col("n_nonnull"),
        (abs(col("ad") - col("nd")).cast("double") <= col("nd") * lit(0.05))
          .as("approx_within_5pct"))
      .orderBy("column_name")
  }

  val tableProfileApproxSql: String = {
    val selects = ProfileCols.map { c =>
      s"""SELECT '$c' AS column_name, count(*) AS n_rows, count($c) AS n_nonnull,
         |       true AS approx_within_5pct
         |FROM lineitem""".stripMargin
    }
    selects.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // ---- forecast_revenue (TPC-H Q6 shape): selective band scan-agg ------
  // Three conjunctive predicates all push into the parquet scan; the agg
  // is a single global sum — the minimal scan-dominated query.
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
        && col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast(Money)
        * col("l_discount").cast(Rate)).cast("double").as("revenue"),
        count(lit(1)).as("line_count"))

  val forecastRevenueSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
      |       count(*) AS line_count
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  // ---- priority_lines (TPC-H Q12 shape): conditional CASE aggregation --
  def priorityLines(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count"))
      .orderBy("l_returnflag")

  val priorityLinesSql: String =
    """SELECT l_returnflag,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---- dormant_customers: anti + semi join coverage --------------------
  // Customers with no high-value order (anti join against the filtered
  // orders — the predicate pushes into the scan) who sit in a nation any
  // supplier serves (semi on the broadcast nation set) — the join kinds
  // the reference never needed, in one broadcast-friendly plan.
  def dormantCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val bigOrders = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_custkey"))
    val supplierNations = Tables.supplier(spark, dir)
      .select(col("s_nationkey")).distinct()
    cust
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(supplierNations),
        col("c_nationkey") === col("s_nationkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_nationkey"))
      .orderBy("c_custkey")
  }

  val dormantCustomersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment, c_nationkey
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
      |  AND EXISTS (SELECT 1 FROM supplier s WHERE s.s_nationkey = c.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  // ---- event_rollup: grouping sets (ROLLUP) over the event stream ------
  // Subtotal rows carry NULL in the aggregated-out dimension in both
  // engines; counts/sums are exact integers/decimals.
  def eventRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        col("value").cast(D124).as("v"))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("events"), sum(col("v")).cast("double").as("value_sum"))
      .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)

  val eventRollupSql: String =
    """SELECT event_type, date_trunc('day', ts) AS day,
      |       count(*) AS events,
      |       CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS value_sum
      |FROM events
      |GROUP BY ROLLUP(event_type, date_trunc('day', ts))
      |ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""".stripMargin

  // ---- user_churn: set-operation coverage (EXCEPT / INTERSECT / UNION) -
  /** Period-over-period user segmentation over the events table: churned
    * (active in the prior 30 days, silent in the last 30), new (the
    * reverse), retained (both) — the set-operation family the reference
    * never uses (SURVEY.md §2.5), as distinct-shaped shuffles on user_id.
    * The anchor derives from max(ts) and stays in-plan (broadcast 1-row).
    */
  def userChurn(spark: SparkSession, dir: String): DataFrame = {
    val ev     = Tables.events(spark, dir)
    val anchor = ev.agg(max(col("ts")).as("now"))
    val withNow = ev.crossJoin(broadcast(anchor))
    // localCheckpoint: each user set is consumed TWICE by the set ops —
    // without truncation the event scan + distinct shuffle re-ran once
    // per use (explain audit: scans=12); the checkpointed frames are
    // user-distinct-sized, far below the event stream
    val recent = withNow
      .filter(col("ts") >= col("now") - expr("INTERVAL 30 DAYS"))
      .select("user_id").distinct()
      .localCheckpoint(eager = false)
    val prior = withNow
      .filter(col("ts") < col("now") - expr("INTERVAL 30 DAYS")
        && col("ts") >= col("now") - expr("INTERVAL 60 DAYS"))
      .select("user_id").distinct()
      .localCheckpoint(eager = false)
    prior.except(recent).withColumn("status", lit("churned"))
      .unionByName(recent.except(prior).withColumn("status", lit("new")))
      .unionByName(recent.intersect(prior).withColumn("status", lit("retained")))
      .select(col("status"), col("user_id"))
      .orderBy("status", "user_id")
  }

  val userChurnSql: String =
    """WITH anchor AS (SELECT max(ts) AS now FROM events),
      |recent AS (
      |  SELECT DISTINCT user_id FROM events, anchor
      |  WHERE ts >= now - INTERVAL 30 DAY),
      |prior AS (
      |  SELECT DISTINCT user_id FROM events, anchor
      |  WHERE ts < now - INTERVAL 30 DAY AND ts >= now - INTERVAL 60 DAY)
      |SELECT 'churned' AS status, user_id
      |FROM (SELECT user_id FROM prior EXCEPT SELECT user_id FROM recent)
      |UNION ALL
      |SELECT 'new', user_id
      |FROM (SELECT user_id FROM recent EXCEPT SELECT user_id FROM prior)
      |UNION ALL
      |SELECT 'retained', user_id
      |FROM (SELECT user_id FROM recent INTERSECT SELECT user_id FROM prior)
      |ORDER BY status, user_id""".stripMargin

  // ---- events_funnel: ordered multi-stage conversion funnel ------------
  /** Classic product-analytics funnel over the event stream: how many
    * users performed view → click → purchase IN ORDER (each stage's
    * earliest occurrence strictly after the previous stage's). The
    * reference's event stream has no funnel query; this is the canonical
    * "sequenced conditional aggregation" shape a warehouse engine owns
    * (cf. window funnels in ClickHouse / funnel steps in Amplitude-style
    * pipelines).
    *
    * Scale: three hash aggregates + two inner joins, ALL keyed on
    * user_id — one partitioning reused across every stage (at 100 TB the
    * stage frames co-partition; no broadcast needed because both sides
    * are user-grained). Stage N's frame only carries users who survived
    * stage N-1, so join inputs shrink monotonically down the funnel.
    */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val view = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val click = ev.filter(col("event_type") === "click")
      .join(view, "user_id").filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val purchase = ev.filter(col("event_type") === "purchase")
      .join(click, "user_id").filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    def stage(n: Int, name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("users"))
        .select(lit(n).as("stage"), lit(name).as("stage_name"), col("users"))
    stage(1, "view", view)
      .unionByName(stage(2, "click_after_view", click))
      .unionByName(stage(3, "purchase_after_click", purchase))
      .orderBy("stage")
  }

  val eventsFunnelSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
      |SELECT 1 AS stage, 'view' AS stage_name, (SELECT count(*) FROM v) AS users
      |UNION ALL
      |SELECT 2, 'click_after_view', (SELECT count(*) FROM c)
      |UNION ALL
      |SELECT 3, 'purchase_after_click', (SELECT count(*) FROM p)
      |ORDER BY stage""".stripMargin

  // ---- events_retention: cohort retention matrix ------------------------
  /** Cohort analysis: users grouped by the week of their first event;
    * for each (cohort week, week offset) the number of cohort members
    * active that week. Both week columns are date_trunc('week') —
    * Monday-start in Spark and DuckDB alike — so the offset is an exact
    * integer number of weeks.
    *
    * Scale: one user-keyed aggregate for first-touch, one
    * (user, week)-distinct, one user-keyed join, one final hash agg on
    * (cohort, offset) — the classic two-shuffle retention plan. The
    * (user, week) distinct bounds state at |users| × |weeks|, far below
    * the raw event count.
    */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val first = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val active = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk")).distinct()
    active.join(first, "user_id")
      .withColumn("week_offset",
        (datediff(col("wk"), col("cohort_week")) / 7).cast("int"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("users"))
      .orderBy("cohort_week", "week_offset")
  }

  val eventsRetentionSql: String =
    """WITH first AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      |  FROM events GROUP BY user_id),
      |active AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
      |SELECT f.cohort_week,
      |       CAST(date_diff('day', f.cohort_week, a.wk) / 7 AS INTEGER) AS week_offset,
      |       count(*) AS users
      |FROM active a JOIN first f ON a.user_id = f.user_id
      |GROUP BY f.cohort_week, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin

  // ---- event_pivot: cross-tab (pivot) of the event stream --------------
  /** Day × event-type value matrix via `Dataset.pivot` — the relational
    * cross-tab surface (reference dashboards render exactly this shape).
    * Pivot values are EXPLICIT, which matters twice: no extra
    * distinct-values job before planning, and a stable output schema at
    * any scale (a drifting event-type vocabulary can't widen the table
    * mid-pipeline). Sums stay exact DECIMAL until the output cast.
    *
    * Scale: compiles to ONE conditional hash aggregate keyed on day
    * (partial→final) — identical physical shape to the oracle's CASE
    * formulation; columns, not rows, carry the type dimension.
    */
  def eventPivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, dir)
      .select(date_trunc("day", col("ts")).as("day"),
        col("event_type"), col("value").cast(D124).as("v"))
      .groupBy("day")
      .pivot("event_type", types)
      .agg(sum(col("v")).cast("double"))
      .orderBy("day")
  }

  val eventPivotSql: String =
    """SELECT date_trunc('day', ts) AS day,
      |       CAST(sum(CASE WHEN event_type = 'click'    THEN CAST(value AS DECIMAL(12,4)) END) AS DOUBLE) AS click,
      |       CAST(sum(CASE WHEN event_type = 'error'    THEN CAST(value AS DECIMAL(12,4)) END) AS DOUBLE) AS error,
      |       CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,4)) END) AS DOUBLE) AS purchase,
      |       CAST(sum(CASE WHEN event_type = 'signup'   THEN CAST(value AS DECIMAL(12,4)) END) AS DOUBLE) AS signup,
      |       CAST(sum(CASE WHEN event_type = 'view'     THEN CAST(value AS DECIMAL(12,4)) END) AS DOUBLE) AS view
      |FROM events
      |GROUP BY day ORDER BY day""".stripMargin

  // ---- event_props_agg: JSON extraction over the props payload ---------
  /** Batch JSON path extraction (`get_json_object`) over the semi-
    * structured `props` column — the F-surface's JSON tier outside the
    * streaming wire parse (IngestPipeline's `from_json`). Extraction is a
    * per-row codegen'd projection; integer sums stay exact; the one
    * double (mean) is a single division in identical order.
    */
  def eventPropsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"))
      .select(col("event_type"), col("n"), col("k_sum"), col("k_min"),
        col("k_max"),
        round(col("k_sum").cast("double") / col("n"), 4).as("k_avg"))
      .orderBy("event_type")

  val eventPropsAggSql: String =
    """SELECT event_type,
      |       count(k) AS n,
      |       CAST(sum(k) AS BIGINT) AS k_sum,
      |       min(k) AS k_min, max(k) AS k_max,
      |       round(CAST(sum(k) AS DOUBLE) / count(k), 4) AS k_avg
      |FROM (SELECT event_type,
      |             CASE WHEN json_valid(props)
      |                  THEN try_cast(props->>'$.k' AS BIGINT) END AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- customer_rank / customer_quartiles: ranking-function surface ----
  /** dense_rank within nation over customer revenue — the rank-function
    * tier (row_number is covered by the A8 queries; dense_rank's
    * tie-stability makes it the deterministic choice for ranked output).
    * Windows are PARTITIONED by nation, so no single-partition global
    * sort exists anywhere in the plan — the per-nation top-3 output stays
    * bounded at any scale.
    */
  def customerRank(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_custkey"))
      .agg(sum(col("o_totalprice").cast(D124)).as("_rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n_name").orderBy(col("_rev").desc)
    rev.withColumn("rnk", dense_rank().over(w))
      .filter(col("rnk") <= 3)
      .select(col("n_name"), col("c_custkey"),
        col("_rev").cast("double").as("revenue"), col("rnk"))
      .orderBy(col("n_name"), col("rnk"), col("c_custkey"))
  }

  val customerRankSql: String =
    """WITH rev AS (
      |  SELECT n_name, c_custkey, sum(CAST(o_totalprice AS DECIMAL(12,4))) AS _rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, c_custkey)
      |SELECT n_name, c_custkey, CAST(_rev AS DOUBLE) AS revenue, rnk FROM (
      |  SELECT n_name, c_custkey, _rev,
      |         CAST(dense_rank() OVER (PARTITION BY n_name ORDER BY _rev DESC) AS INTEGER) AS rnk
      |  FROM rev)
      |WHERE rnk <= 3
      |ORDER BY n_name, rnk, c_custkey""".stripMargin

  /** ntile(4) within nation (total order via the custkey tiebreak — ntile
    * is order-sensitive on ties, so the tiebreak is what makes the bucket
    * assignment engine-independent), re-aggregated to (nation, quartile)
    * revenue stats. Same bounded-partition scale shape as customerRank.
    */
  def customerQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_custkey"))
      .agg(sum(col("o_totalprice").cast(D124)).as("_rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n_name").orderBy(col("_rev").desc, col("c_custkey"))
    rev.withColumn("quartile", ntile(4).over(w))
      .groupBy("n_name", "quartile")
      .agg(count(lit(1)).as("customers"),
        sum(col("_rev")).cast("double").as("revenue_sum"))
      .orderBy("n_name", "quartile")
  }

  val customerQuartilesSql: String =
    """WITH rev AS (
      |  SELECT n_name, c_custkey, sum(CAST(o_totalprice AS DECIMAL(12,4))) AS _rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, c_custkey),
      |q AS (
      |  SELECT n_name, _rev,
      |         CAST(ntile(4) OVER (PARTITION BY n_name ORDER BY _rev DESC, c_custkey) AS INTEGER) AS quartile
      |  FROM rev)
      |SELECT n_name, quartile, count(*) AS customers,
      |       CAST(sum(_rev) AS DOUBLE) AS revenue_sum
      |FROM q GROUP BY n_name, quartile ORDER BY n_name, quartile""".stripMargin

  // ---- small_quantity_revenue: correlated-aggregate decorrelation ------
  /** TPC-H Q17 shape — revenue from small-quantity orders of one brand's
    * parts, where "small" is relative to EACH part's own average ordered
    * quantity (the correlated scalar-aggregate subquery, decorrelated the
    * way an optimizer would: per-key aggregate + co-partitioned join back).
    * The brand filter broadcasts into the lineitem scan FIRST, so the
    * per-part average aggregates only the brand's lines (identical set —
    * the subquery correlates on partkey and partkeys are brand-disjoint).
    *
    * Determinism: quantities are integral, so `qty < 0.2 · avg` is
    * evaluated as the integer predicate `5 · qty · n < Σqty` — no double
    * threshold, no rounding boundary; the revenue sum stays exact DECIMAL
    * to the output cast, and `/ 7.0` is one IEEE division.
    *
    * Scale: one broadcast join (brand parts), one partkey-keyed partial
    * aggregate, one partkey-keyed join — the agg and the join-back share
    * the partkey partitioning (ReusedExchange at scale); no correlated
    * per-row subquery execution exists anywhere.
    */
  def smallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    val brandParts = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#4").select(col("p_partkey"))
    val lines = Tables.lineitem(spark, dir)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        col("l_extendedprice").cast(Money).as("price"))
      .localCheckpoint(eager = false)
    val thresholds = lines.groupBy("l_partkey")
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n_lines"))
    lines.join(thresholds, "l_partkey")
      .filter(col("qty") * lit(5L) * col("n_lines") < col("sum_qty"))
      .agg((sum(col("price")).cast("double") / lit(7.0)).as("avg_yearly"))
  }

  val smallQuantityRevenueSql: String =
    """WITH lines AS (
      |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
      |         CAST(l_extendedprice AS DECIMAL(10,2)) AS price
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#4'),
      |th AS (
      |  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty,
      |         count(*) AS n_lines
      |  FROM lines GROUP BY l_partkey)
      |SELECT CAST(sum(price) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lines JOIN th USING (l_partkey)
      |WHERE qty * 5 * n_lines < sum_qty""".stripMargin

  // ---- data_quality_report: declarative constraint audit ---------------
  /** Deequ-style expectations over the star schema in one pass per table:
    * range checks, positivity, key uniqueness, and referential integrity
    * (orphan foreign keys via anti-join counts). Each check emits
    * (check_name, violations, pass) — the report a pipeline gates a
    * publish on.
    *
    * Scale: the column checks fold into per-table single-row aggregates
    * (one scan each); the referential checks are anti joins keyed on the
    * FK — broadcast when the PK side is dimension-sized, shuffle
    * otherwise; uniqueness is count − count(distinct) on the key. All
    * outputs are integer-exact.
    */
  def dataQualityReport(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    def report(name: String, violations: Column) =
      (n: DataFrame) => n.agg(violations.cast("long").as("violations"))
        .select(lit(name).as("check_name"), col("violations"),
          (col("violations") === 0L).as("pass"))
    val qtyRange = report("lineitem_quantity_in_1_50",
      sum(when(col("l_quantity") < 1.0 || col("l_quantity") > 50.0, 1L).otherwise(0L)))(li)
    val pricePos = report("lineitem_extendedprice_positive",
      sum(when(col("l_extendedprice") <= 0.0 || col("l_extendedprice").isNull, 1L)
        .otherwise(0L)))(li)
    val custUnique = report("customer_custkey_unique",
      count(lit(1)) - countDistinct(col("c_custkey")))(cust)
    val orphanOrders = ord
      .join(cust, col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("orders_custkey_in_customer").as("check_name"),
        col("violations"), (col("violations") === 0L).as("pass"))
    val orphanLines = li
      .join(ord, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("lineitem_orderkey_in_orders").as("check_name"),
        col("violations"), (col("violations") === 0L).as("pass"))
    qtyRange.unionByName(pricePos).unionByName(custUnique)
      .unionByName(orphanOrders).unionByName(orphanLines)
      .orderBy("check_name")
  }

  val dataQualityReportSql: String =
    """WITH checks AS (
      |  SELECT 'lineitem_quantity_in_1_50' AS check_name,
      |         CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS violations
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem_extendedprice_positive',
      |         CAST(sum(CASE WHEN l_extendedprice <= 0 OR l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'customer_custkey_unique',
      |         CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
      |  FROM customer
      |  UNION ALL
      |  SELECT 'orders_custkey_in_customer',
      |         CAST(count(*) AS BIGINT)
      |  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
      |  UNION ALL
      |  SELECT 'lineitem_orderkey_in_orders',
      |         CAST(count(*) AS BIGINT)
      |  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
      |SELECT check_name, violations, violations = 0 AS pass
      |FROM checks ORDER BY check_name""".stripMargin

  // ---- event_transitions: lead() path analysis -------------------------
  /** Top event-type transitions (behavioral bigrams): each user's events
    * in time order, paired with the NEXT event via `lead` — the path /
    * Markov-transition analysis a product warehouse runs on clickstreams,
    * and the `lead` coverage twin of the session queries' `lag`. The
    * (ts, event_id) ordering key makes lead deterministic under
    * same-timestamp ties.
    *
    * Scale: one shuffle on user_id for the window (bounded per-user
    * partitions), then a 25-key hash aggregate; top-k by count via
    * TakeOrderedAndProject.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type"), col("next_type"))
      .limit(10)
  }

  val eventTransitionsSql: String =
    """SELECT event_type, next_type, count(*) AS n FROM (
      |  SELECT event_type,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events)
      |WHERE next_type IS NOT NULL
      |GROUP BY event_type, next_type
      |ORDER BY n DESC, event_type, next_type LIMIT 10""".stripMargin

  // ---- scd2_intervals: slowly-changing-dimension (type 2) build --------
  /** Per-user SCD Type-2 state history from the event stream: collapse
    * consecutive same-state events into validity intervals
    * [valid_from, valid_to) with a NULL open end for the current state —
    * the gaps-and-islands build that turns an event log into a
    * versioned dimension table, and the WRITE-side twin of the as-of
    * join (`ticks_asof_bars` probes exactly such interval tables).
    * `version` is the island ordinal per user; `n_events` counts the
    * collapsed run, the change-suppression a naive one-row-per-event
    * SCD would miss.
    *
    * Determinism: the (ts, event_id) ordering key (the
    * [[eventTransitions]] rule) makes lag/running-sum island ids unique
    * under same-timestamp ties; within an island the state is constant,
    * so min(event_type) is exact, not a tie-break.
    *
    * Scale (100 TB): ONE shuffle on user_id serves the change flag, the
    * island running sum, the island aggregate AND the valid_to lead —
    * user_id is a prefix of every window/group key, so Catalyst reuses
    * the exchange; per-user partitions are bounded by user activity and
    * no stage orders anything globally (the presentation sort is the
    * one range exchange every entry pays).
    */
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame =
    scd2IntervalsOn(Tables.events(spark, dir))

  private[graft] def scd2IntervalsOn(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wi = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("island"))
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull
          || lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("chg")).over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("event_type")).as("state"),
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("island").as("version"), col("state"),
        col("valid_from"),
        lead(col("valid_from"), 1).over(wi).as("valid_to"),
        col("n_events"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy("user_id", "version")
  }

  val scd2IntervalsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         CASE WHEN lag(event_type) OVER w IS NULL
      |                OR lag(event_type) OVER w <> event_type
      |              THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |i AS (
      |  SELECT user_id, ts, event_type,
      |         sum(chg) OVER (PARTITION BY user_id
      |                        ORDER BY ts, event_id) AS island
      |  FROM e),
      |g AS (
      |  SELECT user_id, CAST(island AS BIGINT) AS version,
      |         min(event_type) AS state, min(ts) AS valid_from,
      |         CAST(count(*) AS BIGINT) AS n_events
      |  FROM i GROUP BY 1, 2)
      |SELECT user_id, version, state, valid_from,
      |       lead(valid_from) OVER (PARTITION BY user_id
      |                              ORDER BY version) AS valid_to,
      |       n_events,
      |       lead(valid_from) OVER (PARTITION BY user_id
      |                              ORDER BY version) IS NULL AS is_current
      |FROM g
      |ORDER BY user_id, version""".stripMargin

  // ---- scd2_lookup: point-in-time dimension enrichment ------------------
  /** The READ side of the SCD Type-2 pair: enrich every purchase event
    * with the dimension version valid AT ITS TIMESTAMP — the
    * point-in-time lookup every versioned warehouse dimension exists to
    * serve. The dimension here is the user's non-purchase activity state
    * ([[scd2IntervalsOn]] over `event_type <> 'purchase'`), so a
    * purchase is attributed to whatever the user was last doing —
    * LEFT semantics keep purchases that precede any dimension event
    * (NULL version/state), the backfilling regime reported honestly.
    *
    * Plan shape: because SCD2 intervals TILE per-user time (each
    * `valid_to` equals the next `valid_from`), "the interval containing
    * ts" is exactly "the latest `valid_from` <= ts" — an AS-OF join, not
    * a range join. The entry routes through the native
    * [[graft.plans.AsofJoin]] streaming-merge operator (O(|facts| +
    * |intervals|) per user partition, O(1) state), where the naive
    * range-predicate join Spark would otherwise plan is a
    * BroadcastNestedLoopJoin that re-scans the dimension per fact.
    * Zero-width intervals ([valid_from, valid_from) from same-timestamp
    * state flips) are filtered first — they contain no timestamp, and
    * dropping them restores strict `valid_from` monotonicity per user so
    * the as-of pick is unique (spec law; the oracle's range predicate
    * excludes them by construction).
    *
    * Scale (100 TB): both sides hash-cluster on user_id (the facts side
    * reuses no exchange only because the dimension build's window
    * already produced one — EnsureRequirements inserts the single facts
    * exchange), the merge is single-pass per co-partition, and nothing
    * is corpus-global but the presentation sort.
    */
  def scd2Lookup(spark: SparkSession, dir: String): DataFrame =
    scd2LookupOn(Tables.events(spark, dir))

  private[graft] def scd2LookupOn(events: DataFrame): DataFrame = {
    val dim = scd2IntervalsOn(events.filter(col("event_type") =!= "purchase"))
      .filter(col("valid_to").isNull || col("valid_from") < col("valid_to"))
      .select(col("user_id"), col("valid_from"), col("version"), col("state"))
    val facts = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    graft.plans.AsofJoin.asofJoin(facts, dim, "user_id", "ts", "valid_from")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        col("version"), col("state"))
      .orderBy("user_id", "ts", "event_id")
  }

  val scd2LookupSql: String =
    """WITH d AS (
      |  SELECT * FROM events WHERE event_type <> 'purchase'),
      |e AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         CASE WHEN lag(event_type) OVER w IS NULL
      |                OR lag(event_type) OVER w <> event_type
      |              THEN 1 ELSE 0 END AS chg
      |  FROM d
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |i AS (
      |  SELECT user_id, ts, event_type,
      |         sum(chg) OVER (PARTITION BY user_id
      |                        ORDER BY ts, event_id) AS island
      |  FROM e),
      |g AS (
      |  SELECT user_id, CAST(island AS BIGINT) AS version,
      |         min(event_type) AS state, min(ts) AS valid_from
      |  FROM i GROUP BY 1, 2),
      |iv AS (
      |  SELECT user_id, version, state, valid_from,
      |         lead(valid_from) OVER (PARTITION BY user_id
      |                                ORDER BY version) AS valid_to
      |  FROM g),
      |ivn AS (
      |  SELECT * FROM iv WHERE valid_to IS NULL OR valid_from < valid_to),
      |f AS (
      |  SELECT user_id, event_id, ts, value FROM events
      |  WHERE event_type = 'purchase')
      |SELECT f.user_id, f.event_id, f.ts, f.value, iv.version, iv.state
      |FROM f LEFT JOIN ivn iv
      |  ON f.user_id = iv.user_id AND iv.valid_from <= f.ts
      | AND (iv.valid_to IS NULL OR f.ts < iv.valid_to)
      |ORDER BY f.user_id, f.ts, f.event_id""".stripMargin

  // ---- scd2_lookup_served: point-in-time read off the MAINTAINED store --
  /** [[scd2Lookup]] served from the [[graft.streaming.Scd2Ingest]]-
    * maintained dimension store instead of rebuilding the interval
    * dimension in-plan per run — the serving-economics precedent
    * (`knn_served` vs `knn_ivf_trained`) applied to the warehouse tier,
    * the r12 review's #2 ask. Build (once per corpus key): the
    * non-purchase event stream is replayed through
    * `Scd2Ingest.processBatch` as calendar-month micro-batches — a
    * GLOBAL time split, so each user's events arrive in time order and
    * the ingest tier's watermark contract holds by construction — then
    * compacted to one generation. Serve: purchases as-of join the
    * store's `current` view through the native [[graft.plans.AsofJoin]],
    * the in-plan entry's own read shape.
    *
    * Bit-exactness: `Scd2IngestSpec`'s law (streamed store ≡ batch
    * rebuild after any batch prefix, bit-for-bit) makes the served
    * dimension EQUAL [[scd2IntervalsOn]]'s output, so this entry shares
    * `scd2_lookup`'s oracle verbatim; `Scd2ServedSpec` additionally pins
    * frame equality with the in-plan entry and the one-events-scan plan
    * law (the dim side reads the store, never the raw events).
    *
    * Scale (100 TB): the in-plan entry re-windows the FULL event history
    * every run; served, the dimension costs |interval rows| (state
    * changes only — orders of magnitude below events) and maintenance is
    * `Scd2Ingest`'s O(touched users) per batch. The facts side still
    * scans only purchases.
    */
  def scd2LookupServed(spark: SparkSession, dir: String): DataFrame =
    scd2LookupServedFrames(spark,
      graft.sources.StoreCatalog.key(spark, dir), Tables.events(spark, dir))

  private def scd2Store(root: String) =
    graft.streaming.Scd2Ingest.Scd2Store(root + "/intervals")

  /** Build-once resolution of the ingest-maintained dimension store for
    * the corpus `key` names.
    */
  private[graft] def scd2LookupServedFrames(spark: SparkSession, key: String,
      events: => DataFrame): DataFrame = {
    val ev = events
    val store = scd2Store(
      graft.sources.StoreCatalog.ensureBuilt(spark, "graft_scd2_store", key) { root =>
        val s = scd2Store(root)
        val dimEvents = ev.filter(col("event_type") =!= "purchase")
        // calendar months are a deterministic, ts-monotone batch split:
        // later batches never deliver earlier events for any user
        val months = dimEvents
          .select(date_trunc("month", col("ts")).as("m"))
          .distinct().orderBy("m").collect().map(_.get(0))
        months.zipWithIndex.foreach { case (m, i) =>
          graft.streaming.Scd2Ingest.processBatch(
            dimEvents.filter(date_trunc("month", col("ts")) === lit(m)),
            i.toLong, s)
        }
        // zero non-purchase events ⇒ zero batches ⇒ no store files: land
        // one EMPTY batch so the serve read sees an empty dimension (the
        // correct all-NULL enrichment) instead of a missing-path error
        if (months.isEmpty)
          graft.streaming.Scd2Ingest.processBatch(dimEvents, 0L, s)
        graft.streaming.Scd2Ingest.compact(spark, s)
      })
    val dim = graft.streaming.Scd2Ingest.current(spark, store)
      .filter(col("valid_to").isNull || col("valid_from") < col("valid_to"))
      .select(col("user_id"), col("valid_from"), col("version"), col("state"))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    graft.plans.AsofJoin.asofJoin(facts, dim, "user_id", "ts", "valid_from")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        col("version"), col("state"))
      .orderBy("user_id", "ts", "event_id")
  }

  // ---- scd2_lookup_live: base store + in-flight delta, composed at read -
  /** [[scd2LookupServed]] with FRESHNESS — the r13 review's #4 ask: the
    * vector and lexical serving tiers both compose a live delta over
    * their base stores (`knnServedLive` / `hybridRrfLive`), but the
    * warehouse tier's served entry read a landed store only, so an
    * in-flight month of dimension changes was invisible until ingest.
    * Here the base store holds every calendar month EXCEPT the last;
    * the last month rides [[graft.streaming.Scd2Ingest.liveCurrent]] as
    * the in-flight delta — merged at READ time through the ingest
    * tier's own `mergedRows` (one definition, so composed-at-read ≡
    * landed is structural), never written.
    *
    * Dispatch: when the dimension's whole history is at most ONE
    * calendar month (the registry corpora), the landed base would be
    * empty and the compose a strict superset of the rebuild's work, so
    * the entry runs the in-plan rebuild ([[scd2LookupOn]]) and touches no
    * store. Only a multi-month history takes the compose
    * ([[scd2LookupLiveCompose]]). Both arms are law-pinned to the same
    * rows (`Scd2LiveSpec`), so the dispatch changes cost, never output.
    *
    * Bit-exactness: `Scd2LiveSpec` pins liveCurrent(prefix store,
    * remainder delta) ≡ the batch rebuild over all events for EVERY
    * prefix split, so this entry equals [[scd2Lookup]] frame-for-frame
    * and shares its oracle verbatim.
    *
    * Scale (100 TB): the read-time composition costs the delta's merge
    * — O(users touched this month), the ingest bound — on top of the
    * store read; the base store is never rewritten. The facts side is
    * unchanged (purchases only).
    */
  def scd2LookupLive(spark: SparkSession, dir: String): DataFrame =
    scd2LookupLiveFrames(spark,
      graft.sources.StoreCatalog.key(spark, dir) + "_livebase", Tables.events(spark, dir))

  private[graft] def scd2LookupLiveFrames(spark: SparkSession, key: String,
      events: => DataFrame): DataFrame = {
    val ev = events
    val dimEvents = ev.filter(col("event_type") =!= "purchase")
    // the deterministic month split: all but the last month are LANDED
    // (the base store); the last month is the in-flight delta (bounded
    // calendar-month collect, as in the served build)
    val months = dimEvents
      .select(date_trunc("month", col("ts")).as("m"))
      .distinct().orderBy("m").collect().map(_.get(0))
    if (months.length <= 1)
      // Dispatch (r19, the `LocalFoldMaxBatchFraction` precedent on this
      // tier): when the dimension's WHOLE history is the in-flight month
      // — the registry corpora, whose dim events all land in one
      // calendar month — the landed base is EMPTY and the compose is a
      // strict superset of the rebuild's work (`mergedRows` runs
      // [[scd2IntervalsOn]] over carry ∪ delta, i.e. the full interval
      // derivation, PLUS two store probes, merge-on-read resolution and
      // a presentation sort). Structural, not a tuned constant; measured
      // 2.64 s compose vs 1.14 s rebuild at sf0.1/local[32] (min-of-3),
      // and rebuild also won the multi-month ScaleProbe `scd2_live_xover`
      // arms at probe scale (OPTIMIZATION_r19.md). Both spellings are
      // law-pinned to the same truth (`Scd2LiveSpec`), so dispatch
      // changes cost, never rows.
      scd2LookupOn(ev)
    else
      // a landed multi-month base exists: serve the freshness
      // composition off the maintained store (the r13 serving ask)
      scd2LookupLiveCompose(spark, key, ev, dimEvents, months)
  }

  /** The base-store + in-flight-delta COMPOSE spelling — the seam the
    * steady-state probe arm and the law tests exercise regardless of
    * [[LiveDeltaMaxMonthFraction]]'s verdict on a given corpus.
    */
  private[graft] def scd2LookupLiveCompose(spark: SparkSession, key: String,
      ev: DataFrame, dimEvents: DataFrame,
      months: Array[Any]): DataFrame = {
    val baseMonths = months.dropRight(1)
    val store = scd2Store(
      graft.sources.StoreCatalog.ensureBuilt(spark, "graft_scd2_store", key) { root =>
        val s = scd2Store(root)
        baseMonths.zipWithIndex.foreach { case (m, i) =>
          graft.streaming.Scd2Ingest.processBatch(
            dimEvents.filter(date_trunc("month", col("ts")) === lit(m)),
            i.toLong, s)
        }
        // an empty base (≤1 month of history) still needs a store root:
        // land one empty batch so reads see an empty dimension
        if (baseMonths.isEmpty)
          graft.streaming.Scd2Ingest.processBatch(
            dimEvents.filter(lit(false)), 0L, s)
        graft.streaming.Scd2Ingest.compact(spark, s)
      })
    val deltaId = math.max(baseMonths.length.toLong, 1L)
    val delta =
      if (months.isEmpty) dimEvents
      else dimEvents.filter(date_trunc("month", col("ts")) === lit(months.last))
    val dim = graft.streaming.Scd2Ingest.liveCurrent(spark, store, delta, deltaId)
      .filter(col("valid_to").isNull || col("valid_from") < col("valid_to"))
      .select(col("user_id"), col("valid_from"), col("version"), col("state"))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    graft.plans.AsofJoin.asofJoin(facts, dim, "user_id", "ts", "valid_from")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        col("version"), col("state"))
      .orderBy("user_id", "ts", "event_id")
  }

  // ---- event_cube: full grouping-sets lattice ---------------------------
  /** CUBE over (event_type, weekday) — the grouping-sets completion of
    * event_rollup's ROLLUP: all four lattice levels (both, each, grand
    * total) from ONE Expand + hash aggregate, the shape GROUPING SETS
    * always compiles to. The weekday dimension keeps subtotal cardinality
    * bounded (≤ 6·8 rows) at any corpus size.
    */
  def eventCube(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), dayofweek(col("ts")).as("weekday"),
        col("value").cast(D124).as("v"))
      .cube(col("event_type"), col("weekday"))
      .agg(count(lit(1)).as("events"), sum(col("v")).cast("double").as("value_sum"))
      .orderBy(col("event_type").asc_nulls_first, col("weekday").asc_nulls_first)

  val eventCubeSql: String =
    """SELECT event_type,
      |       CAST(dayofweek(ts) + 1 AS INTEGER) AS weekday,
      |       count(*) AS events,
      |       CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS value_sum
      |FROM events
      |GROUP BY CUBE(event_type, weekday)
      |ORDER BY event_type ASC NULLS FIRST, weekday ASC NULLS FIRST""".stripMargin

  // ---- lone late suppliers (TPC-H Q21 shape) ---------------------------
  /** The Q21 decorrelation: suppliers who were the ONLY late shipper on a
    * multi-supplier order — the classic EXISTS + NOT-EXISTS pair against
    * the same fact table with different predicates. Lateness here is
    * `l_shipdate > o_orderdate + 60 days` (this lineitem carries no
    * commit/receipt dates — the predicate adapts, the shape doesn't).
    *
    * Scale: both subqueries decorrelate into per-ORDER aggregates (the
    * count-based Q21 rewrite — see the inline note): no correlated
    * per-row subquery, no pair-set self-joins; the only corpus-sized
    * shuffles are the orderkey exchanges under two map-side-partial
    * aggregates, which the equi-join then reuses co-partitioned.
    */
  def loneLateSuppliers(spark: SparkSession, dir: String): DataFrame = {
    // r19: the EXISTS/NOT-EXISTS pair decorrelates further, into per-order
    // AGGREGATES instead of semi/anti self-joins of the pair sets (the
    // count-based Q21 rewrite): "no OTHER late supplier" on a late pair
    // (o,s) ⟺ o has exactly ONE distinct late suppkey ⟺ min = max of its
    // late suppkeys (and s IS that min); "EXISTS another supplier" ⟺ o has
    // ≥ 2 distinct suppkeys over all its lineitems ⟺ min ≠ max. min/max
    // aggregate in one phase each — no DISTINCT expansion, no pair-set
    // materialization, no self-joins: two orderkey aggregates (partial
    // map-side, so the shuffles carry ~one row per order per task) joined
    // co-partitioned on orderkey. At 100 TB that replaces the two
    // lineitem-pair shuffles + semi/anti joins with order-count-sized
    // exchanges the planner reuses across the join.
    val lateLone = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_suppkey")).as("suppkey"), max(col("l_suppkey")).as("mx"))
      .filter(col("suppkey") === col("mx"))
    val multiSupp = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_suppkey")).as("mn_all"), max(col("l_suppkey")).as("mx_all"))
      .filter(col("mn_all") =!= col("mx_all"))
    lateLone.join(multiSupp, Seq("l_orderkey"))
      .groupBy(col("suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, dir)), col("suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(10)
  }

  val loneLateSuppliersSql: String =
    """WITH late AS (
      |  SELECT DISTINCT l_orderkey, l_suppkey
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY),
      |ap AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
      |SELECT s_name, numwait FROM (
      |  SELECT l1.l_suppkey, count(*) AS numwait
      |  FROM late l1
      |  WHERE EXISTS (SELECT 1 FROM ap o
      |                WHERE o.l_orderkey = l1.l_orderkey AND o.l_suppkey <> l1.l_suppkey)
      |    AND NOT EXISTS (SELECT 1 FROM late l3
      |                    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
      |  GROUP BY l1.l_suppkey) w
      |JOIN supplier ON l_suppkey = s_suppkey
      |ORDER BY numwait DESC, s_name ASC LIMIT 10""".stripMargin

  // ---- market share (TPC-H Q8 shape) -----------------------------------
  /** National market share per order year: among revenue billed to
    * ASIA-region customers, the fraction supplied by NATION_0 suppliers —
    * conditional aggregation producing a ratio of two sums in one pass
    * (the Q8 shape). Sums are exact DECIMAL; the single share division is
    * the one double expression, performed identically on both engines
    * after exact decimal→double casts.
    *
    * Scale: dimensions (customer/supplier/nation/region) broadcast; the
    * lineitem×orders join shuffles on orderkey; one hash aggregate on
    * year. No second pass — numerator and denominator share the scan.
    */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val custNation = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("c_custkey"))
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val rev = col("l_extendedprice").cast(Money) *
      (lit(1).cast(Rate) - col("l_discount").cast(Rate))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custNation), col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_0", rev)
          .otherwise(lit(0).cast(Money))).as("_n"),
        sum(rev).as("_d"))
      .select(col("o_year"),
        (col("_n").cast("double") / col("_d").cast("double")).as("mkt_share"),
        col("_d").cast("double").as("total_revenue"))
      .orderBy("o_year")
  }

  val marketShareSql: String =
    """WITH asia_cust AS (
      |  SELECT c_custkey FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'),
      |sn AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
      |       JOIN nation ON s_nationkey = n_nationkey)
      |SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |       CAST(sum(CASE WHEN supp_nation = 'NATION_0'
      |                     THEN CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
      |                     ELSE CAST(0 AS DECIMAL(10,2)) END) AS DOUBLE)
      |       / CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS mkt_share,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS total_revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN sn ON l_suppkey = s_suppkey
      |WHERE o_custkey IN (SELECT c_custkey FROM asia_cust)
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  // ---- top supplier (TPC-H Q15 shape) ----------------------------------
  /** The Q15 revenue-view argmax: per-supplier revenue over one quarter,
    * keeping every supplier that ties the maximum — the classic
    * view + `WHERE total = (SELECT max(total) FROM view)` scalar
    * subquery, decorrelated into one broadcast join against a 1-row
    * max. Revenue sums are exact DECIMAL, so "ties the maximum" is an
    * exact equality in both engines — the reason Q15's HAVING-max shape
    * is safe here at all (an IEEE sum could differ in the last ulp and
    * drop a tying supplier on one engine only).
    *
    * Scale: one filtered scan → supplier-keyed partial-agg sum; the max
    * is a 1-row broadcast; the supplier dim broadcasts. The quarter
    * filter reaches the parquet scan as a pushed predicate.
    */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice").cast(Money) *
      (lit(1).cast(Rate) - col("l_discount").cast(Rate))
    val bySupp = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(rev).as("_rev"))
      .localCheckpoint(eager = false)
    val mx = bySupp.agg(max(col("_rev")).as("_mx"))
    bySupp.join(broadcast(mx), col("_rev") === col("_mx"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("_rev").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  val topSupplierSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         sum(CAST(l_extendedprice AS DECIMAL(10,2))
      |             * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS total
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total AS DOUBLE) AS total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total = (SELECT max(total) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  // ---- sales opportunity (TPC-H Q22 shape) -----------------------------
  /** The Q22 shape: well-funded customers gone QUIET — above-average
    * positive balance and no order since 2001 — grouped by nation: a
    * global scalar subquery (average positive account balance) gating
    * an anti join against recent orders. (TPC-H's "never ordered"
    * predicate is empty on this corpus — every customer has orders —
    * so the anti side is the recent-order set; the shape under test,
    * scalar-subquery threshold + decorrelated NOT EXISTS, is
    * unchanged.) The threshold
    * comparison is multiplied through (`c_acctbal · n > Σ acctbal`
    * instead of `c_acctbal > Σ/n`) so it is an EXACT decimal×integer
    * predicate: Spark's decimal AVG and DuckDB's (double) AVG round
    * differently, and a boundary customer would flip membership — the
    * same multiply-through trick embedding_pca uses for its mean.
    *
    * Scale: the threshold is a 1-row broadcast off a customer-table
    * aggregate; the anti join shuffles on custkey against distinct
    * order custkeys; nation broadcasts. No correlated subquery runs.
    */
  def salesOpportunity(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal").cast(Money).as("bal"))
    val pos = cust.filter(col("bal") > lit(0).cast(Money))
      .agg(sum(col("bal")).as("_s"), count(lit(1)).as("_n"))
    cust
      .crossJoin(broadcast(pos))
      .filter(col("bal") * col("_n") > col("_s"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
          .select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("bal")).cast("double").as("totacctbal"))
      .orderBy("n_name")
  }

  val salesOpportunitySql: String =
    """WITH pos AS (
      |  SELECT sum(CAST(c_acctbal AS DECIMAL(10,2))) AS s, count(*) AS n
      |  FROM customer WHERE CAST(c_acctbal AS DECIMAL(10,2)) > 0)
      |SELECT n_name,
      |       count(*) AS numcust,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(10,2))) AS DOUBLE) AS totacctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE CAST(c_acctbal AS DECIMAL(10,2)) * (SELECT n FROM pos) > (SELECT s FROM pos)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---- min-cost supplier (TPC-H Q2 shape) ------------------------------
  /** The Q2 correlated-min: for each size-25 part, the EUROPE-region
    * supplier(s) whose shipment achieved the minimum effective cost —
    * `cost = (SELECT min(cost) … WHERE partkey = p_partkey)` as a
    * correlated scalar subquery, decorrelated into a per-part min
    * aggregate joined back on (partkey, cost). Cost is the exact
    * DECIMAL `extendedprice·(1−discount)`, so min-ties survive the
    * equality join identically in both engines (IEEE mins could differ
    * in the last ulp and return different tying suppliers per engine).
    *
    * Scale: the region-filtered cost frame is computed ONCE (lazy
    * checkpoint) and feeds both the min aggregate and the join-back —
    * the correlated subquery never re-executes per outer row, which is
    * the entire point of the decorrelation. Part/supplier dims
    * broadcast; the join-back is a partkey-equi shuffle join with the
    * exact-decimal cost as a residual equality.
    */
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val euCost = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)
          .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "EUROPE")
          .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), col("s_name"),
        (col("l_extendedprice").cast(Money) *
          (lit(1).cast(Rate) - col("l_discount").cast(Rate))).as("cost"))
      .localCheckpoint(eager = false)
    val minCost = euCost.groupBy(col("l_partkey").as("_pk"))
      .agg(min(col("cost")).as("_mc"))
    euCost
      .join(minCost, col("l_partkey") === col("_pk") && col("cost") === col("_mc"))
      .join(broadcast(Tables.part(spark, dir).filter(col("p_size") === 25)),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"),
        col("cost").cast("double").as("min_cost"))
      .distinct()
      .orderBy("p_partkey", "s_name")
  }

  val minCostSupplierSql: String =
    """WITH eu AS (
      |  SELECT l_partkey, s_name,
      |         CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS cost
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE')
      |SELECT DISTINCT p_partkey, p_name, s_name, CAST(cost AS DOUBLE) AS min_cost
      |FROM part JOIN eu ON p_partkey = l_partkey
      |WHERE p_size = 25
      |  AND cost = (SELECT min(cost) FROM eu e2 WHERE e2.l_partkey = p_partkey)
      |ORDER BY p_partkey, s_name""".stripMargin

  // ---- volume shipping (TPC-H Q7 shape) --------------------------------
  /** Bilateral trade: revenue shipped between NATION_1 and NATION_2 in
    * either direction, per ship year — the Q7 shape: the fact table
    * joined out to TWO different nation roles (supplier's and
    * customer's) with a symmetric pair predicate, grouped by the
    * (supp_nation, cust_nation, year) triple.
    *
    * Scale: both nation-role maps are supplier/customer-dim broadcasts
    * pre-filtered to the two nations, so the pair predicate prunes at
    * the broadcast probe — lineitem rows for the other 23 supplier
    * nations never survive the first join. One orderkey shuffle joins
    * facts to orders; the final aggregate has 2·years groups.
    */
  def volumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_1", "NATION_2")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name").isin(pair: _*))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name").isin(pair: _*))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val rev = col("l_extendedprice").cast(Money) *
      (lit(1).cast(Rate) - col("l_discount").cast(Rate))
    Tables.lineitem(spark, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(rev).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val volumeShippingSql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |       CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  // ---- important parts (TPC-H Q11 shape) -------------------------------
  /** Parts whose ASIA-supplied revenue exceeds 0.1% of the ASIA total —
    * the Q11 shape: a grouped aggregate HAVING-filtered against a
    * scalar subquery over the SAME aggregate. The threshold compare is
    * multiplied through (`val·1000 > total`) so it stays an exact
    * DECIMAL predicate — a boundary part would flip membership if each
    * engine divided in its own rounding.
    *
    * Scale: the per-part value frame is computed once (lazy
    * checkpoint); the global total re-aggregates the per-part frame (a
    * few-thousand-row second pass, not a second fact scan) into a
    * 1-row broadcast anchor.
    */
  def importantParts(spark: SparkSession, dir: String): DataFrame = {
    val byPart = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)
          .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "ASIA")
          .select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast(Money) *
        (lit(1).cast(Rate) - col("l_discount").cast(Rate))).as("_v"))
      .localCheckpoint(eager = false)
    val total = byPart.agg(sum(col("_v")).as("_t"))
    byPart.crossJoin(broadcast(total))
      .filter(col("_v") * lit(1000) > col("_t"))
      .select(col("l_partkey").as("p_partkey"),
        col("_v").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("p_partkey").asc)
  }

  val importantPartsSql: String =
    """WITH v AS (
      |  SELECT l_partkey,
      |         sum(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS val
      |  FROM lineitem
      |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
      |                      JOIN nation ON s_nationkey = n_nationkey
      |                      JOIN region ON n_regionkey = r_regionkey
      |                      WHERE r_name = 'ASIA')
      |  GROUP BY l_partkey)
      |SELECT l_partkey AS p_partkey, CAST(val AS DOUBLE) AS part_value
      |FROM v WHERE val * 1000 > (SELECT sum(val) FROM v)
      |ORDER BY part_value DESC, p_partkey ASC""".stripMargin

  // ---- order count distribution (TPC-H Q13 shape) ----------------------
  /** How many customers placed how many (non-urgent) orders, INCLUDING
    * the zero bucket — the Q13 shape: a left outer join with the filter
    * in the JOIN condition (an outer-side WHERE would silently drop the
    * zero-order customers), then a distribution over the counts.
    * `count(o_orderkey)` counts only matched rows — all-integer
    * arithmetic, exact on any engine.
    *
    * Scale: custkey-shuffle outer join, then a first aggregate keyed by
    * custkey and a second keyed by the count value (tiny domain). The
    * priority filter cannot push into the scan past an outer join — it
    * lives in the join condition by design, and Spark evaluates it
    * build-side before the join.
    */
  def orderCountDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey") && col("o_orderpriority") =!= "1-URGENT",
        "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  val orderCountDistributionSql: String =
    """WITH co AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |SELECT c_count, count(*) AS custdist
      |FROM co GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---- supplier part counts (TPC-H Q16 shape) --------------------------
  /** Distinct supplier counts per (brand, type), excluding one brand and
    * any supplier on credit hold (negative balance) — the Q16 shape: a
    * NOT IN subquery decorrelated into a broadcast LEFT ANTI join, then
    * COUNT(DISTINCT) over the surviving fact rows.
    *
    * Scale: the exclusion set is supplier-dim-sized (broadcast anti);
    * the part dim broadcasts with the brand filter applied build-side;
    * the distinct count shuffles once on (brand, type) with partial
    * distinct aggregation map-side.
    */
  def supplierPartCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).filter(col("p_brand") =!= "Brand#1")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, dir)
          .filter(col("s_acctbal") < 0).select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc, col("p_type").asc)

  val supplierPartCountsSql: String =
    """SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1'
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type
      |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC""".stripMargin

  // ---- dominant suppliers (TPC-H Q20 shape) ----------------------------
  /** AMERICA-region suppliers who dominate a red part: shipped more than
    * 1/8 of some red part's total shipped quantity — the Q20 shape:
    * nested IN subqueries (supplier ∈ {dominant shippers of part ∈ {red
    * parts}}) decorrelated into aggregate + join + LEFT SEMI chain. The
    * share test multiplies through (`qty·8 > total`) on exact DECIMAL
    * quantity sums — no per-engine division rounding at the boundary.
    *
    * Scale: the red-part filter broadcasts into the fact scan
    * (partkey-semi); per-(part,supp) sums shuffle on the pair key; the
    * per-part totals re-aggregate the pair frame (not the fact table)
    * and join back partkey-equi; the final supplier probe is a
    * broadcast semi of a key set bounded by the supplier dim.
    */
  def dominantSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val sp = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_name").like("red%")).select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast(DecimalType(12, 2))).as("_q"))
      .localCheckpoint(eager = false)
    val tot = sp.groupBy(col("l_partkey").as("_pk")).agg(sum(col("_q")).as("_t"))
    val dominant = sp.join(tot, col("l_partkey") === col("_pk"))
      .filter(col("_q") * lit(8) > col("_t"))
      .select(col("l_suppkey"))
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "AMERICA")
      .join(broadcast(dominant), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  val dominantSuppliersSql: String =
    """WITH sp AS (
      |  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty
      |  FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |  GROUP BY l_partkey, l_suppkey),
      |pt AS (SELECT l_partkey, sum(qty) AS tot FROM sp GROUP BY l_partkey)
      |SELECT s_suppkey, s_name FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'AMERICA'
      |  AND s_suppkey IN (SELECT l_suppkey FROM sp JOIN pt USING (l_partkey)
      |                    WHERE qty * 8 > tot)
      |ORDER BY s_suppkey""".stripMargin

  // ---- table_checksum: order-insensitive reconciliation digest ---------
  /** Replica/migration reconciliation: per-partition row counts plus an
    * order-insensitive XOR of canonical row hashes — two tables claiming
    * the same content must agree on every (group, n_rows, checksum) row,
    * and XOR localizes a mismatch to the partition. XOR (not SUM) is the
    * combine: commutative, associative, and CLOSED over 64-bit values —
    * summed 60-bit hashes overflow int64 at row counts a real table hits,
    * where Spark wraps silently and DuckDB promotes to HUGEINT.
    *
    * Canonical row text casts every double through its exact DECIMAL
    * presentation (fixed scale → identical strings on both engines) and
    * formats timestamps explicitly; the md5-derived 60-bit hash is the
    * cross-engine [[graft.functions.TextFeatures.hash60]].
    *
    * Scale: one scan, map-side partial XOR per group — the cheapest
    * possible full-table integrity pass.
    */
  def tableChecksum(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), hash60(concat_ws("|",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity").cast(Money).cast("string"),
        col("l_extendedprice").cast(Money).cast("string"),
        col("l_discount").cast(Rate).cast("string"),
        col("l_tax").cast(Rate).cast("string"),
        col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss"))).as("h"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("checksum"))
      .orderBy("l_returnflag")

  val tableChecksumSql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |       bit_xor(('0x' || substr(md5(concat_ws('|',
      |         l_orderkey, l_partkey, l_suppkey, l_linenumber,
      |         CAST(l_quantity AS DECIMAL(10,2)), CAST(l_extendedprice AS DECIMAL(10,2)),
      |         CAST(l_discount AS DECIMAL(3,2)), CAST(l_tax AS DECIMAL(3,2)),
      |         l_returnflag, l_linestatus,
      |         strftime(l_shipdate, '%Y-%m-%d %H:%M:%S'))), 1, 15))::BIGINT) AS checksum
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- drift_report: distribution drift between two periods ------------
  /** Data-drift monitor for a training pipeline: bucket l_extendedprice
    * into 10 fixed-width bins, split the table into a baseline period
    * (shipped before 1998-07-01) and a current period, and emit per-bin
    * share deltas — the total-variation term |q−p| and the chi-square
    * term (q−p)²/p (null where the baseline bin is empty). Per-BIN terms,
    * deliberately not their sum: the summed PSI/TVD statistic would fold
    * doubles in engine-dependent order AND drag ln() (1-ulp, not exact)
    * into the hash gate; every per-bin value here is plain IEEE ratio
    * arithmetic in oracle-identical operation order. The caller folds the
    * 10 rows however it likes.
    *
    * Scale: one scan, one 10-key conditional aggregate, totals join a
    * broadcast 1-row anchor (constant build side at any scale).
    */
  def driftReport(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-07-01").cast("timestamp")
    val counts = Tables.lineitem(spark, dir)
      .select(least(floor(col("l_extendedprice") / 11000), lit(9)).cast("int").as("bin"),
        when(col("l_shipdate") < cut, 1L).otherwise(0L).as("is_p"))
      .groupBy(col("bin"))
      .agg(sum(col("is_p")).as("p_cnt"), sum(lit(1L) - col("is_p")).as("q_cnt"))
    val tot = counts.agg(sum(col("p_cnt")).as("p_tot"), sum(col("q_cnt")).as("q_tot"))
    val pShare = col("p_cnt") / col("p_tot")
    val qShare = col("q_cnt") / col("q_tot")
    counts.crossJoin(broadcast(tot))
      .select(col("bin"), col("p_cnt"), col("q_cnt"),
        pShare.as("p_share"), qShare.as("q_share"),
        abs(qShare - pShare).as("tv_term"),
        when(col("p_cnt") > 0, (qShare - pShare) * (qShare - pShare) / pShare)
          .otherwise(lit(null).cast("double")).as("chi_term"))
      .orderBy("bin")
  }

  val driftReportSql: String =
    """WITH b AS (
      |  SELECT CAST(least(floor(l_extendedprice / 11000), 9) AS INTEGER) AS bin,
      |         CASE WHEN l_shipdate < TIMESTAMP '1998-07-01 00:00:00' THEN 1 ELSE 0 END AS is_p
      |  FROM lineitem),
      |c AS (SELECT bin, CAST(sum(is_p) AS BIGINT) AS p_cnt,
      |             CAST(sum(1 - is_p) AS BIGINT) AS q_cnt
      |      FROM b GROUP BY bin),
      |t AS (SELECT CAST(sum(p_cnt) AS BIGINT) AS p_tot, CAST(sum(q_cnt) AS BIGINT) AS q_tot FROM c)
      |SELECT bin, p_cnt, q_cnt,
      |       p_cnt / p_tot AS p_share, q_cnt / q_tot AS q_share,
      |       abs(q_cnt / q_tot - p_cnt / p_tot) AS tv_term,
      |       CASE WHEN p_cnt > 0
      |            THEN (q_cnt / q_tot - p_cnt / p_tot) * (q_cnt / q_tot - p_cnt / p_tot) / (p_cnt / p_tot)
      |       END AS chi_term
      |FROM c CROSS JOIN t ORDER BY bin""".stripMargin

  // ---- promo_revenue (TPC-H Q14 shape): conditional revenue share ------
  /** Promotion revenue share in a one-year ship window: 100 ×
    * promo-typed discounted revenue / total discounted revenue. Exact
    * DECIMAL sums for both terms, ONE double division at the edge (the
    * pricing_summary money contract). Scale: a single scan with the
    * shipdate band pushed to parquet (PushedFilters), the part join
    * broadcast (dimension-sized), two conditional partial-aggregable
    * sums — no shuffle wider than one row.
    */
  def promoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val discPrice = col("l_extendedprice").cast(Money) *
      (lit(1).cast(Rate) - col("l_discount").cast(Rate))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", discPrice)
          .otherwise(lit(0).cast(Money))).as("_promo"),
        sum(discPrice).as("_total"),
        count(lit(1)).as("line_count"))
      .select(
        (lit(100.0) * col("_promo").cast("double") / col("_total").cast("double"))
          .as("promo_pct"),
        col("_promo").cast("double").as("promo_revenue"),
        col("line_count"))
  }

  val promoRevenueSql: String =
    """SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
      |         THEN CAST(l_extendedprice AS DECIMAL(10,2))
      |              * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
      |         ELSE CAST(0 AS DECIMAL(10,2)) END) AS DOUBLE)
      |       / CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))
      |           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
      |       AS promo_pct,
      |       CAST(sum(CASE WHEN p_type = 'PROMO'
      |         THEN CAST(l_extendedprice AS DECIMAL(10,2))
      |              * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
      |         ELSE CAST(0 AS DECIMAL(10,2)) END) AS DOUBLE) AS promo_revenue,
      |       count(*) AS line_count
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin

  // ---- large_volume_customers (TPC-H Q18 shape) -------------------------
  /** Customers whose orders aggregate over 300 units: the group-then-
    * semi-join decorrelation of Q18's HAVING-subquery. Scale: the
    * qualifying-order set is one lineitem aggregate (order-keyed,
    * partial-aggregable) that is far smaller than lineitem, so it
    * BROADCASTS into orders; customer is dimension-sized and broadcasts
    * too — lineitem itself never reshuffles. Top-20 by (totalprice desc,
    * orderkey) through TakeOrderedAndProject.
    */
  def largeVolumeCustomers(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 300L)
    Tables.orders(spark, dir)
      .join(broadcast(bigOrders), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"),
        col("o_totalprice").cast(Money).cast("double").as("totalprice"),
        col("sum_qty"))
      .orderBy(col("totalprice").desc, col("o_orderkey").asc)
      .limit(20)
  }

  val largeVolumeCustomersSql: String =
    """WITH big AS (
      |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |  FROM lineitem GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS BIGINT)) > 300)
      |SELECT c_custkey, c_name, o_orderkey, o_orderdate,
      |       CAST(CAST(o_totalprice AS DECIMAL(10,2)) AS DOUBLE) AS totalprice,
      |       sum_qty
      |FROM orders
      |JOIN big ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin

  // ---- bracket_revenue (TPC-H Q19 shape): OR-of-ANDs bracket predicate --
  /** Discounted revenue under three (brand, size, quantity) brackets —
    * the Q19 disjunctive-predicate shape on this schema's columns. The
    * plan story is the point: Catalyst distributes the OR so the shared
    * conjuncts prune BOTH scan sides before the join (part's size band
    * and lineitem's quantity band reach PushedFilters), and the
    * dimension side broadcasts; a naive engine evaluates the whole
    * disjunction post-join.
    */
  def bracketRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    val pt = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val bracket =
      (col("p_brand") === "Brand#13" && col("p_size").between(1, 20)
        && col("l_quantity").between(1, 15)) ||
      (col("p_brand") === "Brand#22" && col("p_size").between(1, 30)
        && col("l_quantity").between(10, 30)) ||
      (col("p_brand") === "Brand#25" && col("p_size").between(1, 40)
        && col("l_quantity").between(20, 45))
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .filter(bracket)
      .agg(
        sum(col("l_extendedprice").cast(Money)
          * (lit(1).cast(Rate) - col("l_discount").cast(Rate)))
          .cast("double").as("revenue"),
        count(lit(1)).as("line_count"))
  }

  val bracketRevenueSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))
      |         * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
      |         AS revenue,
      |       count(*) AS line_count
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 20
      |       AND l_quantity BETWEEN 1 AND 15)
      |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 30
      |       AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 40
      |       AND l_quantity BETWEEN 20 AND 45)""".stripMargin

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "promo_revenue"     -> (promoRevenue _, promoRevenueSql),
    "large_volume_customers" -> (largeVolumeCustomers _, largeVolumeCustomersSql),
    "bracket_revenue"   -> (bracketRevenue _, bracketRevenueSql),
    "table_checksum"    -> (tableChecksum _, tableChecksumSql),
    "drift_report"      -> (driftReport _, driftReportSql),
    "lone_late_suppliers" -> (loneLateSuppliers _, loneLateSuppliersSql),
    "market_share"      -> (marketShare _, marketShareSql),
    "top_supplier"      -> (topSupplier _, topSupplierSql),
    "sales_opportunity" -> (salesOpportunity _, salesOpportunitySql),
    "min_cost_supplier" -> (minCostSupplier _, minCostSupplierSql),
    "volume_shipping"   -> (volumeShipping _, volumeShippingSql),
    "important_parts"   -> (importantParts _, importantPartsSql),
    "order_count_distribution" -> (orderCountDistribution _, orderCountDistributionSql),
    "supplier_part_counts" -> (supplierPartCounts _, supplierPartCountsSql),
    "dominant_suppliers" -> (dominantSuppliers _, dominantSuppliersSql),
    "user_churn"        -> (userChurn _, userChurnSql),
    "small_quantity_revenue" -> (smallQuantityRevenue _, smallQuantityRevenueSql),
    "data_quality_report" -> (dataQualityReport _, dataQualityReportSql),
    "event_transitions" -> (eventTransitions _, eventTransitionsSql),
    "scd2_intervals" -> (scd2Intervals _, scd2IntervalsSql),
    "scd2_lookup" -> (scd2Lookup _, scd2LookupSql),
    "scd2_lookup_served" -> (scd2LookupServed _, scd2LookupSql),
    "scd2_lookup_live" -> (scd2LookupLive _, scd2LookupSql),
    "event_cube"        -> (eventCube _, eventCubeSql),
    "events_funnel"     -> (eventsFunnel _, eventsFunnelSql),
    "events_retention"  -> (eventsRetention _, eventsRetentionSql),
    "event_pivot"       -> (eventPivot _, eventPivotSql),
    "event_props_agg"   -> (eventPropsAgg _, eventPropsAggSql),
    "customer_rank"     -> (customerRank _, customerRankSql),
    "customer_quartiles" -> (customerQuartiles _, customerQuartilesSql),
    "pricing_summary"   -> (pricingSummary _, pricingSummarySql),
    "shipping_priority" -> (shippingPriority _, shippingPrioritySql),
    "top_customers"     -> (topCustomers _, topCustomersSql),
    "nation_revenue"    -> (nationRevenue _, nationRevenueSql),
    "event_daily"       -> (eventDaily _, eventDailySql),
    "brand_profit"      -> (brandProfit _, brandProfitSql),
    "table_profile"     -> (tableProfile _, tableProfileSql),
    "table_profile_approx" -> (tableProfileApprox _, tableProfileApproxSql),
    "event_rollup"      -> (eventRollup _, eventRollupSql),
    "dormant_customers" -> (dormantCustomers _, dormantCustomersSql),
    "forecast_revenue"  -> (forecastRevenue _, forecastRevenueSql),
    "priority_lines"    -> (priorityLines _, priorityLinesSql),
  )
}
