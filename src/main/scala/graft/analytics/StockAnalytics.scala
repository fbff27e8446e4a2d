package graft.analytics

import graft.Tables
import graft.agg.BarAggregator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's analytics API surface (SURVEY.md §2.9), one pure
  * `(SparkSession, sfDir) => DataFrame` per endpoint query, over the tick
  * view (Tables.ticks).
  *
  * Determinism rules shared with the oracle SQL:
  *  - time anchors ("NOW()", reference F2/P4) are derived from
  *    max(event_time)/max(bucket_start) in the data, never the wall clock;
  *  - anchors stay inside the plan via crossJoin(broadcast(1-row agg)) —
  *    no driver-side collect;
  *  - money math is exact DECIMAL(12,4) until the presentation edge, where
  *    it is cast to double (the reference's float() casts, F16);
  *  - ratio math (avg, pct-change) is IEEE double in the same operation
  *    order as the oracle SQL, rounded to 4dp (reference F4).
  */
object StockAnalytics {

  private val Sym        = "CLICK" // one of the 5 uppercased event types
  private val SumMinutes = 720     // ticks_summary window (≤1440, P6 bound)
  private val BarMinutes = 10080   // bars_summary / movers window (7 days)

  // ---- /symbols — A9 distinct + W4 sort --------------------------------
  def symbols(spark: SparkSession, dir: String): DataFrame =
    Tables.ticks(spark, dir).select("symbol").distinct().orderBy("symbol")

  val symbolsSql: String =
    s"""${Tables.TICKS_CTE}
       |SELECT DISTINCT symbol FROM ticks ORDER BY symbol""".stripMargin

  // ---- /ticks/latest — P1,P2 + W1 ordered top-N ------------------------
  def ticksLatest(spark: SparkSession, dir: String): DataFrame =
    Tables.ticks(spark, dir)
      .filter(col("symbol") === lit(Sym))
      .select(col("symbol"), col("price").cast("double").as("price"),
        col("volume"), col("event_time"))
      .orderBy(col("event_time").desc)
      .limit(100)

  val ticksLatestSql: String =
    s"""${Tables.TICKS_CTE}
       |SELECT symbol, CAST(price AS DOUBLE) AS price, volume, event_time FROM ticks
       |WHERE symbol = '$Sym' ORDER BY event_time DESC LIMIT 100""".stripMargin

  // ---- /ticks/summary — P4 sliding window + A4-A7,A10 global agg -------
  def ticksSummary(spark: SparkSession, dir: String): DataFrame = {
    val t      = Tables.ticks(spark, dir)
    val anchor = t.agg(max(col("event_time")).as("now"))
    t.filter(col("symbol") === lit(Sym))
      .crossJoin(broadcast(anchor))
      .filter(col("event_time") >= col("now") - expr(s"INTERVAL $SumMinutes MINUTES"))
      .agg(
        count(lit(1)).as("tick_count"),
        sum(col("price")).as("_psum"),
        min(col("price")).as("_pmin"),
        max(col("price")).as("_pmax"),
        sum(coalesce(col("volume"), lit(0L))).as("volume_sum"),
        min(col("event_time")).as("window_start"),
        max(col("event_time")).as("window_end"))
      .select(
        col("tick_count"),
        round(col("_psum").cast("double") / col("tick_count"), 4).as("avg_price"),
        col("_pmin").cast("double").as("min_price"),
        col("_pmax").cast("double").as("max_price"),
        col("volume_sum"),
        col("window_start"),
        col("window_end"))
  }

  val ticksSummarySql: String =
    s"""${Tables.TICKS_CTE}
       |SELECT count(*) AS tick_count,
       |       round(CAST(sum(price) AS DOUBLE) / count(*), 4) AS avg_price,
       |       CAST(min(price) AS DOUBLE) AS min_price,
       |       CAST(max(price) AS DOUBLE) AS max_price,
       |       CAST(sum(coalesce(volume, 0)) AS BIGINT) AS volume_sum,
       |       min(event_time) AS window_start,
       |       max(event_time) AS window_end
       |FROM ticks
       |WHERE symbol = '$Sym'
       |  AND event_time >= (SELECT max(event_time) FROM ticks) - INTERVAL '$SumMinutes minutes'""".stripMargin

  // ---- bars build — A1-A6 (aggregator AGGREGATE_SQL) -------------------
  def bars1m(spark: SparkSession, dir: String): DataFrame =
    presentBars(BarAggregator.bars1m(Tables.ticks(spark, dir)))

  private def presentBars(bars: DataFrame): DataFrame =
    bars.select(
      col("symbol"), col("bucket_start"),
      col("open").cast("double").as("open"),
      col("high").cast("double").as("high"),
      col("low").cast("double").as("low"),
      col("close").cast("double").as("close"),
      col("volume_sum"), col("tick_count"))

  private val barsPresentSql =
    """SELECT symbol, bucket_start,
      |       CAST("open" AS DOUBLE) AS "open", CAST(high AS DOUBLE) AS high,
      |       CAST(low AS DOUBLE) AS low, CAST("close" AS DOUBLE) AS "close",
      |       CAST(volume_sum AS BIGINT) AS volume_sum, tick_count
      |FROM bars""".stripMargin

  val bars1mSql: String =
    s"""${Tables.BARS_CTE}
       |$barsPresentSql""".stripMargin

  // ---- /bars/latest — W2 ordered top-N on bars -------------------------
  def barsLatest(spark: SparkSession, dir: String): DataFrame =
    presentBars(BarAggregator.bars1m(
        Tables.ticks(spark, dir).filter(col("symbol") === lit("VIEW"))))
      .orderBy(col("bucket_start").desc)
      .limit(1440)

  val barsLatestSql: String =
    s"""${Tables.BARS_CTE}
       |$barsPresentSql
       |WHERE symbol = 'VIEW' ORDER BY bucket_start DESC LIMIT 1440""".stripMargin

  // ---- /bars/summary — A2-A5 roll-up + A11 pct change ------------------
  def barsSummary(spark: SparkSession, dir: String): DataFrame = {
    val bars   = BarAggregator.bars1m(Tables.ticks(spark, dir))
    val anchor = bars.agg(max(col("bucket_start")).as("now"))
    val agg = bars
      .filter(col("symbol") === lit("PURCHASE"))
      .crossJoin(broadcast(anchor))
      .filter(col("bucket_start") >= col("now") - expr(s"INTERVAL $BarMinutes MINUTES"))
      .agg(
        min_by(col("open"), col("bucket_start")).cast("double").as("open"),
        max(col("high")).cast("double").as("high"),
        min(col("low")).cast("double").as("low"),
        max_by(col("close"), col("bucket_start")).cast("double").as("close"),
        sum(col("volume_sum")).as("volume_sum"),
        sum(col("tick_count")).as("tick_total"),
        count(lit(1)).as("bar_count"),
        min(col("bucket_start")).as("window_start"),
        max(col("bucket_start")).as("window_end"))
    agg.withColumn(
      "change_pct",
      round((col("close") - col("open"))
        / when(col("open") === 0d, lit(null).cast("double")).otherwise(col("open")) * 100, 4))
  }

  val barsSummarySql: String =
    s"""${Tables.BARS_CTE}
       |SELECT CAST(arg_min("open", bucket_start) AS DOUBLE) AS "open",
       |       CAST(max(high) AS DOUBLE) AS high,
       |       CAST(min(low) AS DOUBLE) AS low,
       |       CAST(arg_max("close", bucket_start) AS DOUBLE) AS "close",
       |       CAST(sum(volume_sum) AS BIGINT) AS volume_sum,
       |       CAST(sum(tick_count) AS BIGINT) AS tick_total,
       |       count(*) AS bar_count,
       |       min(bucket_start) AS window_start,
       |       max(bucket_start) AS window_end,
       |       round((CAST(arg_max("close", bucket_start) AS DOUBLE) - CAST(arg_min("open", bucket_start) AS DOUBLE))
       |             / nullif(CAST(arg_min("open", bucket_start) AS DOUBLE), 0) * 100, 4) AS change_pct
       |FROM bars
       |WHERE symbol = 'PURCHASE'
       |  AND bucket_start >= (SELECT max(bucket_start) FROM bars) - INTERVAL '$BarMinutes minutes'""".stripMargin

  // ---- /movers — J1′ single-aggregation shape (SURVEY.md §7.3) ---------
  def movers(spark: SparkSession, dir: String): DataFrame = {
    val bars   = BarAggregator.bars1m(Tables.ticks(spark, dir))
    val anchor = bars.agg(max(col("bucket_start")).as("now"))
    bars
      .crossJoin(broadcast(anchor))
      .filter(col("bucket_start") >= col("now") - expr(s"INTERVAL $BarMinutes MINUTES"))
      .groupBy(col("symbol"))
      .agg(
        min_by(col("open"), col("bucket_start")).cast("double").as("open"),
        max_by(col("close"), col("bucket_start")).cast("double").as("close"))
      .withColumn(
        "change_pct",
        round((col("close") - col("open"))
          / when(col("open") === 0d, lit(null).cast("double")).otherwise(col("open")) * 100, 4))
      .orderBy(abs(col("change_pct")).desc_nulls_last, col("symbol"))
      .limit(20)
  }

  val moversSql: String =
    s"""${Tables.BARS_CTE},
       |win AS (
       |  SELECT * FROM bars
       |  WHERE bucket_start >= (SELECT max(bucket_start) FROM bars) - INTERVAL '$BarMinutes minutes'),
       |per AS (
       |  SELECT symbol,
       |         CAST(arg_min("open", bucket_start) AS DOUBLE) AS "open",
       |         CAST(arg_max("close", bucket_start) AS DOUBLE) AS "close"
       |  FROM win GROUP BY symbol)
       |SELECT symbol, "open", "close",
       |       round(("close" - "open") / nullif("open", 0) * 100, 4) AS change_pct
       |FROM per
       |ORDER BY abs(change_pct) DESC NULLS LAST, symbol LIMIT 20""".stripMargin

  // ---- /movers literal shape — A8 DISTINCT ON via window + J1 join -----
  def moversJoin(spark: SparkSession, dir: String): DataFrame = {
    val bars   = BarAggregator.bars1m(Tables.ticks(spark, dir))
    val anchor = bars.agg(max(col("bucket_start")).as("now"))
    val win = bars
      .crossJoin(broadcast(anchor))
      .filter(col("bucket_start") >= col("now") - expr(s"INTERVAL $BarMinutes MINUTES"))
    val wAsc  = Window.partitionBy("symbol").orderBy(col("bucket_start").asc)
    val wDesc = Window.partitionBy("symbol").orderBy(col("bucket_start").desc)
    val first = win.withColumn("rn", row_number().over(wAsc)).filter(col("rn") === 1)
      .select(col("symbol"), col("open").cast("double").as("open"))
    val last = win.withColumn("rn", row_number().over(wDesc)).filter(col("rn") === 1)
      .select(col("symbol"), col("close").cast("double").as("close"))
    first.join(last, Seq("symbol"), "inner")
      .withColumn(
        "change_pct",
        round((col("close") - col("open"))
          / when(col("open") === 0d, lit(null).cast("double")).otherwise(col("open")) * 100, 4))
      .orderBy(abs(col("change_pct")).desc_nulls_last, col("symbol"))
      .limit(20)
  }

  val moversJoinSql: String =
    s"""${Tables.BARS_CTE},
       |win AS (
       |  SELECT * FROM bars
       |  WHERE bucket_start >= (SELECT max(bucket_start) FROM bars) - INTERVAL '$BarMinutes minutes'),
       |first_bar AS (
       |  SELECT symbol, CAST("open" AS DOUBLE) AS "open" FROM (
       |    SELECT symbol, "open",
       |           row_number() OVER (PARTITION BY symbol ORDER BY bucket_start ASC) AS rn
       |    FROM win) WHERE rn = 1),
       |last_bar AS (
       |  SELECT symbol, CAST("close" AS DOUBLE) AS "close" FROM (
       |    SELECT symbol, "close",
       |           row_number() OVER (PARTITION BY symbol ORDER BY bucket_start DESC) AS rn
       |    FROM win) WHERE rn = 1)
       |SELECT f.symbol, f."open", l."close",
       |       round((l."close" - f."open") / nullif(f."open", 0) * 100, 4) AS change_pct
       |FROM first_bar f JOIN last_bar l ON f.symbol = l.symbol
       |ORDER BY abs(round((l."close" - f."open") / nullif(f."open", 0) * 100, 4)) DESC NULLS LAST,
       |         f.symbol LIMIT 20""".stripMargin

  // ---- latest tick per symbol — A8 on ticks ----------------------------
  // Aggregation shape, not a row_number window: max_by is partial-
  // aggregable, so at scale the shuffle carries one row per (symbol, map
  // task) instead of sorting every tick within symbol partitions. The
  // row_number formulation (A8 literal) remains exercised by movers_join.
  // event_time is unique per symbol in the testdata, so max_by ties are
  // not observable (SURVEY.md §7.4).
  // The row travels as one struct so a null volume on the winning tick is
  // preserved verbatim (bare max_by on a nullable value would fall back to
  // an older non-null row in some engines).
  def latestPerSymbol(spark: SparkSession, dir: String): DataFrame =
    Tables.ticks(spark, dir)
      .groupBy(col("symbol"))
      .agg(max_by(
        struct(col("event_time"), col("price"), col("volume")),
        col("event_time")).as("last"))
      .select(
        col("symbol"),
        col("last.price").cast("double").as("price"),
        col("last.volume").as("volume"),
        col("last.event_time").as("event_time"))

  val latestPerSymbolSql: String =
    s"""${Tables.TICKS_CTE}
       |SELECT symbol, CAST(price AS DOUBLE) AS price, volume, event_time FROM (
       |  SELECT symbol, price, volume, event_time,
       |         row_number() OVER (PARTITION BY symbol ORDER BY event_time DESC) AS rn
       |  FROM ticks) WHERE rn = 1""".stripMargin

  // ---- gap-fill: carry-forward last non-null volume (S2 cache-fallback
  // semantics — producer_yfinance.py:80-120 "serve from last cache") ------
  def ticksGapfill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy("event_time")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.ticks(spark, dir).select(
      col("tick_id"), col("symbol"), col("event_time"), col("volume"),
      last(col("volume"), ignoreNulls = true).over(w).as("volume_filled"))
  }

  val ticksGapfillSql: String =
    s"""${Tables.TICKS_CTE}
       |SELECT tick_id, symbol, event_time, volume,
       |       last_value(volume IGNORE NULLS) OVER (
       |         PARTITION BY symbol ORDER BY event_time
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS volume_filled
       |FROM ticks""".stripMargin

  // ---- hourly/daily bars — the generalized bucket roll-up (barsOf) -----
  def barsHourly(spark: SparkSession, dir: String): DataFrame =
    presentBars(BarAggregator.barsOf(Tables.ticks(spark, dir), "1 hour"))

  def barsDaily(spark: SparkSession, dir: String): DataFrame =
    presentBars(BarAggregator.barsOf(Tables.ticks(spark, dir), "1 day"))

  val barsDailySql: String =
    s"""${Tables.TICKS_CTE},
       |bars AS (
       |  SELECT symbol,
       |         date_trunc('day', event_time) AS bucket_start,
       |         arg_min(price, event_time) AS open,
       |         max(price) AS high,
       |         min(price) AS low,
       |         arg_max(price, event_time) AS close,
       |         sum(coalesce(volume, 0)) AS volume_sum,
       |         count(*) AS tick_count
       |  FROM ticks
       |  GROUP BY 1, 2)
       |$barsPresentSql""".stripMargin

  val barsHourlySql: String =
    s"""${Tables.TICKS_CTE},
       |bars AS (
       |  SELECT symbol,
       |         date_trunc('hour', event_time) AS bucket_start,
       |         arg_min(price, event_time) AS open,
       |         max(price) AS high,
       |         min(price) AS low,
       |         arg_max(price, event_time) AS close,
       |         sum(coalesce(volume, 0)) AS volume_sum,
       |         count(*) AS tick_count
       |  FROM ticks
       |  GROUP BY 1, 2)
       |$barsPresentSql""".stripMargin

  // ---- price quantiles — exact interpolated percentiles per symbol -----
  // Spark `percentile` and DuckDB `quantile_cont` both implement the R-7
  // linear interpolation (index = p·(n−1)); values are computed on doubles
  // and rounded to 4 dp, which absorbs any final-ulp difference in the
  // interpolation arithmetic.
  def priceQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.ticks(spark, dir)
      .groupBy(col("symbol"))
      .agg(
        expr("percentile(cast(price as double), 0.5)").as("_p50"),
        expr("percentile(cast(price as double), 0.95)").as("_p95"),
        expr("percentile(cast(price as double), 0.99)").as("_p99"))
      .select(col("symbol"),
        round(col("_p50"), 4).as("p50"),
        round(col("_p95"), 4).as("p95"),
        round(col("_p99"), 4).as("p99"))
      .orderBy("symbol")

  val priceQuantilesSql: String =
    s"""${Tables.TICKS_CTE}
       |SELECT symbol,
       |       round(quantile_cont(CAST(price AS DOUBLE), 0.5), 4) AS p50,
       |       round(quantile_cont(CAST(price AS DOUBLE), 0.95), 4) AS p95,
       |       round(quantile_cont(CAST(price AS DOUBLE), 0.99), 4) AS p99
       |FROM ticks
       |GROUP BY symbol
       |ORDER BY symbol""".stripMargin

  // ---- price_quantiles_approx: the 100 TB quantile path ----------------
  /** Sketch quantiles: `approx_percentile` (Greenwald-Khanna, accuracy
    * 1000 ⇒ rank error ≤ 0.1%) — the scalable path: exact `percentile`
    * materializes every group's values; the GK sketch is constant-memory
    * per group and partial-merges across the shuffle. Sketch estimates
    * are engine-specific, so (as with `table_profile_approx`) what the
    * cross-engine gate checks is the BOUND, not the estimate: each approx
    * value must lie between the exact continuous quantiles at p ± 0.01
    * (10× the sketch's guarantee) — the exact side exists here only to
    * check the law; at production scale only the sketch aggregate runs.
    */
  def priceQuantilesApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.ticks(spark, dir)
      .groupBy(col("symbol"))
      .agg(
        expr("approx_percentile(cast(price as double), array(0.5D, 0.95D), 1000)").as("ap"),
        expr("percentile(cast(price as double), array(0.49D, 0.51D, 0.94D, 0.96D))").as("ex"))
      .select(col("symbol"),
        (col("ap")(0) >= col("ex")(0) && col("ap")(0) <= col("ex")(1))
          .as("p50_within_bounds"),
        (col("ap")(1) >= col("ex")(2) && col("ap")(1) <= col("ex")(3))
          .as("p95_within_bounds"))
      .orderBy("symbol")

  val priceQuantilesApproxSql: String =
    s"""${Tables.TICKS_CTE}
       |SELECT symbol, true AS p50_within_bounds, true AS p95_within_bounds
       |FROM ticks GROUP BY symbol ORDER BY symbol""".stripMargin

  // ---- volume_rank: percent_rank / cume_dist window family -------------
  /** Each trading day's volume ranked within its symbol's own history —
    * percent_rank ((rank−1)/(n−1)) and cume_dist (≤-fraction), the two
    * relative-rank window functions the rest of the surface doesn't use.
    * Both are tie-stable (equal volumes share a value), so no tiebreak is
    * needed for determinism, and their exact-rational doubles are
    * bit-identical across engines without rounding.
    *
    * Scale: one (symbol, day) hash aggregate then one window partitioned
    * by symbol over ~days-per-symbol rows — the window input is the
    * AGGREGATED frame (tiny), never raw ticks.
    */
  def volumeRank(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.ticks(spark, dir)
      .groupBy(col("symbol"), col("event_time").cast("date").as("day"))
      .agg(sum(coalesce(col("volume"), lit(0L))).as("day_volume"))
    val w = Window.partitionBy("symbol").orderBy("day_volume")
    daily.select(col("symbol"), col("day"), col("day_volume"),
        percent_rank().over(w).as("volume_pct_rank"),
        cume_dist().over(w).as("volume_cume_dist"))
      .orderBy("symbol", "day")
  }

  val volumeRankSql: String =
    s"""${Tables.TICKS_CTE},
       |daily AS (
       |  SELECT symbol, CAST(event_time AS DATE) AS day,
       |         CAST(sum(coalesce(volume, 0)) AS BIGINT) AS day_volume
       |  FROM ticks GROUP BY symbol, day)
       |SELECT symbol, day, day_volume,
       |       percent_rank() OVER w AS volume_pct_rank,
       |       cume_dist() OVER w AS volume_cume_dist
       |FROM daily
       |WINDOW w AS (PARTITION BY symbol ORDER BY day_volume)
       |ORDER BY symbol, day""".stripMargin

  // ---- /health, /ready — A10 global probes -----------------------------
  def healthCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.ticks(spark, dir).agg(
      count(lit(1)).as("tick_rows"),
      countDistinct(col("symbol")).as("symbol_count"),
      min(col("event_time")).as("min_ts"),
      max(col("event_time")).as("max_ts"))

  val healthCountsSql: String =
    s"""${Tables.TICKS_CTE}
       |SELECT count(*) AS tick_rows,
       |       count(DISTINCT symbol) AS symbol_count,
       |       min(event_time) AS min_ts,
       |       max(event_time) AS max_ts
       |FROM ticks""".stripMargin

  /** name → (query fn, oracle SQL) for SparkEntry registration. */
  // ---- ticks_vwap: hourly volume-weighted average price ----------------
  /** The classic market-data aggregation the reference's endpoints stop
    * short of: VWAP = Σ(price·volume)/Σ(volume) per (symbol, hour). The
    * weighted sum stays exact DECIMAL (volume cast to DECIMAL(12,0) keeps
    * the product/sum precision identical — and under 38 — on both
    * engines); the single division runs in double at the edge, and the
    * 4dp rounding is floor(x·10⁴ + 0.5)/10⁴ — exact IEEE ops identical on
    * both engines, where round() differs at representation boundaries
    * (observed one row off by 1 ulp-of-4dp). One hash aggregate with
    * map-side partials — the same shuffle shape as the bar build.
    */
  def ticksVwap(spark: SparkSession, dir: String): DataFrame =
    Tables.ticks(spark, dir)
      .groupBy(col("symbol"), date_trunc("hour", col("event_time")).as("bucket_hour"))
      .agg(
        sum(col("price") * coalesce(col("volume"), lit(0L))
          .cast(org.apache.spark.sql.types.DecimalType(12, 0))).as("_pv"),
        sum(coalesce(col("volume"), lit(0L))).as("volume_sum"))
      .filter(col("volume_sum") > 0)
      .select(col("symbol"), col("bucket_hour"),
        (floor(col("_pv").cast("double") / col("volume_sum") * 1e4 + 0.5) / 1e4)
          .as("vwap"),
        col("volume_sum"))
      .orderBy("symbol", "bucket_hour")

  val ticksVwapSql: String =
    s"""${Tables.TICKS_CTE}
       |SELECT symbol, date_trunc('hour', event_time) AS bucket_hour,
       |       floor(CAST(sum(price * CAST(coalesce(volume, 0) AS DECIMAL(12,0))) AS DOUBLE)
       |             / sum(coalesce(volume, 0)) * 10000.0 + 0.5) / 10000.0 AS vwap,
       |       CAST(sum(coalesce(volume, 0)) AS BIGINT) AS volume_sum
       |FROM ticks
       |GROUP BY symbol, bucket_hour
       |HAVING sum(coalesce(volume, 0)) > 0
       |ORDER BY symbol, bucket_hour""".stripMargin

  // ---- bars_1m_salted — the skew-resistant two-stage aggregate ---------
  /** Oracle-checked twin of bars_1m through the salted two-stage plan
    * (BarAggregator.bars1mSalted): output is identical for ANY salt count
    * because every OHLCV aggregate is algebraic, so it shares bars_1m's
    * oracle SQL — the driver's hash compare IS the salted ≡ plain law,
    * checked against an independent engine. This is the 100 TB hot-key
    * path (a meme-stock minute): the first stage spreads one hot
    * (symbol, minute) key over `saltBuckets` reducers, the second
    * combines the tiny partials.
    */
  def bars1mSalted(spark: SparkSession, dir: String): DataFrame =
    presentBars(BarAggregator.bars1mSalted(Tables.ticks(spark, dir), saltBuckets = 8))

  // ---- ticks_store_scan — the TickStore physical-layout read path ------
  /** Reads through the date-partitioned, symbol-sorted TickStore layout
    * (the covering-index analog, SURVEY.md §4): the store is written once
    * per sf dir content ([[graft.sources.StoreCatalog]]), then the query
    * filters on the partition column —
    * static partition pruning drops 20 of the 30 day-partitions before
    * any IO — and on symbol, which the within-partition sort turns into
    * row-group min/max skips. Aggregates one row per surviving day.
    */
  def ticksStoreScan(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.StoreCatalog.ensureBuilt(spark, "graft_tick_store",
      graft.sources.StoreCatalog.key(spark, dir))(
      root => graft.sources.TickStore.write(Tables.ticks(spark, dir), root + "/ticks"))
    graft.sources.TickStore.read(spark, root + "/ticks")
      .filter(col("tick_date").between(
        lit("2024-01-10").cast("date"), lit("2024-01-19").cast("date"))
        && col("symbol") === lit(Sym))
      .groupBy(col("tick_date"))
      .agg(
        count(lit(1)).as("n_ticks"),
        sum(coalesce(col("volume"), lit(0L))).as("volume_sum"),
        min(col("price")).cast("double").as("price_lo"),
        max(col("price")).cast("double").as("price_hi"))
  }

  val ticksStoreScanSql: String =
    s"""${Tables.TICKS_CTE}
       |SELECT CAST(event_time AS DATE) AS tick_date,
       |       count(*) AS n_ticks,
       |       CAST(sum(coalesce(volume, 0)) AS BIGINT) AS volume_sum,
       |       CAST(min(price) AS DOUBLE) AS price_lo,
       |       CAST(max(price) AS DOUBLE) AS price_hi
       |FROM ticks
       |WHERE symbol = '$Sym'
       |  AND CAST(event_time AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-19'
       |GROUP BY 1""".stripMargin

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "symbols"           -> (symbols _, symbolsSql),
    "bars_1m_salted"    -> (bars1mSalted _, bars1mSql),
    "ticks_store_scan"  -> (ticksStoreScan _, ticksStoreScanSql),
    "ticks_vwap"        -> (ticksVwap _, ticksVwapSql),
    "ticks_latest"      -> (ticksLatest _, ticksLatestSql),
    "ticks_summary"     -> (ticksSummary _, ticksSummarySql),
    "bars_1m"           -> (bars1m _, bars1mSql),
    "bars_latest"       -> (barsLatest _, barsLatestSql),
    "bars_summary"      -> (barsSummary _, barsSummarySql),
    "movers"            -> (movers _, moversSql),
    "movers_join"       -> (moversJoin _, moversJoinSql),
    "latest_per_symbol" -> (latestPerSymbol _, latestPerSymbolSql),
    "health_counts"     -> (healthCounts _, healthCountsSql),
    "ticks_gapfill"     -> (ticksGapfill _, ticksGapfillSql),
    "bars_hourly"       -> (barsHourly _, barsHourlySql),
    "bars_daily"        -> (barsDaily _, barsDailySql),
    "price_quantiles"   -> (priceQuantiles _, priceQuantilesSql),
    "price_quantiles_approx" -> (priceQuantilesApprox _, priceQuantilesApproxSql),
    "volume_rank"       -> (volumeRank _, volumeRankSql),
  )
}
