package graft.agg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The core OHLCV bar build — the reference's AGGREGATE_SQL
  * (services/aggregator/aggregator.py:26-39) as a pure DataFrame
  * transform.
  *
  * Spark-first shape: one hash aggregate with map-side partial
  * aggregation; `min_by`/`max_by` replace the reference's
  * `(array_agg(price ORDER BY event_time))[1]` idiom (aggregator.py:30,33)
  * without any sort or UDAF. At 100 TB this is a single shuffle keyed on
  * (symbol, minute) — the natural partitioning for every downstream bar
  * query — and every aggregate here is a partial-aggregable builtin, so
  * the shuffle carries one row per (symbol, minute) per map task, not raw
  * ticks.
  */
object BarAggregator {

  /** Tie-break note: ticks carry globally unique event_time in the harness
    * data; for real data an explicit struct(event_time, tick_id) key makes
    * open/close deterministic under equal timestamps (SURVEY.md §7.4).
    */
  def bars1m(ticks: DataFrame): DataFrame =
    barsOf(ticks, "1 minute")

  /** Generalized tumbling-bucket OHLCV roll-up (minute/hour/day). */
  def barsOf(ticks: DataFrame, bucket: String): DataFrame = {
    val truncUnit = bucket match {
      case "1 minute" => "minute"
      case "1 hour"   => "hour"
      case "1 day"    => "day"
      case other      => throw new IllegalArgumentException(s"unsupported bucket: $other")
    }
    ticks
      .groupBy(col("symbol"), date_trunc(truncUnit, col("event_time")).as("bucket_start"))
      .agg(
        min_by(col("price"), col("event_time")).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), col("event_time")).as("close"),
        sum(coalesce(col("volume"), lit(0L))).as("volume_sum"),
        count(lit(1)).as("tick_count"))
  }

  /** Skew-resistant two-stage variant: when one (symbol, minute) key is
    * hot (a meme-stock minute at 100 TB), the single-shuffle aggregate
    * hotspots one reducer. Salting splits each key across `saltBuckets`
    * partial groups, then combines partials — OHLCV is algebraic, so the
    * combine is exact: open re-minimizes by each partial's first tick
    * time, close by its last. Result ≡ [[bars1m]] for any salt count.
    */
  def bars1mSalted(ticks: DataFrame, saltBuckets: Int): DataFrame = {
    require(saltBuckets > 0, "saltBuckets must be positive")
    val partials = ticks
      .withColumn("_salt", pmod(xxhash64(col("event_time"), col("price")), lit(saltBuckets)))
      .groupBy(col("symbol"), date_trunc("minute", col("event_time")).as("bucket_start"),
        col("_salt"))
      .agg(
        min_by(col("price"), col("event_time")).as("p_open"),
        max(col("price")).as("p_high"),
        min(col("price")).as("p_low"),
        max_by(col("price"), col("event_time")).as("p_close"),
        min(col("event_time")).as("p_first"),
        max(col("event_time")).as("p_last"),
        sum(coalesce(col("volume"), lit(0L))).as("p_volume"),
        count(lit(1)).as("p_count"))
    partials
      .groupBy(col("symbol"), col("bucket_start"))
      .agg(
        min_by(col("p_open"), col("p_first")).as("open"),
        max(col("p_high")).as("high"),
        min(col("p_low")).as("low"),
        max_by(col("p_close"), col("p_last")).as("close"),
        sum(col("p_volume")).as("volume_sum"),
        sum(col("p_count")).as("tick_count"))
  }
}
