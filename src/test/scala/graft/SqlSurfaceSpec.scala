package graft

/** The spark.sql(...) path over registered views answers the reference's
  * queries identically to the DataFrame builders (both compile to the
  * same logical plans).
  */
class SqlSurfaceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("SQL text over registered views matches the DataFrame builders") {
    Tables.registerViews(spark, dir)
    // /symbols (A9+W4)
    val sqlSymbols = spark.sql("SELECT DISTINCT symbol FROM ticks ORDER BY symbol")
      .collect().map(_.getString(0)).toSeq
    val dfSymbols = graft.analytics.StockAnalytics.symbols(spark, dir)
      .collect().map(_.getString(0)).toSeq
    assert(sqlSymbols == dfSymbols && sqlSymbols.nonEmpty)

    // the aggregator's bar build (A1-A6) as SQL text over the ticks view
    val sqlBars = spark.sql(
      """SELECT symbol, date_trunc('minute', event_time) AS bucket_start,
        |       min_by(price, event_time) AS open, max(price) AS high,
        |       min(price) AS low, max_by(price, event_time) AS close,
        |       sum(coalesce(volume, 0)) AS volume_sum, count(*) AS tick_count
        |FROM ticks GROUP BY 1, 2 ORDER BY symbol, bucket_start""".stripMargin)
      .collect().map(_.toString).toSeq
    val dfBars = graft.agg.BarAggregator.bars1m(Tables.ticks(spark, dir))
      .orderBy("symbol", "bucket_start").collect().map(_.toString).toSeq
    assert(sqlBars == dfBars && sqlBars.nonEmpty)
  }

  test("native expressions are reachable from SQL text over the training tables") {
    Tables.registerViews(spark, dir)
    // winnowing fingerprints + cosine scoring, written as a user would in
    // plain SQL — the registry makes the native tier a first-class
    // function surface, not a DataFrame-only API
    val fps = spark.sql(
      """SELECT doc_id, count(DISTINCT fp) AS n_fp
        |FROM (SELECT doc_id, explode(winnow_fp(text, 8, 4)) AS fp FROM documents)
        |GROUP BY doc_id""".stripMargin).collect()
    assert(fps.nonEmpty && fps.forall(_.getLong(1) > 0))
    val cos = spark.sql(
      """SELECT a.vec_id, b.vec_id,
        |       vec_dot(a.embedding, b.embedding)
        |         / (sqrt(vec_dot(a.embedding, a.embedding))
        |            * sqrt(vec_dot(b.embedding, b.embedding))) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id = 1""".stripMargin)
      .collect()
    assert(cos.length == 1 && math.abs(cos.head.getDouble(2)) <= 1.0 + 1e-12)
  }
}
