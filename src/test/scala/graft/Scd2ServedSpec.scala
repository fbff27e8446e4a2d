package graft

import graft.analytics.StarAnalytics

/** Laws for the served SCD2 point-in-time lookup (r12 review's #2 ask):
  * the entry that reads the `Scd2Ingest`-maintained dimension store must
  * equal the in-plan rebuild bit-for-bit (the ingest tier's
  * batch-rebuild law, cashed into the read path), and its plan must scan
  * the raw events exactly once — the purchase facts — with the dimension
  * side served from the store.
  */
class Scd2ServedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("scd2_lookup_served ≡ scd2_lookup bit-for-bit; one events scan") {
    val served = StarAnalytics.scd2LookupServed(spark, dir)
    val inPlan = StarAnalytics.scd2Lookup(spark, dir)
    // plan law BEFORE any collect (an executed AQE plan prints initial +
    // final trees, double-counting scans): the dim side reads the store,
    // never the raw events — exactly ONE events scan (the purchase
    // facts) in the served plan vs TWO in-plan
    def eventsScans(df: org.apache.spark.sql.DataFrame): Int =
      "events\\.parquet".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    assert(eventsScans(served) == 1,
      "served plan must scan events once (facts side only)")
    assert(eventsScans(inPlan) >= 2,
      "in-plan twin scans events for facts AND dimension")
    val s = served.collect().map(_.toString).toSeq
    val p = inPlan.collect().map(_.toString).toSeq
    assert(s.nonEmpty && s == p)
  }

  test("empty dimension (all-purchase stream): all-NULL enrichment, no error") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // purchases only — there is no dimension history at all
    val ev = Seq((1L, 10L, "2024-01-05 10:00:00", "purchase", 5.0),
        (1L, 11L, "2024-02-07 11:00:00", "purchase", 7.0))
      .toDF("user_id", "event_id", "ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp_ntz")).drop("ts_s")
    val got = StarAnalytics.scd2LookupServedFrames(spark, "spec_empty_dim", ev)
      .collect()
    assert(got.length == 2 && got.forall(r => r.isNullAt(4) && r.isNullAt(5)),
      "purchases must survive with NULL version/state")
  }
}
