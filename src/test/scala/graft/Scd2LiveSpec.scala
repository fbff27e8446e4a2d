package graft

import graft.analytics.StarAnalytics
import graft.streaming.Scd2Ingest
import graft.streaming.Scd2Ingest.Scd2Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Laws for the warehouse tier's freshness composition (r13 review's
  * #4 ask): liveCurrent(base-prefix store, in-flight delta) ≡ the batch
  * rebuild over ALL events, bit-for-bit, for EVERY prefix split — the
  * base+delta law the vector (`knnServedLive`) and lexical
  * (`hybridRrfLive`) tiers already carry.
  */
class Scd2LiveSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents(rows: Seq[(Long, Long, Long, String)]): DataFrame =
    rows.toDF("user_id", "event_id", "sec", "event_type")
      .select(col("user_id"), col("event_id"),
        timestamp_seconds(col("sec")).as("ts"), col("event_type"))

  private def norm(df: DataFrame): Seq[String] =
    df.select("user_id", "version", "state", "valid_from", "valid_to",
        "n_events", "is_current")
      .collect().map(_.toString).sorted.toSeq

  private def freshStore(): Scd2Store =
    Scd2Store(java.nio.file.Files.createTempDirectory("scd2_live").toString + "/intervals")

  private val b0 = Seq((1L, 1L, 10L, "a"), (1L, 2L, 20L, "a"), (1L, 3L, 30L, "b"),
    (2L, 4L, 10L, "x"), (4L, 5L, 15L, "z"))
  private val b1 = Seq((1L, 6L, 40L, "b"), (1L, 7L, 50L, "c"), (2L, 8L, 25L, "x"))
  private val b2 = Seq((3L, 9L, 100L, "q"), (1L, 10L, 60L, "c"))

  test("live(base prefix + delta) ≡ full rebuild, for every prefix split") {
    val batches = Seq(b0, b1, b2)
    val full = norm(StarAnalytics.scd2IntervalsOn(mkEvents(batches.flatten)))
    for (p <- 0 to batches.length) {
      val store = freshStore()
      batches.take(p).zipWithIndex.foreach { case (b, i) =>
        Scd2Ingest.processBatch(mkEvents(b), i.toLong, store)
      }
      // p = 0: nothing landed, the whole history is the in-flight delta;
      // p = 3: everything landed, the delta is empty
      val delta = mkEvents(batches.drop(p).flatten)
      val live = Scd2Ingest.liveCurrent(spark, store, delta, p.toLong)
      assert(norm(live) == full, s"prefix split at $p")
    }
  }

  test("the delta is composed at read, never written") {
    val store = freshStore()
    Scd2Ingest.processBatch(mkEvents(b0), 0L, store)
    val landedBefore = norm(Scd2Ingest.current(spark, store))
    Scd2Ingest.liveCurrent(spark, store, mkEvents(b1), 1L).collect()
    assert(norm(Scd2Ingest.current(spark, store)) == landedBefore,
      "liveCurrent must not mutate the store")
  }

  test("scd2_lookup_live ≡ scd2_lookup bit-for-bit (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val live = StarAnalytics.scd2LookupLive(spark, dir)
      .collect().map(_.toString).toSeq
    val plan = StarAnalytics.scd2Lookup(spark, dir)
      .collect().map(_.toString).toSeq
    assert(live.nonEmpty && live == plan)
  }

  test("dispatch law: the compose arm ≡ the rebuild arm on the registry corpus") {
    // the r19 empty-base dispatch picks the rebuild on the registry
    // corpus (its whole dim history is one in-flight month), so the
    // end-to-end law above no longer drives scd2LookupLiveCompose —
    // force the compose arm here and pin it to the same truth, so BOTH
    // dispatch spellings stay bit-identical
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
    val dimEvents = ev.filter(col("event_type") =!= "purchase")
    val months = dimEvents
      .select(date_trunc("month", col("ts")).as("m"))
      .distinct().orderBy("m").collect().map(_.get(0))
    assert(months.length <= 1,
      "registry corpus should dispatch to the rebuild — refresh this law if not")
    val composed = StarAnalytics.scd2LookupLiveCompose(spark,
      graft.sources.StoreCatalog.key(spark, dir) + "_livedispatchspec",
      ev, dimEvents, months).collect().map(_.toString).toSeq
    val rebuilt = StarAnalytics.scd2LookupOn(ev)
      .collect().map(_.toString).toSeq
    assert(composed.nonEmpty && composed == rebuilt)
  }
}
