package graft

import graft.dedup.Dedup
import graft.sources.BandStore
import org.apache.spark.sql.functions._

/** Laws for the bucketed band-index store: the corpus side of the
  * incremental candidate join must plan WITHOUT an exchange (that is the
  * point of bucketing a 100 TB index), and the candidates must equal the
  * plain unbucketed band join exactly.
  */
class BandStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("bucketed index join: corpus side exchange-free, candidates exact") {
    val sets = Dedup.hashedSets(Dedup.shingleSets(Tables.documents(spark, dir)))
    val bands = Dedup.bandIndex(sets).localCheckpoint() // one computation
    val isNew = col("doc_id") % 10 === 3
    BandStore.write(bands.filter(!isNew), "band_index_bucketed", 4)
    try {
      val cands = BandStore.candidates(spark, "band_index_bucketed", bands.filter(isNew))
      // exactly ONE exchange in the join subtree: the probe (new batch)
      // side shuffling to the bucket count; the stored index reads
      // co-located buckets in place
      val plan = cands.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected 1 exchange (probe side only), got $exchanges:\n" +
        plan.take(2000))
      // row-identity vs the unbucketed band self-join
      val expected = bands.filter(isNew).as("a")
        .join(bands.filter(!isNew).as("b"),
          col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash"))
        .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
        .distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(expected.nonEmpty && got == expected)
    } finally spark.sql("DROP TABLE IF EXISTS band_index_bucketed")
  }
}
