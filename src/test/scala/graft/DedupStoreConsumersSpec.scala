package graft

import graft.analytics.TextAnalytics
import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Demotion laws for the r18 governance-consumer swap: `source_profile`,
  * `corpus_curation` and `curation_audit` now take their near-dup
  * removal set from the persisted verified-edge store
  * ([[graft.dedup.Dedup.storedPairs]]) instead of re-running the full
  * in-plan shingle → band → candidate-join → verify chain per read.
  * Each registry entry must equal its in-plan-pairs spelling
  * frame-for-frame (the `...On` seam) — the same law shape
  * `PqServedSpec`/`IvfServedSpec`/`PcaPowerSpec` pin for the other
  * r17/r18 demotions. (Stored pairs ≡ derived pairs is itself law in
  * `DedupEdgeStoreSpec`; these checks pin the consumers end-to-end.)
  */
class DedupStoreConsumersSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def inPlanRemoved = Dedup.dedupMinhash(spark, dir)
    .select(col("doc_id_2").as("doc_id")).distinct()

  private def inPlanContam = TextAnalytics.decontam(spark, dir)
    .select(col("doc_id"))

  test("source_profile store-fed ≡ in-plan-pairs spelling") {
    val served = TextAnalytics.sourceProfile(spark, dir)
      .collect().map(_.toString).toSeq
    val inPlan = TextAnalytics
      .sourceProfileOn(spark, dir, inPlanRemoved, inPlanContam)
      .collect().map(_.toString).toSeq
    assert(served.nonEmpty && served == inPlan)
  }

  test("contam-id store ≡ in-plan decontam flagged set (r19 demotion)") {
    val stored = TextAnalytics.storedContamIds(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    val inPlan = inPlanContam
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(stored.nonEmpty && stored == inPlan)
  }

  test("corpus_curation store-fed ≡ in-plan-pairs spelling") {
    val served = TextAnalytics.corpusCuration(spark, dir)
      .collect().map(_.toString).toSeq
    val inPlan = TextAnalytics.corpusCurationOn(spark, dir, inPlanRemoved)
      .collect().map(_.toString).toSeq
    assert(served.nonEmpty && served == inPlan)
  }

  test("curation_audit store-fed ≡ in-plan-pairs spelling") {
    val served = TextAnalytics.curationAudit(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val inPlan = TextAnalytics.curationAuditOn(spark, dir, inPlanRemoved)
      .collect().map(_.toString).sorted.toSeq
    assert(served.nonEmpty && served == inPlan)
  }

  test("split_leakage store-fed ≡ in-plan-pairs spelling") {
    val docs = Tables.documents(spark, dir)
    val served = Dedup.splitLeakage(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val inPlan = Dedup.splitLeakageOn(docs)
      .collect().map(_.toString).sorted.toSeq
    assert(served == inPlan) // may be empty at sf0.001 — equality is the law
  }

  test("split_assign store-fed ≡ in-plan-pairs spelling") {
    val served = Dedup.splitAssign(spark, dir)
      .collect().map(_.toString).toSeq
    val inPlan = Dedup.splitAssignOn(Tables.documents(spark, dir))
      .collect().map(_.toString).toSeq
    assert(served.nonEmpty && served == inPlan)
  }

  test("band index input filter ≡ signature-null filter (the r18 " +
      "double-eval fix drops the same rows)") {
    // bandIndex now gates on size(sh) > 0 instead of sig IS NOT NULL;
    // minhash_sig is null exactly for null/empty sets on hashedSets
    // input (elements are never null), so band frames must be identical
    // — including for a corpus that CONTAINS an empty-token document.
    import spark.implicits._
    // raw (doc_id, sh) sets fed straight to hashedSets — including an
    // EMPTY set, the row the filter exists to drop (documents shorter
    // than the shingle width never reach bandIndex in the registry
    // paths, so the empty case is pinned here directly)
    val raw = Seq(
      (1L, Seq("x y z", "y z w", "z w v")),
      (2L, Seq("x y z", "y z w", "z w v")),
      (3L, Seq.empty[String]), // empty set → null signature pre-r18
      (5L, Seq("p q r", "q r s"))
    ).toDF("doc_id", "sh")
    val sets = Dedup.hashedSets(raw)
    val got = Dedup.bandIndex(sets).collect().map(_.toString).sorted.toSeq
    val want = sets
      .withColumn("sig", expr("minhash_sig(sh, 128)"))
      .filter(col("sig").isNotNull) // the pre-r18 spelling
      .select(col("doc_id"),
        posexplode(graft.functions.TextFeatures.lshBands("sig", 32, 4)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == want)
    // and the empty-set doc is absent from the index on both spellings
    assert(!got.exists(_.startsWith("[3,")))
  }
}
