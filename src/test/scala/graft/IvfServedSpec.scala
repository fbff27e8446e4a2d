package graft

import graft.analytics.RetrievalAnalytics
import graft.similarity.IvfTrained

/** Demotion laws for the trained-routing pair (r18 — the tape's last
  * in-plan Lloyd-retrain cluster): the artifact-backed registry forms
  * must equal the in-plan spellings bit-for-bit. The argument is
  * determinism end-to-end — the stored centroid tables are exact
  * fixed-point integers (parquet round-trip bit-exact), the stored
  * assignment was written by the SAME `assignOn` over those centroids,
  * and probes/scoring are deterministic functions of both — and the law
  * checks the composition rather than trusting the argument.
  */
class IvfServedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("knn_ivf_trained demotion: stored centroids + assignment ≡ in-plan retrain") {
    val stored = RetrievalAnalytics.knnIvfTrainedStored(spark, dir)
      .collect().map(_.toString).toSeq
    val inPlan = IvfTrained.knnIvfTrained(spark, dir)
      .collect().map(_.toString).toSeq
    assert(stored.nonEmpty && stored == inPlan)
  }

  test("knn_ivf_trained_sqrt demotion: sqrtcents/sqrtasg artifacts ≡ in-plan retrain") {
    val stored = RetrievalAnalytics.knnIvfTrainedSqrtStored(spark, dir)
      .collect().map(_.toString).toSeq
    val inPlan = IvfTrained.knnIvfTrainedSqrt(spark, dir)
      .collect().map(_.toString).toSeq
    assert(stored.nonEmpty && stored == inPlan)
  }
}
