package graft

import graft.analytics.RetrievalAnalytics
import graft.similarity.PqAnn

/** Laws for the PQ-code serving tier (r12 review's #3 ask):
  *  1. served ≡ `knn_ivf_pq_rerank` bit-for-bit (shared training,
  *     shared cell assignment, shared ADC tables);
  *  2. the code store's payload really is 16 bytes/vector — two packed
  *     longs — and the pack/unpack round-trips every code;
  *  3. the serve plan reads the code store through a static partition
  *     filter (the `knn_served` pruning law).
  */
class PqServedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("knn_served_pq ≡ knn_ivf_pq_rerank bit-for-bit; pruned 16 B scan") {
    val served = RetrievalAnalytics.knnServedPq(spark, dir)
    val inPlan = PqAnn.knnIvfPqRerank(spark, dir)
    val s = served.collect().map(_.toString).toSeq
    val p = inPlan.collect().map(_.toString).toSeq
    assert(s.nonEmpty && s == p)
    // partition-filter law: the codes scan carries a centroid_id
    // partition filter (static pruning, never a full-store read)
    val plan = served.queryExecution.executedPlan.toString
    val codeScan = plan.linesIterator
      .filter(l => l.contains("pqcodes") && l.contains("FileScan"))
      .mkString("\n")
    assert(codeScan.contains("PartitionFilters: [centroid_id"),
      "codes scan must be partition-pruned:\n" + codeScan)
  }

  // ---- the r17 retrain demotions: stored-artifact forms ≡ in-plan -------

  test("knn_ivf_pq demotion: stored codes ≡ in-plan retrain, both routings") {
    val storedFix = RetrievalAnalytics.knnIvfPqStored(spark, dir)
      .collect().map(_.toString).toSeq
    val inPlanFix = PqAnn.knnIvfPq(spark, dir)
      .collect().map(_.toString).toSeq
    assert(storedFix.nonEmpty && storedFix == inPlanFix)
    val storedSqrt = RetrievalAnalytics.knnIvfPqSqrtStored(spark, dir)
      .collect().map(_.toString).toSeq
    val inPlanSqrt = PqAnn.knnIvfPqSqrt(spark, dir)
      .collect().map(_.toString).toSeq
    assert(storedSqrt.nonEmpty && storedSqrt == inPlanSqrt)
  }

  // ---- the r18 retrain-trio demotion: served K=256 forms ≡ in-plan -----

  test("knn_pq256 trio demotion: served flat ADC + rerank ≡ in-plan retrains") {
    val servedFlat = PqAnn.knnServedPq256(spark, dir)
      .collect().map(_.toString).toSeq
    val inPlanFlat = PqAnn.knnPq256(spark, dir)
      .collect().map(_.toString).toSeq
    assert(servedFlat.nonEmpty && servedFlat == inPlanFlat)
    val servedRr = PqAnn.knnServedPq256Rerank(spark, dir)
      .collect().map(_.toString).toSeq
    val inPlanRr = PqAnn.knnPq256Rerank(spark, dir)
      .collect().map(_.toString).toSeq
    assert(servedRr.nonEmpty && servedRr == inPlanRr)
  }

  test("knn_ivf_pq_rerank_sqrt demotion: stored codes + stored √N routing ≡ in-plan") {
    val stored = RetrievalAnalytics.knnIvfPqRerankSqrtStored(spark, dir)
      .collect().map(_.toString).toSeq
    val inPlan = PqAnn.knnIvfPqRerankSqrt(spark, dir)
      .collect().map(_.toString).toSeq
    assert(stored.nonEmpty && stored == inPlan)
  }

  test("knn_served_pq_del: survivors only, queries filtered, empty batch ≡ base") {
    val del = RetrievalAnalytics.knnServedPqDel(spark, dir).collect()
    assert(del.nonEmpty)
    // the tombstone rule (vec_id ≡ 3 mod 7): no dead vector is returned
    // and no dead query issues
    assert(del.forall(r => r.getLong(2) % 7 != 3), "dead neighbor served")
    assert(del.forall(r => r.getLong(0) % 7 != 3), "dead query issued")
    // with an EMPTY tombstone set the del path is the base serve verbatim
    import spark.implicits._
    val none = Seq.empty[Long].toDF("dead_id")
    val viaEmpty = RetrievalAnalytics.knnServedPqFrames(spark,
      graft.sources.StoreCatalog.key(spark, dir), Tables.documents(spark, dir),
      Tables.embeddings(spark, dir), dead = Some(none))
      .collect().map(_.toString).toSeq
    val base = RetrievalAnalytics.knnServedPq(spark, dir)
      .collect().map(_.toString).toSeq
    assert(viaEmpty == base)
  }

  test("packed codes: 2 longs/vector, unpack ≡ enc") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, dir)
    val (enc, _) = PqAnn.pqArtifacts(emb)
    val packed = enc.groupBy(col("vec_id")).agg(
      sum(expr("if(sub < 8,  shiftleft(cast(code as bigint), 8 * sub), 0L)")).as("codes_lo"),
      sum(expr("if(sub >= 8, shiftleft(cast(code as bigint), 8 * (sub - 8)), 0L)")).as("codes_hi"))
    val unpacked = packed
      .select(col("vec_id"), col("codes_lo"), col("codes_hi"),
        explode(expr("sequence(0, 15)")).as("sub"))
      .select(col("vec_id"), col("sub"),
        expr("cast(shiftrightunsigned(if(sub < 8, codes_lo, codes_hi), 8 * (sub % 8)) & 255 as bigint)")
          .as("code"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expected = enc.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(expected.nonEmpty && unpacked == expected)
  }
}
