package graft

import graft.analytics.RetrievalAnalytics
import graft.sources.HybridStore
import org.apache.spark.sql.functions._

/** Laws for the index-backed hybrid retrieval serving shape
  * (`hybrid_rrf_served`): the index sides plan without exchanges (the
  * BandStore law — that is the point of persisting them), the vector
  * scan is statically partition-pruned to the probed cells, and with
  * the probe width opened to every cell the served output equals the
  * per-batch exact entry bit-for-bit (the store/probe plumbing loses
  * nothing — the np=8 default then carries exactly the trained tier's
  * measured recall trade and nothing else).
  */
class HybridServeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("full-probe serving equals the per-batch exact entry bit-for-bit") {
    // nprobe >= K opens every trained cell: the routed member stream is
    // the full scan minus self, so any difference would be store/probe
    // plumbing loss, not the documented recall trade
    val served = RetrievalAnalytics.hybridRrfServedOn(spark, dir, nprobe = 1000000)
      .collect().map(_.toSeq).toSet
    val exact = RetrievalAnalytics
      .hybridRrfOn(Tables.documents(spark, dir), Tables.embeddings(spark, dir))
      .collect().map(_.toSeq).toSet
    assert(exact.nonEmpty && served == exact)
  }

  test("lexical probe: the postings-store side of the candidate join plans with zero exchange") {
    // force the store to exist, then probe it the way the serving leg does
    RetrievalAnalytics.hybridRrfServed(spark, dir).queryExecution.executedPlan
    val postings = spark.table(s"hybrid_postings_${graft.analytics.RetrievalAnalytics.storeKey(dir)}")
    val qterms = postings.filter(col("doc_id") % 100 === 0)
      .limit(5).select(col("doc_id").as("query_id"), col("term"))
    val cands = postings.join(broadcast(qterms), "term")
    val plan = cands.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 0,
      s"postings probe should broadcast the query side only, got $exchanges exchanges:\n" +
        plan.take(2000))
    assert(cands.count() > 0)
  }

  test("vector probe: the cell scan is statically partition-pruned on centroid_id") {
    val served = RetrievalAnalytics.hybridRrfServed(spark, dir)
    val plan = served.queryExecution.executedPlan.toString
    // the probed-cell restriction must reach the store scan as a
    // PartitionFilters entry (static pruning — only nprobe cell
    // directories are listed), the VectorIndexIngest law
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(plan).isDefined,
      s"vector store scan lost its partition filter:\n${plan.take(3000)}")
    assert(served.count() > 0)
  }

  test("knn_served: bit-identical to the in-plan trained tier, partition-pruned cell scan") {
    val served = RetrievalAnalytics.knnServed(spark, dir)
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(plan).isDefined,
      s"served knn scan lost its partition filter:\n${plan.take(3000)}")
    val got = served.collect().map(_.toSeq).toSet
    val exact = graft.similarity.IvfTrained.knnIvfTrained(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(exact.nonEmpty && got == exact,
      "served ANN diverged from knn_ivf_trained on identical routing")
  }

  test("vector freshness law: base store + delta generation at full probe == brute-force exact over the union") {
    val emb  = Tables.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 === 1)
    // full probe: membership is total, so any divergence would be the
    // delta plumbing (assignment, union, scoring), not the recall trade
    val live = RetrievalAnalytics.knnServedLive(spark, "vec_live_law",
      Tables.documents(spark, dir), base, delta, nprobe = 1000000)
      .collect().map(_.toSeq).toSet
    val exact = graft.similarity.Similarity
      .knnBruteOn(graft.similarity.Similarity.withNorms(emb))
      .collect().map(_.toSeq).toSet
    assert(exact.nonEmpty && live == exact,
      "base+delta vector serving diverged from the exact union ranking")
    // at the production probe width BOTH stores' scans stay pruned
    val plan = RetrievalAnalytics.knnServedLive(spark, "vec_live_law",
      Tables.documents(spark, dir), base, delta, nprobe = 2)
      .queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*centroid_id".r.findAllIn(plan).length
    assert(pruned == 2, s"expected both store scans partition-pruned, got $pruned:\n" +
      plan.take(3000))
  }

  test("deletion law: base + delta - tombstones at full probe == brute force over the survivors") {
    val emb  = Tables.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 === 1)
    val dead = emb.filter(col("vec_id") % 5 === 3).select(col("vec_id"))
    val live = RetrievalAnalytics.knnServedLive(spark, "vec_del_law",
      Tables.documents(spark, dir), base, delta, nprobe = 1000000,
      tombstones = Some(dead))
      .collect().map(_.toSeq).toSet
    val exact = graft.similarity.Similarity
      .knnBruteOn(graft.similarity.Similarity.withNorms(
        emb.filter(col("vec_id") % 5 =!= 3)))
      .collect().map(_.toSeq).toSet
    assert(exact.nonEmpty && live == exact,
      "base+delta-tombstones diverged from brute force over the survivors")
    // no deleted id is ever returned, as neighbor or query
    assert(!live.exists(r => r.head.asInstanceOf[Long] % 5 == 3 ||
      r(1).asInstanceOf[Long] % 5 == 3))
  }

  test("knn_served_del keeps the partition-pruned scan and never returns a tombstoned id") {
    val served = RetrievalAnalytics.knnServedDel(spark, dir)
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(plan).isDefined,
      s"deletion serving lost its partition filter:\n${plan.take(3000)}")
    val rows = served.collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(r => r.getLong(0) % 7 == 3 || r.getLong(1) % 7 == 3),
      "a tombstoned id surfaced as query or neighbor")
  }

  test("store build is idempotent and the stores carry the documented layout") {
    RetrievalAnalytics.hybridRrfServed(spark, dir).queryExecution.executedPlan
    val key = graft.analytics.RetrievalAnalytics.storeKey(dir)
    val base = sys.props("java.io.tmpdir").stripSuffix("/") + "/graft_hybrid_store/" + key
    val vecs = spark.read.parquet(base + "/vectors")
    assert(vecs.columns.toSet == Set("vec_id", "v", "n2", "centroid_id"))
    // partition column really partitions: one assignment per vector
    assert(vecs.select("vec_id").distinct().count() == vecs.count())
    val cents = spark.read.parquet(base + "/centroids")
    assert(cents.columns.toSet == Set("centroid_id", "cv"))
    assert(cents.count() > 0 && cents.count() <= 20)
    // second call reuses, not rebuilds: table + paths still there and
    // the entry stays green
    assert(RetrievalAnalytics.hybridRrfServed(spark, dir).count() > 0)
    assert(spark.catalog.tableExists(s"hybrid_postings_$key"))
    val _ = HybridStore // layout contract lives there
  }
}
