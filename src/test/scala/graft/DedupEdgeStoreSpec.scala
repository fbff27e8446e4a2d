package graft

import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.sources.StoreCatalog
import org.apache.spark.sql.functions._

/** Laws for the materialized dedup tier (r13 verdict ask #1): the
  * persisted verified near-dup edge graph and its served consumers.
  */
class DedupEdgeStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("stored pairs ≡ derived pairs; served components/keep_best/ensemble ≡ in-plan") {
    // served ≡ in-plan bit-for-bit for every consumer of the store: the
    // stored ≡ derived law is implied (componentsOn is injective enough —
    // but assert the edge sets directly too, it's the cheapest check)
    val derived = Dedup.dedupMinhash(spark, dir).collect().map(_.toString).sorted
    val stored = Dedup.storedPairs(spark,
        StoreCatalog.key(spark, dir), Tables.documents(spark, dir))
      .collect().map(_.toString).sorted
    assert(derived.nonEmpty && stored.toSeq == derived.toSeq)

    val compServed = Dedup.dedupComponentsServed(spark, dir).collect().map(_.toString).sorted
    val compPlan = Dedup.dedupComponents(spark, dir).collect().map(_.toString).sorted
    assert(compServed.nonEmpty && compServed.toSeq == compPlan.toSeq)

    val kbServed = Dedup.dedupKeepBestServed(spark, dir).collect().map(_.toString).toSeq
    val kbPlan = Dedup.dedupKeepBest(spark, dir).collect().map(_.toString).toSeq
    assert(kbServed.nonEmpty && kbServed == kbPlan)

    val ensServed = Dedup.dedupEnsembleServed(spark, dir).collect().map(_.toString).toSeq
    val ensPlan = Dedup.dedupEnsemble(spark, dir).collect().map(_.toString).toSeq
    assert(ensServed.nonEmpty && ensServed == ensPlan)
  }

  test("doc_pagerank_served ≡ in-plan off the stored embedding edge graph") {
    val served = Similarity.docPagerankServed(spark, dir).collect().map(_.toString).toSeq
    val plan = Similarity.docPagerank(spark, dir).collect().map(_.toString).toSeq
    assert(served.nonEmpty && served == plan)
  }

  test("a build killed mid-write (no _SUCCESS) is rebuilt, never served") {
    import spark.implicits._
    val key = "spec_partial_" + System.nanoTime()
    val root = StoreCatalog.root("graft_dedup_edges", key)
    // fake a killed build: the intent marker landed, then parquet part
    // files without their commit marker — the exact state a build killed
    // mid-write leaves behind
    Seq((999999L, 999998L, 1.0)).toDF("doc_id_1", "doc_id_2", "jaccard")
      .write.mode("overwrite").parquet(root + "/data")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root + "/data/_SUCCESS"), false)
    fs.create(new org.apache.hadoop.fs.Path(root + "/_GRAFT_BUILDING")).close()
    val docs = Tables.documents(spark, dir)
    val got = Dedup.storedPairs(spark, key, docs).collect().map(_.toString).sorted
    val want = Dedup.dedupMinhashOn(Dedup.shingleSets(docs))
      .collect().map(_.toString).sorted
    assert(got.toSeq == want.toSeq && !got.exists(_.contains("999999")))
  }
}
