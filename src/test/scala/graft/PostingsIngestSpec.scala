package graft

import graft.streaming.PostingsIngest
import graft.streaming.PostingsIngest.Stores
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming postings-tier laws: the merged delta store equals the
  * batch tf frame bit-for-bit, BM25 served off the live store equals
  * the oracle-checked batch entry, replay is idempotent, term probes
  * are partition-pruned, health rows conserve, and compaction
  * preserves the read paths.
  */
class PostingsIngestSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def freshStores(): Stores = {
    val t = java.nio.file.Files.createTempDirectory("postings_ingest").toString
    Stores(t + "/postings", t + "/health")
  }

  test("two-batch ingest: merged tf == batch tf; streamed BM25 == the oracle-checked batch entry; replay idempotent") {
    val st = freshStores()
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    PostingsIngest.processBatch(docs.filter(col("doc_id") % 2 === 0), 0L, st)
    PostingsIngest.processBatch(docs.filter(col("doc_id") % 2 === 1), 1L, st)
    val expectedTf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tc"))
      .as[(Long, String, Long)].collect().toSet
    val gotTf = PostingsIngest.mergedTf(spark, st)
      .as[(Long, String, Long)].collect().toSet
    assert(gotTf == expectedTf, "merged delta store diverges from the batch tf frame")
    // the full BM25 contract off the live store — bit-for-bit with the
    // batch entry whose oracle the driver checks
    val batch = graft.analytics.RetrievalAnalytics.bm25Topk(spark, dir)
      .as[(Long, Int, String, Double)].collect().toSet
    val streamed = PostingsIngest.bm25Topk(spark, st)
      .as[(Long, Int, String, Double)].collect().toSet
    assert(streamed == batch, "BM25 off the delta store diverges from bm25_topk")
    // crash-replay of batch 0 rewrites its own partition only
    PostingsIngest.processBatch(docs.filter(col("doc_id") % 2 === 0), 0L, st)
    assert(PostingsIngest.mergedTf(spark, st)
      .as[(Long, String, Long)].collect().toSet == expectedTf, "replay changed the store")
  }

  test("term probe: partition-pruned on term_bucket, exact posting lists") {
    val st = freshStores()
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    PostingsIngest.processBatch(docs, 0L, st)
    val terms = docs.select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().orderBy(col("count").desc, col("t"))
      .limit(3).as[(String, Long)].collect().map(_._1).toSeq
    val probe = PostingsIngest.probeTerms(spark, st, terms)
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*term_bucket".r.findFirstIn(plan).isDefined,
      s"term probe lost its partition filter:\n${plan.take(3000)}")
    val expected = PostingsIngest.mergedTf(spark, st)
      .filter(col("term").isin(terms: _*))
      .as[(Long, String, Long)].collect().toSet
    assert(expected.nonEmpty &&
      probe.as[(Long, String, Long)].collect().toSet == expected)
  }

  test("health rows conserve the ingested postings; compaction preserves every read path") {
    val st = freshStores()
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    PostingsIngest.processBatch(docs.filter(col("doc_id") % 2 === 0), 0L, st)
    PostingsIngest.processBatch(docs.filter(col("doc_id") % 2 === 1), 1L, st)
    val health = spark.read.parquet(st.healthPath)
      .select("batch_id", "n_docs", "n_postings", "n_terms")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(health.map(_._1).toSeq == Seq(0L, 1L))
    assert(health.map(_._2).sum == docs.count(), "health doc count drifted")
    assert(health.map(_._3).sum == PostingsIngest.mergedTf(spark, st).count(),
      "health posting count drifted")
    val before = PostingsIngest.bm25Topk(spark, st)
      .as[(Long, Int, String, Double)].collect().toSet
    // file-level compaction (docs immutable => rows preserved verbatim),
    // keeping the term_bucket leaf layout so probes stay pruned
    PostingsIngest.compact(spark, st)
    val cells = spark.read.parquet(st.postingsPath)
    assert(cells.select("batch_id").distinct().as[Long].collect().toSeq == Seq(-1L))
    assert(PostingsIngest.bm25Topk(spark, st)
      .as[(Long, Int, String, Double)].collect().toSet == before,
      "compaction changed the served scores")
    val someTerm = PostingsIngest.mergedTf(spark, st)
      .select("term").limit(1).as[String].head()
    val probePlan = PostingsIngest.probeTerms(spark, st, Seq(someTerm))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*term_bucket".r.findFirstIn(probePlan).isDefined,
      "compacted store lost the partition-pruned probe")
    // post-compaction batches still merge
    PostingsIngest.processBatch(
      docs.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")), 2L, st)
    assert(PostingsIngest.mergedTf(spark, st).count() ==
      health.map(_._3).sum + health(1)._3)
  }

  test("live freshness law: base store on half the docs + delta tier on the rest == a full rebuild, bit-for-bit") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val emb  = Tables.embeddings(spark, dir)
    val st = freshStores()
    // the crawler lands the odd half AFTER the base index was built
    PostingsIngest.processBatch(docs.filter(col("doc_id") % 2 === 1), 0L, st)
    // nprobe >= K: the vector leg degenerates to the exact scan, so any
    // difference would be the lexical freshness composition, not the
    // documented ANN recall trade
    val live = graft.analytics.RetrievalAnalytics.hybridRrfLive(
      spark, "live_law", docs.filter(col("doc_id") % 2 === 0), emb, st,
      nprobe = 1000000)
      .collect().map(_.toSeq).toSet
    val rebuild = graft.analytics.RetrievalAnalytics
      .hybridRrfOn(docs, emb)
      .collect().map(_.toSeq).toSet
    assert(rebuild.nonEmpty && live == rebuild,
      "base+delta composition diverged from the full rebuild")
  }

  test("lexical deletion law: base + delta - tombstones == a rebuild on the survivors, bit-for-bit") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val emb  = Tables.embeddings(spark, dir)
    val st = freshStores()
    PostingsIngest.processBatch(docs.filter(col("doc_id") % 2 === 1), 0L, st)
    val dead = docs.filter(col("doc_id") % 5 === 3).select(col("doc_id"))
    // BM25's df/dl/N must re-derive from the SURVIVING tf union — frozen
    // global stats would make every surviving score subtly wrong
    val live = graft.analytics.RetrievalAnalytics.hybridRrfLive(
      spark, "lex_del_law", docs.filter(col("doc_id") % 2 === 0), emb, st,
      nprobe = 1000000, tombstones = Some(dead))
      .collect().map(_.toSeq).toSet
    val rebuild = graft.analytics.RetrievalAnalytics
      .hybridRrfOn(docs.filter(col("doc_id") % 5 =!= 3),
        emb.filter(col("vec_id") % 5 =!= 3))
      .collect().map(_.toSeq).toSet
    assert(rebuild.nonEmpty && live == rebuild,
      "tombstoned serving diverged from the survivor rebuild")
  }

  test("streaming end-to-end: MemoryStream -> per-batch postings -> live probe") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val st  = freshStores()
    val tmp = java.nio.file.Files.createTempDirectory("postings_ck").toString
    val in  = MemoryStream[(Long, String)]
    val query = PostingsIngest.run(in.toDF().toDF("doc_id", "text"), st, s"$tmp/ck",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      in.addData((1L, "alpha beta alpha"), (2L, "beta gamma"))
      query.processAllAvailable()
      in.addData((3L, "alpha delta"))
      query.processAllAvailable()
      val got = PostingsIngest.probeTerms(spark, st, Seq("alpha"))
        .as[(Long, String, Long)].collect().toSet
      assert(got == Set((1L, "alpha", 2L), (3L, "alpha", 1L)))
    } finally query.stop()
  }
}
