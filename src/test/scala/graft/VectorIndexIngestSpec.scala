package graft

import graft.streaming.VectorIndexIngest
import graft.streaming.VectorIndexIngest.Stores
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming ANN-index maintenance laws: assignment parity with the
  * batch router, replay idempotence, health accounting, partition-pruned
  * search, block hygiene, and the MemoryStream path.
  */
class VectorIndexIngestSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def freshStores(): Stores = {
    val tmp = java.nio.file.Files.createTempDirectory("vec_index").toString
    Stores(s"$tmp/centroids", s"$tmp/buckets", s"$tmp/health")
  }

  /** The modular centroid rule of `knn_ivf` as the offline trainer. */
  private def trainCentroids(s: Stores): Unit =
    VectorIndexIngest.writeCentroids(
      Tables.embeddings(spark, dir).filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding")), s)

  private def ingestInTwoBatches(s: Stores): Unit = {
    val all = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    VectorIndexIngest.processBatch(all.filter(col("vec_id") % 2 === 0), 0L, s)
    VectorIndexIngest.processBatch(all.filter(col("vec_id") % 2 === 1), 1L, s)
  }

  test("streamed buckets agree with the batch router; replay is idempotent") {
    val s = freshStores()
    trainCentroids(s)
    ingestInTwoBatches(s)
    val stored = spark.read.parquet(s.bucketsPath)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(stored.size == 500, s"index rows ${stored.size}")
    // assignment parity: the stored routing equals a direct batch argmax
    val cents = spark.read.parquet(s.centroidsPath)
      .select(col("centroid_id"), col("embedding").as("cv"),
        expr("vec_dot(embedding, embedding)").as("cn2"))
    val direct = VectorIndexIngest.assign(
        Tables.embeddings(spark, dir).select("vec_id", "embedding"), cents)
      .select(col("vec_id"), col("centroid_id"))
      .as[(Long, Long)].collect().toMap
    assert(stored == direct, "streamed assignment diverges from the batch router")
    // crash-replay of batch 0 rewrites its own partition — no dupes
    VectorIndexIngest.processBatch(
      Tables.embeddings(spark, dir).select("vec_id", "embedding")
        .filter(col("vec_id") % 2 === 0), 0L, s)
    assert(spark.read.parquet(s.bucketsPath).count() == 500)
  }

  test("index health: per-centroid counts conserve and n_low matches the coverage rule") {
    val s = freshStores()
    trainCentroids(s)
    ingestInTwoBatches(s)
    val health = VectorIndexIngest.indexHealth(spark, s)
      .select(col("centroid_id").cast("long"), col("n"), col("n_low"))
      .as[(Long, Long, Long)].collect()
    assert(health.map(_._2).sum == 500, "health rows lost vectors")
    health.foreach { case (c, n, low) =>
      assert(low >= 0 && low <= n, s"centroid $c: $low/$n")
    }
    // n_low agrees with a direct recount off the stored best_cos
    val directLow = spark.read.parquet(s.bucketsPath)
      .filter(col("best_cos") < 0.45).count()
    assert(health.map(_._3).sum == directLow, "coverage accounting diverged")
  }

  test("search probes only nprobe buckets (partition-pruned files) and finds the ingested query at rank 1") {
    val s = freshStores()
    trainCentroids(s)
    ingestInTwoBatches(s)
    val qv = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].head()
    val res = VectorIndexIngest.search(spark, s, qv, nprobe = 3, topK = 10)
    // the probe set the router must have chosen: top-3 centroids by
    // cosine for this query (ties to the smaller id), computed directly
    val expectedProbes = spark.read.parquet(s.centroidsPath)
      .withColumn("qv", typedLit(qv))
      .withColumn("cosine", expr("vec_dot(qv, embedding)")
        / (sqrt(expr("vec_dot(qv, qv)")) * sqrt(expr("vec_dot(embedding, embedding)"))))
      .orderBy(col("cosine").desc, col("centroid_id"))
      .limit(3).select("centroid_id").as[Long].collect().toSet
    assert(expectedProbes.size == 3)
    // the bucket scan is STATICALLY partition-pruned on centroid_id —
    // the collected probe ids appear as a PartitionFilters IN-list, so
    // only 3 of the 10 bucket directories are ever listed
    val plan = res.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(plan).isDefined,
      s"bucket scan lost its partition filter:\n${plan.take(2000)}")
    val rows = res.select("neighbor_id", "rank", "ascore")
      .as[(Long, Int, Double)].collect().sortBy(_._2)
    assert(rows.length == 10)
    // the query vector itself was ingested → it is its own best match
    assert(rows.head._1 == 0L && rows.head._3 == 1.0d,
      s"rank 1 is ${rows.head} — expected the ingested query at cosine 1.0")
    assert(rows.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    // every hit came from a probed bucket
    val bucketOf = spark.read.parquet(s.bucketsPath)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (id, r, _) =>
      assert(expectedProbes.contains(bucketOf(id)), s"rank $r hit $id outside the probed buckets")
    }
  }

  test("per-batch checkpoint blocks are released — no growth across batches") {
    val s = freshStores()
    trainCentroids(s)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    ingestInTwoBatches(s)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
  }

  test("trained centroid store: ingest, health, and pruned search laws hold over the kmeans-trained cells") {
    val s = freshStores()
    // the offline trainer is the exact-integer kmeans fit, decoded to the
    // float (centroid_id, embedding) store layout — K = 20 trained cells
    VectorIndexIngest.writeCentroids(
      graft.similarity.IvfTrained.trainedCentroidFrame(Tables.embeddings(spark, dir)), s)
    ingestInTwoBatches(s)
    val stored = spark.read.parquet(s.bucketsPath)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(stored.size == 500)
    assert(stored.values.toSet.size > 1, "all vectors routed to one trained cell")
    // assignment parity with the batch router over the SAME trained store
    val cents = spark.read.parquet(s.centroidsPath)
      .select(col("centroid_id"), col("embedding").as("cv"),
        expr("vec_dot(embedding, embedding)").as("cn2"))
    val direct = VectorIndexIngest.assign(
        Tables.embeddings(spark, dir).select("vec_id", "embedding"), cents)
      .select(col("vec_id"), col("centroid_id"))
      .as[(Long, Long)].collect().toMap
    assert(stored == direct, "streamed assignment diverges from the batch router on trained cells")
    // health conserves and the search stays partition-pruned
    assert(VectorIndexIngest.indexHealth(spark, s)
      .agg(sum("n")).as[Long].head() == 500)
    val qv = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].head()
    val res = VectorIndexIngest.search(spark, s, qv, nprobe = 3, topK = 10)
    val plan = res.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(plan).isDefined,
      s"trained-store bucket scan lost its partition filter:\n${plan.take(2000)}")
    val rows = res.select("neighbor_id", "rank", "ascore")
      .as[(Long, Int, Double)].collect().sortBy(_._2)
    assert(rows.length == 10 && rows.head._1 == 0L && rows.head._3 == 1.0d)
  }

  test("streaming end-to-end: MemoryStream → index gate → bucket + health stores") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val s   = freshStores()
    trainCentroids(s)
    val tmp = java.nio.file.Files.createTempDirectory("vec_index_ck").toString
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val input = MemoryStream[(Long, Array[Float])]
    val query = VectorIndexIngest.run(
      input.toDS().toDF("vec_id", "embedding"), s, tmp,
      trigger = Trigger.ProcessingTime(0L))
    try {
      input.addData(base.take(100).toSeq)
      query.processAllAvailable()
      input.addData(base.drop(100).take(50).toSeq)
      query.processAllAvailable()
      assert(spark.read.parquet(s.bucketsPath).count() == 150)
      assert(VectorIndexIngest.indexHealth(spark, s)
        .agg(sum("n")).as[Long].head() == 150)
    } finally query.stop()
  }

  test("retrain loop: drift raises n_low, retrain + rebucket restore coverage and search") {
    import spark.implicits._
    // planted directions: clusters 0-3 are the ORIGINAL distribution,
    // 10-13 the drifted one (random 64-dim directions are ~orthogonal,
    // so a drifted vector's cosine to any original centroid is ~0)
    def planted(cl: Long, idFrom: Long, n: Int) =
      spark.range(idFrom, idFrom + n).toDF("vec_id")
        .withColumn("c", expr(
          s"transform(sequence(0, 63), d -> cast(pmod(xxhash64(${cl}L, d), 2001) - 1000 as double) / 1000.0D)"))
        .withColumn("g", expr(
          "transform(sequence(0, 63), d -> cast(pmod(xxhash64(vec_id, d, 7), 2001) - 1000 as double) / 1000.0D)"))
        .withColumn("cn", expr("sqrt(aggregate(c, 0D, (s, x) -> s + x * x))"))
        .withColumn("gn", expr("sqrt(aggregate(g, 0D, (s, x) -> s + x * x))"))
        .select(col("vec_id"),
          expr("zip_with(c, g, (a, b) -> cast(0.95D * a / cn + 0.31D * b / gn as float))")
            .as("embedding"))
    val original = (0 to 3).map(cl => planted(cl, cl * 100L, 50)).reduce(_ unionByName _)
    val drifted = (10 to 13).map(cl => planted(cl, 1000 + cl * 100L, 50)).reduce(_ unionByName _)
    val s = freshStores()
    // offline trainer on the original distribution; ingest it: covered
    VectorIndexIngest.retrain(original, s)
    VectorIndexIngest.processBatch(original, 0L, s)
    val h0 = VectorIndexIngest.indexHealth(spark, s)
      .agg(sum("n"), sum("n_low")).as[(Long, Long)].head()
    assert(h0._1 == 200 && h0._2.toDouble / h0._1 < 0.1,
      s"original distribution should be covered, n_low=${h0._2}")
    // drift arrives: the health rows ARE the retrain trigger
    VectorIndexIngest.processBatch(drifted, 1L, s)
    val h1 = VectorIndexIngest.indexHealth(spark, s)
      .agg(sum("n"), sum("n_low")).as[(Long, Long)].head()
    assert(h1._2.toDouble / h1._1 > 0.4,
      s"drift should blow coverage, n_low=${h1._2} of ${h1._1}")
    // the loop closes: retrain on the recent raw sample, re-bucket
    VectorIndexIngest.retrain(original.unionByName(drifted), s)
    VectorIndexIngest.rebucket(spark, s)
    val buckets = spark.read.parquet(s.bucketsPath)
    assert(buckets.select("batch_id").distinct().as[Long].collect().toSeq == Seq(-1L),
      "rebucket should consolidate to one generation")
    assert(buckets.count() == 400, "rebucket lost rows")
    val h2 = VectorIndexIngest.indexHealth(spark, s)
      .agg(sum("n"), sum("n_low")).as[(Long, Long)].head()
    assert(h2._1 == 400 && h2._2.toDouble / h2._1 < 0.1,
      s"retrained centroids should cover both distributions, n_low=${h2._2}")
    // search for a drifted-direction query finds drifted vectors
    val q = planted(12L, 9999L, 1).select("embedding").as[Array[Float]].head()
    val hits = VectorIndexIngest.search(spark, s, q, nprobe = 2)
      .select("neighbor_id").as[Long].collect()
    assert(hits.nonEmpty && hits.forall(id => id >= 2200 && id < 2250),
      s"drifted query should hit its own drifted cluster, got ${hits.toSeq}")
    // post-rebucket ingest still lands and merges
    VectorIndexIngest.processBatch(planted(11L, 5000L, 10), 2L, s)
    assert(spark.read.parquet(s.bucketsPath).count() == 410)
  }
}
