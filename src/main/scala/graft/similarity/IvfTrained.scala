package graft.similarity

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF routing over TRAINED coarse centroids — the production-recall
  * answer to the round-9 finding that the √N modular rule pays honest
  * routing recall 0.28/0.18 on near-isotropic geometry: route against
  * [[KMeansExact]]'s Lloyd-refined centroids instead of a raw id-rule
  * subsample. Because that fit is EXACT-INTEGER (fixed-point centroid
  * means, no IEEE division), the trained routing is fully
  * ORACLE-CHECKABLE — unlike the float `vec_sum` refinement
  * ([[Similarity.knnIvfTrainedOn]], deliberately spec-only) — so this
  * tier closes the gap between "trained centroids exist as a component"
  * and "the composed, oracle-gated ANN path routes through them".
  *
  * Assignment metric is exact integer L2 on the quantized vectors (the
  * FAISS IVF convention); the corpus embeddings are unit-norm (measured:
  * ‖x‖ = 1 ± 4e-8 at every SF), so L2 and cosine induce the same
  * neighbor order and the L2-routed buckets are exactly the cosine
  * Voronoi cells the scorer wants.
  *
  * Scale (100 TB): routing is one broadcast of the K-row centroid table
  * against the quantized corpus — N·K codegen'd [[graft.functions.SqDistI64]]
  * distances, argmin as a partial-aggregable min_by (one row per vector
  * crosses the shuffle). K here is the fit's constant 20 (the
  * oracle-gate contract); production composes the SAME routing with a
  * √N-sized seed rule so bucket size and assignment cost balance — the
  * mechanism is seed-count-agnostic.
  *
  * Reference has no vector operators; this is the LLM-pipeline
  * extension tier (builder brief), composed from kmeans_fit +
  * knn_ivf machinery.
  */
object IvfTrained {

  private val TopK     = 10
  private[graft] val QueryMod = 100
  private val CScale   = KMeansExact.CScale

  /** Probed buckets per query, chosen from the measured nprobe-recall
    * sweep (PLANS.md round-10 table, seed-DISJOINT queries): K = 20
    * trained cells, routing recall@10 rises ~linearly from 0.21 (np=1)
    * to 0.78/0.73 at np=8 (1×/10× probe) — np=8 is the smallest probe
    * width that clears the 0.7 composed-recall bar at the 10× scale.
    * The ~40% scan fraction is what honest recall costs on this
    * NEAR-ISOTROPIC corpus (routing's adversarial case — cf. the
    * query-as-centroid finding, PLANS.md:423); on clustered real-world
    * embeddings the same machinery reaches the bar at far smaller
    * fractions, and the published sweep is the tuning surface
    * production would use.
    */
  private[graft] val NProbe = 8

  /** Trained-routing member pairs (query_id, vec_id): every vector of
    * the nprobe trained buckets closest to each query, query itself
    * excluded — the composition point [[Similarity.scoreMembers]] (exact
    * cosine) and [[PqAnn]]'s ADC scan plug into.
    *
    * @param queryPred picks the query side (registry default: the
    *   modulo rule; [[graft.tools.RecallProbe]] passes a SEED-DISJOINT
    *   predicate per the PLANS.md:423 measurement law, and pins
    *   queries to the base id range at replica scales)
    */
  private[graft] def trainedMembersOn(emb: DataFrame, nprobe: Int = NProbe,
      queryPred: org.apache.spark.sql.Column = col("vec_id") % QueryMod === 0,
      centroidsOf: DataFrame => DataFrame = KMeansExact.centroidsPacked(_)): DataFrame = {
    graft.GraftExtensions.register(emb.sparkSession)
    // quantized corpus pre-scaled to the centroid fixed point, so every
    // distance is one codegen'd integer loop against the K-row broadcast
    val q = scaledQuantized(emb)
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(eager = false) // two consumers: assignment + probe side
    val c = centroidsOf(emb)
    probesOn(q.filter(queryPred), c, nprobe)
      .join(assignOn(q, c), "centroid_id")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
  }

  /** (vec_id, sqv): the corpus quantized ([[KMeansExact.quantized]]) and
    * pre-scaled to the centroid fixed point — the frame every trained
    * routing distance runs over.
    */
  private[graft] def scaledQuantized(emb: DataFrame): DataFrame = {
    graft.GraftExtensions.register(emb.sparkSession)
    KMeansExact.quantized(emb)
      .select(col("vec_id"), expr(s"transform(qv, x -> ${CScale}L * x)").as("sqv"))
  }

  /** Exact-integer cell assignment of a (vec_id, sqv) frame against the
    * packed centroid table: argmin d2, ties to the smaller centroid_id.
    * One definition shared by the in-plan routing and the serving
    * store's build-time pass ([[graft.analytics.RetrievalAnalytics]]),
    * so both assign bit-identically by construction.
    */
  private[graft] def assignOn(q: DataFrame, c: DataFrame): DataFrame =
    q.crossJoin(broadcast(c))
      .select(col("vec_id"), col("centroid_id"),
        expr("sq_dist_i64(sqv, cv)").as("d2"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("centroid_id"), struct(col("d2"), col("centroid_id")))
        .as("centroid_id"))

  /** Per-query top-nprobe trained cells (query_id, centroid_id) — the
    * window ranks K rows per query (K constant/√N), never a corpus-sized
    * partition.
    */
  private[graft] def probesOn(q: DataFrame, c: DataFrame, nprobe: Int): DataFrame = {
    val wp = Window.partitionBy("query_id").orderBy(col("d2").asc, col("centroid_id").asc)
    q.select(col("vec_id").as("query_id"), col("sqv"))
      .crossJoin(broadcast(c))
      .select(col("query_id"), col("centroid_id"),
        expr("sq_dist_i64(sqv, cv)").as("d2"))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("centroid_id"))
  }

  // ---- knn_ivf_trained: trained routing + exact cosine rerank ----------
  /** The `knn_ivf` contract (query_id, neighbor_id, rank, cosine) with
    * the modular centroid subsample replaced by the Lloyd-trained cells:
    * exact cosine over the routed members only.
    */
  def knnIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
    Similarity.scoreMembers(Similarity.withNorms(raw), trainedMembersOn(raw))
  }

  /** √N-seeded trained routing ([[KMeansExact.centroidsPackedSqrt]]) —
    * the member stream of the SCALE-CORRECT trained tier: C ≈ √N
    * Lloyd-refined cells, so bucket size (N/C ≈ √N members scanned per
    * probe) and training cost (N·C = N^1.5 per round) balance at any
    * corpus size, while the cells still TRACK the data (vs the raw
    * √N modular subsample whose honest recall collapsed to 0.18 —
    * PLANS.md). This closes the constant-K caveat on [[trainedMembersOn]].
    */
  private[graft] def trainedMembersSqrtOn(emb: DataFrame, nprobe: Int = NProbe,
      queryPred: org.apache.spark.sql.Column = col("vec_id") % QueryMod === 0): DataFrame =
    trainedMembersOn(emb, nprobe, queryPred, KMeansExact.centroidsPackedSqrt(_))

  // ---- knn_ivf_trained_sqrt: the scale-correct trained routing ---------
  /** [[knnIvfTrained]] over the √N-seeded trained cells — identical
    * scoring contract, C grows as √N instead of the fit's constant 20.
    */
  def knnIvfTrainedSqrt(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
    Similarity.scoreMembers(Similarity.withNorms(raw), trainedMembersSqrtOn(raw))
  }

  /** Routing CTE chain (WITH-less): the kmeans fit chain + one more
    * assignment pass against its final centroids (`kasg`), the per-query
    * probe ranking (`kprobes`), and the routed `members` — shared
    * verbatim by the exact-cosine and ADC-rerank oracles so both route
    * identically by construction.
    */
  private def trainedMembersSqlChainWith(kmeansChain: String): String =
    s"""$kmeansChain,
       |kasg AS MATERIALIZED (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rn
       |    FROM (SELECT ke0.vec_id, c.centroid_id,
       |                 CAST(sum(($CScale * ke0.q - c.ci) * ($CScale * ke0.q - c.ci)) AS BIGINT) AS d2
       |          FROM ke0 JOIN ${KMeansExact.finalCentroidCte} c USING (i)
       |          GROUP BY 1, 2)) WHERE rn = 1),
       |kprobes AS MATERIALIZED (
       |  SELECT query_id, centroid_id FROM (
       |    SELECT vec_id AS query_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rn
       |    FROM (SELECT ke0.vec_id, c.centroid_id,
       |                 CAST(sum(($CScale * ke0.q - c.ci) * ($CScale * ke0.q - c.ci)) AS BIGINT) AS d2
       |          FROM ke0 JOIN ${KMeansExact.finalCentroidCte} c USING (i)
       |          WHERE ke0.vec_id % $QueryMod = 0
       |          GROUP BY 1, 2)) WHERE rn <= $NProbe),
       |members AS MATERIALIZED (
       |  SELECT p.query_id, a.vec_id
       |  FROM kprobes p JOIN kasg a USING (centroid_id)
       |  WHERE p.query_id <> a.vec_id)""".stripMargin

  /** Offline-trainer materialization for the streaming index
    * ([[graft.streaming.VectorIndexIngest.writeCentroids]]): the trained
    * fixed-point centroids decoded back to float
    * (cv / (CScale·QScale)) in the (centroid_id, embedding) layout the
    * static routing store persists — the step that makes the streaming
    * tier's "centroids train offline, rarely" story concrete: run the
    * exact-integer fit on a corpus sample, decode, write, and every
    * subsequent micro-batch routes against cells that TRACK the data
    * (the retrain trigger watches out-of-coverage drift against them).
    * Decode cost is one K-row projection; the ~1e-5 decode rounding is
    * irrelevant to routing (cell boundaries move by less than vector
    * spacing).
    */
  def trainedCentroidFrame(emb: DataFrame): DataFrame =
    KMeansExact.centroidsPacked(emb)
      .select(col("centroid_id"),
        expr(s"transform(cv, x -> cast(x / ${CScale * KMeansExact.QScale} as float))")
          .as("embedding"))

  private[graft] val trainedMembersSqlChain: String =
    trainedMembersSqlChainWith(KMeansExact.kmeansChainSql)

  private[graft] val trainedMembersSqrtSqlChain: String =
    trainedMembersSqlChainWith(KMeansExact.kmeansChainSqrtSql)

  private def scoredSqlOver(chain: String): String =
    s"""WITH $chain,
       |${Similarity.EmbCteBody},
       |q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2 FROM e WHERE vec_id % $QueryMod = 0),
       |${Similarity.ivfScoredSql}""".stripMargin

  val knnIvfTrainedSql: String = scoredSqlOver(trainedMembersSqlChain)
  val knnIvfTrainedSqrtSql: String = scoredSqlOver(trainedMembersSqrtSqlChain)

  // the two knn_ivf_trained* keys moved to RetrievalAnalytics.registry
  // (r18 — the PqAnn precedent): both retrained centroids AND re-ran the
  // N·C corpus assignment in-plan per read while the hybrid store
  // already persists the K-row trained centroid table + assignment and
  // the √N tier's sqrtcents/sqrtasg artifacts. The in-plan spellings
  // above ([[knnIvfTrained]]/[[knnIvfTrainedSqrt]]) stay as the
  // spec-pinned reference derivations (`IvfServedSpec` demotion laws)
  // and the UNCHANGED oracles still replay the full kmeans chain.
  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map()
}
