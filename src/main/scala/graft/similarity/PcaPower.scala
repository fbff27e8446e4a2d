package graft.similarity

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dominant principal direction of the embedding cloud by power
  * iteration — the spectral summary an embedding pipeline wants before
  * choosing index geometry (IVF cell shapes, quantizer rotation, whether
  * the cloud is anisotropic enough for an OPQ-style transform to pay).
  * Computes the top eigenvector of the CENTERED second-moment matrix
  * (i.e. the top PCA component) without ever materializing the d×d
  * covariance: each round is two matrix-vector products expressed as
  * keyed aggregates, `dot(v) = Σᵢ x_vᵢ·wᵢ` then `sᵢ = Σ_v dot(v)·x_vᵢ`
  * — the standard trick that turns (XᵀX)w into Xᵀ(Xw) so the work is
  * O(N·d) per round, never O(N·d²).
  *
  * Cross-engine determinism is the hard part, and the design mirrors
  * doc_pagerank's: ALL linear algebra runs in exact integer arithmetic.
  * Components quantize to `floor(e·1000)` (float→double promotion and
  * the double multiply/floor are IEEE-exact in both engines); centering
  * multiplies through by N (`qc = N·q − Σq`, integers — no fractional
  * mean anywhere); both matrix-vector products are integer/DECIMAL sums,
  * associative and order-free, so partial aggregation cannot perturb
  * them. The one per-round normalization divides by the max-abs entry
  * and re-scales to ±10⁶ through a single decimal→double conversion pair
  * — correctly-rounded in both engines — and immediately re-floors to
  * integers, so no accumulated IEEE state crosses rounds. Sign and
  * scale are pinned by the all-ones start vector and the ±10⁶
  * renormalization; 5 fixed rounds (eigengap convergence is geometric;
  * the output is the DIRECTION estimate, exact to the quantization).
  *
  * Scale (100 TB): the exploded (vec, dim, qc) frame is N·d rows of
  * integers streaming through two partial-aggregable keyed sums per
  * round — d groups and N groups, no window, no self-join; the weight
  * vector is a 64-row broadcast. The per-vector dot accumulates in
  * BIGINT, exact up to ~7·10⁷ rows at this quantization; past that the
  * same plan runs with the DECIMAL(38) accumulator the sᵢ sum already
  * uses (the documented cluster path — swap the one cast). Lazy
  * localCheckpoints pin the exploded frame and each round's weights so
  * the 5 rounds fuse into one job cascade (the doc_pagerank_iter
  * lesson) instead of re-deriving round r−1 inside round r.
  */
object PcaPower {

  /** Embedding dimensionality of the test corpus. */
  private val Dims = 64

  /** Fixed power-iteration rounds. */
  private val Rounds = 5

  /** Component quantization: floor(e · 1000). */
  private val QScale = 1000.0

  /** Weight renormalization target: max-abs weight becomes ±10⁶. */
  private val WScale = 1000000.0

  private def dec20(c: Column): Column = c.cast(DecimalType(20, 0))

  def embeddingPca(spark: SparkSession, dir: String): DataFrame =
    pcaPowerOn(Tables.embeddings(spark, dir), Dims, Rounds)

  /** Centered quantized exploded frame (vec_id, i, qc): q = floor(e_i·1000),
    * qc = N·q − Σq (mean-centering multiplied through — exact integers).
    */
  private def centeredFrame(emb: DataFrame): DataFrame = {
    val e0 = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "e")))
      .select(col("vec_id"), (col("p") + 1).as("i"),
        floor(col("e").cast("double") * lit(QScale)).cast("long").as("q"))
    val mu = e0.groupBy("i").agg(sum(col("q")).as("s_i"))
    val n = emb.agg(count(lit(1)).as("n"))
    e0.join(broadcast(mu), "i")
      .crossJoin(broadcast(n))
      .select(col("vec_id"), col("i"),
        (col("n") * col("q") - col("s_i")).as("qc"))
      .localCheckpoint(eager = false)
  }

  /** The fixed power-iteration rounds over a centered frame; returns the
    * final scaled weight vector as (i, w) rows.
    */
  private def powerRounds(e: DataFrame, rounds: Int): DataFrame = {
    var w = e.select(col("i")).distinct().select(col("i"), lit(1000000L).as("w"))
    for (_ <- 1 to rounds) {
      val dots = e.join(broadcast(w), "i")
        .groupBy("vec_id")
        .agg(sum(col("qc") * col("w")).as("dot"))
      val s = e.join(dots, "vec_id")
        .groupBy("i")
        .agg(sum(dec20(col("dot")) * col("qc")).as("s"))
      val m = s.agg(max(abs(col("s"))).as("m"))
      w = s.crossJoin(broadcast(m))
        .select(col("i"),
          floor(col("s").cast("double") / col("m").cast("double") * lit(WScale))
            .cast("long").as("w"))
        .localCheckpoint(eager = false)
    }
    w
  }

  private[graft] def pcaPowerOn(emb: DataFrame, dims: Int, rounds: Int): DataFrame =
    powerRounds(centeredFrame(emb), rounds)
      .select(col("i").cast("int").as("dim"), col("w")).orderBy("dim")

  // ---- embedding_pca_project: projection histogram on the component ----

  /** Histogram buckets across the projection range. */
  private val Buckets = 16

  /** The learned component put to work: every vector's exact integer
    * projection onto the trained direction, folded into a
    * [[Buckets]]-bucket histogram over the symmetric range ±max|proj| —
    * the anisotropy profile that says whether the cloud is elongated
    * (index along this axis) or isotropic (don't bother). Projections
    * are Σ qc·w — the same exact integer dot the training rounds use —
    * so bucket membership is deterministic cross-engine; the only IEEE
    * step is the bucket-index division, identical operation order in
    * both engines.
    *
    * Scale: one more pass of the centered frame against the 64-row
    * weight broadcast (the training rounds' per-round cost), then a
    * 16-group count. Output is [[Buckets]] rows at any corpus size.
    */
  def embeddingPcaProject(spark: SparkSession, dir: String): DataFrame =
    pcaProjectOn(Tables.embeddings(spark, dir))

  private[graft] def pcaProjectOn(emb: DataFrame): DataFrame = {
    val e = centeredFrame(emb)
    projectHistogram(e, powerRounds(e, Rounds))
  }

  /** The projection histogram over a centered frame and a trained
    * (i, w) component — hoisted so the in-plan entry and the
    * artifact-backed serving form share the arithmetic verbatim.
    */
  private def projectHistogram(e: DataFrame, w: DataFrame): DataFrame = {
    val proj = e.join(broadcast(w), "i")
      .groupBy("vec_id")
      .agg(sum(col("qc") * col("w")).as("p"))
    val mm = proj.agg(max(abs(col("p"))).as("m"))
    proj.crossJoin(broadcast(mm))
      .select((floor(col("p").cast("double") * lit(Buckets / 2.0)
          / (col("m") + lit(1L)).cast("double"))
        .cast("int") + lit(Buckets / 2)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("bucket")
  }

  /** The persisted trained component (i, w) beside the corpus' store
    * family — 64 rows of EXACT integers (the fixed-point design is what
    * makes the parquet round-trip bit-exact), built once by the same
    * 5-round fit the `embedding_pca` entry runs.
    */
  private def storedComponent(spark: SparkSession, key: String,
      emb: => DataFrame): DataFrame =
    graft.sources.StoreCatalog.parquet(spark, "graft_pca_store", key)(
      powerRounds(centeredFrame(emb), Rounds).coalesce(1))

  /** `embedding_pca_project` SERVED from the persisted component (the
    * r18 demotion class — the entry re-ran the full 5-round fit inside
    * every read while the component is a 64-row build-once artifact):
    * one pass of the centered frame against the broadcast stored
    * weights, sharing [[embeddingPcaProjectSql]] verbatim because the
    * stored (i, w) is bit-identical to the in-plan fit's output
    * (`PcaPowerSpec` demotion law). `embedding_pca` itself stays
    * in-plan — it IS the fit, the `kmeans_fit` symmetry.
    */
  def embeddingPcaProjectStored(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    projectHistogram(centeredFrame(emb),
      storedComponent(spark,
        graft.sources.StoreCatalog.key(spark, dir), emb))
  }

  /** The same [[Rounds]] rounds mechanically unrolled into DuckDB CTEs
    * (the bpe_merges oracle pattern): `e` is the centered quantized
    * frame, round r derives per-vector dots `d_r`, per-dim sums `s_r`,
    * the max-abs normalizer `m_r`, and the re-scaled weights `w_r`.
    */
  /** Shared CTE chain: centered frame `e`, then the [[Rounds]] unrolled
    * training rounds ending at `w$Rounds`.
    */
  private val pcaCtes: String = {
    val rounds = (1 to Rounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT vec_id, CAST(sum(qc * w) AS BIGINT) AS dot
         |  FROM e JOIN w${r - 1} USING (i) GROUP BY vec_id),
         |s$r AS MATERIALIZED (
         |  SELECT i, sum(CAST(dot AS DECIMAL(20,0)) * qc) AS s
         |  FROM e JOIN d$r USING (vec_id) GROUP BY i),
         |m$r AS MATERIALIZED (SELECT max(abs(s)) AS m FROM s$r),
         |w$r AS MATERIALIZED (
         |  SELECT i, CAST(floor(CAST(s AS DOUBLE) / CAST((SELECT m FROM m$r) AS DOUBLE)
         |                       * $WScale) AS BIGINT) AS w
         |  FROM s$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT vec_id, i,
       |         CAST(floor(CAST(embedding[i] AS DOUBLE) * $QScale) AS BIGINT) AS q
       |  FROM embeddings, generate_series(1, $Dims) AS g(i)),
       |mu AS MATERIALIZED (SELECT i, CAST(sum(q) AS BIGINT) AS s_i FROM e0 GROUP BY i),
       |e AS MATERIALIZED (
       |  SELECT vec_id, e0.i,
       |         (SELECT count(*) FROM embeddings) * q - mu.s_i AS qc
       |  FROM e0 JOIN mu ON e0.i = mu.i),
       |w0 AS (SELECT i, 1000000::BIGINT AS w FROM generate_series(1, $Dims) AS g(i)),
       |$rounds""".stripMargin
  }

  val embeddingPcaSql: String =
    s"""$pcaCtes
       |SELECT CAST(i AS INTEGER) AS dim, w FROM w$Rounds ORDER BY dim""".stripMargin

  val embeddingPcaProjectSql: String =
    s"""$pcaCtes,
       |proj AS MATERIALIZED (
       |  SELECT vec_id, CAST(sum(qc * w) AS BIGINT) AS p
       |  FROM e JOIN w$Rounds USING (i) GROUP BY vec_id),
       |mm AS (SELECT max(abs(p)) AS m FROM proj)
       |SELECT CAST(floor(CAST(p AS DOUBLE) * ${Buckets / 2.0}
       |                  / CAST((SELECT m FROM mm) + 1 AS DOUBLE)) AS INTEGER)
       |         + ${Buckets / 2} AS bucket,
       |       count(*) AS n_vecs
       |FROM proj GROUP BY 1 ORDER BY 1""".stripMargin

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "embedding_pca" -> (embeddingPca _, embeddingPcaSql),
    // artifact-backed as of r18 (the in-plan-retrain demotion class);
    // the in-plan spelling stays as the spec-pinned reference derivation
    "embedding_pca_project" ->
      (embeddingPcaProjectStored _, embeddingPcaProjectSql),
  )
}
