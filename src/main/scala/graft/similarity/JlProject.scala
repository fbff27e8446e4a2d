package graft.similarity

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sign random projection (Achlioptas '03 — the database-friendly
  * Johnson-Lindenstrauss transform): project the int8-quantized embedding
  * tier from [[Dims]] to [[ProjDims]] dimensions through a FIXED ±1 sign
  * matrix, and audit what the projection does to the geometry every ANN
  * tier depends on — pairwise dots and norms, in exact integers.
  *
  * The sign matrix is md5-derived (`sign(i, j) = +1` iff the 60-bit
  * prefix of `md5("i:j")` is even — the house [[graft.functions
  * .TextFeatures.hash60]] spelling), so both engines can derive the SAME
  * matrix independently: the Scala side bakes it in as a 64×16 integer
  * literal (computed once at class load, zero hashing in the hot path),
  * the DuckDB oracle re-derives it inline from md5. A drifted literal
  * cannot pass the oracle gate.
  *
  * Entry (`jl_distortion`): for the deterministic pair sample
  * (vec_id, vec_id+1) with vec_id % [[PairMod]] = 0, the exact integer
  * dot and squared norms in BOTH spaces — original int8 (scales cancel
  * in cosine, the [[Quantize]] contract) and projected. Downstream:
  * cos_q vs cos_p per pair IS the measured JL distortion at this
  * (D=64 → P=16) budget; the spec pins the realized distortion band.
  *
  * Scale (100 TB): the projection is one per-row codegen'd pass —
  * D·P = 1024 integer multiply-adds per vector against a literal matrix,
  * no shuffle, no UDF, no md5 at runtime — and shrinks the scan tier 4×
  * (16 ints vs 64 floats) before any pair work. Integer bounds: |p_j| <=
  * 127·D = 8128, so dot_p <= P·8128² ≈ 1.06e9 — Long-safe at any corpus
  * size (per-vector arithmetic only). The pair audit joins on
  * consecutive ids — an equi-join whose left side is a 1/[[PairMod]]
  * sample, linear in the corpus.
  */
object JlProject {

  private val Dims     = 64
  private val ProjDims = 16
  private val PairMod  = 50

  /** +1/-1 by parity of the 60-bit md5 prefix of "i:j" (1-based dims). */
  private[graft] def sign(i: Int, j: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$i:$j".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    if (BigInt(hex.substring(0, 15), 16) % 2 == 0) 1 else -1
  }

  /** The 64×P sign matrix as a SQL array-of-arrays literal. */
  private[graft] def signMatrixSqlFor(projDims: Int): String =
    (1 to Dims).map { i =>
      (1 to projDims).map(j => s"${sign(i, j)}L").mkString("array(", ",", ")")
    }.mkString("array(", ",", ")")

  private[graft] lazy val signMatrixSql: String = signMatrixSqlFor(ProjDims)

  /** vec_id, q (int8 codes as longs), p (projected ints). The projection
    * binds `q` ONCE via the single-element-array idiom — referencing the
    * q column directly inside the (i, j) fold would re-inline the whole
    * quantization per multiply (the HOF project-collapse gotcha).
    * `projDims` defaults to the registry's P=16; PLANS.md:1857 holds the
    * distortion-vs-width sweep over it.
    */
  private[graft] def projectedOn(emb: DataFrame,
      projDims: Int = ProjDims): DataFrame =
    emb.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("max_abs", expr(
        "aggregate(v, cast(0 as double), (a, x) -> greatest(a, abs(cast(x as double))))"))
      .withColumn("q", expr(
        """CASE WHEN max_abs = 0 THEN transform(v, x -> 0L)
          |ELSE transform(v, x ->
          |  CAST(floor(cast(x as double) / (max_abs / 127.0) + 0.5) AS BIGINT))
          |END""".stripMargin))
      .withColumn("p", expr(
        s"""transform(array(q), qq ->
           |  transform(sequence(1, $projDims), j ->
           |    aggregate(sequence(1, $Dims), 0L, (a, i) ->
           |      a + element_at(qq, i)
           |        * element_at(element_at(${signMatrixSqlFor(projDims)}, i), j))))[0]"""
          .stripMargin))
      .select(col("vec_id"), col("q"), col("p"))

  def jlDistortion(spark: SparkSession, dir: String): DataFrame =
    jlDistortionOn(Tables.embeddings(spark, dir))

  private[graft] def jlDistortionOn(emb: DataFrame,
      projDims: Int = ProjDims): DataFrame = {
    val proj = projectedOn(emb, projDims)
    def dot(a: String, b: String, n: Int) =
      expr(s"aggregate(sequence(1, $n), 0L, (s, i) -> s + element_at($a, i) * element_at($b, i))")
    proj.as("a").filter(col("vec_id") % PairMod === 0)
      .join(proj.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
      .select(
        col("a.vec_id").as("vec_id_1"), col("b.vec_id").as("vec_id_2"),
        dot("a.q", "b.q", Dims).as("dot_q"),
        dot("a.q", "a.q", Dims).as("nsq1_q"),
        dot("b.q", "b.q", Dims).as("nsq2_q"),
        dot("a.p", "b.p", projDims).as("dot_p"),
        dot("a.p", "a.p", projDims).as("nsq1_p"),
        dot("b.p", "b.p", projDims).as("nsq2_p"))
      .orderBy("vec_id_1")
  }

  // ---- knn_jl: projected-space shortlist + exact rerank ------------------
  private val TopK      = 10
  private val OverFetch = 40
  private val QueryMod  = 100 // queries = vec_id % 100 == 0 (knn_brute's rule)

  /** The JL tier cashed into an ANN path — [[Quantize.knnQuantizedOn]]'s
    * two-stage shape with the 16-int PROJECTED vectors as the stage-1
    * scan (16 ints vs 64 floats = the 16× scan-byte shrink the
    * projection buys; the distortion surface in PLANS.md prices what
    * that costs in shortlist fidelity):
    *
    *  1. APPROX: rank all candidates per query by projected cosine —
    *     exact integer dot over p, one IEEE division — and keep
    *     top-[[OverFetch]] via the bounded `topk_by_score` aggregate.
    *  2. RERANK: only the Q·OverFetch survivors fetch their float
    *     vectors by id and rerank by exact cosine (knn_brute's fold
    *     contract), emitting top-[[TopK]].
    *
    * Both stages deterministic (integer/IEEE math, ties on id), so the
    * oracle reproduces the SAME two-stage semantics and the gate is
    * exact, not probabilistic — recall vs `knn_brute` is a measured
    * property, not the correctness contract.
    */
  def knnJl(spark: SparkSession, dir: String): DataFrame =
    knnJlOn(Tables.embeddings(spark, dir))

  private[graft] def knnJlOn(raw: DataFrame,
      projDims: Int = ProjDims): DataFrame = {
    graft.GraftExtensions.register(raw.sparkSession)
    def pdot(a: String, b: String) = expr(
      s"aggregate(sequence(1, $projDims), 0L, (s, i) -> s + element_at($a, i) * element_at($b, i))")
    // pn2 = 0 is possible even for a nonzero input (sign cancellation
    // across the projected dims, and always when the row is all-zero):
    // Spark's Divide would yield NULL (silently dropped by topk_by_score)
    // while DuckDB's IEEE division yields inf/NaN which ranks FIRST under
    // ORDER BY ascore DESC — so zero-projection rows are excluded from
    // BOTH engines' stage-1 scoring explicitly (r12 ADVICE).
    // The projection is checkpointed BEFORE pn2/the zero filter touch
    // it: pdot's 16 element_at(p, i) references — and the filter
    // predicate — would otherwise each re-inline the whole q→p HOF
    // chain under project collapse (measured: the r13 tape read 43 s
    // for this entry with the filter on the raw chain, ~19 s with the
    // checkpoint above the filter, 0.8 s with it below — the filter
    // must see a MATERIALIZED array column).
    val pr = projectedOn(raw, projDims)
      .select(col("vec_id"), col("p"))
      .localCheckpoint(eager = false)
      .withColumn("pn2", pdot("p", "p"))
      .filter(col("pn2") > 0)
    val qq = pr.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("p").as("pa"),
        col("pn2").as("qpn2"))
    val cand = pr.withColumnRenamed("p", "pb")
      .join(broadcast(qq), col("query_id") =!= col("vec_id"))
      .withColumn("ascore",
        pdot("pa", "pb").cast("double")
          / sqrt(col("qpn2").cast("double") * col("pn2").cast("double")))
      .groupBy(col("query_id"))
      .agg(expr(s"topk_by_score(ascore, vec_id, $OverFetch)").as("top"))
      .select(col("query_id"), explode(col("top")).as("c"))
      .select(col("query_id"), col("c.id").as("neighbor_id"))
    val e = Similarity.withNorms(raw)
    val qf = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("n2").as("qn2"))
    cand
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("n2")),
        "neighbor_id")
      .join(broadcast(qf), "query_id")
      .withColumn("cosine", expr("vec_dot(va, vb)") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .groupBy(col("query_id"))
      .agg(expr(s"topk_by_score(cosine, neighbor_id, $TopK)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("cosine"))
  }

  val knnJlSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
       |                     (a, b) -> a + b) AS n2,
       |         list_reduce(list_transform(embedding::DOUBLE[], x -> abs(x)),
       |                     (a, b) -> greatest(a, b)) AS max_abs
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id,
       |         CASE WHEN max_abs = 0
       |              THEN list_transform(v, x -> 0::BIGINT)
       |              ELSE list_transform(v, x ->
       |                CAST(floor(x / (max_abs / 127.0) + 0.5) AS BIGINT))
       |         END AS q
       |  FROM e),
       |p AS (
       |  SELECT vec_id,
       |         list_transform(generate_series(1, $ProjDims), j ->
       |           list_reduce(list_transform(generate_series(1, $Dims), i ->
       |             q[i] * $signCaseSql), (a, b) -> a + b)) AS p
       |  FROM q),
       |pn AS (
       |  SELECT * FROM (
       |    SELECT vec_id, p,
       |           list_reduce(list_transform(list_zip(p, p), z -> z[1] * z[2]),
       |                       (a, b) -> a + b) AS pn2
       |    FROM p) WHERE pn2 > 0),
       |approx AS (
       |  SELECT pa.vec_id AS query_id, pb.vec_id AS neighbor_id,
       |         CAST(list_reduce(list_transform(list_zip(pa.p, pb.p),
       |                z -> z[1] * z[2]), (acc, x) -> acc + x) AS DOUBLE)
       |           / sqrt(CAST(pa.pn2 AS DOUBLE) * CAST(pb.pn2 AS DOUBLE)) AS ascore
       |  FROM pn pa JOIN pn pb
       |    ON pa.vec_id % $QueryMod = 0 AND pa.vec_id <> pb.vec_id),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY ascore DESC, neighbor_id ASC) AS rn
       |    FROM approx) WHERE rn <= $OverFetch),
       |rerank AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         list_reduce(list_transform(list_zip(qe.v, ne.v), z -> z[1] * z[2]),
       |                     (a, b) -> a + b)
       |           / (sqrt(qe.n2) * sqrt(ne.n2)) AS cosine
       |  FROM cand c
       |  JOIN e qe ON c.query_id = qe.vec_id
       |  JOIN e ne ON c.neighbor_id = ne.vec_id)
       |SELECT query_id, neighbor_id, rank, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM rerank) WHERE rank <= $TopK""".stripMargin

  private def signCaseSql: String =
    "(CASE WHEN ('0x' || substr(md5(i::VARCHAR || ':' || j::VARCHAR), 1, 15))::BIGINT % 2 = 0 THEN 1 ELSE -1 END)"

  val jlDistortionSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         list_reduce(list_transform(embedding::DOUBLE[], x -> abs(x)),
       |                     (a, b) -> greatest(a, b)) AS max_abs
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id,
       |         CASE WHEN max_abs = 0
       |              THEN list_transform(v, x -> 0::BIGINT)
       |              ELSE list_transform(v, x ->
       |                CAST(floor(x / (max_abs / 127.0) + 0.5) AS BIGINT))
       |         END AS q
       |  FROM e),
       |p AS (
       |  SELECT vec_id, q,
       |         list_transform(generate_series(1, $ProjDims), j ->
       |           list_reduce(list_transform(generate_series(1, $Dims), i ->
       |             q[i] * $signCaseSql), (a, b) -> a + b)) AS p
       |  FROM q),
       |pairs AS (
       |  SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
       |         a.q AS qa, b.q AS qb, a.p AS pa, b.p AS pb
       |  FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
       |  WHERE a.vec_id % $PairMod = 0)
       |SELECT vec_id_1, vec_id_2,
       |  CAST(list_reduce(list_transform(generate_series(1, $Dims),
       |    i -> qa[i] * qb[i]), (a, b) -> a + b) AS BIGINT) AS dot_q,
       |  CAST(list_reduce(list_transform(generate_series(1, $Dims),
       |    i -> qa[i] * qa[i]), (a, b) -> a + b) AS BIGINT) AS nsq1_q,
       |  CAST(list_reduce(list_transform(generate_series(1, $Dims),
       |    i -> qb[i] * qb[i]), (a, b) -> a + b) AS BIGINT) AS nsq2_q,
       |  CAST(list_reduce(list_transform(generate_series(1, $ProjDims),
       |    i -> pa[i] * pb[i]), (a, b) -> a + b) AS BIGINT) AS dot_p,
       |  CAST(list_reduce(list_transform(generate_series(1, $ProjDims),
       |    i -> pa[i] * pa[i]), (a, b) -> a + b) AS BIGINT) AS nsq1_p,
       |  CAST(list_reduce(list_transform(generate_series(1, $ProjDims),
       |    i -> pb[i] * pb[i]), (a, b) -> a + b) AS BIGINT) AS nsq2_p
       |FROM pairs ORDER BY vec_id_1""".stripMargin

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "jl_distortion" -> (jlDistortion _, jlDistortionSql),
    "knn_jl" -> (knnJl _, knnJlSql))
}
