package graft.similarity

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over the `embeddings`
  * table (64-dim float vectors) — brute-force cosine top-k as the exact
  * baseline and an IVF (inverted-file) probe variant as the scale path
  * (north-star extensions, SURVEY.md §7.5).
  *
  * Determinism contract with the DuckDB oracle:
  *  - vectors are cast element-wise float→double (exact), and every dot
  *    product / squared norm is a sequential left fold in list order —
  *    Spark `aggregate(…, 0.0D, (acc,x) -> acc+x)` and DuckDB
  *    `list_reduce` produce bit-identical doubles because (0.0 + x₁) = x₁;
  *  - cosine = dot / (sqrt(n2a) * sqrt(n2b)) in exactly that operation
  *    order on both sides;
  *  - ranking ties break on neighbor id, so top-k is stable.
  *
  * Scale notes (100 TB): brute force is O(Q·N) with the query side
  * broadcast — the right baseline when Q is small; IVF cuts the scanned
  * fraction to nprobe/k_centroids and is the shape that survives N in the
  * billions (assignment is one broadcast-join + argmax per row; the search
  * joins only the probed buckets, partitioned by centroid).
  */
object Similarity {

  private val TopK    = 10
  private val NProbe  = 3
  private val QueryMod    = 100 // queries = vec_id % 100 == 0
  private val CentroidMod = 50  // centroids = vec_id % 50 == 0

  /** Sequential-fold dot product via the native codegen'd
    * [[graft.functions.FloatVecDot]] expression — bit-identical to the
    * interpreted `aggregate(zip_with(...))` fold and to the oracle's
    * `list_reduce` (floats widen to double, then 0.0 + x₁y₁ + … in element
    * order), at native-loop speed with no boxing.
    */
  private val dotExpr = "vec_dot(va, vb)"

  /** (vec_id, float vector v, squared norm n2) off a raw embeddings table.
    * Repartitioned to session parallelism first — the table arrives as one
    * parquet split at test scale and the per-pair cosine loops downstream
    * must fan out across cores (no-op rebalance at real scale). Vectors
    * stay `array<float>` end-to-end: half the shuffle bytes of a double
    * array, widened per element inside the dot product.
    */
  def withNorms(df: DataFrame): DataFrame = {
    graft.GraftExtensions.register(df.sparkSession)
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding").as("v"),
        expr("vec_dot(embedding, embedding)").as("n2"))
  }

  private def emb(spark: SparkSession, dir: String): DataFrame =
    withNorms(Tables.embeddings(spark, dir))

  // ---- knn_brute: exact cosine top-k for the query subset --------------
  def knnBrute(spark: SparkSession, dir: String): DataFrame =
    knnBruteOn(emb(spark, dir))

  /** Top-k via the native bounded [[graft.functions.TopKByScore]]
    * aggregate: partial aggregation keeps ≤ k candidates per (query, map
    * task) before the shuffle, vs. a window rank that would shuffle and
    * sort every scored pair — the O(k) vs O(N) difference per query at
    * corpus scale. Ordering/tie-break (score desc, id asc) matches the
    * oracle's row_number exactly. (knn_ivf below keeps the window-rank
    * formulation as the built-in-composition variant.)
    */
  def knnBruteOn(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("n2").as("qn2"))
    e.withColumnRenamed("v", "vb")
      .join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("cosine", expr(dotExpr) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .groupBy(col("query_id"))
      .agg(expr(s"topk_by_score(cosine, vec_id, $TopK)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("cosine"))
  }

  /** Shared oracle CTE body: vec_id, double vector, squared norm —
    * exposed WITH-less so composed oracles ([[IvfTrained]]) can splice
    * it into their own chains bit-identically.
    */
  private[graft] val EmbCteBody =
    """e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b) AS n2
      |  FROM embeddings)""".stripMargin

  /** Shared oracle CTE: vec_id, double vector, squared norm. */
  private val EmbCte = s"WITH $EmbCteBody"

  private[graft] def cosSql(va: String, vb: String, n2a: String, n2b: String): String =
    s"list_reduce(list_transform(list_zip($va, $vb), p -> p[1] * p[2]), (a, b) -> a + b)" +
      s" / (sqrt($n2a) * sqrt($n2b))"

  val knnBruteSql: String =
    s"""$EmbCte,
       |q AS (SELECT vec_id AS query_id, v AS va, n2 AS qn2 FROM e WHERE vec_id % $QueryMod = 0),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |         ${cosSql("q.va", "e.v", "q.qn2", "e.n2")} AS cosine
       |  FROM q JOIN e ON q.query_id <> e.vec_id)
       |SELECT query_id, neighbor_id, rank, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM scored) WHERE rank <= $TopK""".stripMargin

  // ---- knn_ivf: inverted-file probe (assign → probe → bucket search) ---
  def knnIvf(spark: SparkSession, dir: String): DataFrame =
    knnIvfOn(emb(spark, dir))

  def knnIvfOn(e: DataFrame): DataFrame =
    knnIvfWith(e, e.filter(col("vec_id") % CentroidMod === 0)
      .select(col("vec_id").as("centroid_id"), col("v").as("vb"), col("n2").as("cn2")))

  /** IVF with TRAINED centroids: the production shape — Lloyd-refined
    * k-means centroids ([[kmeansCentroids]], `vec_sum` aggregate) instead
    * of the fixed modular subsample the oracle-checked `knn_ivf` uses.
    * Trained centroids track the data's cluster structure, so buckets are
    * balanced and nprobe probes recover more of the true neighborhood.
    * Library + spec surface only (SimilaritySpec planted-cluster law): the
    * float centroid averages depend on `vec_sum`'s merge order, making a
    * bit-exact cross-engine oracle inappropriate by design — same
    * justification as `kmeansCentroids` itself.
    */
  def knnIvfTrainedOn(e: DataFrame, seeds: DataFrame, iters: Int = 3): DataFrame =
    knnIvfWith(e, kmeansCentroids(e, seeds, iters))

  /** The default oracle-checked centroid set: the fixed modular
    * subsample (constant C at every scale, same contract as the PQ
    * seeds).
    */
  private[graft] def ivfDefaultCentroids(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % CentroidMod === 0)
      .select(col("vec_id").as("centroid_id"), col("v").as("vb"), col("n2").as("cn2"))

  /** √N-rule centroid set — the production answer to the fixed modular
    * rule's scale flaw. `vec_id % CentroidMod == 0` makes C grow LINEARLY
    * with N, so the coarse assignment's N·C cosine stream turns quadratic
    * (measured: 800M assignment rows at the 100× probe, PLANS.md). The
    * classic IVF sizing rule is C ∝ √N, which balances assignment cost
    * (N·C = N^1.5) against bucket size (N/C = √N members scanned per
    * probe) — the knee of total cost for a fixed nprobe.
    *
    * The modulus is derived from the data IN-PLAN (no driver-side
    * collect): m = the smallest power of two with m² ≥ N, so
    * C = |{id : id % m == 0}| ≈ N/m ∈ (√N/2, √N]. Exact integer
    * arithmetic end-to-end — the oracle reproduces m from its own
    * count(*) and the centroid sets agree bit-for-bit (contrast
    * [[knnIvfTrainedOn]], whose float Lloyd averages are deliberately
    * NOT oracle-checkable).
    */
  private[graft] def sqrtCentroids(e: DataFrame): DataFrame = {
    val md = e.agg(count(lit(1)).as("n"))
      .select(expr(
        "filter(transform(sequence(0, 31), i -> shiftleft(CAST(1 AS BIGINT), i)), m -> m * m >= n)[0]")
        .as("m"))
    e.crossJoin(broadcast(md))
      .filter(col("vec_id") % col("m") === 0)
      .select(col("vec_id").as("centroid_id"), col("v").as("vb"), col("n2").as("cn2"))
  }

  // ---- knn_ivf_sqrt: IVF with the √N centroid rule ---------------------
  /** [[knnIvf]] with [[sqrtCentroids]] — identical routing/scoring
    * machinery, C scaling as √N instead of N/50. At sf0.01 (N=500) the
    * rule lands m=32 ⇒ C=16 (vs knn_ivf's 10), so the two operators are
    * deliberately comparable at test scale while diverging at 100×
    * (C=391 modular vs C≈N/512 sqrt — a 10× cut of the assignment
    * stream, measured in ScaleProbe).
    *
    * Recall honesty (round-9 finding, receipt at PLANS.md:423):
    * this variant measures 0.335 recall@10 at sf0.1 vs `knn_ivf`'s
    * 0.925 — but the modular figure is largely a QUERY-AS-CENTROID
    * artifact (every query id %100 is also a centroid id %50, so each
    * query always probes its own Voronoi cell first; removing query ids
    * from the modular set collapses it to 0.315). 0.335 is the honest
    * nprobe=3 routing recall on near-isotropic geometry; production
    * lifts it via nprobe, trained centroids ([[knnIvfTrainedOn]]), or
    * the rerank tiers.
    */
  def knnIvfSqrt(spark: SparkSession, dir: String): DataFrame =
    knnIvfSqrtOn(emb(spark, dir))

  /** @param nprobe probed buckets per query — the recall/scan-fraction
    *   tuning axis (the registry entry pins the oracle-checked default;
    *   PLANS.md:423 holds the measured recall curve).
    */
  def knnIvfSqrtOn(e: DataFrame, nprobe: Int = NProbe): DataFrame =
    knnIvfWith(e, sqrtCentroids(e), nprobe)

  /** The IVF ROUTING stage alone: (query_id, vec_id) member pairs of the
    * nprobe probed buckets per query, query itself excluded. This is the
    * composition point other scorers plug into — `knn_ivf` scores these
    * members with exact cosine, `knn_ivf_pq` ([[PqAnn]]) with ADC code
    * sums.
    */
  private[graft] def ivfMembers(e: DataFrame, c: DataFrame,
      nprobe: Int = NProbe): DataFrame = {
    // assignment: nearest centroid per vector (argmax cosine, tie → min
    // id), as a PARTIAL-AGGREGABLE min_by over struct(-cos, id) — one row
    // per vector per map task crosses the shuffle, vs a row_number window
    // that would shuffle and sort all N×C scored rows (the O(1) vs O(C)
    // shuffle-bytes-per-vector difference at corpus scale)
    val assignScored = e.withColumnRenamed("v", "va").withColumnRenamed("n2", "an2")
      .crossJoin(broadcast(c))
      .withColumn("cos_c",
        expr(dotExpr) / (sqrt(col("an2")) * sqrt(col("cn2"))))
    // max_by(…, struct(cos, -id)), not min_by over struct(-cos, id): both
    // break ties toward the smaller centroid id, but only the max form
    // keeps a NaN score ranked FIRST (Spark and DuckDB both sort NaN above
    // all numbers), matching the oracle's row_number ORDER BY cos DESC
    val assign = assignScored
      .groupBy(col("vec_id"))
      .agg(max_by(col("centroid_id"), struct(col("cos_c"), -col("centroid_id")))
        .as("centroid_id"))

    // probes: top-nprobe centroids per query
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("n2").as("qn2"))
    val probeScored = q.crossJoin(broadcast(c))
      .withColumn("cos_c", expr(dotExpr) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
    val wp = Window.partitionBy("query_id").orderBy(col("cos_c").desc, col("centroid_id").asc)
    val probes = probeScored.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("centroid_id"))

    // search only the probed buckets
    probes.join(assign, "centroid_id")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
  }

  /** [[ivfMembers]] with the default centroids off a raw embeddings
    * table — the entry [[PqAnn.knnIvfPqOn]] composes over.
    */
  private[graft] def ivfMembersOn(raw: DataFrame): DataFrame = {
    val e = withNorms(raw)
    ivfMembers(e, ivfDefaultCentroids(e))
  }

  /** [[ivfMembersOn]] with the √N centroid rule — the routing stage
    * [[PqAnn.knnIvfPqSqrt]] composes over.
    */
  private[graft] def ivfMembersSqrtOn(raw: DataFrame): DataFrame = {
    val e = withNorms(raw)
    ivfMembers(e, sqrtCentroids(e))
  }

  def knnIvfWith(e: DataFrame, c: DataFrame, nprobe: Int = NProbe): DataFrame =
    scoreMembers(e, ivfMembers(e, c, nprobe))

  /** Exact-cosine scoring + rank over a routed (query_id, vec_id) member
    * stream — the suffix every IVF variant (modular, √N, trained) puts
    * after its own routing stage. Queries re-derive from `e` by the
    * QueryMod rule and broadcast; the member stream carries ids only, so
    * wide vectors ride the bucket-side equi-join once.
    */
  private[graft] def scoreMembers(e: DataFrame, members: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("n2").as("qn2"))
    val scored = members
      .join(e.select(col("vec_id"), col("v").as("vb"), col("n2").as("bn2")), "vec_id")
      .join(broadcast(q.select(col("query_id"), col("va"), col("qn2"))), "query_id")
      .withColumn("cosine", expr(dotExpr) / (sqrt(col("qn2")) * sqrt(col("bn2"))))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** The routing stage's oracle CTE chain (e → centroids → assign →
    * probes → members) — shared verbatim by `knn_ivf` and the IVF-ADC
    * composition ([[PqAnn.knnIvfPqSql]]), so the two oracles route
    * identically by construction.
    */
  private[graft] val ivfMembersSqlPrefix: String = ivfMembersSqlPrefixC(
    s"c AS (SELECT vec_id AS centroid_id, v AS cv, n2 AS cn2 FROM e WHERE vec_id % $CentroidMod = 0)")

  /** [[ivfMembersSqlPrefix]] with the sqrt-rule centroid set: the same
    * routing chain, `c` defined by the data-derived modulus
    * ([[sqrtCentroids]]'s integer rule, computed in-query so the oracle
    * scales its own C).
    */
  private[graft] val ivfMembersSqrtSqlPrefix: String = ivfMembersSqlPrefixC(
    s"""nv AS (SELECT count(*) AS n FROM e),
       |md AS (SELECT min(CAST(1 AS BIGINT) << i) AS m
       |       FROM generate_series(0, 31) AS t(i), nv
       |       WHERE (CAST(1 AS BIGINT) << i) * (CAST(1 AS BIGINT) << i) >= nv.n),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, n2 AS cn2 FROM e, md
       |      WHERE vec_id % md.m = 0)""".stripMargin)

  private def ivfMembersSqlPrefixC(cCte: String): String =
    s"""$EmbCte,
       |$cCte,
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e.vec_id, c.centroid_id,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.v", "c.cv", "e.n2", "c.cn2")} DESC, c.centroid_id ASC) AS rn
       |    FROM e CROSS JOIN c) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2 FROM e WHERE vec_id % $QueryMod = 0),
       |probes AS (
       |  SELECT query_id, centroid_id FROM (
       |    SELECT q.query_id, c.centroid_id,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY ${cosSql("q.qv", "c.cv", "q.qn2", "c.cn2")} DESC, c.centroid_id ASC) AS rn
       |    FROM q CROSS JOIN c) WHERE rn <= $NProbe),
       |members AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM probes p JOIN assign a USING (centroid_id)
       |  WHERE p.query_id <> a.vec_id)""".stripMargin

  /** Exact-cosine scoring + rank over a `members` CTE — the suffix all
    * IVF oracles (modular, √N, trained) share; requires `e` and `q`
    * CTEs in scope.
    */
  private[graft] val ivfScoredSql: String = ivfScoredSqlFrom("members")

  /** The same scoring suffix over an arbitrary member-CTE name (the
    * deletion tier scores a tombstone-filtered member stream).
    */
  private[graft] def ivfScoredSqlFrom(members: String): String =
    s"""scored AS (
       |  SELECT m.query_id, m.vec_id AS neighbor_id,
       |         ${cosSql("q.qv", "e.v", "q.qn2", "e.n2")} AS cosine
       |  FROM $members m JOIN e ON m.vec_id = e.vec_id JOIN q ON m.query_id = q.query_id)
       |SELECT query_id, neighbor_id, rank, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM scored) WHERE rank <= $TopK""".stripMargin

  val knnIvfSql: String =
    s"""$ivfMembersSqlPrefix,
       |$ivfScoredSql""".stripMargin

  val knnIvfSqrtSql: String =
    s"""$ivfMembersSqrtSqlPrefix,
       |$ivfScoredSql""".stripMargin

  // ---- exact unordered-pair stream: triangle block partitioning --------
  /** Exact all-pairs as an EQUI-join, not a nested loop: each vector is
    * assigned a block `vec_id mod B`; every unordered block pair (i ≤ j)
    * is one join key; a vector in block b is replicated to keys
    * {(b, j) : j ≥ b} on the left and {(i, b) : i ≤ b} on the right, so
    * pair {u, v} meets at exactly one key. The plan is a shuffled
    * hash/sort-merge join over B(B+1)/2 uniformly-loaded keys — O(N·B)
    * shuffle bytes, O(N²/B²) comparisons per task, no
    * BroadcastNestedLoopJoin / CartesianProduct anywhere — the canonical
    * distributed shape for an exact pair scan (B grows as √(2·tasks) on a
    * real cluster).
    *
    * Why exact and not LSH-candidates here: the oracle threshold (0.45 ≈
    * a 63° angle) sits inside the bulk of the corpus' cosine distribution
    * (measured top pairs span 0.43-0.51 with no planted high-cosine
    * dups), where a random-hyperplane plane agrees on a qualifying pair
    * with probability only ≈0.65 — any banding scheme either misses true
    * pairs or enumerates essentially every bucket. Exactness at such a
    * loose threshold inherently costs the full pair scan; the banded-LSH
    * candidates→verify scale path (recall < 1, tunable) is
    * [[dedupEmbeddingLshOn]] below.
    *
    * Swap-safety: cosine is bit-identical no matter which side of the
    * pair lands left (element products and the final sqrt-product commute
    * in IEEE754), so normalizing ids with least/greatest after the join
    * reproduces the oracle's `a.vec_id < b.vec_id` orientation exactly.
    */
  private val PairBlocks = 8

  private def blockedPairs(e: DataFrame): DataFrame = {
    val B = PairBlocks
    val a = e.select(col("vec_id").as("id_l"), col("v").as("va"), col("n2").as("n2a"),
        pmod(col("vec_id"), lit(B)).cast("int").as("bl"))
      .withColumn("bj", explode(sequence(col("bl"), lit(B - 1))))
    val b = e.select(col("vec_id").as("id_r"), col("v").as("vb"), col("n2").as("n2b"),
        pmod(col("vec_id"), lit(B)).cast("int").as("br"))
      .withColumn("bi", explode(sequence(lit(0), col("br"))))
    a.join(b, col("bl") === col("bi") && col("bj") === col("br"))
      .filter(col("bl") =!= col("br") || col("id_l") < col("id_r"))
      .withColumn("cosine", expr(dotExpr) / (sqrt(col("n2a")) * sqrt(col("n2b"))))
      .select(
        least(col("id_l"), col("id_r")).as("vec_id_1"),
        greatest(col("id_l"), col("id_r")).as("vec_id_2"),
        col("cosine"))
  }

  // ---- k-means centroid refinement (distributed Lloyd iterations) ------
  /** Refine seed centroids with `iters` Lloyd iterations: assign every
    * vector to its nearest centroid (the same partial-aggregable max_by
    * argmax as knn_ivf's assignment), then recompute each centroid as the
    * element-wise mean of its members via the native [[graft.functions.VecSum]]
    * aggregate — an O(dim) buffer per group, so one 64-double partial row
    * per (centroid, map task) crosses the shuffle instead of dim×
    * posexploded rows per vector. Each iteration materializes the (tiny)
    * centroid table eagerly, cutting lineage growth across iterations —
    * the standard shape for iterative refinement on a cluster.
    *
    * Spec-checked (planted-cluster recovery; VecSum partial-merge laws).
    * Deliberately NO DuckDB oracle: iterated floating group-sums are
    * fold-order-sensitive, so cross-engine bit parity is not defendable —
    * the oracle-checked knn_ivf keeps its deterministic modulo seeds,
    * and this refinement slots in as a drop-in centroid table.
    *
    * @param e     withNorms output (vec_id, v, n2)
    * @param seeds (centroid_id, vb) seed vectors
    */
  def kmeansCentroids(e: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    graft.GraftExtensions.register(e.sparkSession)
    var centroids = seeds
      .withColumn("cn2", expr("vec_dot(vb, vb)"))
      .select(col("centroid_id"), col("vb"), col("cn2"))
    (1 to iters).foreach { _ =>
      val members = e.withColumnRenamed("v", "va").withColumnRenamed("n2", "an2")
        .crossJoin(broadcast(centroids))
        .withColumn("cos_c", expr(dotExpr) / (sqrt(col("an2")) * sqrt(col("cn2"))))
        .groupBy(col("vec_id"))
        .agg(max_by(col("centroid_id"), struct(col("cos_c"), -col("centroid_id")))
          .as("centroid_id"))
        .join(e.select(col("vec_id"), col("v")), "vec_id")
      centroids = members
        .groupBy(col("centroid_id"))
        .agg(expr("vec_sum(v)").as("s"), count(lit(1)).as("n"))
        .select(col("centroid_id"),
          expr("transform(s, x -> cast(x / n as float))").as("vb"))
        .withColumn("cn2", expr("vec_dot(vb, vb)"))
        .localCheckpoint(eager = true)
    }
    centroids
  }

  // ---- dedup_embedding: cosine near-dup pairs over a threshold ---------
  /** Embedding-cosine near-duplicate detection: all pairs with cosine ≥
    * threshold, exact, via the blocked pair stream above.
    */
  private val NearDupCosine = 0.45

  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    dedupEmbeddingOn(emb(spark, dir))

  def dedupEmbeddingOn(e: DataFrame): DataFrame =
    blockedPairs(e)
      .filter(col("cosine") >= NearDupCosine)
      .select(col("vec_id_1"), col("vec_id_2"), col("cosine"))

  val dedupEmbeddingSql: String =
    s"""$EmbCte
       |SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
       |       ${cosSql("a.v", "b.v", "a.n2", "b.n2")} AS cosine
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE ${cosSql("a.v", "b.v", "a.n2", "b.n2")} >= $NearDupCosine""".stripMargin

  // ---- decontam_semantic: embedding-cosine eval-set contamination ------
  /** Semantic decontamination — the embedding-space complement of the
    * gram-based `decontam` (TextAnalytics): flag every training vector
    * whose cosine to ANY held-out eval vector reaches [[SemContCosine]],
    * reporting how many eval vectors it collides with and the worst
    * (highest) similarity. Catches PARAPHRASED eval leakage that exact
    * 8-gram matching structurally misses — the reason modern pipelines
    * (e.g. the SemDeDup/D4 line of work) run both screens. The driver
    * testdata has no separate eval table, so `vec_id % `[[EvalMod]]` == 0`
    * stands in (the same convention as `decontam`'s BenchMod).
    *
    * Scale (100 TB): an eval suite is bounded (≤ 10⁵ vectors) and
    * independent of corpus size, so the eval side BROADCASTS and the scan
    * is one map-side Q·N cosine pass over the corpus — the knn_brute
    * shape with a threshold instead of top-k, aggregating to ≤ one row
    * per contaminated vector (count + max are both partial-aggregable,
    * so at most one partial row per (vector, map task) crosses the
    * shuffle). No corpus-sized shuffle, no pair materialization beyond
    * the streamed scored rows.
    */
  private val EvalMod       = 10
  private val SemContCosine = 0.40

  def decontamSemantic(spark: SparkSession, dir: String): DataFrame =
    decontamSemanticOn(emb(spark, dir))

  def decontamSemanticOn(e: DataFrame): DataFrame =
    decontamSemanticSplit(
      e.filter(col("vec_id") % EvalMod =!= 0),
      e.filter(col("vec_id") % EvalMod === 0))

  /** Explicit train/eval split ((vec_id, v, n2) frames both sides) — the
    * probe entry pins the eval side to the base id range so the scale
    * axis is the CORPUS with the eval suite bounded, its real
    * production shape (the knn_pq quadratic-query lesson).
    */
  private[graft] def decontamSemanticSplit(train: DataFrame, eval0: DataFrame): DataFrame = {
    val ev = eval0
      .select(col("vec_id").as("eval_id"), col("v").as("va"), col("n2").as("an2"))
    train
      .withColumnRenamed("v", "vb")
      .crossJoin(broadcast(ev))
      .withColumn("cosine", expr(dotExpr) / (sqrt(col("an2")) * sqrt(col("n2"))))
      .filter(col("cosine") >= SemContCosine)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("cosine")).as("max_cosine"))
      .orderBy("vec_id")
  }

  val decontamSemanticSql: String =
    s"""$EmbCte,
       |ev AS (SELECT vec_id AS eval_id, v, n2 FROM e WHERE vec_id % $EvalMod = 0),
       |tr AS (SELECT vec_id, v, n2 FROM e WHERE vec_id % $EvalMod <> 0),
       |c AS (
       |  SELECT tr.vec_id, ${cosSql("ev.v", "tr.v", "ev.n2", "tr.n2")} AS cosine
       |  FROM ev CROSS JOIN tr)
       |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
       |       max(cosine) AS max_cosine
       |FROM c WHERE cosine >= $SemContCosine
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ---- knn_lsh: random-hyperplane LSH bucketed ANN ---------------------
  /** Sign-sketch LSH: 6 fixed random hyperplanes (md5-seeded, generated
    * once here and embedded as literals in BOTH the Spark plan and the
    * oracle SQL, so no cross-engine hashing is needed) → a 6-bit bucket
    * per vector; each query searches only its own bucket and reranks by
    * exact cosine. Deterministic by construction; recall is the classic
    * LSH trade-off (queries return ≤ k in-bucket neighbors). Scale path:
    * the bucket join touches ~N/2^bits vectors per query.
    */
  private val NumPlanes = 6
  private val Dim       = 64
  // banded variant below: LshTables independent hash tables of LshBits
  // sign-bits each, slicing planes (t*LshBits until (t+1)*LshBits)
  private val LshTables = 6
  private val LshBits   = 4

  /** plane(p)(d) ∈ [-1, 1), from md5("p:d") — reproducible anywhere.
    * Pool sized for both the knn_lsh sketch (planes 0-5) and the banded
    * tables (0-23); values are seeded per (p, d), so pool growth never
    * changes an existing plane.
    */
  private lazy val planes: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(math.max(NumPlanes, LshTables * LshBits), Dim) { (p, d) =>
      val hex = md.digest(s"$p:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h   = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      (h % 2001 - 1000) / 1000.0
    }
  }

  private def planeSqlLiteral(p: Int): String =
    planes(p).mkString("[", ", ", "]::DOUBLE[]")

  private def planeSparkLiteral(p: Int): String =
    planes(p).mkString("array(", ", ", ")")

  /** Sign-sketch generators, parameterized by the plane slice: bit i of
    * the sketch is the sign of the dot with plane `firstPlane + i` (same
    * fold shape on both engines: sequential dot, sign, bit-pack). The
    * knn_lsh sketch is the width-[[NumPlanes]] slice at 0; each banded
    * table below is a width-[[LshBits]] slice — ONE string template per
    * engine keeps the two uses bit-identical.
    */
  private def planeSketchExpr(vCol: String, firstPlane: Int, width: Int): String =
    (0 until width).map { i =>
      s"""IF(aggregate(zip_with($vCol, ${planeSparkLiteral(firstPlane + i)},
         |  (x, y) -> cast(x as double) * y), cast(0 as double), (a, x) -> a + x) > 0,
         |  ${1 << i}, 0)""".stripMargin
    }.mkString("(", " + ", ")")

  private def planeSketchSql(vCol: String, firstPlane: Int, width: Int): String =
    (0 until width).map { i =>
      s"""CASE WHEN list_reduce(list_transform(list_zip($vCol, ${planeSqlLiteral(firstPlane + i)}),
         |  q -> q[1] * q[2]), (a, x) -> a + x) > 0 THEN ${1 << i} ELSE 0 END""".stripMargin
    }.mkString("(", " + ", ")")

  private def sketchExpr(vCol: String): String = planeSketchExpr(vCol, 0, NumPlanes)

  private def sketchSql(vCol: String): String = planeSketchSql(vCol, 0, NumPlanes)

  def knnLsh(spark: SparkSession, dir: String): DataFrame =
    knnLshOn(emb(spark, dir))

  def knnLshOn(e: DataFrame): DataFrame = {
    val sketched = e.withColumn("bucket", expr(sketchExpr("v")))
    val q = sketched.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("v").as("va"),
        col("n2").as("qn2"), col("bucket"))
    val scored = sketched.withColumnRenamed("v", "vb")
      .join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", expr(dotExpr) / (sqrt(col("qn2")) * sqrt(col("n2"))))
    scored.groupBy(col("query_id"))
      .agg(expr(s"topk_by_score(cosine, vec_id, $TopK)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("cosine"))
  }

  val knnLshSql: String =
    s"""$EmbCte,
       |sk AS (SELECT vec_id, v, n2, ${sketchSql("v")} AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2, bucket
       |      FROM sk WHERE vec_id % $QueryMod = 0),
       |scored AS (
       |  SELECT q.query_id, s.vec_id AS neighbor_id,
       |         ${cosSql("q.qv", "s.v", "q.qn2", "s.n2")} AS cosine
       |  FROM q JOIN sk s USING (bucket)
       |  WHERE q.query_id <> s.vec_id)
       |SELECT query_id, neighbor_id, rank, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM scored) WHERE rank <= $TopK""".stripMargin

  // ---- knn_lsh_mp: multi-probe LSH (Lv et al., VLDB'07 shape) ----------
  /** Multi-probe over the SAME 6-bit sign sketch as [[knnLshOn]]: each
    * query probes its own bucket plus every bucket at Hamming distance 1
    * (7 probes of 64), trading a bounded widening of the scanned
    * fraction (≤ 7·N/2⁶ ≈ 11% here) for the recall a single probe
    * forfeits. On this corpus the top-10 neighbor angles are ≈64°
    * (P[bit agrees] ≈ 0.645), so theory puts single-probe recall at
    * 0.645⁶ ≈ 0.07 and Hamming-≤1 at ≈ 0.31 — the measured values
    * (PLANS.md) match both, i.e. the operator performs exactly to the
    * LSH math; near-orthogonal data is simply LSH's adversarial case
    * (the clustered regime is where bucketing pays — cf. knn_ivf at
    * 0.925 recall on the same data). Candidates are distinct'd as ids
    * BEFORE the rerank joins, so probe-duplicated pairs can't occupy
    * two top-k slots and wide vectors never ride the probe join.
    */
  def knnLshMp(spark: SparkSession, dir: String): DataFrame =
    knnLshMpOn(emb(spark, dir))

  def knnLshMpOn(e: DataFrame): DataFrame = {
    val sketched = e.withColumn("bucket", expr(sketchExpr("v")))
    val probes = sketched.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"),
        explode(array(
          col("bucket") +: (0 until NumPlanes).map(b => col("bucket").bitwiseXOR(lit(1 << b))): _*
        )).as("probe"))
    val cand = sketched.select(col("vec_id").as("neighbor_id"), col("bucket").as("probe"))
      .join(broadcast(probes), "probe")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val qf = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("n2").as("qn2"))
    cand
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("n2")),
        "neighbor_id")
      .join(broadcast(qf), "query_id")
      .withColumn("cosine", expr(dotExpr) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .groupBy(col("query_id"))
      .agg(expr(s"topk_by_score(cosine, neighbor_id, $TopK)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("cosine"))
  }

  val knnLshMpSql: String = {
    val probeList = ("bucket" +: (0 until NumPlanes).map(b => s"xor(bucket, ${1 << b})"))
      .mkString("[", ", ", "]")
    s"""$EmbCte,
       |sk AS (SELECT vec_id, v, n2, ${sketchSql("v")} AS bucket FROM e),
       |probes AS (
       |  SELECT vec_id AS query_id, unnest($probeList) AS probe
       |  FROM sk WHERE vec_id % $QueryMod = 0),
       |cand AS (
       |  SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
       |  FROM probes p JOIN sk s ON s.bucket = p.probe AND s.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         ${cosSql("q.v", "s.v", "q.n2", "s.n2")} AS cosine
       |  FROM cand c
       |  JOIN e q ON c.query_id = q.vec_id
       |  JOIN e s ON c.neighbor_id = s.vec_id)
       |SELECT query_id, neighbor_id, rank, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM scored) WHERE rank <= $TopK""".stripMargin
  }

  // ---- dedup_embedding_lsh: banded sign-sketch candidates + verify -----
  /** The candidates→verify scale path for embedding near-dup: LshTables
    * independent sign-sketch tables of LshBits planes each; a pair is a
    * candidate iff it shares a (table, bucket); candidates are distinct'd
    * as ids only (vectors re-fetched for the verify join, so the wide
    * arrays never ride the candidate shuffle), then exact-verified
    * against the cosine threshold. Every join is an equi-join.
    *
    * Recall is the classic banding trade-off, NOT 1: a pair at cosine s
    * shares one table with probability p = (1 - acos(s)/π)^LshBits, and
    * is missed with (1-p)^LshTables — at s=0.9 that is ≈1% missed; at the
    * 0.45 boundary ≈31% missed (which is why the oracle-exact
    * `dedup_embedding` uses the blocked pair scan instead). The oracle
    * for THIS entry expresses the identical banded pipeline in SQL (the
    * md5-seeded planes are embedded as literals on both engines), so the
    * correctness row checks the mechanism bit-for-bit; the recall-vs-
    * exact law is covered in SimilaritySpec.
    */
  private def bandSketchExpr(t: Int, vCol: String): String =
    planeSketchExpr(vCol, t * LshBits, LshBits)

  private def bandSketchSql(t: Int, vCol: String): String =
    planeSketchSql(vCol, t * LshBits, LshBits)

  def dedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame =
    dedupEmbeddingLshOn(emb(spark, dir))

  def dedupEmbeddingLshOn(e: DataFrame): DataFrame = {
    // materialize the sketched table once (lazily, on first action): both
    // self-join sides consume it, and AQE's broadcast conversion would
    // otherwise run the 24-plane sketch pipeline once per side — same
    // idiom as Dedup's hashed shingle sets
    val sk = e.select(col("vec_id"),
      posexplode(array((0 until LshTables).map(t => expr(bandSketchExpr(t, "v"))): _*))
        .as(Seq("tbl", "bucket")))
      .localCheckpoint(eager = false)
    val cand = sk.as("a").join(sk.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id_1"), col("b.vec_id").as("vec_id_2"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_id_1"), col("v").as("va"), col("n2").as("n2a")),
        "vec_id_1")
      .join(e.select(col("vec_id").as("vec_id_2"), col("v").as("vb"), col("n2").as("n2b")),
        "vec_id_2")
      .withColumn("cosine", expr(dotExpr) / (sqrt(col("n2a")) * sqrt(col("n2b"))))
      .filter(col("cosine") >= NearDupCosine)
      .select(col("vec_id_1"), col("vec_id_2"), col("cosine"))
  }

  val dedupEmbeddingLshSql: String = {
    val skUnion = (0 until LshTables).map { t =>
      s"SELECT vec_id, $t AS tbl, ${bandSketchSql(t, "v")} AS bucket FROM e"
    }.mkString("\nUNION ALL ")
    s"""$EmbCte,
       |sk AS (
       |$skUnion),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2
       |  FROM sk a JOIN sk b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT c.vec_id_1, c.vec_id_2,
       |       ${cosSql("x.v", "y.v", "x.n2", "y.n2")} AS cosine
       |FROM cand c
       |JOIN e x ON c.vec_id_1 = x.vec_id
       |JOIN e y ON c.vec_id_2 = y.vec_id
       |WHERE ${cosSql("x.v", "y.v", "x.n2", "y.n2")} >= $NearDupCosine""".stripMargin
  }

  // ---- sim_pairs_topk: global most-similar pairs -----------------------
  /** Global top-20 most-similar pairs over the exact blocked pair stream;
    * orderBy+limit plans TakeOrderedAndProject (per-partition partial
    * top-k, 20 rows per task cross the final exchange).
    */
  def simPairsTopk(spark: SparkSession, dir: String): DataFrame =
    simPairsTopkOn(emb(spark, dir))

  def simPairsTopkOn(e: DataFrame): DataFrame =
    blockedPairs(e)
      .orderBy(col("cosine").desc, col("vec_id_1").asc, col("vec_id_2").asc)
      .limit(20)

  val simPairsTopkSql: String =
    s"""$EmbCte
       |SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
       |       ${cosSql("a.v", "b.v", "a.n2", "b.n2")} AS cosine
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |ORDER BY cosine DESC, vec_id_1 ASC, vec_id_2 ASC LIMIT 20""".stripMargin

  // ---- knn_join: exact top-k neighbors for EVERY vector ----------------
  /** The kNN self-join: top-k cosine neighbors for every vector in the
    * table, not just the broadcast query subset of [[knnBruteOn]] — the
    * operator behind kNN classification, SemDeDup scoring, and
    * density-based curation. Each unordered pair's cosine is computed
    * ONCE on the triangle-blocked pair stream ([[blockedPairs]]) and
    * consumed in both orientations, then the bounded
    * `topk_by_score` aggregate keeps ≤ k candidates per (vector, map
    * task) before the shuffle — O(k) rows per vector cross the exchange,
    * never the full neighbor list.
    *
    * Scale (100 TB): the exact form is O(N²/2) cosines and exists as the
    * verifiable baseline; at production N the same final aggregate
    * consumes LSH-bucketed or IVF-probed candidate pairs instead
    * ([[dedupEmbeddingLshOn]] / [[knnIvfOn]] supply them) — swap the
    * pair source, keep the top-k contract.
    */
  private val JoinK = 5

  def knnJoin(spark: SparkSession, dir: String): DataFrame =
    knnJoinOn(emb(spark, dir))

  def knnJoinOn(e: DataFrame): DataFrame = {
    val pairs = blockedPairs(e).localCheckpoint(eager = false)
    val both = pairs
      .select(col("vec_id_1").as("vec_id"), col("vec_id_2").as("nid"), col("cosine"))
      .union(pairs
        .select(col("vec_id_2").as("vec_id"), col("vec_id_1").as("nid"), col("cosine")))
    both.groupBy(col("vec_id"))
      .agg(expr(s"topk_by_score(cosine, nid, $JoinK)").as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(
        col("vec_id"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("cosine"))
      .orderBy("vec_id", "rank")
  }

  val knnJoinSql: String =
    s"""$EmbCte,
       |scored AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id,
       |         ${cosSql("a.v", "b.v", "a.n2", "b.n2")} AS cosine
       |  FROM e a JOIN e b ON a.vec_id <> b.vec_id)
       |SELECT vec_id, neighbor_id, rank, cosine FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM scored) WHERE rank <= $JoinK
       |ORDER BY vec_id, rank""".stripMargin

  // ---- knn_join_lsh: the banded scale path of knn_join -----------------
  /** [[knnJoinOn]] with the exact O(N²/2) pair stream replaced by the
    * banded sign-sketch candidates of [[dedupEmbeddingLshOn]] — top-k
    * among LSH-colliding neighbors only, reranked by exact cosine. The
    * oracle replicates the identical banded pipeline (md5-seeded planes
    * embedded as literals on both engines), so the correctness row checks
    * the mechanism bit-for-bit; recall vs the exact knn_join is the usual
    * LSH trade and rows may return FEWER than k neighbors.
    *
    * Scale: candidate volume is the in-bucket pair count — per-bucket
    * quadratic, so production scales bucket BITS with log N to hold
    * expected collisions at N²/2^bits ≈ linear; the top-k aggregate is
    * the same bounded partial agg as the exact form.
    */
  def knnJoinLsh(spark: SparkSession, dir: String): DataFrame =
    knnJoinLshOn(emb(spark, dir))

  def knnJoinLshOn(e: DataFrame): DataFrame = {
    val sk = e.select(col("vec_id"),
      posexplode(array((0 until LshTables).map(t => expr(bandSketchExpr(t, "v"))): _*))
        .as(Seq("tbl", "bucket")))
      .localCheckpoint(eager = false)
    val cand = sk.as("a").join(sk.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nid"))
      .distinct()
    cand
      .join(e.select(col("vec_id"), col("v").as("va"), col("n2").as("n2a")), Seq("vec_id"))
      .join(e.select(col("vec_id").as("nid"), col("v").as("vb"), col("n2").as("n2b")), Seq("nid"))
      .withColumn("cosine", expr(dotExpr) / (sqrt(col("n2a")) * sqrt(col("n2b"))))
      .groupBy(col("vec_id"))
      .agg(expr(s"topk_by_score(cosine, nid, $JoinK)").as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(
        col("vec_id"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("cosine"))
      .orderBy("vec_id", "rank")
  }

  val knnJoinLshSql: String = {
    val skUnion = (0 until LshTables).map { t =>
      s"SELECT vec_id, $t AS tbl, ${bandSketchSql(t, "v")} AS bucket FROM e"
    }.mkString("\nUNION ALL ")
    s"""$EmbCte,
       |sk AS (
       |$skUnion),
       |cand AS (
       |  SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id
       |  FROM sk a JOIN sk b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |scored AS (
       |  SELECT c.vec_id, c.neighbor_id,
       |         ${cosSql("x.v", "y.v", "x.n2", "y.n2")} AS cosine
       |  FROM cand c
       |  JOIN e x ON c.vec_id = x.vec_id
       |  JOIN e y ON c.neighbor_id = y.vec_id)
       |SELECT vec_id, neighbor_id, rank, cosine FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM scored) WHERE rank <= $JoinK
       |ORDER BY vec_id, rank""".stripMargin
  }

  // ---- dedup_semantic: SemDeDup-style cluster-then-prune ---------------
  /** Semantic deduplication à la SemDeDup (Abbas et al., 2023): cluster
    * the embedding space, then drop every vector that has a sufficiently
    * similar SMALLER-id neighbor within its own cluster — pairwise cosine
    * is only ever computed inside a cluster, never across the corpus.
    * Output is one verdict row per vector: (vec_id, centroid_id, keep).
    *
    * Clustering here uses the deterministic modulo-seeded centroid set
    * (`vec_id % 50 == 0`, same seeds as knn_ivf) so the DuckDB oracle can
    * replicate the assignment exactly; [[kmeansCentroids]] slots in as
    * the trained-centroid production path (spec-checked, not oracle-able
    * — iterated float group-sums are fold-order-sensitive).
    *
    * Scale (100 TB): assignment is one broadcast cross-join + partial-
    * aggregable argmax per row (O(N·K), no shuffle of the vectors);
    * the prune self-join shuffles by centroid_id, so the quadratic term
    * is bounded by max cluster size — the SemDeDup trade: more centroids
    * → smaller clusters → cheaper prune, lower cross-cluster recall.
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    dedupSemanticOn(emb(spark, dir))

  def dedupSemanticOn(e: DataFrame): DataFrame =
    dedupSemanticWith(e,
      e.filter(col("vec_id") % CentroidMod === 0)
        .select(col("vec_id").as("centroid_id"), col("v").as("vb"), col("n2").as("cn2")))

  /** [[dedupSemanticOn]] with an explicit centroid table — the production
    * entry point: modulo seeding ties K to N (fine for the oracle gate,
    * quadratic if left that way at corpus scale), while a FIXED or
    * [[kmeansCentroids]]-trained centroid set keeps assignment O(N·K)
    * with constant K. `centroids`: (centroid_id, vb, cn2).
    */
  def dedupSemanticWith(e: DataFrame, centroids: DataFrame): DataFrame = {
    val asg = e.select(col("vec_id"), col("v").as("va"), col("n2").as("an2"))
      .crossJoin(broadcast(centroids))
      .withColumn("cos_c", expr(dotExpr) / (sqrt(col("an2")) * sqrt(col("cn2"))))
      .groupBy(col("vec_id"))
      .agg(max_by(col("centroid_id"), struct(col("cos_c"), -col("centroid_id")))
        .as("centroid_id"))
      .join(e, "vec_id")
      .localCheckpoint(eager = false)
    val removed = asg.select(col("centroid_id"), col("vec_id"), col("v").as("va"), col("n2").as("n2a"))
      .join(asg.select(col("centroid_id"), col("vec_id").as("vec_id_b"),
          col("v").as("vb"), col("n2").as("n2b")),
        Seq("centroid_id"))
      .filter(col("vec_id_b") < col("vec_id"))
      .withColumn("cosine", expr(dotExpr) / (sqrt(col("n2a")) * sqrt(col("n2b"))))
      .filter(col("cosine") >= NearDupCosine)
      .select("vec_id").distinct()
    asg.select("vec_id", "centroid_id")
      .join(removed.withColumn("rm", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        when(col("rm").isNull, 1).otherwise(0).cast("int").as("keep"))
      .orderBy("vec_id")
  }

  val dedupSemanticSql: String =
    s"""$EmbCte,
       |c AS (SELECT vec_id AS centroid_id, v AS vc, n2 AS cn2 FROM e WHERE vec_id % $CentroidMod = 0),
       |scored AS (
       |  SELECT e.vec_id, c.centroid_id,
       |         ${cosSql("e.v", "c.vc", "e.n2", "c.cn2")} AS cs
       |  FROM e CROSS JOIN c),
       |asg AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id ASC) AS rn
       |    FROM scored) WHERE rn = 1),
       |rm AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id
       |  JOIN e ea ON ea.vec_id = a.vec_id
       |  JOIN e eb ON eb.vec_id = b.vec_id
       |  WHERE ${cosSql("ea.v", "eb.v", "ea.n2", "eb.n2")} >= $NearDupCosine)
       |SELECT a.vec_id, a.centroid_id,
       |       CAST(CASE WHEN rm.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep
       |FROM asg a LEFT JOIN rm USING (vec_id)
       |ORDER BY vec_id""".stripMargin

  // ---- doc_pagerank: damped PageRank over the near-dup graph -----------
  /** PageRank centrality over the embedding near-duplicate graph — the
    * iterative numeric graph family ([[graft.dedup.Dedup.componentsOn]]
    * covers the label-propagation family): nodes are all vectors, edges
    * the symmetric cosine-≥-threshold pairs of [[dedupEmbeddingOn]], and
    * 5 damped iterations (d = 0.85) of
    * `pr'(v) = 0.15/N + 0.85 · Σ_{u→v} pr(u)/deg(u)` rank each document
    * by how central it is in the duplication structure (high rank = a hub
    * duplicated across many near-dup clusters; isolated docs settle at
    * 0.15/N). Mass on isolated nodes leaks (no dangling redistribution)
    * — the standard simplification, stated here as the contract.
    *
    * Cross-engine determinism: the per-target contribution sum is a
    * sorted fold (`aggregate(sort_array(collect_list(c)), 0D, +)` ↔
    * DuckDB `list_reduce(list_sort(list(c)), +)` — identical doubles in
    * identical order, and Spark's extra 0.0 seed is exact because
    * 0.0 + x = x for the positive contributions here). The damping
    * expression is written `0.15/N + 0.85·s` in both engines, with
    * DuckDB literals cast `::DOUBLE` (bare 0.15 would be DECIMAL).
    *
    * Scale (100 TB): each iteration is one edge-keyed join + one
    * dst-keyed aggregate — the Pregel-on-Spark shape; lineage is cut per
    * round by eager localCheckpoint with previous-round block release
    * (same idiom as componentsOn). The sorted fold is NOT partial-
    * aggregable; at production scale swap it for a plain `sum` (order-
    * free up to 1-ulp noise) — the fold exists for the bit-exact oracle
    * gate, and the swap is one line.
    */
  private val PrIters = 5

  def docPagerank(spark: SparkSession, dir: String): DataFrame =
    docPagerankOn(emb(spark, dir))

  def docPagerankOn(e: DataFrame): DataFrame =
    docPagerankFrom(e, dedupEmbeddingOn(e))

  /** [[docPagerankOn]] with an explicit near-dup pair stream — the scale
    * entry point: the default wires the EXACT O(N²/2) pair scan (the
    * verifiable oracle baseline, quadratic by construction — measured
    * 447 s at the 100× probe), while production passes
    * [[dedupEmbeddingLshOn]]'s banded candidates (linear gram volume)
    * and keeps the identical rank iteration. `pairs`:
    * (vec_id_1, vec_id_2, …).
    */
  def docPagerankFrom(e: DataFrame, pairStream: DataFrame): DataFrame = {
    // Every checkpoint here is LAZY (eager = false): the loop has no
    // mid-iteration action, so all six rounds fuse into ONE job cascade
    // at first collection — each checkpointed frame (edge list, degree-
    // joined edges, node list, 1-row count, per-round ranks) materializes
    // once, is block-reused by every downstream stage, and the lineage
    // cut still prevents cross-action recompute. An eager variant paid a
    // full job-scheduling round trip per iteration (~6× the wall time at
    // test scale for identical shuffles); block release between queries
    // is [[graft.Maintenance.releaseCachedBlocks]]'s job, as everywhere.
    // The loop runs over CONNECTED nodes only: with symmetric edges every
    // edge-bearing node receives contributions every round, so the
    // left-join/coalesce branch of the textbook formulation is exercised
    // exclusively by isolated nodes — whose rank is the constant 0.15/N
    // fixed point, computed once outside the loop. N is counted once on
    // the driver and embedded as a literal (the componentsOn pattern),
    // removing a per-iteration broadcast exchange; the math is written
    // identically to the oracle (`0.15/N + 0.85·s`, double / bigint).
    // NO checkpoint on pairs before the symmetrize union, DELIBERATELY
    // (r19 measured): unlike componentsOn, the union's result is itself
    // checkpointed one line down, so the pair derivation's double eval
    // happens exactly once (at edges' materialization) — adding a pairs
    // checkpoint traded that one saved eval for a materialization
    // barrier + cache IO and cost +0.5 s on doc_pagerank at sf0.1
    // (1.43 → 2.00 min-of-3, idle; reverted same-round).
    val pairs = pairStream.select("vec_id_1", "vec_id_2")
    val edges = pairs.select(col("vec_id_1").as("src"), col("vec_id_2").as("dst"))
      .union(pairs.select(col("vec_id_2").as("src"), col("vec_id_1").as("dst")))
      .localCheckpoint(eager = false)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesD = edges.join(deg, Seq("src")).localCheckpoint(eager = false)
    val nodes = e.select(col("vec_id")).localCheckpoint(eager = false)
    val n = nodes.count()
    val connected = edges.select(col("src").as("vec_id")).distinct()
      .localCheckpoint(eager = false)
    val isolatedPr = nodes.join(connected, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), (lit(0.15) / lit(n)).as("pr"))
    var pr = connected
      .select(col("vec_id"), (lit(1.0) / lit(n)).as("pr"))
      .localCheckpoint(eager = false)
    (1 to PrIters).foreach { _ =>
      pr = edgesD.join(pr.withColumnRenamed("vec_id", "src"), Seq("src"))
        .select(col("dst"), (col("pr") / col("deg").cast("double")).as("c"))
        .groupBy(col("dst"))
        .agg(expr("aggregate(sort_array(collect_list(c)), cast(0.0 as double), (a, x) -> a + x)").as("s"))
        .select(col("dst").as("vec_id"),
          (lit(0.15) / lit(n) + lit(0.85) * col("s")).as("pr"))
        .localCheckpoint(eager = false)
    }
    pr.union(isolatedPr).orderBy("vec_id")
  }

  /** Build-once resolution of the persisted embedding near-dup edge
    * graph — [[graft.dedup.Dedup.storedPairs]]' mechanics applied to the
    * cosine tier: [[dedupEmbeddingOn]]'s verified (vec_id_1, vec_id_2,
    * cosine) pairs written ONCE per corpus key. The pair scan (quadratic in the oracle-verifiable
    * baseline, banded in production) is the dominant term of every graph
    * consumer; edges are sparse, so the store is the cheap artifact.
    */
  /** @param pairsOf the verified pair stream to persist. Default: the
    *   exact oracle-verifiable scan ([[dedupEmbeddingOn]], quadratic —
    *   paid once at build); production and the ScaleProbe arm pass the
    *   banded / sharded linear source — same pluggability as
    *   [[docPagerankFrom]], now at the STORE boundary.
    */
  private[graft] def storedEmbPairs(spark: SparkSession, key: String,
      e: => DataFrame,
      pairsOf: DataFrame => DataFrame = dedupEmbeddingOn): DataFrame =
    graft.sources.StoreCatalog.parquet(spark, "graft_emb_edges", key)(pairsOf(e))

  /** [[docPagerank]] off the persisted embedding edge graph — the
    * production arc the r13 review asked to close: the rank iteration
    * (already pluggable via [[docPagerankFrom]]) starts at stored edges,
    * so per run only the Pregel loop is paid, never the pair scan.
    * Bit-identical to the in-plan entry (the store IS
    * [[dedupEmbeddingOn]]'s output), so the oracle is shared verbatim.
    */
  def docPagerankServed(spark: SparkSession, dir: String): DataFrame =
    docPagerankFrom(emb(spark, dir),
      storedEmbPairs(spark,
        graft.sources.StoreCatalog.key(spark, dir), emb(spark, dir)))

  private def prIterSql(k: Int): String =
    s"""pr$k AS (
       |  SELECT e.vec_id,
       |         0.15::DOUBLE / nn.n + 0.85::DOUBLE * coalesce(s.s, 0.0::DOUBLE) AS pr
       |  FROM e CROSS JOIN nn LEFT JOIN (
       |    SELECT ed.dst, list_reduce(list_sort(list(p.pr / ed.deg)), (a, b) -> a + b) AS s
       |    FROM edg ed JOIN pr${k - 1} p ON p.vec_id = ed.src
       |    GROUP BY ed.dst) s ON s.dst = e.vec_id)""".stripMargin

  val docPagerankSql: String =
    s"""$EmbCte,
       |p AS (SELECT a.vec_id AS v1, b.vec_id AS v2
       |      FROM e a JOIN e b ON a.vec_id < b.vec_id
       |      WHERE ${cosSql("a.v", "b.v", "a.n2", "b.n2")} >= $NearDupCosine),
       |ed AS (SELECT v1 AS src, v2 AS dst FROM p UNION ALL SELECT v2, v1 FROM p),
       |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
       |edg AS (SELECT ed.src, ed.dst, dg.deg FROM ed JOIN dg USING (src)),
       |nn AS (SELECT count(*) AS n FROM e),
       |pr0 AS (SELECT e.vec_id, 1.0::DOUBLE / nn.n AS pr FROM e CROSS JOIN nn),
       |${(1 to PrIters).map(prIterSql).mkString(",\n")}
       |SELECT vec_id, pr FROM pr$PrIters ORDER BY vec_id""".stripMargin

  // ---- dup_triangles: triangle census of the near-dup graph ------------
  /** Global triangle count and clustering coefficient over the embedding
    * near-dup graph — the density diagnostic for duplication structure
    * (high coefficient = dup clusters are cliques, so component-based
    * canonicalization collapses many docs per survivor; low = chains,
    * where pair-list dedup under-deletes — exactly when
    * [[graft.dedup.Dedup.componentsOn]] earns its keep). Completes the
    * graph family: components (label propagation), alt-star, PageRank
    * (iterative numeric), triangles (multi-way self-join).
    *
    * The count joins the ORDERED edge list (a<b) to itself twice —
    * (a,b)⋈(b,c) wedges, LEFT SEMI against (a,c) — so each triangle is
    * counted exactly once, no orientation dedup needed. Wedge count is
    * Σ deg·(deg−1)/2 in pure integers; the coefficient 3T/W is the one
    * double division.
    *
    * Scale: the wedge join's volume is Σ deg² — the quadratic
    * concentrates on high-degree hubs, so production first caps or
    * samples hub neighborhoods (the standard triangle-at-scale trade)
    * and feeds banded candidates via the same pluggable pair stream as
    * [[docPagerankFrom]].
    */
  /** The census runs at a LOOSER threshold than the dedup decision (0.30
    * vs 0.45): it measures neighborhood structure, and at the decision
    * threshold this corpus' pair graph is isolated edges (zero triangles
    * — a vacuous census; measured at sf0.01).
    */
  private val TriThreshold = 0.30

  def dupTriangles(spark: SparkSession, dir: String): DataFrame =
    dupTrianglesFrom(blockedPairs(emb(spark, dir))
      .filter(col("cosine") >= TriThreshold))

  def dupTrianglesFrom(pairStream: DataFrame): DataFrame = {
    val p = pairStream.select(col("vec_id_1").as("a"), col("vec_id_2").as("b"))
      .localCheckpoint(eager = false)
    val deg = p.select(col("a").as("v")).union(p.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("c"))
    val wedges = p.select(col("a").as("w_a"), col("b").as("w_b"))
    val tri = p
      .join(wedges.select(col("w_a").as("b"), col("w_b").as("c")), Seq("b"))
      .join(p.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nm = p.agg(count(lit(1)).as("n_edges"))
    val nodesW = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("c * (c - 1) div 2")).as("n_wedges"))
    nodesW.crossJoin(broadcast(nm)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0, (col("n_triangles") * 3) / col("n_wedges"))
          .otherwise(lit(null).cast("double")).as("clustering_coeff"))
  }

  val dupTrianglesSql: String =
    s"""$EmbCte,
       |p AS (SELECT a.vec_id AS a, b.vec_id AS b
       |      FROM e a JOIN e b ON a.vec_id < b.vec_id
       |      WHERE ${cosSql("a.v", "b.v", "a.n2", "b.n2")} >= $TriThreshold),
       |deg AS (SELECT v, count(*) AS c
       |        FROM (SELECT a AS v FROM p UNION ALL SELECT b FROM p) GROUP BY v),
       |tri AS (SELECT count(*) AS n_triangles
       |        FROM p e1 JOIN p e2 ON e2.a = e1.b
       |        WHERE EXISTS (SELECT 1 FROM p e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
       |nw AS (SELECT count(*) AS n_nodes,
       |              CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
       |nm AS (SELECT count(*) AS n_edges FROM p)
       |SELECT nw.n_nodes, nm.n_edges, tri.n_triangles, nw.n_wedges,
       |       CASE WHEN nw.n_wedges > 0 THEN (tri.n_triangles * 3) / nw.n_wedges
       |       END AS clustering_coeff
       |FROM nw CROSS JOIN nm CROSS JOIN tri""".stripMargin

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "knn_brute"       -> (knnBrute _, knnBruteSql),
    "knn_ivf"         -> (knnIvf _, knnIvfSql),
    "knn_ivf_sqrt"    -> (knnIvfSqrt _, knnIvfSqrtSql),
    "knn_lsh"         -> (knnLsh _, knnLshSql),
    "knn_lsh_mp"      -> (knnLshMp _, knnLshMpSql),
    "sim_pairs_topk"  -> (simPairsTopk _, simPairsTopkSql),
    "dedup_embedding" -> (dedupEmbedding _, dedupEmbeddingSql),
    "dedup_embedding_lsh" -> (dedupEmbeddingLsh _, dedupEmbeddingLshSql),
    "dedup_semantic"  -> (dedupSemantic _, dedupSemanticSql),
    "decontam_semantic" -> (decontamSemantic _, decontamSemanticSql),
    "doc_pagerank"    -> (docPagerank _, docPagerankSql),
    "doc_pagerank_served" -> (docPagerankServed _, docPagerankSql),
    "dup_triangles"   -> (dupTriangles _, dupTrianglesSql),
    "knn_join"        -> (knnJoin _, knnJoinSql),
    "knn_join_lsh"    -> (knnJoinLsh _, knnJoinLshSql),
  )
}
