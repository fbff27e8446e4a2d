package graft.dedup

import graft.Tables
import graft.sources.StoreCatalog
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Record-linkage tier: edit-distance joins WITHOUT the all-pairs product,
  * via deletion-neighborhood blocking (FastSS — Bocek, Hunt, Stiller, ETH
  * TIK report 2007; the same symmetric-delete idea SymSpell popularized).
  * Near-identical entity names are the classic record-linkage signal a
  * curation pipeline runs over crawl metadata (site names, authors,
  * publishers) before entity-keyed dedup or joins.
  *
  * Blocking law (spec-pinned in `LinkageSpec`): two strings at Levenshtein
  * distance ≤ 1 ALWAYS share a depth-1 deletion key —
  *  - substitution at position i: deleting position i from both sides
  *    yields the same string;
  *  - insertion/deletion of one character c: deleting c from the longer
  *    side yields the shorter side, which is a member of its own
  *    neighborhood.
  * The shared-key candidate set is a SUPERSET of the true ≤1 pairs (e.g.
  * "ab"/"ba" share keys "a" and "b" at distance 2), so every candidate is
  * re-verified with the native codegen'd `levenshtein` — blocked output ≡
  * brute force exactly, never approximately.
  *
  * Scale (100 TB): candidate generation is LINEAR — (L+1) keys per row
  * (L = name length; ~19 here) — and the key join shuffles keys, not
  * pairs. Bucket width is bounded by the VALUE domain, not the corpus: the
  * strings whose neighborhood contains a key k are k itself plus the
  * single-character insertions into k, ≤ |Σ|·(|k|+1) + 1 distinct values.
  * Contract: link AFTER exact dedup (ids unique per name, the
  * [[Dedup]] `dedup_exact` pass) — exact-duplicate names would reproduce
  * their duplicate class quadratically inside the self-key bucket, which
  * is precisely the work exact dedup removes first. The verify step runs
  * only on distinct shared-key pairs; `levenshtein` is a built-in codegen
  * expression in both engines, so the oracle is bit-exact. Depth-2 keys
  * (C(L,2) per row) extend the same law to distance ≤ 2 when needed; the
  * key count is the price knob and is documented, not hidden.
  */
object Linkage {

  /** Depth-1 deletion neighborhood: the string itself + every single-char
    * deletion, de-duplicated (deleting either of two equal adjacent chars
    * yields the same variant). Guarded for length-0 input (Spark's
    * `sequence(1, 0)` would COUNT DOWN, not return empty).
    */
  private def deletionKeys1Sql(c: String): String =
    s"""IF(length($c) < 1, array($c),
       |  array_distinct(concat(array($c),
       |    transform(sequence(1, length($c)),
       |      i -> concat(substring($c, 1, i - 1),
       |                  substring($c, i + 1, length($c)))))))""".stripMargin

  private[graft] def deletionKeys(c: String): Column = expr(deletionKeys1Sql(c))

  /** The (k_id, k_name, bk) deletion-key index frame — the blocking rows
    * [[fuzzyJoinOn]] self-joins, and the artifact
    * [[graft.sources.LinkStore]] persists for incremental probing.
    */
  private[graft] def deletionKeyIndex(df: DataFrame, idCol: String,
      nameCol: String): DataFrame =
    df.filter(col(nameCol).isNotNull)
      .select(col(idCol).cast("long").as("k_id"), col(nameCol).as("k_name"))
      .select(col("k_id"), col("k_name"), explode(deletionKeys("k_name")).as("bk"))

  /** Blocked fuzzy self-join of (`idCol`, `nameCol`): all unordered pairs
    * at Levenshtein distance ≤ 1, via shared deletion keys + exact verify.
    * Output: (a_id, a_name, b_id, b_name, dist) with a_id < b_id.
    */
  private[graft] def fuzzyJoinOn(df: DataFrame, idCol: String, nameCol: String): DataFrame = {
    val keyed = deletionKeyIndex(df, idCol, nameCol)
    keyed.as("a")
      .join(keyed.as("b"), col("a.bk") === col("b.bk") && col("a.k_id") < col("b.k_id"))
      .select(
        col("a.k_id").as("a_id"), col("a.k_name").as("a_name"),
        col("b.k_id").as("b_id"), col("b.k_name").as("b_name"),
        levenshtein(col("a.k_name"), col("b.k_name")).cast("long").as("dist"))
      // verify BEFORE distinct: only true matches pay the dedup shuffle
      // (a pair can share up to L+1 keys; typically 1-2).
      .filter(col("dist") <= 1)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  /** Brute-force twin for the spec law: the quadratic shape the blocking
    * replaces. Test-scale only.
    */
  private[graft] def bruteFuzzyOn(df: DataFrame, idCol: String, nameCol: String): DataFrame = {
    val base = df.filter(col(nameCol).isNotNull)
      .select(col(idCol).cast("long").as("k_id"), col(nameCol).as("k_name"))
    base.as("a").join(base.as("b"), col("a.k_id") < col("b.k_id"))
      .select(
        col("a.k_id").as("a_id"), col("a.k_name").as("a_name"),
        col("b.k_id").as("b_id"), col("b.k_name").as("b_name"),
        levenshtein(col("a.k_name"), col("b.k_name")).cast("long").as("dist"))
      .filter(col("dist") <= 1)
      .orderBy("a_id", "b_id")
  }

  /** Oracle entry: supplier-name linkage at distance ≤ 1. */
  def fuzzyJoin(spark: SparkSession, dir: String): DataFrame =
    fuzzyJoinOn(Tables.supplier(spark, dir), "s_suppkey", "s_name")

  val fuzzyJoinSql: String =
    """SELECT a.s_suppkey AS a_id, a.s_name AS a_name,
      |       b.s_suppkey AS b_id, b.s_name AS b_name,
      |       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
      |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
      |WHERE levenshtein(a.s_name, b.s_name) <= 1
      |ORDER BY a_id, b_id""".stripMargin

  // ---- entity_groups: linkage pairs → entity components ----------------
  /** Canonical entity resolution: the fuzzy ≤1 pair graph collapsed to
    * connected components — A~B and B~C merge into ONE entity even when
    * A~C was never emitted (chained typo drift, the record-linkage twin
    * of chained near-dup docs). Reuses [[Dedup.componentsOn]]'s min-label
    * propagation verbatim (the per-round keyed join + min-agg shape);
    * `entity_id` = min suppkey in the group, `is_canonical` marks the
    * survivor record a master-data table keeps. The same
    * adversarial-diameter escape hatch ([[Dedup.componentsAltStarOn]])
    * applies unchanged since the interface is just the pair frame.
    *
    * Scale: inherits fuzzy_join's linear candidate stream and the
    * components loop's O(diameter) keyed rounds; entity groups are
    * shallow by construction (typo graphs, like near-dup graphs, chain
    * rather than deep-path).
    */
  def entityGroups(spark: SparkSession, dir: String): DataFrame =
    Dedup.componentsOn(
      fuzzyJoin(spark, dir)
        .select(col("a_id").as("doc_id_1"), col("b_id").as("doc_id_2")))
      .select(col("doc_id").as("s_suppkey"), col("component_id").as("entity_id"),
        col("is_canonical"))
      .orderBy("s_suppkey")

  val entityGroupsSql: String =
    s"""WITH RECURSIVE fpairs AS (
       |  SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id
       |  FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
       |  WHERE levenshtein(a.s_name, b.s_name) <= 1),
       |edges AS (
       |  SELECT a_id AS a, b_id AS b FROM fpairs
       |  UNION
       |  SELECT b_id, a_id FROM fpairs),
       |reach(v, u) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a)
       |SELECT v AS s_suppkey,
       |       least(v, min(u)) AS entity_id,
       |       v = least(v, min(u)) AS is_canonical
       |FROM reach
       |GROUP BY v
       |ORDER BY s_suppkey""".stripMargin

  // ---- fuzzy_join2: the depth-2 escape hatch, cashed in -----------------
  /** Depth-2 deletion neighborhood: the string, every 1-deletion, and
    * every 2-deletion (deleting i<j of the original ≡ one deletion of a
    * 1-deletion variant, so the nested transform generates exactly the
    * ≤2-deletion set; `array_distinct` collapses the duplicates).
    * C(L,2)+L+1 keys per row — the documented quadratic-in-L price of
    * the distance-2 tier.
    */
  private[graft] def deletionKeys2(c: String): Column = {
    val del1 =
      s"""transform(sequence(1, length($c)),
         |  i -> concat(substring($c, 1, i - 1),
         |              substring($c, i + 1, length($c))))""".stripMargin
    expr(
      s"""IF(length($c) < 2, ${deletionKeys1Sql(c)},
         |  array_distinct(concat(
         |    array($c), $del1,
         |    flatten(transform($del1, s ->
         |      transform(sequence(1, length(s)),
         |        i -> concat(substring(s, 1, i - 1),
         |                    substring(s, i + 1, length(s)))))))))""".stripMargin)
  }

  /** All unordered pairs at Levenshtein distance ≤ 2 via shared depth-2
    * deletion keys + exact verify — the FastSS law at k=2: d(s,t) ≤ 2
    * means deleting ≤2 characters from each side meets in a common
    * string, which both depth-2 neighborhoods contain. The candidate set
    * is again a verified superset, so blocked ≡ brute exactly
    * (spec-pinned — including the "ab"/"ba" transposition the ≤1 tier
    * rightly rejects and this tier rightly finds).
    *
    * Scale: (C(L,2)+L+1) keys per row — still LINEAR in corpus size with
    * a larger constant (~170 at L=18 vs 19 for depth 1) — and bucket
    * width stays bounded by the VALUE domain (the strings whose depth-2
    * neighborhood contains key k are k plus its ≤2-character insertions,
    * ≤ (|Σ|·(|k|+2))² + |Σ|·(|k|+1) + 1 values). The distance-2 knob is
    * for short-string domains (names, codes); on long strings the key
    * count is the price the scaladoc warns about.
    */
  private[graft] def fuzzyJoin2On(df: DataFrame, idCol: String, nameCol: String): DataFrame = {
    val names = df
      .filter(col(nameCol).isNotNull)
      .select(col(idCol).cast("long").as("k_id"), col(nameCol).as("k_name"))
    val keyed = names
      .select(col("k_id"), col("k_name"), explode(deletionKeys2("k_name")).as("bk"))
    // OPPOSITE trade to the depth-1 tier (which verifies before distinct
    // because sparse pairs share 1-2 keys): at depth 2 a true pair shares
    // up to ~C(L,2) keys, so verifying per shared-key occurrence
    // multiplies the levenshtein work ~two orders of magnitude on dense
    // domains — dedup the id pairs FIRST, then verify each pair ONCE
    // against the names joined back by id (measured on the sf0.1
    // supplier table: 8.5 s -> 2.0 s min-of-3 isolated)
    val cand = keyed.as("a")
      .join(keyed.as("b"), col("a.bk") === col("b.bk") && col("a.k_id") < col("b.k_id"))
      .select(col("a.k_id").as("a_id"), col("b.k_id").as("b_id"))
      .distinct()
    cand
      .join(names.select(col("k_id").as("a_id"), col("k_name").as("a_name")), "a_id")
      .join(names.select(col("k_id").as("b_id"), col("k_name").as("b_name")), "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_name"), col("b_name")).cast("long").as("dist"))
      .filter(col("dist") <= 2)
  }

  /** Oracle entry: per-supplier distance-≤2 neighbor counts, top 20 —
    * the pair set itself grows with the dense digit domain (C(100,2) at
    * sf0.01 — every pair qualifies there), so the entry reports the
    * bounded per-node aggregate; the full pair-set equality is the spec
    * law.
    */
  def fuzzyJoin2(spark: SparkSession, dir: String): DataFrame =
    fuzzyJoin2On(Tables.supplier(spark, dir), "s_suppkey", "s_name")
      .select(explode(array(col("a_id"), col("b_id"))).as("s_suppkey"))
      .groupBy("s_suppkey").agg(count(lit(1)).as("n_near"))
      .orderBy(col("n_near").desc, col("s_suppkey").asc)
      .limit(20)

  val fuzzyJoin2Sql: String =
    """WITH fp AS (
      |  SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id
      |  FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
      |  WHERE levenshtein(a.s_name, b.s_name) <= 2),
      |nodes AS (
      |  SELECT a_id AS s_suppkey FROM fp
      |  UNION ALL SELECT b_id FROM fp)
      |SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_near
      |FROM nodes GROUP BY 1
      |ORDER BY n_near DESC, s_suppkey ASC LIMIT 20""".stripMargin

  // ---- graph_triangles: degree-oriented triangle counting ---------------
  /** Per-node triangle participation over the fuzzy <=1 pair graph — the
    * third member of the graph-analytics tier beside connected components
    * and PageRank. Triangle density separates clique-like duplicate
    * clusters (safe to collapse to one canonical record) from chain-like
    * typo drift (where transitive merging is the risky step), so it is
    * the diagnostic a linkage pipeline reads BEFORE trusting
    * [[entityGroups]]' transitive closure.
    *
    * Plan shape (the Suri-Vassilvitskii WWW '11 / Cohen '09 shape): every
    * edge is ORIENTED from its (degree, id)-smaller endpoint to the
    * larger — a total order, so the oriented graph is acyclic and each
    * triangle has exactly ONE node with two out-edges in it. Wedges =
    * the out-neighbor pairs of that node (one equi self-join on src);
    * closing = one equi join of the wedge's (min, max) endpoints against
    * the canonical edge list. Every join is hash-partitionable — no
    * pair-axis blowup beyond the wedge set, whose size is bounded by
    * sum(out_deg^2) <= O(m^1.5) under degree orientation REGARDLESS of
    * skew (a hub of degree d contributes ~d wedges, not d^2, because
    * high-degree nodes sit on the receiving end). The brute oracle
    * closes e1-e2-e3 directly; blocked-vs-brute equality is the spec law.
    */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame =
    graphTrianglesOn(fuzzyJoin(spark, dir).select(col("a_id"), col("b_id")))

  /** `pairs`: unique undirected edges with a_id < b_id. Output: top-20
    * nodes by triangle participation (count desc, id asc).
    */
  private[graft] def graphTrianglesOn(pairs: DataFrame): DataFrame =
    triangleCounts(pairs)
      .orderBy(col("n_triangles").desc, col("s_suppkey").asc)
      .limit(20)

  /** Per-node triangle participation, EVERY triangle-bearing node (the
    * degree-oriented wedge-close derivation [[graphTrianglesOn]] ranks
    * and [[graphClusteringCoeff]] normalizes — one definition).
    */
  private[graft] def triangleCounts(pairs: DataFrame): DataFrame = {
    // materialize the edge list once (r19 plan audit): it feeds FOUR
    // consumers (both degree union branches, the orientation join, the
    // wedge close) and `oriented` feeds the wedge self-join's two sides
    // — un-checkpointed, an in-plan pair derivation (the Levenshtein
    // fuzzy join) appeared 11x in graph_triangles' physical plan. Both
    // frames are edge-sized.
    val edges = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .localCheckpoint(eager = false)
    val deg = edges.select(col("u").as("id"))
      .unionAll(edges.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"))
      .localCheckpoint(eager = false)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"),
        col("e2.dst").as("z"))
    val tris = wedges.join(edges,
      least(col("y"), col("z")) === col("u") &&
        greatest(col("y"), col("z")) === col("v"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("s_suppkey"))
      .groupBy("s_suppkey").agg(count(lit(1)).as("n_triangles"))
  }

  // ---- graph_clustering_coeff: local clustering coefficient -------------
  /** Per-node LOCAL CLUSTERING COEFFICIENT over the fuzzy ≤1 pair graph
    * — 2·tri(v) / (deg(v)·(deg(v)−1)), the normalized form of the
    * triangle diagnostic ([[graphTriangles]]'s scaladoc: triangle
    * density separates clique-like duplicate clusters, safe to collapse,
    * from chain-like typo drift where transitive merging is risky —
    * the coefficient IS that separation as a per-node [0, 1] score, so
    * a linkage pipeline can THRESHOLD it instead of eyeballing a
    * top-20). Degree-<2 nodes score 0 (no wedge to close).
    *
    * Plan: [[triangleCounts]]' degree-oriented wedge-close (one
    * definition with the ranking entry — sum(out_deg²) ≤ O(m^1.5)
    * wedges under orientation regardless of skew) left-joined onto the
    * degree frame; the division is IEEE double over exact integers,
    * spelled identically in both engines (cast-to-double of the two
    * integer products), so the gate is bit-exact.
    *
    * Scale (100 TB): inherits the triangle tier's economics — every
    * join hash-partitionable, no adjacency lists, wedge volume bounded
    * by orientation; the coefficient adds one broadcast-sized... no:
    * one keyed left join + a per-row projection on top.
    */
  def graphClusteringCoeff(spark: SparkSession, dir: String): DataFrame =
    graphClusteringCoeffOn(fuzzyJoin(spark, dir).select(col("a_id"), col("b_id")))

  private[graft] def graphClusteringCoeffOn(pairs: DataFrame): DataFrame =
    clusteringFrom(degreeTriangleMapOn(pairs))

  /** The diagnostics family's MAP derivation — (s_suppkey, degree,
    * n_triangles) for EVERY node of the pair graph: the frame
    * [[storedTriangleMap]] persists and the serving cells maintain;
    * [[graphClusteringCoeffOn]] is these rows normalized and
    * [[graphTrianglesOn]]'s ranking is their positive subset — one
    * definition across the family (r17, the serving-cells round).
    */
  private[graft] def degreeTriangleMapOn(pairs: DataFrame): DataFrame = {
    val p = pairs.localCheckpoint(eager = false)
    val deg = p.select(col("a_id").as("s_suppkey"))
      .unionAll(p.select(col("b_id").as("s_suppkey")))
      .groupBy("s_suppkey").agg(count(lit(1)).as("degree"))
    deg.join(triangleCounts(p), Seq("s_suppkey"), "left")
      .select(col("s_suppkey"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** The coefficient projection over a (s_suppkey, degree, n_triangles)
    * map — IEEE double over exact integers, spelled identically to the
    * oracle (the in-plan entry's own arithmetic, hoisted so map-served
    * reads share it verbatim).
    */
  private[graft] def clusteringFrom(m: DataFrame): DataFrame =
    m.select(col("s_suppkey"), col("degree"), col("n_triangles"),
        when(col("degree") >= 2,
          (col("n_triangles") * 2).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering_coeff"))
      .orderBy("s_suppkey")

  /** The ranking projection over the same map — [[graphTrianglesOn]]'s
    * top-20 (only triangle-bearing nodes, count desc, id asc).
    */
  private[graft] def triangleRankingFrom(m: DataFrame): DataFrame =
    m.filter(col("n_triangles") > 0)
      .select(col("s_suppkey"), col("n_triangles"))
      .orderBy(col("n_triangles").desc, col("s_suppkey").asc)
      .limit(20)

  /** The coefficient oracle over an optionally-restricted supplier set
    * — the tombstone-survivor predicate composes into the pair CTE
    * (the graphCorenessSqlOver hook, r14-ADVICE's oracle-drift class).
    */
  private def graphClusteringCoeffSqlOver(extraPred: String): String =
    s"""WITH fp AS (
      |  SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id
      |  FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
      |  WHERE levenshtein(a.s_name, b.s_name) <= 1$extraPred),
      |tri AS (
      |  SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
      |  FROM fp e1
      |  JOIN fp e2 ON e2.a_id = e1.b_id
      |  JOIN fp e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
      |deg AS (
      |  SELECT id, count(*) AS degree FROM (
      |    SELECT a_id AS id FROM fp UNION ALL SELECT b_id FROM fp)
      |  GROUP BY 1),
      |tcnt AS (
      |  SELECT id, count(*) AS n_triangles FROM (
      |    SELECT x AS id FROM tri
      |    UNION ALL SELECT y FROM tri
      |    UNION ALL SELECT z FROM tri)
      |  GROUP BY 1)
      |SELECT d.id AS s_suppkey,
      |       CAST(d.degree AS BIGINT) AS degree,
      |       CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
      |       CASE WHEN d.degree >= 2
      |            THEN CAST(coalesce(t.n_triangles, 0) * 2 AS DOUBLE)
      |                 / CAST(d.degree * (d.degree - 1) AS DOUBLE)
      |            ELSE 0.0 END AS clustering_coeff
      |FROM deg d LEFT JOIN tcnt t ON d.id = t.id
      |ORDER BY s_suppkey""".stripMargin

  val graphClusteringCoeffSql: String = graphClusteringCoeffSqlOver("")

  /** The ranking oracle over an optionally-restricted supplier set. */
  private def graphTrianglesSqlOver(extraPred: String): String =
    s"""WITH fp AS (
      |  SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id
      |  FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
      |  WHERE levenshtein(a.s_name, b.s_name) <= 1$extraPred),
      |tri AS (
      |  SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
      |  FROM fp e1
      |  JOIN fp e2 ON e2.a_id = e1.b_id
      |  JOIN fp e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
      |nodes AS (
      |  SELECT x AS s_suppkey FROM tri
      |  UNION ALL SELECT y FROM tri
      |  UNION ALL SELECT z FROM tri)
      |SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_triangles
      |FROM nodes GROUP BY 1
      |ORDER BY n_triangles DESC, s_suppkey ASC LIMIT 20""".stripMargin

  val graphTrianglesSql: String = graphTrianglesSqlOver("")

  // ---- graph_kcore: iterative core decomposition ------------------------
  private[graft] val KCoreRounds = 8

  /** Per-node k-core membership (k ∈ {2, 3}) of the fuzzy ≤1 pair graph
    * — the fourth graph-analytics member beside components, PageRank and
    * triangles. The k-core (maximal subgraph where every node keeps ≥ k
    * in-subgraph neighbors) is the robustness read a linkage pipeline
    * wants AFTER triangles: a 3-core survives any single spurious-edge
    * deletion, so core membership separates structurally-confirmed
    * duplicate clusters from ones held together by one noisy match.
    *
    * Plan: the textbook peel — drop degree-<k nodes, recompute, repeat —
    * as [[KCoreRounds]] FIXED rounds of (degree aggregate + two
    * left-semi edge filters), each round checkpointed (the components
    * loop's plan-growth discipline). Fixed rounds, not convergence
    * detection, so the oracle unrolls the IDENTICAL peel as CTE rounds
    * and the gate holds bit-for-bit even mid-convergence; that the
    * fixpoint is reached by round [[KCoreRounds]]−1 on these corpora is
    * `KcoreSpec`'s law (typo graphs peel shallow — their cores are
    * digit-neighborhood cliques), and the spec's brute fixpoint check is
    * engine-independent.
    *
    * Scale (100 TB): every round is one partial-aggregable degree count
    * + hash-partitioned semi-joins — no adjacency lists, no pair
    * blowup; the edge stream only SHRINKS round over round. Peel depth
    * is the price knob: true core DECOMPOSITION (all k at once) runs
    * this loop ~k_max times, and a production run reads edges from the
    * [[graft.sources.LinkStore]] store rather than re-deriving them
    * (the `link_served_kcore` probe arm prices exactly that).
    */
  /** Registry derivation (r16, the `graph_coreness` demotion's twin):
    * membership ≡ coreness ≥ k (the decomposition's defining identity,
    * already gated under this SAME two-threshold peel oracle by
    * `graph_kcore_served` since r15), derived from the adopted
    * counting-form build instead of two 8-round in-plan peels. The peel
    * ([[graphKcoreOn]]) remains the spec-pinned reference derivation
    * (`KcoreSpec` brute law; the `link_served_kcore` probe arm).
    */
  def graphKcore(spark: SparkSession, dir: String): DataFrame =
    graphCorenessCappedCountingOn(
        fuzzyJoin(spark, dir).select(col("a_id"), col("b_id")))
      .select(col("s_suppkey"),
        (col("coreness") >= 2).as("core2"), (col("coreness") >= 3).as("core3"))
      .orderBy("s_suppkey")

  private[graft] def graphKcoreOn(pairs: DataFrame,
      rounds: Int = KCoreRounds): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    val base = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .localCheckpoint()
    def coreNodes(k: Int): DataFrame = {
      var edges = base
      // componentsOn's block discipline: each round's checkpoint replaces
      // the previous one, whose blocks unpersist immediately — at most
      // TWO edge generations live at any moment (the r13 probe OOM'd at
      // the 26M-edge 100× tier retaining all 16)
      var prevRound: scala.collection.Set[Int] = Set.empty[Int]
      for (_ <- 1 to rounds) {
        val deg = edges.select(col("u").as("id"))
          .unionAll(edges.select(col("v").as("id")))
          .groupBy("id").agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= k).select("id")
        val before = sc.getPersistentRDDs.keySet
        edges = edges
          .join(keep.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("id").as("v")), Seq("v"), "left_semi")
          .select(col("u"), col("v"))
          .localCheckpoint()
        val thisRound = sc.getPersistentRDDs.keySet -- before
        prevRound.foreach(id =>
          sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
        prevRound = thisRound
      }
      // the node set (tiny) materializes eagerly, after which the last
      // round's edge blocks are dead too
      val out = edges
        .select(explode(array(col("u"), col("v"))).as("s_suppkey")).distinct()
        .localCheckpoint()
      prevRound.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      out
    }
    val nodes = base.select(explode(array(col("u"), col("v"))).as("s_suppkey")).distinct()
    nodes
      .join(coreNodes(2).withColumn("c2", lit(true)), Seq("s_suppkey"), "left")
      .join(coreNodes(3).withColumn("c3", lit(true)), Seq("s_suppkey"), "left")
      .select(col("s_suppkey"),
        coalesce(col("c2"), lit(false)).as("core2"),
        coalesce(col("c3"), lit(false)).as("core3"))
      .orderBy("s_suppkey")
  }

  // ---- graph_coreness: full core decomposition ---------------------------
  private[graft] val CorenessMaxK = 10

  /** Per-node CORENESS (the max k with the node inside the k-core) — the
    * r13 review's #6 ask: `graph_kcore` answers "is this node in the 2-
    * and 3-cores"; a robustness read over a linkage graph wants the full
    * decomposition (a supplier group's coreness is how many concurrent
    * spurious-edge deletions its duplicate cluster survives).
    *
    * Plan: SUCCESSIVE peeling — the (k+1)-core is a subgraph of the
    * k-core, so each threshold's [[KCoreRounds]] fixed peel rounds start
    * from the PREVIOUS threshold's edge fixpoint, not from the full
    * graph (the textbook incremental decomposition; most thresholds see
    * an already-tiny or empty edge stream). Fixed rounds per threshold,
    * so the oracle unrolls the IDENTICAL peel chain and the gate holds
    * bit-for-bit even mid-convergence; that the fixpoint IS reached on
    * these corpora is `CorenessSpec`'s engine-independent brute law.
    * [[CorenessMaxK]] = 10 bounds the loop above the corpus' degeneracy
    * (digit-neighborhood cliques cap at 10 members = coreness 9; the
    * empty 10-core peels to nothing in one round).
    *
    * Scale (100 TB): inherits the kcore economics — per round one
    * partial-aggregable degree count + two semi-joins over a stream
    * that only SHRINKS, with the two-generation checkpoint discipline;
    * the final coreness fold is one union of ≤ k_max node sets + a
    * max aggregate. k_max is the price knob and is data-bounded
    * (degeneracy), not corpus-bounded.
    */
  /** Registry derivation (r15 verdict #7): the capped COUNTING-form
    * h-index ([[graphCorenessCappedCountingOn]]) — the SAME k ≤ k_max
    * decomposition the peel computes (the capped fixpoint ≡ peel,
    * `CorenessSpec`'s K13 + counting-form laws; the oracle below is
    * still the unrolled peel chain and the gate re-proves equality at
    * sf0.01/sf0.1, exactly as `graph_coreness_served` has since r15)
    * at the adopted build-path price — the 72-round successive peel was
    * the board's #1 tape cost (7.34 s) for zero extra coverage. The
    * peel itself ([[graphCorenessOn]]) remains the spec-pinned
    * reference derivation: `CorenessSpec` holds it to the
    * engine-independent brute fixpoint and to both h-index forms on
    * every fixture and the real graph.
    */
  def graphCoreness(spark: SparkSession, dir: String): DataFrame =
    graphCorenessCappedCountingOn(
      fuzzyJoin(spark, dir).select(col("a_id"), col("b_id")))

  private[graft] def graphCorenessOn(pairs: DataFrame,
      kMax: Int = CorenessMaxK, rounds: Int = KCoreRounds): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    var edges = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .localCheckpoint()
    val nodes = edges
      .select(explode(array(col("u"), col("v"))).as("s_suppkey")).distinct()
      .localCheckpoint()
    // per-threshold core node sets, each eagerly checkpointed (small —
    // they shrink with k) so edge generations can release underneath
    var coreSets = List.empty[DataFrame]
    var prevRound: scala.collection.Set[Int] = Set.empty[Int]
    for (k <- 2 to kMax) {
      for (_ <- 1 to rounds) {
        val deg = edges.select(col("u").as("id"))
          .unionAll(edges.select(col("v").as("id")))
          .groupBy("id").agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= k).select("id")
        val before = sc.getPersistentRDDs.keySet
        edges = edges
          .join(keep.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("id").as("v")), Seq("v"), "left_semi")
          .select(col("u"), col("v"))
          .localCheckpoint()
        val thisRound = sc.getPersistentRDDs.keySet -- before
        prevRound.foreach(id =>
          sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
        prevRound = thisRound
      }
      coreSets ::= edges
        .select(explode(array(col("u"), col("v"))).as("id")).distinct()
        .withColumn("k", lit(k))
        .localCheckpoint()
    }
    prevRound.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    val cores = coreSets.reduce(_ unionAll _)
    nodes
      .join(cores, col("s_suppkey") === col("id"), "left")
      .groupBy(col("s_suppkey"))
      .agg(coalesce(max(col("k")), lit(1)).cast("int").as("coreness"))
      .orderBy("s_suppkey")
  }

  // ---- graph_coreness_hindex: single-pass h-index propagation ----------
  private[graft] val HIndexRounds = 12

  /** Coreness by H-INDEX PROPAGATION (Montresor et al., "Distributed
    * k-core decomposition", PODC'11; Lü et al., Nature Comm. 2016) —
    * the documented swap for the threshold peel's loop constant
    * (PLANS.md's `link_served_coreness` row): instead of k_max
    * sequential k-core peels (9 × 8 = 72 rounds here), ONE loop whose
    * state is a per-node label c(v), initialized to degree and updated
    * each round to the h-index of the neighbors' labels (the largest h
    * with ≥ h neighbors labeled ≥ h). The sequence is monotone
    * non-increasing (H is monotone in its arguments; c¹ ≤ deg = c⁰, so
    * by induction c^{t+1} ≤ c^t) and its fixpoint is exactly coreness
    * (Lü et al., Theorem 1) — `CorenessSpec`'s brute law re-proves it
    * engine-independently on the fixtures and the real graph.
    *
    * Fixed [[HIndexRounds]] rounds so the oracle unrolls the IDENTICAL
    * chain (bit-exact even mid-convergence, the house fixed-rounds
    * rule); that the fixpoint is reached well inside 12 rounds on these
    * corpora is the spec's convergence assertion (typo graphs are
    * shallow — measured: 3 rounds at sf0.1). The h-index itself is
    * order-independent: with labels desc-sorted, h = |{i : cᵢ ≥ i}|,
    * the same count under any tie order, so row_number ties cannot
    * split the engines.
    *
    * Scale (100 TB): per round ONE edge-keyed join + one degree-bounded
    * collect per node (neighbor lists cap at the max degree, ~45 on
    * this graph — no adjacency blowup) vs the peel's 72 × (degree agg
    * + two semi-joins). Rounds needed = O(graph depth), not k_max ×
    * convergence-depth; the A/B probe row (`link_coreness_hindex`)
    * prices the trade directly, and the map-build path for
    * [[storedCorenessMap]] adopts it if it wins.
    */
  def graphCorenessHindex(spark: SparkSession, dir: String): DataFrame =
    graphCorenessHindexOn(fuzzyJoin(spark, dir).select(col("a_id"), col("b_id")))

  private[graft] def graphCorenessHindexOn(pairs: DataFrame,
      rounds: Int = HIndexRounds): DataFrame =
    hindexFixpoint(pairs, rounds, checkConverged = false)

  /** [[graphCorenessHindexOn]] + a build-time convergence ASSERT (r15
    * ADVICE): the fixed-round chain is exact only AT the fixpoint, and
    * convergence was asserted only on the spec corpora — a deeper
    * production graph could silently persist mid-convergence
    * (over-estimated) labels. Every path that COMMITS a coreness map
    * ([[storedCorenessMap]], [[foldCorenessSnapshot]]) runs one extra
    * round and requires it to reproduce round `rounds` exactly (one
    * join over the label map — cheap next to the build), so
    * non-convergence fails loud instead of persisting wrong labels.
    */
  private[graft] def graphCorenessHindexChecked(pairs: DataFrame,
      rounds: Int = HIndexRounds): DataFrame =
    hindexFixpoint(pairs, rounds, checkConverged = true)

  /** One h-index propagation round: each node's new label is the
    * h-index of its neighbors' current labels.
    */
  private def hindexRound(sym: DataFrame, c: DataFrame): DataFrame =
    sym.join(c, col("v") === col("id"))
      .groupBy(col("u"))
      .agg(expr("sort_array(collect_list(c), false)").as("cs"))
      .select(col("u").as("id"),
        expr("CAST(size(filter(transform(cs, (x, i) -> x >= i + 1), b -> b)) AS BIGINT)")
          .as("c"))

  private def hindexFixpoint(pairs0: DataFrame, rounds: Int,
      checkConverged: Boolean): DataFrame = {
    // one evaluation of the pair derivation under the symmetrize union
    // (the componentsOn union-doubling fix — graph_coreness_hindex paid
    // its fuzzy join twice per read)
    val pairs = pairs0.localCheckpoint(eager = false)
    val sc = pairs.sparkSession.sparkContext
    val sym = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .unionAll(pairs.select(col("b_id").as("u"), col("a_id").as("v")))
      .localCheckpoint()
    var c = sym.select(col("u").as("id")).groupBy("id")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // componentsOn's two-generation block discipline: each round's
    // checkpoint replaces the previous one immediately
    var prevRound: scala.collection.Set[Int] = Set.empty[Int]
    for (_ <- 1 to rounds) {
      val before = sc.getPersistentRDDs.keySet
      val next = hindexRound(sym, c).localCheckpoint()
      val thisRound = sc.getPersistentRDDs.keySet -- before
      prevRound.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      prevRound = thisRound
      c = next
    }
    if (checkConverged) {
      // node sets are identical round over round (every node with an
      // edge relabels each round), so the inner join is total
      val drift = hindexRound(sym, c).as("n")
        .join(c.as("p"), col("n.id") === col("p.id"))
        .filter(col("n.c") =!= col("p.c")).count()
      require(drift == 0,
        s"h-index propagation not converged after $rounds rounds " +
          s"($drift labels still moving) — refusing to persist a " +
          "mid-convergence coreness map")
    }
    c.select(col("id").as("s_suppkey"), col("c").cast("int").as("coreness"))
      .orderBy("s_suppkey")
  }

  /** Oracle: the identical h-index chain unrolled — per round, each
    * node's new label is the count of neighbors whose label is ≥ its
    * desc-rank (the h-index, order-independent under ties).
    */
  val graphCorenessHindexSql: String = {
    val steps = (1 to HIndexRounds).map { r =>
      s"""c$r AS MATERIALIZED (
         |  SELECT id, CAST(count(*) FILTER (WHERE c >= rn) AS BIGINT) AS c FROM (
         |    SELECT e.u AS id, p.c,
         |           row_number() OVER (PARTITION BY e.u ORDER BY p.c DESC) AS rn
         |    FROM sym e JOIN c${r - 1} p ON e.v = p.id)
         |  GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH fp AS MATERIALIZED (
       |  SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id
       |  FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
       |  WHERE levenshtein(a.s_name, b.s_name) <= 1),
       |sym AS MATERIALIZED (
       |  SELECT a_id AS u, b_id AS v FROM fp
       |  UNION ALL SELECT b_id, a_id FROM fp),
       |c0 AS MATERIALIZED (
       |  SELECT u AS id, CAST(count(*) AS BIGINT) AS c FROM sym GROUP BY 1),
       |$steps
       |SELECT id AS s_suppkey, CAST(c AS INT) AS coreness
       |FROM c$HIndexRounds
       |ORDER BY 1""".stripMargin
  }

  // ---- skew-safe capped h-index: the counting form -----------------------
  /** Loud-failure round caps, NOT convergence estimates (r16 ADVICE):
    * h-index/repair convergence is graph-DIAMETER-bounded, not
    * k_max-bounded — a 1-label wave advances one hop per round, so a
    * long chain or ring component (the chain-like typo-drift motif this
    * corpus' own docs name) legitimately needs more rounds than any
    * fixed constant. When a loop hits its fixed cap it therefore
    * EXTENDS the cap once to the always-sufficient total-label-mass
    * bound n·k_max + 1 (labels are integers in [0, k_max] that only
    * move monotonically, and every non-converged round moves at least
    * one of them by ≥ 1) instead of failing on legitimate data — the
    * node count is only computed in that rare case, so the common path
    * pays nothing. The require below each loop then only fires on a
    * genuine non-termination bug, never on a deep graph.
    */
  private[graft] val MaxHcountRounds = 64

  /** max(fixedCap, n·kMax + 1) — the lazy extension above. */
  private def labelMassCap(fixedCap: Long, nodeCount: Long, kMax: Int): Long =
    math.max(fixedCap, nodeCount * kMax + 1)

  /** CAPPED coreness by a COUNTING-form h-index iteration — the
    * skew-safe map-build spelling (r15 verdict #4): the
    * `sort_array(collect_list)` h-index materializes a per-node
    * neighbor-label ARRAY each round — O(degree) state on one task, fine
    * at this corpus' max degree ~45, a straggler/OOM risk on a
    * power-law hub (a degree-10⁵ node would sort a 10⁵-element array on
    * one task every round; the `link_coreness_hub` probe arm prices
    * exactly that). The counting form never materializes a neighbor
    * list: per round each edge (u, v) contributes one row to every
    * candidate level h ≤ c(v) (labels are already ≤ k_max, so ≤ k_max
    * rows per edge), the per-(node, level) counts PARTIAL-AGGREGATE
    * (O(1) state per bucket, map-side combined — a hub's count splits
    * across its edge partitions instead of collecting on one task), and
    * the new label is the largest level with count ≥ level — the
    * h-index, identically, since all labels ≤ k_max keep h ≤ k_max.
    *
    * Exactness (CorenessSpec's counting-form laws): init c⁰ =
    * min(degree, k_max) ≥ min(coreness, k_max) pointwise; H is monotone
    * and H(c⁰) ≤ c⁰ (an h-index never exceeds the value count or their
    * max), so the iteration decreases monotonically; its fixpoints c =
    * H(c) with c ≤ k_max satisfy the level-set argument (S_k = {c ≥ k}
    * induces min-degree ≥ k, hence S_k ⊆ k-core) giving c ≤ capped
    * coreness, while capped coreness is itself a fixpoint — so the
    * limit is EXACTLY min(coreness, k_max), the stored-map contract.
    * Runs to CONVERGENCE with a loud round cap — strictly stronger than
    * the fixed-round + one-extra-round assert (the r15-ADVICE
    * convergence guarantee is preserved by construction).
    */
  private[graft] def graphCorenessCappedCountingOn(pairs0: DataFrame,
      kMax: Int = CorenessMaxK): DataFrame = {
    // one evaluation of the pair derivation under the symmetrize union
    // (the componentsOn union-doubling fix): graph_coreness/graph_kcore
    // pass the in-plan fuzzy join here, which ran twice per read
    val pairs = pairs0.localCheckpoint(eager = false)
    val sc = pairs.sparkSession.sparkContext
    val sym = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .unionAll(pairs.select(col("b_id").as("u"), col("a_id").as("v")))
      .localCheckpoint()
    var c = sym.select(col("u").as("id")).groupBy("id")
      .agg(least(count(lit(1)), lit(kMax.toLong)).as("c"))
      .localCheckpoint()
    var prevRound: scala.collection.Set[Int] = Set.empty[Int]
    var rounds = 0L
    var cap: Long = MaxHcountRounds
    var capExtended = false
    var converged = false
    while (!converged && rounds < cap) {
      val before = sc.getPersistentRDDs.keySet
      val next = sym
        .join(c.select(col("id").as("v"), col("c").as("nc")), Seq("v"))
        .select(col("u"),
          explode(expr("sequence(CAST(1 AS BIGINT), nc)")).as("h"))
        .groupBy(col("u"), col("h")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= col("h"))
        .groupBy(col("u")).agg(max(col("h")).as("c"))
        .select(col("u").as("id"), col("c"))
        .localCheckpoint()
      converged = next.as("n").join(c.as("p"), col("n.id") === col("p.id"))
        .filter(col("n.c") =!= col("p.c")).isEmpty
      val thisRound = sc.getPersistentRDDs.keySet -- before
      prevRound.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      prevRound = thisRound
      c = next
      rounds += 1
      if (!converged && rounds >= cap && !capExtended) {
        // diameter-deep graph, not a bug: extend once to the sufficient
        // total-label-mass bound (see the note at [[MaxHcountRounds]])
        cap = labelMassCap(cap, c.count(), kMax)
        capExtended = true
      }
    }
    require(converged,
      s"counting-form h-index not converged after $rounds rounds " +
        s"(cap $cap ≥ the total-label-mass bound — a non-termination bug, " +
        "not graph depth)")
    c.select(col("id").as("s_suppkey"), col("c").cast("int").as("coreness"))
      .orderBy("s_suppkey")
  }

  /** [[peelSql]] generalized to an arbitrary source edge CTE — the
    * successive-decomposition chain starts threshold k from threshold
    * k−1's fixpoint, exactly as the Spark loop does.
    */
  private def peelSqlFrom(k: Int, rounds: Int, src: String): String = {
    val steps = (1 to rounds).map { r =>
      s"""k${k}_deg$r AS MATERIALIZED (
         |  SELECT id, count(*) AS d FROM (
         |    SELECT u AS id FROM k${k}_e${r - 1}
         |    UNION ALL SELECT v FROM k${k}_e${r - 1}) GROUP BY 1),
         |k${k}_e$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM k${k}_e${r - 1} e
         |  JOIN k${k}_deg$r da ON e.u = da.id AND da.d >= $k
         |  JOIN k${k}_deg$r db ON e.v = db.id AND db.d >= $k)""".stripMargin
    }.mkString(",\n")
    s"""k${k}_e0 AS MATERIALIZED (SELECT u, v FROM $src),
       |$steps,
       |k${k}_core AS (
       |  SELECT DISTINCT id FROM (
       |    SELECT u AS id FROM k${k}_e$rounds
       |    UNION ALL SELECT v FROM k${k}_e$rounds))""".stripMargin
  }

  /** The full-decomposition oracle over an optionally-restricted
    * supplier set — `extraPred` (e.g. the tombstone-survivor rule,
    * empty for the full corpus) composes into the pair CTE instead of
    * textual surgery on the finished SQL (the r14-ADVICE oracle-drift
    * class).
    */
  private def graphCorenessSqlOver(extraPred: String): String = {
    val chain = (2 to CorenessMaxK).map { k =>
      val src = if (k == 2) "fp0" else s"k${k - 1}_e$KCoreRounds"
      peelSqlFrom(k, KCoreRounds, src)
    }.mkString(",\n")
    val unions = (2 to CorenessMaxK)
      .map(k => s"SELECT id, $k AS k FROM k${k}_core").mkString("\n  UNION ALL ")
    s"""WITH fp AS MATERIALIZED (
       |  SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id
       |  FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
       |  WHERE levenshtein(a.s_name, b.s_name) <= 1$extraPred),
       |fp0 AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM fp),
       |$chain,
       |nodes AS (
       |  SELECT DISTINCT id AS s_suppkey FROM (
       |    SELECT a_id AS id FROM fp UNION ALL SELECT b_id FROM fp)),
       |cores AS (
       |  $unions)
       |SELECT n.s_suppkey,
       |       CAST(coalesce(max(c.k), 1) AS INT) AS coreness
       |FROM nodes n LEFT JOIN cores c ON n.s_suppkey = c.id
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }

  val graphCorenessSql: String = graphCorenessSqlOver("")

  private def peelSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""k${k}_deg$r AS MATERIALIZED (
         |  SELECT id, count(*) AS d FROM (
         |    SELECT u AS id FROM k${k}_e${r - 1}
         |    UNION ALL SELECT v FROM k${k}_e${r - 1}) GROUP BY 1),
         |k${k}_e$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM k${k}_e${r - 1} e
         |  JOIN k${k}_deg$r da ON e.u = da.id AND da.d >= $k
         |  JOIN k${k}_deg$r db ON e.v = db.id AND db.d >= $k)""".stripMargin
    }.mkString(",\n")
    s"""k${k}_e0 AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM fp),
       |$steps,
       |k${k}_core AS (
       |  SELECT DISTINCT id FROM (
       |    SELECT u AS id FROM k${k}_e$rounds
       |    UNION ALL SELECT v FROM k${k}_e$rounds))""".stripMargin
  }

  /** The two-threshold membership oracle over an optionally-restricted
    * supplier set — the same predicate hook as the coreness chain.
    */
  private def graphKcoreSqlOver(extraPred: String): String =
    s"""WITH fp AS MATERIALIZED (
       |  SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id
       |  FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
       |  WHERE levenshtein(a.s_name, b.s_name) <= 1$extraPred),
       |${peelSql(2, KCoreRounds)},
       |${peelSql(3, KCoreRounds)},
       |nodes AS (
       |  SELECT DISTINCT id AS s_suppkey FROM (
       |    SELECT a_id AS id FROM fp UNION ALL SELECT b_id FROM fp))
       |SELECT n.s_suppkey,
       |       c2.id IS NOT NULL AS core2,
       |       c3.id IS NOT NULL AS core3
       |FROM nodes n
       |LEFT JOIN k2_core c2 ON n.s_suppkey = c2.id
       |LEFT JOIN k3_core c3 ON n.s_suppkey = c3.id
       |ORDER BY n.s_suppkey""".stripMargin

  val graphKcoreSql: String = graphKcoreSqlOver("")

  // ---- the materialized linkage tier: LinkStore-backed entries ----------
  /** "New batch" rule for the incremental entry: s_suppkey ≡ [[NewRem]]
    * (mod [[NewMod]]) — the same 10% crawl-delta split `dedup_incremental`
    * uses, so the two incremental tiers tell one story.
    */
  private val NewMod = 10
  private val NewRem = 3

  private val LinkBuckets = 8

  /** Build-once resolution of the linkage store for the corpus `key`
    * names ([[StoreCatalog.key]] for a directory; probe and spec callers
    * pass a key unique to their frames).
    */
  private[graft] def linkStores(spark: SparkSession, key: String,
      names: => DataFrame, idCol: String = "id",
      nameCol: String = "name"): graft.sources.LinkStore.Stores = {
    val root = StoreCatalog.ensureBuilt(spark, "graft_link_store", key) { root =>
      val n = names
      graft.sources.LinkStore.write(
        deletionKeyIndex(n, idCol, nameCol), fuzzyJoinOn(n, idCol, nameCol),
        graft.sources.LinkStore.at(key, root, LinkBuckets))
    }
    val s = graft.sources.LinkStore.at(key, root, LinkBuckets)
    s.keys.attach(spark)
    s
  }

  /** Incremental linkage — `dedup_incremental`'s shape applied to the
    * fuzzy tier: a new crawl batch (id ≡ 3 mod 10) probes the PERSISTED
    * deletion-key index instead of re-deriving the corpus side, then
    * verifies candidates with the exact levenshtein. Output: every
    * (new, corpus) pair at distance ≤ 1.
    *
    * Scale (100 TB): the stored index never crosses an exchange (the
    * bucketed-probe plan law, `LinkStoreSpec`); per batch the work is
    * |batch|·(L+1) probe keys against value-domain-bounded buckets —
    * O(new batch), independent of corpus size. The batch's OWN pairs are
    * the ordinary in-plan [[fuzzyJoinOn]] over the batch (tiny), and
    * appending the batch's keys to the index is one bucketed write —
    * both outside this entry, as in `dedup_incremental`.
    */
  def fuzzyJoinIncremental(spark: SparkSession, dir: String): DataFrame =
    fuzzyJoinIncrementalFrames(spark,
      StoreCatalog.key(spark, dir),
      Tables.supplier(spark, dir), "s_suppkey", "s_name")

  private[graft] def fuzzyJoinIncrementalFrames(spark: SparkSession, key: String,
      names: => DataFrame, idCol: String, nameCol: String): DataFrame = {
    val n = names
    val st = linkStores(spark, key, n, idCol, nameCol)
    val newKeyed = deletionKeyIndex(
      n.filter(col(idCol) % NewMod === NewRem), idCol, nameCol)
    graft.sources.LinkStore
      .candidates(spark, st.keys.name, newKeyed, col("k_id") % NewMod =!= NewRem)
      .withColumn("dist",
        levenshtein(col("new_name"), col("corpus_name")).cast("long"))
      // verify BEFORE distinct — the depth-1 trade (pairs share 1-2 keys)
      .filter(col("dist") <= 1)
      .distinct()
      .orderBy("new_id", "corpus_id")
  }

  val fuzzyJoinIncrementalSql: String =
    s"""SELECT a.s_suppkey AS new_id, a.s_name AS new_name,
       |       b.s_suppkey AS corpus_id, b.s_name AS corpus_name,
       |       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
       |FROM supplier a JOIN supplier b
       |  ON a.s_suppkey % $NewMod = $NewRem AND b.s_suppkey % $NewMod <> $NewRem
       |WHERE levenshtein(a.s_name, b.s_name) <= 1
       |ORDER BY new_id, corpus_id""".stripMargin

  /** [[entityGroups]] read from the persisted edge graph: the components
    * loop starts at the stored verified pairs — zero key-join/verify
    * work per run (the r12 probe measured that rebuild at 78% of the
    * composed arm's wall). Bit-identical to the in-plan entry because
    * the store IS [[fuzzyJoinOn]]'s output (`LinkStoreSpec` law); the
    * oracle is shared verbatim.
    */
  def entityGroupsServed(spark: SparkSession, dir: String): DataFrame =
    Dedup.componentsOn(
      storedEdges(spark, StoreCatalog.key(spark, dir),
          Tables.supplier(spark, dir), "s_suppkey", "s_name")
        .select(col("a_id").as("doc_id_1"), col("b_id").as("doc_id_2")))
      .select(col("doc_id").as("s_suppkey"), col("component_id").as("entity_id"),
        col("is_canonical"))
      .orderBy("s_suppkey")

  /** [[graphTriangles]] over the stored edges — same serving economics
    * as [[entityGroupsServed]]: the probe-dominant term becomes the
    * wedge join, not the pair-graph rebuild.
    */
  def graphTrianglesServed(spark: SparkSession, dir: String): DataFrame =
    graphTrianglesOn(
      storedEdges(spark, StoreCatalog.key(spark, dir),
          Tables.supplier(spark, dir), "s_suppkey", "s_name")
        .select(col("a_id"), col("b_id")))

  /** The persisted CORENESS map beside the edge store — the r14
    * verdict's one `weak` fixed: "served" coreness used to re-run the
    * 72-round threshold peel per read (7.25 s sf0.1, 408 s at the 100×
    * probe — 56% of the r14 tape's new seconds), while every other
    * graph serving path reads a persisted derived map. A robustness
    * dashboard polls coreness far more often than the graph changes, so
    * the peel now runs ONCE at map build (the [[storedEntityMap]]
    * pattern, its own store) and every served read is a map scan.
    *
    * The map BUILDS via the h-index family — r15's A/B
    * (`link_coreness_hindex` 6.9 / 22.4 / 60.8 s vs the peel's
    * 24.8 / 75.5 / 408.1 s, a 6.7× win at 100×) settled the propagation
    * swap, and r16's counting-form A/B (`link_coreness_hcount` +
    * the planted-hub arms) settled the SPELLING:
    * [[graphCorenessCappedCountingOn]] is the production build path —
    * CAPPED at [[CorenessMaxK]] ([[capCoreness]]): the peel's contract
    * is the k ≤ k_max decomposition (coreness = min(true, k_max)), and
    * the h-index converges to TRUE coreness, which exceeds the cap on
    * denser corpora (measured: 18 vs the capped 10 at sf0.01 — the
    * uncapped map failed the gate, the capped one is exact). The cap is
    * a zero-cost projection; equality with the peel-chain oracle is the
    * fixpoint identity (each derivation's convergence is asserted by
    * `CorenessSpec` inside its fixed round budget, and the oracle gate
    * re-proves the composition at sf0.01 and sf0.1).
    *
    * Exactness under pass-through/recompute composition: BOTH
    * derivations are COMPONENT-DECOMPOSABLE — peel keep-filters and
    * h-index updates read only a node's own component — so
    * derive(G) restricted to a set of components ≡ derive(those
    * components), which is what makes the deletion path
    * ([[graphCorenessServedDel]]) exact against the full survivor
    * decomposition the oracle unrolls.
    */
  /** min(coreness, [[CorenessMaxK]]) — the projection that makes the
    * TRUE-coreness h-index build serve the peel's k ≤ k_max contract.
    */
  private[graft] def capCoreness(df: DataFrame): DataFrame =
    df.select(col("s_suppkey"),
      least(col("coreness"), lit(CorenessMaxK)).cast("int").as("coreness"))

  private[graft] def storedCorenessMap(spark: SparkSession, key: String,
      names: => DataFrame, idCol: String, nameCol: String): DataFrame = {
    val st = linkStores(spark, key, names, idCol, nameCol)
    StoreCatalog.parquet(spark, "graft_link_store", key + "_coreness") {
      // build path = the COUNTING form (r16 A/B, PLANS.md: beats the
      // collect_list h-index 2.9×/6.2× at 1×/10× on the plain graph
      // and ~8-10× on the planted-hub fixture, with O(1) state per
      // (node, level) — no per-node arrays to straggle on a hub);
      // converged-by-construction, preserving the r15-ADVICE assert
      graphCorenessCappedCountingOn(spark.read.parquet(st.edgesPath)
        .select(col("a_id"), col("b_id")))
    }
  }

  /** [[graphKcore]] SERVED from the persisted coreness map — k-core
    * membership is exactly coreness ≥ k (the decomposition's defining
    * identity, asserted engine-side by `CorenessSpec`'s consistency law),
    * so the served read is a map scan instead of the 16-round peel.
    * Shares the in-plan entry's oracle verbatim.
    */
  def graphKcoreServed(spark: SparkSession, dir: String): DataFrame =
    storedCorenessMap(spark, StoreCatalog.key(spark, dir),
        Tables.supplier(spark, dir), "s_suppkey", "s_name")
      .select(col("s_suppkey"),
        (col("coreness") >= 2).as("core2"), (col("coreness") >= 3).as("core3"))
      .orderBy("s_suppkey")

  /** [[graphCoreness]] SERVED from the persisted map — the read a
    * production dashboard runs: one bounded map scan, zero peel rounds
    * (the r14 `weak`: the previous spelling re-paid the 72-round loop
    * per read). The map is built once beside the edge store by the
    * in-plan derivation itself, so this entry shares its oracle
    * verbatim; staleness under tombstones is [[graphCorenessServedDel]]'s
    * affected-only recompute.
    */
  def graphCorenessServed(spark: SparkSession, dir: String): DataFrame =
    storedCorenessMap(spark, StoreCatalog.key(spark, dir),
        Tables.supplier(spark, dir), "s_suppkey", "s_name")
      .orderBy("s_suppkey")

  /** The persisted verified pair graph for a corpus (building the store
    * on first touch) — the frame every served graph consumer starts from.
    */
  private[graft] def storedEdges(spark: SparkSession, key: String,
      names: => DataFrame, idCol: String, nameCol: String): DataFrame = {
    val st = linkStores(spark, key, names, idCol, nameCol)
    spark.read.parquet(st.edgesPath)
  }

  // ---- entity_groups_served_inc: the incrementally-folded entity map ----

  /** [[entityGroupsServed]] with the map maintained INCREMENTALLY by the
    * ingest tier ([[graft.streaming.LinkIngest.updateEntities]] — the
    * dedup tier's `dedup_components_served_inc` symmetry, one shared
    * fold): records land through `LinkIngest.processBatch`, each batch's
    * verified edges fold into the per-batch entity-map snapshot, and the
    * read is a snapshot scan — fresh through the last landed batch,
    * paying neither a read-time pair derivation nor a full propagation.
    * Equals [[entityGroups]] by the fold law (snapshot after any prefix
    * ≡ components over the landed edges ≡ `LinkIngestSpec`'s one-shot
    * law), so the oracle is shared verbatim.
    */
  def entityGroupsServedInc(spark: SparkSession, dir: String): DataFrame =
    entityGroupsServedIncFrames(spark,
      StoreCatalog.key(spark, dir) + "_incmap",
      Tables.supplier(spark, dir), "s_suppkey", "s_name")

  /** The incremental linkage-ingest root: records land through
    * [[graft.streaming.LinkIngest.processBatch]] and BOTH derived maps
    * fold per batch — entities ([[graft.streaming.LinkIngest
    * .updateEntities]]) and capped coreness ([[foldCorenessSnapshot]],
    * which reads the entity snapshot the same batch just folded). One
    * store root; both `*_served_inc` entries read their own
    * snapshot chain.
    */
  private def linkIncStores(spark: SparkSession, key: String,
      names: => DataFrame, idCol: String, nameCol: String): String = {
    val n = names
    // VERSIONED root (the bigEvents cache lesson): this root first
    // shipped with entities only; adding the coreness chain changed the
    // artifact set (_v2), r16 added the landed tombstone batch (_v3),
    // and r17 renumbered that batch to 3 and added the triangle chain
    // (_v4) — a root committed by older code would serve without the
    // newer artifacts forever. Bump on shape change.
    StoreCatalog.ensureBuilt(spark, "graft_link_ingest", key + "_v4") { base =>
      val store = graft.streaming.LinkIngest.LinkStores(
        base + "/keys", base + "/edges")
      (0 to 2).foreach { r =>
        graft.streaming.LinkIngest.processBatch(
          n.filter(col(idCol) % 3 === r), r.toLong, store, idCol, nameCol)
        graft.streaming.LinkIngest.updateEntities(
          spark, store, base + "/entities", r.toLong)
        foldCorenessSnapshot(spark, store, base + "/entities",
          base + "/coreness", r.toLong)
        foldTrianglesSnapshot(spark, store, base + "/triangles", r.toLong)
      }
      // the registry takedown batch lands beside the chains — the
      // read-side compose entry's deletion store. Numbered 3 — AFTER
      // the last insert batch (0..2) — because the takedown logically
      // post-dates it and processTombstones' contract says insert and
      // delete batches share one replay/as-of numbering (r16 ADVICE:
      // landing it as 0 made any future as-of read mis-order the
      // delete; today's read composes all tombstone partitions
      // unconditionally, so behavior is unchanged).
      graft.streaming.DedupEdgeIngest.processTombstones(
        n.filter(col(idCol) % DelMod === DelRes)
          .select(col(idCol).cast("long").as("dead_id")),
        3L, base + "/tombs")
    }
  }

  /** The COMPACTED incremental linkage-ingest root — the r19
    * compose-over-compacted-store read for the `_incdel` cells (the r18
    * verdict's #2 ask): same fold chains as [[linkIncStores]] under a
    * sibling key, then the landed takedown batch runs through the link
    * tier's tombstone-applying compaction
    * ([[graft.streaming.LinkIngest.compact]], the r18 machinery) as part
    * of the one-time build — snapshots repair IN the store with exactly
    * the operator the read-side compose runs, the edge store folds
    * survivor-only, and the tombstone store folds to EMPTY with the
    * horizon advanced. The `_incdel` reads keep their compose spelling
    * but now pay only takedowns landed SINCE compaction (none at
    * registry cadence): one snapshot scan + a no-op repair, instead of
    * re-paying the full 14%-batch cascade on every read — the
    * `link_incdel_read_post` probe economics, landed on the registry
    * keys. Identity is the compaction law (`LinkIngestSpec`): the
    * repaired snapshot ≡ the read-time repair, so the oracles are
    * unchanged. The uncompacted root stays: the `_inc` cells read its
    * pre-takedown snapshots (a different truth).
    */
  private def linkIncCompactedStores(spark: SparkSession, key: String,
      names: => DataFrame, idCol: String, nameCol: String): String = {
    val n = names
    StoreCatalog.ensureBuilt(spark, "graft_link_ingest", key + "_cpt_v1") { base =>
      val store = graft.streaming.LinkIngest.LinkStores(
        base + "/keys", base + "/edges")
      (0 to 2).foreach { r =>
        graft.streaming.LinkIngest.processBatch(
          n.filter(col(idCol) % 3 === r), r.toLong, store, idCol, nameCol)
        graft.streaming.LinkIngest.updateEntities(
          spark, store, base + "/entities", r.toLong)
        foldCorenessSnapshot(spark, store, base + "/entities",
          base + "/coreness", r.toLong)
        foldTrianglesSnapshot(spark, store, base + "/triangles", r.toLong)
      }
      graft.streaming.DedupEdgeIngest.processTombstones(
        n.filter(col(idCol) % DelMod === DelRes)
          .select(col(idCol).cast("long").as("dead_id")),
        3L, base + "/tombs")
      graft.streaming.LinkIngest.compact(spark, store,
        tombsPath = Some(base + "/tombs"),
        entitiesChain = Some(base + "/entities"),
        corenessChain = Some(base + "/coreness"),
        trianglesChain = Some(base + "/triangles"))
    }
  }

  private[graft] def entityGroupsServedIncFrames(spark: SparkSession,
      key: String, names: => DataFrame, idCol: String,
      nameCol: String): DataFrame = {
    val base = linkIncStores(spark, key, names, idCol, nameCol)
    spark.read.parquet(s"$base/entities/batch_id=2")
      .select(col("doc_id").as("s_suppkey"),
        col("component_id").as("entity_id"), col("is_canonical"))
      .orderBy("s_suppkey")
  }

  /** [[entityGroupsServedInc]] with the landed takedown batch composed
    * AT READ — the entity tier's incdel cell, closing the last open
    * composition in the linkage family's serving matrix: the fold chain
    * stays insert-only ([[graft.streaming.LinkIngest.updateEntities]]
    * per batch — inserts only merge groups, so per-batch folds are
    * cheap star work), and the takedown composes through
    * [[repairComponentsUnderDeletion]] — untouched groups pass through
    * the ingest-fresh snapshot, only affected groups re-run min-label
    * over their surviving as-of edges (exact because edge removal never
    * merges groups). Snapshot ≡ components over the landed edges
    * (`LinkIngestSpec`'s fold law) and the repair ≡ the survivor
    * rebuild (`LinkDeleteSpec`'s law), so the entry shares
    * [[entityGroupsServedDelSql]] verbatim — the same survivor truth
    * that gates the map-serving deletion entry, reached ingest-fresh.
    *
    * Scale (100 TB): the fold chain rides the ingest cadence at
    * O(batch + affected); since r19 the root is COMPACTED
    * ([[linkIncCompactedStores]]) so the read composes only takedowns
    * landed since compaction — one snapshot scan + a repair bounded by
    * the pending set (empty at registry cadence), never the landed
    * batch's full cascade.
    */
  def entityGroupsServedIncDel(spark: SparkSession, dir: String): DataFrame = {
    val base = linkIncCompactedStores(spark,
      StoreCatalog.key(spark, dir) + "_incmap",
      Tables.supplier(spark, dir), "s_suppkey", "s_name")
    repairComponentsUnderDeletion(
        spark.read.parquet(s"$base/entities/batch_id=2")
          .select(col("doc_id"), col("component_id"), col("is_canonical")),
        graft.Maintenance.readAsOf(spark, s"$base/edges", 2L)
          .select(col("a_id"), col("b_id")),
        spark.read.parquet(s"$base/tombs").select("dead_id"))
      .select(col("doc_id").as("s_suppkey"),
        col("component_id").as("entity_id"), col("is_canonical"))
      .orderBy("s_suppkey")
  }

  /** The local insert fold dispatches to the component recompute above
    * this batch-to-corpus edge fraction. r17 set 10% from two points
    * (the 0.1% sparse arm, local 9.4 s vs component 24.2, and the
    * registry corpus-thirds, 49.8 vs 36.5 — the inversion: frontier
    * restriction buys nothing when the frontier is the graph); the r18
    * sweep (`link_coreness_fold_swp*` arms at 100×, batch-edge
    * fractions measured from the landed stores, PLANS.md r18) BRACKETS
    * the crossover around the constant instead of interpolating across
    * a 300× gap: local wins at 1.5% (33.1 vs 42.9 s) and 4.4%
    * (35.3 vs 47.3), component wins at 12.6% (45.6 vs 49.6) and 24.6%
    * (32.6 vs 39.8). The crossover sits in (4.4%, 12.6%) — 10% is
    * CONFIRMED, and both mis-dispatch margins at the bracket edges are
    * ≤ 1.34× (worst: the 4.4%-adjacent band), so a batch landing right
    * at the constant pays at most a small single-digit-percent penalty
    * whichever side it falls on.
    */
  private[graft] val LocalFoldMaxBatchFraction = 0.10

  /** Fold batch `id`'s landed LinkIngest edges into a per-batch
    * capped-CORENESS snapshot — map maintenance under INSERTS, closing
    * the graph-label tier's serving matrix (served + del + inc). Since
    * r17 the fold is LOCAL for production-shaped batches
    * ([[maintainCorenessLocalIns]], retiring the r16 `weak`): one
    * degree pass over the accumulated edges, a candidate-region
    * inflation bounded by eligibility × affected membership, and the
    * frontier repair — cost tracks the batch's cascade region (9.4 vs
    * the component recompute's ~36 s at the 100× sparse arm). Batches
    * above [[LocalFoldMaxBatchFraction]] of the accumulated edges
    * dispatch to the component recompute
    * ([[foldCorenessSnapshotComponent]]) instead — measured faster
    * there, see the constant's note. The law is unchanged either way
    * (`LinkIngestSpec`): snapshot after any prefix ≡ capped coreness
    * over all edges landed so far; both spellings are law-pinned and
    * the `link_coreness_fold*` probe arms price them at 1×/10×/100×.
    *
    * TOMBSTONE COMPOSE RULE (r16): this fold is insert-only by design —
    * on the graph-label tier, deletes compose AT READ via
    * [[maintainCorenessLocal]] (the traversal repair: read the latest
    * snapshot, repair the tombstones' cascade region — now
    * takedown-local, so the read-side compose is cheap). The dedup
    * components tier, whose serving read has no repair operator,
    * instead folds tombstones INTO the chain
    * ([[Dedup.foldComponentsSnapshotDel]]); both compositions are
    * oracle-gated against the same survivor truth.
    */
  private[graft] def foldCorenessSnapshot(spark: SparkSession,
      store: graft.streaming.LinkIngest.LinkStores,
      entPath: String, corPath: String, id: Long): Unit = {
    val newEdges = spark.read.parquet(s"${store.edgesPath}/batch_id=$id")
      .select(col("a_id"), col("b_id"))
      .localCheckpoint(eager = false)
    val newCount = newEdges.count()
    val (snapshot, allCount) =
      if (id == 0) (graphCorenessCappedCountingOn(newEdges), newCount)
      else {
        val all = graft.Maintenance.readAsOf(spark, store.edgesPath, id)
          .select(col("a_id"), col("b_id"))
          .localCheckpoint(eager = false)
        // the accumulated count CARRIES FORWARD via the sidecar manifest
        // (r17 ADVICE: rescanning the whole edge store per fold just to
        // pick a branch taxed exactly the sparse production path the
        // dispatch exists to speed up); a missing manifest — first fold
        // over a pre-manifest chain — falls back to one counting scan
        val ac = readEdgeCount(spark, corPath, id - 1)
          .map(_ + newCount)
          .getOrElse(all.count())
        val s =
          if (newCount > LocalFoldMaxBatchFraction * ac)
            corenessSnapshotComponent(spark, store, entPath, corPath, id,
              newEdges)
          else
            maintainCorenessLocalIns(
              spark.read.parquet(s"$corPath/batch_id=${id - 1}"),
              spark.read.parquet(s"$entPath/batch_id=${id - 1}")
                .select("doc_id", "component_id"),
              all, newEdges)
        (s, ac)
      }
    snapshot.write.mode("overwrite").parquet(s"$corPath/batch_id=$id")
    writeEdgeCount(spark, corPath, id, allCount)
  }

  /** Sidecar accumulated-edge-count manifest beside the coreness chain
    * (r17 ADVICE): `.edge_count_N` records the landed-edge count through
    * batch N, written AFTER snapshot N (so presence implies the snapshot
    * exists; a crashed replay deterministically rewrites both). Dot-
    * prefixed, invisible to partition discovery; bytes, not data.
    */
  private def edgeCountFile(corPath: String, id: Long) =
    new org.apache.hadoop.fs.Path(corPath, s".edge_count_$id")

  private def readEdgeCount(spark: SparkSession, corPath: String,
      id: Long): Option[Long] = {
    val p = edgeCountFile(corPath, id)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else Some(scala.io.Source.fromInputStream(fs.open(p)).mkString.trim.toLong)
  }

  private def writeEdgeCount(spark: SparkSession, corPath: String,
      id: Long, n: Long): Unit = {
    val p = edgeCountFile(corPath, id)
    val out = p.getFileSystem(spark.sessionState.newHadoopConf()).create(p, true)
    out.write(n.toString.getBytes("UTF-8"))
    out.close()
  }

  /** The FORCED-local fold spelling — [[foldCorenessSnapshot]] with the
    * batch-fraction dispatch bypassed, so the crossover sweep
    * (`link_coreness_fold_f*` probe arms, r17 verdict #5) can price the
    * local machinery at batch fractions ABOVE
    * [[LocalFoldMaxBatchFraction]], where production would dispatch to
    * the component recompute. Probe-only: production folds go through
    * the dispatching entry (this twin skips the edge-count manifest —
    * a probe chain doesn't carry one).
    */
  private[graft] def foldCorenessSnapshotLocal(spark: SparkSession,
      store: graft.streaming.LinkIngest.LinkStores,
      entPath: String, corPath: String, id: Long): Unit = {
    val newEdges = spark.read.parquet(s"${store.edgesPath}/batch_id=$id")
      .select(col("a_id"), col("b_id"))
      .localCheckpoint(eager = false)
    val snapshot =
      if (id == 0) graphCorenessCappedCountingOn(newEdges)
      else maintainCorenessLocalIns(
        spark.read.parquet(s"$corPath/batch_id=${id - 1}"),
        spark.read.parquet(s"$entPath/batch_id=${id - 1}")
          .select("doc_id", "component_id"),
        graft.Maintenance.readAsOf(spark, store.edgesPath, id)
          .select(col("a_id"), col("b_id"))
          .localCheckpoint(eager = false),
        newEdges)
    snapshot.write.mode("overwrite").parquet(s"$corPath/batch_id=$id")
  }

  /** The r15–r16 fold spelling — affected-COMPONENT recompute via the
    * entity snapshot — kept as [[foldCorenessSnapshot]]'s A/B reference
    * (the `link_coreness_fold_comp` probe arm) and law twin: correct
    * (the same fold law), but its bound degenerates on giant-component
    * graphs, where "affected" ≈ the graph and every fold pays ~one full
    * counting-h-index propagation (the r16 verdict's `weak`).
    */
  private[graft] def foldCorenessSnapshotComponent(spark: SparkSession,
      store: graft.streaming.LinkIngest.LinkStores,
      entPath: String, corPath: String, id: Long): Unit = {
    val newEdges = spark.read.parquet(s"${store.edgesPath}/batch_id=$id")
      .select(col("a_id"), col("b_id"))
      .localCheckpoint(eager = false)
    val snapshot =
      if (id == 0) graphCorenessCappedCountingOn(newEdges)
      else corenessSnapshotComponent(spark, store, entPath, corPath, id,
        newEdges)
    snapshot.write.mode("overwrite").parquet(s"$corPath/batch_id=$id")
  }

  /** The affected-component snapshot derivation (id ≥ 1) shared by
    * [[foldCorenessSnapshotComponent]] and [[foldCorenessSnapshot]]'s
    * bulk-batch dispatch branch.
    */
  private def corenessSnapshotComponent(spark: SparkSession,
      store: graft.streaming.LinkIngest.LinkStores,
      entPath: String, corPath: String, id: Long,
      newEdges: DataFrame): DataFrame = {
    val prevEnt = spark.read.parquet(s"$entPath/batch_id=${id - 1}")
      .select("doc_id", "component_id")
    val prevCor = spark.read.parquet(s"$corPath/batch_id=${id - 1}")
    val touched = newEdges
      .select(explode(array(col("a_id"), col("b_id"))).as("t_id"))
      .distinct()
    val affected = prevEnt
      .join(broadcast(touched), col("doc_id") === col("t_id"), "left_semi")
      .select(col("component_id").as("aff_id")).distinct()
    val untouchedIds = prevEnt
      .join(broadcast(affected), col("component_id") === col("aff_id"),
        "left_anti")
      .select(col("doc_id").as("s_suppkey"))
    val untouched = prevCor.join(untouchedIds, Seq("s_suppkey"), "left_semi")
    // the affected groups' accumulated edges: a_id's membership
    // decides the component (both endpoints share it)
    val memb = prevEnt.select(col("doc_id").as("a_id"),
      col("component_id").as("m_id"))
    val affEdges = graft.Maintenance
      .readAsOf(spark, store.edgesPath, id - 1)
      .select(col("a_id"), col("b_id"))
      .join(memb, Seq("a_id"))
      .join(broadcast(affected), col("m_id") === col("aff_id"), "left_semi")
      .select(col("a_id"), col("b_id"))
    untouched.unionByName(
      graphCorenessCappedCountingOn(affEdges.unionByName(newEdges)))
  }

  /** [[graphCorenessServed]] with the map maintained INCREMENTALLY on
    * ingest — the read is the last coreness snapshot: fresh through the
    * last landed batch, zero read-time propagation. With every batch
    * landed the snapshot covers the full fuzzy graph, so the entry
    * shares [[graphCorenessSql]] verbatim (the capped-fixpoint identity,
    * as the served map entry).
    */
  def graphCorenessServedInc(spark: SparkSession, dir: String): DataFrame =
    graphCorenessServedIncFrames(spark,
      StoreCatalog.key(spark, dir) + "_incmap",
      Tables.supplier(spark, dir), "s_suppkey", "s_name")

  private[graft] def graphCorenessServedIncFrames(spark: SparkSession,
      key: String, names: => DataFrame, idCol: String,
      nameCol: String): DataFrame = {
    val base = linkIncStores(spark, key, names, idCol, nameCol)
    spark.read.parquet(s"$base/coreness/batch_id=2").orderBy("s_suppkey")
  }

  /** [[graphKcoreServed]] with the map maintained INCREMENTALLY on
    * ingest — one projection of the SAME coreness inc snapshot
    * (membership ≡ coreness ≥ k, the decomposition identity
    * [[graphKcoreServedDel]] already serves the deletion column from),
    * closing the kcore serving matrix's inc cell (r17 verdict #6).
    * Shares [[graphKcoreSql]] verbatim, as the map-served entry does.
    */
  def graphKcoreServedInc(spark: SparkSession, dir: String): DataFrame =
    graphCorenessServedIncFrames(spark,
      StoreCatalog.key(spark, dir) + "_incmap",
      Tables.supplier(spark, dir), "s_suppkey", "s_name")
      .select(col("s_suppkey"),
        (col("coreness") >= 2).as("core2"), (col("coreness") >= 3).as("core3"))
      .orderBy("s_suppkey")

  /** [[graphKcoreServedInc]] with the takedown batch composed at read —
    * one projection of the SAME repaired coreness frame
    * ([[graphCorenessServedIncDelFrames]]; membership ≡ coreness ≥ k,
    * the identity every kcore serving cell rides), completing the kcore
    * column's incdel cell so the two label tiers expose the same
    * serve/inc/del/incdel matrix. Shares [[graphKcoreServedDelSql]]:
    * the repair equals the survivor decomposition (`CorenessSpec`'s
    * traversal laws), and thresholding commutes with it.
    */
  def graphKcoreServedIncDel(spark: SparkSession, dir: String): DataFrame =
    graphCorenessServedIncDelFrames(spark,
      StoreCatalog.key(spark, dir) + "_incmap",
      Tables.supplier(spark, dir), "s_suppkey", "s_name")
      .select(col("s_suppkey"),
        (col("coreness") >= 2).as("core2"), (col("coreness") >= 3).as("core3"))
      .orderBy("s_suppkey")

  /** The graph-label tier's INC + DEL composition — the read-side twin
    * of the dedup tier's in-chain [[Dedup.foldComponentsSnapshotDel]],
    * and the MEASURED form of [[foldCorenessSnapshot]]'s documented
    * compose rule: the fold chain stays insert-only (inserts only merge,
    * so per-batch folds are cheap star/affected-group work), and
    * TOMBSTONES compose AT READ by running [[maintainCorenessLocal]]'s
    * traversal repair over the latest snapshot — takedown-local since
    * r16, so the read-side compose costs the cascade region, not a
    * propagation. The snapshot ≡ capped coreness over all landed edges
    * (`LinkIngestSpec`'s fold law) and the repair ≡ the survivor
    * decomposition (`CorenessSpec`'s traversal laws), so the entry
    * shares [[graphCorenessServedDelSql]] verbatim — the same survivor
    * truth that gates the map-serving deletion entry, now reached
    * through the ingest-fresh path.
    *
    * Scale (100 TB): the fold chain rides the ingest cadence at
    * O(batch + affected); since r19 the root is COMPACTED
    * ([[linkIncCompactedStores]]) so the read is one snapshot scan + a
    * repair bounded by the takedowns landed since compaction (empty at
    * registry cadence) — the cascade was paid once, at compaction.
    */
  def graphCorenessServedIncDel(spark: SparkSession, dir: String): DataFrame =
    graphCorenessServedIncDelFrames(spark,
      StoreCatalog.key(spark, dir) + "_incmap",
      Tables.supplier(spark, dir), "s_suppkey", "s_name")

  private[graft] def graphCorenessServedIncDelFrames(spark: SparkSession,
      key: String, names: => DataFrame, idCol: String,
      nameCol: String): DataFrame = {
    val base = linkIncCompactedStores(spark, key, names, idCol, nameCol)
    val snap = spark.read.parquet(s"$base/coreness/batch_id=2")
      .select(col("s_suppkey"), col("coreness"))
    val edges = graft.Maintenance.readAsOf(spark, s"$base/edges", 2L)
      .select(col("a_id"), col("b_id"))
    val dead = spark.read.parquet(s"$base/tombs").select("dead_id")
    repairCorenessUnderDeletion(snap, edges, dead).orderBy("s_suppkey")
  }

  // ---- entity_groups_served_del: tombstoned deletes on the entity tier --

  /** Deterministic tombstone rule for the oracle-checked deletion entry
    * — `knn_served_del`'s rule (id ≡ 3 mod 7, ~14% of records) applied
    * to the linkage tier, so the two deletion tiers tell one story.
    */
  private val DelMod = 7L
  private val DelRes = 3L

  /** Land (once, as its own store beside the link store) and read back
    * the corpus' tombstone batch for a deletion rule — the single
    * deletion store the entity, coreness and triangle deletion tiers
    * share (one batch per rule key; the serve paths never see the
    * rule, only ids).
    */
  private[graft] def landedTombstones(spark: SparkSession, key: String,
      names: => DataFrame, idCol: String, delMod: Long = DelMod,
      delRes: Long = DelRes): DataFrame =
    StoreCatalog.parquet(spark, "graft_link_store",
        if (delMod == DelMod && delRes == DelRes) key + "_tombstones"
        else s"${key}_tombstones_m${delMod}r$delRes") {
      names.filter(col(idCol) % delMod === delRes)
        .select(col(idCol).cast("long").as("dead_id"))
    }

  /** The persisted ENTITY map beside the edge store: [[entityGroups]]'
    * component assignment computed ONCE over the stored pair graph.
    * This is what
    * makes deletion a BOUNDED operation (see [[entityGroupsServedDel]])
    * — without it, every delete pays a full component recompute.
    */
  private[graft] def storedEntityMap(spark: SparkSession, key: String,
      names: => DataFrame, idCol: String, nameCol: String): DataFrame = {
    val st = linkStores(spark, key, names, idCol, nameCol)
    StoreCatalog.parquet(spark, "graft_link_store", key + "_entities") {
      Dedup.componentsOn(spark.read.parquet(st.edgesPath)
          .select(col("a_id").as("doc_id_1"), col("b_id").as("doc_id_2")))
        .select(col("doc_id").as("s_suppkey"),
          col("component_id").as("entity_id"), col("is_canonical"))
    }
  }

  /** [[entityGroupsServed]] under DELETION — cashing in the
    * [[graft.sources.LinkStore]] scaladoc's tombstone promise, and the
    * HARDER half of the deletion story: `knn_served_del`'s anti-join
    * suffices for a vector index because rankings are per-query, but
    * component membership is NOT monotone under edge removal — deleting
    * a bridge record SPLITS its entity group, so survivors' entity ids
    * can change. The scale-safe shape is a bounded recompute: tombstones
    * land beside the index (idempotent batch overwrite, the
    * `knn_served_del` contract); entity groups containing NO deleted
    * record pass through from the persisted entity map UNTOUCHED; only
    * the AFFECTED groups (bounded by the deletion volume between index
    * builds × group size — near-dup/typo groups are small by
    * construction) re-run min-label propagation over their surviving
    * edges. Survivors that lose their last edge drop out, exactly as a
    * from-scratch rebuild over surviving records drops them.
    *
    * The law (`LinkDeleteSpec` + this entry's oracle): output ≡
    * [[entityGroups]] recomputed from scratch over the SURVIVING
    * records — including splits, canonical-survivor changes, and
    * edge-orphaned drops. Exactness argument: fuzzy pairs are PAIRWISE
    * predicates (lev(a,b) ≤ 1 doesn't depend on other records), so the
    * survivor pair graph IS the stored graph minus tombstone-incident
    * edges; and component recompute restricted to affected groups is
    * exact because edge removal never merges groups.
    *
    * Scale (100 TB): the tombstone batch broadcasts; the entity map is
    * group-graph-sized (≪ corpus); the per-delete work is the affected
    * groups' edge lists — never the full graph, never the corpus. At
    * the next index rebuild the tombstones fold to zero, as in the
    * vector tier.
    */
  def entityGroupsServedDel(spark: SparkSession, dir: String): DataFrame =
    entityGroupsServedDelFrames(spark,
      StoreCatalog.key(spark, dir),
      Tables.supplier(spark, dir), "s_suppkey", "s_name")

  private[graft] def entityGroupsServedDelFrames(spark: SparkSession,
      key: String, names: => DataFrame, idCol: String,
      nameCol: String): DataFrame = {
    val n = names
    val st = linkStores(spark, key, n, idCol, nameCol)
    val entities = storedEntityMap(spark, key, n, idCol, nameCol)
    // the deletion batch lands beside the index, ONCE per rule key, and
    // is read back as a store — the serve path never sees the rule, only
    // ids (r15 ADVICE: a per-invocation overwrite raced concurrent
    // readers, which could observe a half-written batch dir)
    val dead = landedTombstones(spark, key, n, idCol)
    // affected = entity ids with ≥1 tombstoned member (bounded by the
    // deletion volume; broadcast both the batch and the affected set)
    val affected = entities
      .join(broadcast(dead), col("s_suppkey") === col("dead_id"), "left_semi")
      .select(col("entity_id").as("aff_id")).distinct()
    val untouched = entities
      .join(broadcast(affected), col("entity_id") === col("aff_id"), "left_anti")
    // surviving edges of affected groups only: membership of a_id decides
    // the group (both endpoints share it by definition of a component)
    val memb = entities.select(col("s_suppkey").as("a_id"),
      col("entity_id").as("m_id"))
    val affEdges = spark.read.parquet(st.edgesPath)
      .select(col("a_id"), col("b_id"))
      .join(memb, Seq("a_id"))
      .join(broadcast(affected), col("m_id") === col("aff_id"), "left_semi")
      .join(broadcast(dead), col("a_id") === col("dead_id"), "left_anti")
      .join(broadcast(dead), col("b_id") === col("dead_id"), "left_anti")
    val recomputed = Dedup.componentsOn(
        affEdges.select(col("a_id").as("doc_id_1"), col("b_id").as("doc_id_2")))
      .select(col("doc_id").as("s_suppkey"),
        col("component_id").as("entity_id"), col("is_canonical"))
    untouched.unionByName(recomputed).orderBy("s_suppkey")
  }

  /** [[entityGroupsSql]] over the surviving records — the from-scratch
    * rebuild the served-deletion law demands.
    */
  val entityGroupsServedDelSql: String =
    s"""WITH RECURSIVE fpairs AS (
       |  SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id
       |  FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
       |  WHERE a.s_suppkey % $DelMod <> $DelRes
       |    AND b.s_suppkey % $DelMod <> $DelRes
       |    AND levenshtein(a.s_name, b.s_name) <= 1),
       |edges AS (
       |  SELECT a_id AS a, b_id AS b FROM fpairs
       |  UNION
       |  SELECT b_id, a_id FROM fpairs),
       |reach(v, u) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a)
       |SELECT v AS s_suppkey,
       |       least(v, min(u)) AS entity_id,
       |       v = least(v, min(u)) AS is_canonical
       |FROM reach
       |GROUP BY v
       |ORDER BY s_suppkey""".stripMargin

  // ---- local (traversal) coreness maintenance under deletion ------------
  /** Fixed cascade-round cap — a loud-failure bound with the same lazy
    * diameter-safe extension as [[MaxHcountRounds]] (r16 ADVICE: a
    * ~400+-node ring cascade legitimately exceeds any constant, since
    * the repair wave advances one hop per round).
    */
  private[graft] val MaxLocalRounds = 200

  /** LOCAL coreness repair under deletion — the r15 verdict's #1: the
    * affected-COMPONENT recompute degenerates on giant-component graphs
    * ("affected" ≈ the graph, so every takedown batch paid one full
    * h-index propagation — 67.4 s at the 100× sparse arm). This is the
    * traversal-based alternative (the locality family of Sarıyüce et
    * al., "Streaming Algorithms for k-Core Decomposition", VLDB'13):
    * repair spreads outward from the deleted edges and stops where
    * labels stop changing, so the cost tracks the CASCADE REGION of the
    * takedown batch — never the component, never the graph.
    *
    * Derivation (engine-checked by `CorenessSpec`'s traversal laws, and
    * by this entry's survivor-peel oracle at the gate):
    *  1. UPPER BOUND — deletion never raises coreness, so the stored
    *     capped labels restricted to survivors satisfy c⁰ ≥
    *     min(core′, k_max) pointwise (core′ = survivor coreness).
    *  2. FIXPOINT — capped coreness is the LARGEST fixpoint of
    *     c ↦ min(c, H(c)) (H = neighbor-label h-index, Lü et al. 2016):
    *     any fixpoint's level set S_k = {c ≥ k} induces min-degree ≥ k,
    *     hence S_k ⊆ k-core; and capped coreness satisfies the equation
    *     (a coreness-k node has ≥ k neighbors labeled ≥ min(k, k_max)).
    *     The monotone-decreasing iteration from ANY pointwise upper
    *     bound therefore converges exactly to min(core′, k_max).
    *  3. LOCALITY — a node's equation only breaks when its edge set or
    *     a NEIGHBOR's label changes. Initially that is the survivor
    *     endpoints of deleted edges (the seeds); thereafter exactly the
    *     neighbors of nodes whose label dropped. Re-evaluating just
    *     that frontier is the chaotic iteration of the same monotone
    *     operator — same fixpoint, and untouched regions are never read
    *     beyond their stored labels.
    * Survivors that lose their LAST edge converge to h = 0 and drop
    * out, exactly as the from-scratch rebuild drops them (every node
    * with a surviving edge keeps a label ≥ 1 by induction).
    *
    * Scale (100 TB): per round one frontier-semi-joined edge scan + a
    * frontier-sized h-aggregate in the COUNTING spelling (≤ k_max
    * partial-aggregated level rows per frontier edge — no per-node
    * neighbor arrays, so a hub entering the frontier cannot straggle
    * one task); rounds = cascade depth (labels are integers ≤ k_max
    * that only decrease, so each node re-labels ≤ k_max times). A
    * sparse takedown touches a few clusters and converges in
    * single-digit rounds; the adversarial uniform rule (every cluster
    * hit) degrades to work ∝ touched neighborhoods — still never a
    * full propagation over untouched regions.
    *
    * `baseMap`: stored capped labels for SURVIVOR nodes (caller
    * anti-joins the tombstones). `survivorEdges` (a_id, b_id): stored
    * edges minus tombstone-incident. `seeds` (id): survivor endpoints
    * of deleted edges. Output: (s_suppkey, coreness), unordered.
    */
  private[graft] def maintainCorenessLocal(baseMap: DataFrame,
      survivorEdges0: DataFrame, seeds: DataFrame): DataFrame = {
    // one evaluation of the survivor-edge derivation (scan + tombstone
    // anti-joins) under the symmetrize union — the componentsOn
    // union-doubling fix
    val survivorEdges = survivorEdges0.localCheckpoint(eager = false)
    val sc = baseMap.sparkSession.sparkContext
    val sym = survivorEdges.select(col("a_id").as("u"), col("b_id").as("v"))
      .unionAll(survivorEdges.select(col("b_id").as("u"), col("a_id").as("v")))
      .persist()
    // the base map is READ-ONLY for the whole cascade (r16 verdict #2:
    // the previous spelling rewrote + re-checkpointed all N map rows
    // EVERY round — an O(map) state term per round that dominates a
    // deep cascade over a 100 TB map). The cascade's changed labels
    // accumulate in a CASCADE-SIZED overlay instead; per-round
    // PERSISTED state is O(cascade), and labels resolve lazily as
    // base ⊕ overlay. The overlay join is deliberately UNHINTED: AQE
    // broadcasts it while the cascade is small and falls back to a
    // shuffle join when an adversarial takedown grows it toward map
    // size (a forced broadcast was measured 8× worse on the %7 arm at
    // 100× — a ~1.3M-row driver collect per round, twice).
    // base's blocks are checkpointed BEFORE the round-tracking snapshot
    // so the per-round hygiene can never release them — base must
    // outlive every round AND the final resolved read.
    val base = baseMap
      .select(col("s_suppkey").as("id"), col("coreness").cast("long").as("c"))
      .localCheckpoint()
    var before = sc.getPersistentRDDs.keySet
    var overlay = base.filter(lit(false)).localCheckpoint()
    // current labels = base overridden by the overlay, as a lazy plan —
    // never persisted, so no per-round map-sized state
    def resolved: DataFrame = base.as("b")
      .join(overlay.select(col("id").as("ov_id"), col("c").as("ov_c")),
        col("b.id") === col("ov_id"), "left")
      .select(col("b.id").as("id"), coalesce(col("ov_c"), col("b.c")).as("c"))
    var frontier = seeds.select(col("id")).distinct().localCheckpoint()
    var prevRound = sc.getPersistentRDDs.keySet -- before
    var rounds = 0L
    var cap: Long = MaxLocalRounds
    var capExtended = false
    var active = frontier.count() > 0
    while (active && rounds < cap) {
      before = sc.getPersistentRDDs.keySet
      val cur = resolved
      // h-index over SURVIVING neighbors' current labels, frontier only,
      // in the COUNTING spelling (labels are capped ≤ k_max here — the
      // base map is capped and the iteration only decreases — so each
      // edge explodes to ≤ k_max level rows and the per-(node, level)
      // counts partial-aggregate: a takedown adjacent to a power-law
      // hub never collects a degree-sized array on one task, the same
      // skew hole the build path's counting form closes). A frontier
      // node with no surviving edges has no row here → h = 0. Neighbor
      // labels are ≥ 1 by construction (a label reaches 0 only with no
      // surviving edges, and such a node never appears as a neighbor),
      // so the sequence is never the count-down trap.
      val h = sym.join(frontier.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(cur.select(col("id").as("v"), col("c").as("nc")), Seq("v"))
        .select(col("u"),
          explode(expr("sequence(CAST(1 AS BIGINT), nc)")).as("lvl"))
        .groupBy(col("u"), col("lvl")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= col("lvl"))
        .groupBy(col("u")).agg(max(col("lvl")).as("h"))
        .select(col("u").as("id"), col("h"))
      val changed = frontier.join(cur, Seq("id"))
        .join(h, Seq("id"), "left")
        .select(col("id"), col("c"),
          least(col("c"), coalesce(col("h"), lit(0L))).as("nc"))
        .filter(col("nc") < col("c"))
        .select(col("id"), col("nc").as("c"))
        .localCheckpoint()
      active = changed.count() > 0
      if (active) {
        // fold the round's drops into the overlay (latest label wins) —
        // O(cascade) rows checkpointed, never the map
        overlay = overlay
          .join(changed.select(col("id").as("ch_id")),
            col("id") === col("ch_id"), "left_anti")
          .unionByName(changed)
          .localCheckpoint()
        // only neighbors of a dropped label can have a newly-broken
        // equation (a node that dropped together with its neighbor is
        // itself such a neighbor)
        frontier = sym
          .join(changed.select(col("id").as("v")), Seq("v"), "left_semi")
          .select(col("u").as("id")).distinct()
          .localCheckpoint()
      }
      val thisRound = sc.getPersistentRDDs.keySet -- before
      if (active) {
        // overlay/frontier were replaced: the previous generation is dead
        prevRound.foreach(id =>
          sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
        prevRound = thisRound
      } else {
        // settled: this round produced only the empty `changed` frame —
        // the LIVE overlay sits in prevRound and must survive for the
        // reader (the final resolved plan reads base ⊕ overlay)
        thisRound.foreach(id =>
          sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      }
      rounds += 1
      if (active && rounds >= cap && !capExtended) {
        // deep cascade (ring/chain component), not a bug: extend once to
        // the sufficient total-label-mass bound over the map's nodes
        cap = labelMassCap(cap, base.count(), CorenessMaxK)
        capExtended = true
      }
    }
    require(!active,
      s"maintainCorenessLocal: cascade not settled after $rounds rounds " +
        s"(cap $cap ≥ the total-label-mass bound — a non-termination bug, " +
        "not cascade depth)")
    sym.unpersist()
    // apply the overlay to the map ONCE, at the end
    resolved.filter(col("c") >= 1)
      .select(col("id").as("s_suppkey"), col("c").cast("int").as("coreness"))
  }

  // ---- local (traversal) coreness maintenance under INSERTION -----------

  /** LOCAL capped-coreness maintenance under INSERTION — the r16
    * verdict's one `weak` retired: [[foldCorenessSnapshot]] used to
    * re-run the full counting h-index over the affected COMPONENT's
    * accumulated edges per ingest batch — on giant-component graphs
    * (this corpus' digit-chain components) "affected" ≈ the graph, so
    * every fold paid ~one full propagation, the exact bound the r16
    * deletion repair retired on the delete side. This is the insert
    * dual, built ON the deletion machinery rather than mirroring it
    * naively — the naive mirror (iterate the h-operator UPWARD from the
    * stored labels) is WRONG: upward iteration stalls at intermediate
    * fixpoints below true coreness (a path a—b—c plus new edge a—c:
    * H(all-1) = 1 everywhere, but the triangle's coreness is 2), so
    * increases must enter through an inflated upper bound, not the
    * operator.
    *
    * Derivation (CorenessSpec's insertion laws; the shared survivor/
    * one-shot oracles at the gate):
    *  1. CANDIDATE REGION — a node's coreness rises only if it lies on
    *     a path to some batch endpoint through nodes that also rose
    *     (Li–Yu–Mao, TKDE'14: each single insertion's changed set is
    *     connected to the inserted edge; for a batch, compose the
    *     per-insertion steps — intermediate labels are sandwiched
    *     between c_old and c_new, so every changed node keeps the
    *     property cumulatively). Two sound restrictions compose:
    *     (a) ELIGIBILITY — every risen node x satisfies
    *     min(deg_new(x), k_max) > max(c_old(x), k_floor) where k_floor
    *     = min over batch endpoints of their stored label (a step-i
    *     change happens at level k_i ≥ k_floor with c_old(x) ≤ k_i <
    *     min(deg, k_max)); (b) MEMBERSHIP — following the rise-path
    *     from x to its first batch-edge crossing uses old edges only,
    *     so x shares an OLD component with some batch endpoint:
    *     R = (eligible ∩ affected old components) ∪ batch endpoints,
    *     ONE broadcast semi-join against the maintained entity
    *     snapshot. (An earlier spelling computed the eligible-induced
    *     connected closure instead — measured at 1×/10×, the
    *     O(diameter) flood cost 3× more than it saved on this chain
    *     corpus, where eligibility barely restricts connectivity.)
    *  2. INFLATED UPPER BOUND — u₀ = min(deg_new, k_max, c_old + |B|)
    *     on R (each single insertion raises any coreness by ≤ 1, so a
    *     batch of |B| edges raises it by ≤ |B|; degrees only grow, so
    *     u₀ ≥ the stored label too), stored labels elsewhere (exact
    *     there, by step 1). u₀ ≥ capped c_new pointwise, and the
    *     +|B| term bounds every node's descent depth by the batch
    *     size — a sparse batch converges in ≤ |B| label steps.
    *  3. DOWNWARD REPAIR — [[maintainCorenessLocal]] VERBATIM with
    *     baseMap = u₀, edges = the accumulated graph, seeds = R: the
    *     chaotic iteration of the monotone c ↦ min(c, H(c)) from any
    *     pointwise upper bound converges exactly to capped coreness
    *     (the deletion repair's own fixpoint argument), and un-inflated
    *     nodes never re-evaluate below their stored label (their
    *     equation only sees neighbor labels ≥ the fixpoint's).
    * The worst case is honest and KNOWN: the exact candidate set for
    * insertion is subcore-bounded (the traversal-algorithm lower
    * bound), so on a component whose interior degrees exceed coreness
    * everywhere R floods the touched component — but saturated nodes
    * (cliques at their degree), untouched components, and everything
    * below the batch's level floor never enter R, the per-round work is
    * frontier-restricted rather than affected-edges-wide, and stable
    * regions quiesce after one evaluation. The `link_coreness_fold`
    * probe arms price the fold against the retired component recompute
    * at 1×/10×/100×, registry-shaped and sparse batches both.
    *
    * `prevMap` (s_suppkey, coreness): the previous snapshot's capped
    * labels. `prevEnt` (doc_id, component_id): the previous entity
    * snapshot (the membership restriction). `allEdges` (a_id, b_id):
    * the accumulated graph INCLUDING the batch. `newEdges`: the batch.
    * Output: (s_suppkey, coreness), unordered — capped coreness of
    * `allEdges` exactly.
    */
  private[graft] def maintainCorenessLocalIns(prevMap: DataFrame,
      prevEnt: DataFrame, allEdges: DataFrame,
      newEdges: DataFrame): DataFrame = {
    val all = allEdges.localCheckpoint(eager = false)
    // one partial-aggregated degree pass over the accumulated edges —
    // the fold's only corpus-graph-sized derivation term (vs the
    // previous spelling's full multi-round propagation over it)
    val deg = all.select(col("a_id").as("id"))
      .unionAll(all.select(col("b_id").as("id")))
      .groupBy("id")
      .agg(least(count(lit(1)), lit(CorenessMaxK.toLong)).as("dcap"))
      .localCheckpoint(eager = false) // consumers: eligibility, inflation
    val lbl = prevMap
      .select(col("s_suppkey").as("id"), col("coreness").cast("long").as("c"))
    val endpoints = newEdges
      .select(explode(array(col("a_id"), col("b_id"))).as("id")).distinct()
      .localCheckpoint(eager = false) // consumers: k_floor, affected, region
    // two bounded scalars: the batch's level floor and its edge count
    val kFloor = endpoints.join(lbl, Seq("id"), "left")
      .agg(min(coalesce(col("c"), lit(0L)))).head() match {
        case r if r.isNullAt(0) => 0L // empty batch: region = ∅ below
        case r => r.getLong(0)
      }
    val batchEdges = newEdges.count()
    val eligible = deg.join(lbl, Seq("id"), "left")
      .filter(col("dcap") > greatest(coalesce(col("c"), lit(0L)), lit(kFloor)))
      .select("id")
    val entIds = prevEnt
      .select(col("doc_id").as("id"), col("component_id").as("cid"))
    val affected = entIds.join(endpoints, Seq("id"), "left_semi")
      .select(col("cid")).distinct()
    val inAffected = entIds
      .join(broadcast(affected.select(col("cid").as("aff_cid"))),
        col("cid") === col("aff_cid"), "left_semi")
      .select("id")
    val region = eligible.join(inAffected, Seq("id"), "left_semi")
      .unionByName(endpoints).distinct()
      .localCheckpoint() // consumers: inflation anti/semi joins + seeds
    val inflated = lbl.join(region, Seq("id"), "left_anti")
      .unionByName(region.join(deg, Seq("id"))
        .join(lbl, Seq("id"), "left")
        .select(col("id"),
          least(col("dcap"),
            coalesce(col("c"), lit(0L)) + lit(batchEdges)).as("c")))
      .select(col("id").as("s_suppkey"), col("c").as("coreness"))
    maintainCorenessLocal(inflated, all, region)
  }

  // ---- graph_coreness_served_del: tombstones on the coreness map --------

  /** [[graphCorenessServed]] under DELETION — what keeps the persisted
    * coreness map CORRECT under tombstones (without this, serving a map
    * is serving stale labels): tombstones land beside the store
    * ([[entityGroupsServedDel]]'s batch, shared path — one deletion
    * store per corpus); the map is then repaired by
    * [[maintainCorenessLocal]]'s frontier traversal, which spreads
    * outward from the deleted edges and stops where labels stop
    * changing. This REPLACES r15's affected-COMPONENT recompute — that
    * bound degenerates on giant-component graphs (the r15 sparse probe:
    * a 140× sparser takedown rule cut the 100× wall only 82.4 → 67.4 s,
    * because "affected" ≈ the graph and every batch paid one full
    * h-index propagation); the traversal's cost tracks the takedown
    * batch's cascade region instead. Survivors that lose their last
    * edge drop out, as a from-scratch rebuild drops them.
    *
    * Exactness: the stored capped labels restricted to survivors
    * upper-bound survivor capped coreness, and the traversal is the
    * chaotic iteration of the monotone c ↦ min(c, H(c)) operator whose
    * largest fixpoint IS capped coreness — the full derivation chain is
    * [[maintainCorenessLocal]]'s scaladoc, its laws are `CorenessSpec`'s
    * traversal block, and the gate re-proves the composition against
    * the full survivor peel the oracle unrolls (sf0.01/sf0.1).
    *
    * Scale (100 TB): the tombstone batch broadcasts; the map is
    * graph-node-sized (≪ corpus); per cascade round one frontier-semi
    * edge scan + a frontier-sized aggregate — the deletion batch's
    * neighborhood, never the component, never the graph.
    */
  def graphCorenessServedDel(spark: SparkSession, dir: String): DataFrame =
    graphCorenessServedDelFrames(spark,
      StoreCatalog.key(spark, dir),
      Tables.supplier(spark, dir), "s_suppkey", "s_name")

  /** `delMod`/`delRes` default to the oracle-checked registry rule; the
    * sparse probe arm feeds a 0.1% rule to price the production
    * takedown-batch case (the %7 rule is deliberately adversarial —
    * uniform deletes touch most large groups, so "affected" ≈ the
    * graph; a real takedown batch is cluster-local).
    */
  private[graft] def graphCorenessServedDelFrames(spark: SparkSession,
      key: String, names: => DataFrame, idCol: String,
      nameCol: String, delMod: Long = DelMod,
      delRes: Long = DelRes): DataFrame = {
    val n = names
    val st = linkStores(spark, key, n, idCol, nameCol)
    val corMap = storedCorenessMap(spark, key, n, idCol, nameCol)
    val dead = landedTombstones(spark, key, n, idCol, delMod, delRes)
    repairCorenessUnderDeletion(corMap,
        spark.read.parquet(st.edgesPath).select(col("a_id"), col("b_id")), dead)
      .orderBy("s_suppkey")
  }

  /** The deletion-repair glue shared by the served path and the spec
    * laws: derive the repair seeds (survivor endpoints of
    * tombstone-incident edges — the only nodes whose fixpoint equation
    * a NODE deletion can break), the survivor edge set and the survivor
    * base labels from (stored capped map, stored edges, tombstones),
    * then run [[maintainCorenessLocal]].
    */
  /** Affected-group component repair under NODE deletion — the
    * frame-based core of [[entityGroupsServedDelFrames]], shared with
    * the link tier's tombstone-applying compaction
    * ([[graft.streaming.LinkIngest.compact]]): groups containing no
    * dead member pass through untouched; only the affected groups
    * re-run min-label propagation over their SURVIVING edges (exact
    * because edge removal never merges groups — the served-del entry's
    * law). `entMap` is a (doc_id, component_id, is_canonical) snapshot;
    * `edges` (a_id, b_id) are the accumulated pairs the snapshot was
    * folded from; `dead` broadcasts.
    */
  private[graft] def repairComponentsUnderDeletion(entMap: DataFrame,
      edges: DataFrame, dead: DataFrame): DataFrame = {
    val deadB = broadcast(dead.select(col(dead.columns.head).as("dead_id")))
    val affected = entMap
      .join(deadB, col("doc_id") === col("dead_id"), "left_semi")
      .select(col("component_id").as("aff_id")).distinct()
    val untouched = entMap
      .join(broadcast(affected), col("component_id") === col("aff_id"),
        "left_anti")
    val memb = entMap.select(col("doc_id").as("a_id"),
      col("component_id").as("m_id"))
    val affEdges = edges.select(col("a_id"), col("b_id"))
      .join(memb, Seq("a_id"))
      .join(broadcast(affected), col("m_id") === col("aff_id"), "left_semi")
      .join(deadB, col("a_id") === col("dead_id"), "left_anti")
      .join(deadB, col("b_id") === col("dead_id"), "left_anti")
    untouched.unionByName(Dedup.componentsOn(
      affEdges.select(col("a_id").as("doc_id_1"), col("b_id").as("doc_id_2"))))
  }

  private[graft] def repairCorenessUnderDeletion(corMap: DataFrame,
      edges: DataFrame, dead: DataFrame): DataFrame = {
    val seeds = edges
      .join(broadcast(dead), col("b_id") === col("dead_id"), "left_semi")
      .select(col("a_id").as("id"))
      .unionByName(edges
        .join(broadcast(dead), col("a_id") === col("dead_id"), "left_semi")
        .select(col("b_id").as("id")))
      .join(broadcast(dead), col("id") === col("dead_id"), "left_anti")
    val survivorEdges = edges
      .join(broadcast(dead), col("a_id") === col("dead_id"), "left_anti")
      .join(broadcast(dead), col("b_id") === col("dead_id"), "left_anti")
    val baseSurv = corMap
      .join(broadcast(dead), col("s_suppkey") === col("dead_id"), "left_anti")
    maintainCorenessLocal(baseSurv, survivorEdges, seeds)
  }

  /** [[graphCorenessSql]] over the surviving records — the full-survivor
    * peel the served-deletion decomposition law equals.
    */
  val graphCorenessServedDelSql: String = graphCorenessSqlOver(
    s"\n    AND a.s_suppkey % $DelMod <> $DelRes AND b.s_suppkey % $DelMod <> $DelRes")

  /** [[graphKcoreServed]] under DELETION — derived from the SAME
    * deletion-aware decomposition as [[graphCorenessServedDel]]
    * (membership ≡ coreness ≥ k, the map identity), so the two deletion
    * entries share one recompute and cannot drift. Oracle: the
    * two-threshold peel over the surviving records.
    */
  def graphKcoreServedDel(spark: SparkSession, dir: String): DataFrame =
    graphCorenessServedDelFrames(spark,
      StoreCatalog.key(spark, dir),
      Tables.supplier(spark, dir), "s_suppkey", "s_name")
      .select(col("s_suppkey"),
        (col("coreness") >= 2).as("core2"), (col("coreness") >= 3).as("core3"))
      .orderBy("s_suppkey")

  val graphKcoreServedDelSql: String = graphKcoreSqlOver(
    s"\n    AND a.s_suppkey % $DelMod <> $DelRes AND b.s_suppkey % $DelMod <> $DelRes")

  // ---- the diagnostics family's serving cells (r17 verdict #4) ----------

  /** The persisted (degree, triangle-count) map beside the edge store —
    * the diagnostics family's [[storedCorenessMap]] twin: the wedge
    * close (the 44.5 s term at the 100× probe) runs ONCE at map build,
    * and every served read is a map scan, repaired or folded
    * incrementally below. Built once per corpus key.
    */
  private[graft] def storedTriangleMap(spark: SparkSession, key: String,
      names: => DataFrame, idCol: String, nameCol: String): DataFrame = {
    val st = linkStores(spark, key, names, idCol, nameCol)
    StoreCatalog.parquet(spark, "graft_link_store", key + "_triangles") {
      degreeTriangleMapOn(spark.read.parquet(st.edgesPath)
        .select(col("a_id"), col("b_id")))
    }
  }

  /** LOCAL triangle/degree maintenance under DELETION — the r16
    * verdict's #4: a deleted node removes exactly the triangles it
    * participates in, and edges die only through dead endpoints, so
    * survivor-only triangles are untouched. The lost set enumerates as
    * wedges CENTERED on dead nodes closed against the stored edge list
    * (one self-join of the dead adjacency + one semi-join — work ∝ the
    * takedown batch's wedge volume, never the graph's), counted once
    * per triangle via the sorted-triple distinct (a triangle with 2–3
    * dead members is found from each dead center). Survivor degrees
    * drop by their dead-neighbor counts — the same takedown-bounded
    * frame. Exactness law (`GraphTrianglesSpec`): output ≡
    * [[degreeTriangleMapOn]] recomputed from scratch over the survivor
    * edges; nodes that lose their last edge drop out, as a rebuild
    * drops them.
    *
    * Scale (100 TB): the tombstone batch broadcasts; the dead adjacency
    * is takedown-bounded; the map join is the map scan every serving
    * read already pays. The `link_triangles_del` probe arm prices the
    * repair against the full wedge-close at 1×/10×/100×.
    */
  private[graft] def maintainTrianglesUnderDeletion(triMap: DataFrame,
      edges: DataFrame, dead: DataFrame): DataFrame = {
    val e = edges.localCheckpoint(eager = false) // consumers: sym, closing semi-join
    val sym = e.select(col("a_id").as("u"), col("b_id").as("v"))
      .unionAll(e.select(col("b_id").as("u"), col("a_id").as("v")))
    val deadAdj = sym
      .join(broadcast(dead), col("u") === col("dead_id"), "left_semi")
      .localCheckpoint(eager = false) // consumers: wedge self-join ×2, degree loss
    val lostTris = deadAdj.as("e1")
      .join(deadAdj.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("d"), col("e1.v").as("x"), col("e2.v").as("y"))
      // close against the NORMALIZED edge list (r17 ADVICE): the store's
      // a_id<b_id invariant is real today (LinkIngest lands via
      // least/greatest) but unchecked here — a non-canonical row would
      // silently undercount lost triangles, so normalize at the join
      .join(e.select(least(col("a_id"), col("b_id")).as("a_id"),
          greatest(col("a_id"), col("b_id")).as("b_id")),
        col("x") === col("a_id") && col("y") === col("b_id"), "left_semi")
      .select(expr("array_sort(array(d, x, y))").as("t"))
      .distinct()
    val losses = lostTris.select(explode(col("t")).as("s_suppkey"))
      .groupBy("s_suppkey").agg(count(lit(1)).as("lost"))
    val degLoss = deadAdj.select(col("v").as("s_suppkey"))
      .groupBy("s_suppkey").agg(count(lit(1)).as("dlost"))
    triMap
      .join(broadcast(dead), col("s_suppkey") === col("dead_id"), "left_anti")
      .join(losses, Seq("s_suppkey"), "left")
      .join(degLoss, Seq("s_suppkey"), "left")
      .select(col("s_suppkey"),
        (col("degree") - coalesce(col("dlost"), lit(0L))).as("degree"),
        (col("n_triangles") - coalesce(col("lost"), lit(0L))).as("n_triangles"))
      .filter(col("degree") >= 1)
  }

  /** The deletion-repaired diagnostics map for the registry corpus —
    * shared by both `_served_del` entries (one repair, two
    * projections, so they cannot drift).
    */
  private[graft] def trianglesRepairedFrames(spark: SparkSession,
      key: String, names: => DataFrame, idCol: String,
      nameCol: String, delMod: Long = DelMod,
      delRes: Long = DelRes): DataFrame = {
    val n = names
    val st = linkStores(spark, key, n, idCol, nameCol)
    val triMap = storedTriangleMap(spark, key, n, idCol, nameCol)
    val dead = landedTombstones(spark, key, n, idCol, delMod, delRes)
    maintainTrianglesUnderDeletion(triMap,
      spark.read.parquet(st.edgesPath).select(col("a_id"), col("b_id")), dead)
  }

  /** [[graphTriangles]] under DELETION, served from the persisted map +
    * the takedown-local repair. Oracle: the ranking chain over the
    * surviving records.
    */
  def graphTrianglesServedDel(spark: SparkSession, dir: String): DataFrame =
    triangleRankingFrom(trianglesRepairedFrames(spark,
      StoreCatalog.key(spark, dir),
      Tables.supplier(spark, dir), "s_suppkey", "s_name"))

  val graphTrianglesServedDelSql: String = graphTrianglesSqlOver(
    s"\n    AND a.s_suppkey % $DelMod <> $DelRes AND b.s_suppkey % $DelMod <> $DelRes")

  /** [[graphClusteringCoeff]] under DELETION — the SAME repaired map
    * normalized (the coefficient is the merge-safety score a pipeline
    * thresholds, so its deletion freshness is the family's point).
    * Oracle: the coefficient chain over the surviving records.
    */
  def graphClusteringCoeffServedDel(spark: SparkSession, dir: String): DataFrame =
    clusteringFrom(trianglesRepairedFrames(spark,
      StoreCatalog.key(spark, dir),
      Tables.supplier(spark, dir), "s_suppkey", "s_name"))

  val graphClusteringCoeffServedDelSql: String = graphClusteringCoeffSqlOver(
    s"\n    AND a.s_suppkey % $DelMod <> $DelRes AND b.s_suppkey % $DelMod <> $DelRes")

  /** Fold batch `id`'s landed LinkIngest edges into a per-batch
    * (degree, triangle-count) snapshot — the diagnostics family's
    * INSERT maintenance: a new edge creates exactly the triangles
    * through wedges at its two endpoints, so the gained set is the
    * batch's edges equi-joined twice against the accumulated adjacency
    * (batch-bounded work), counted once per triangle via the
    * sorted-triple distinct (an all-new triangle is found from each of
    * its new edges); degrees are additive per batch endpoint. The law
    * (`LinkIngestSpec`): snapshot after any prefix ≡
    * [[degreeTriangleMapOn]] over all edges landed so far — exact
    * because the store's first-derivable-once layout makes batch
    * partitions disjoint, so "new triangle" ≡ "contains ≥ 1 batch
    * edge".
    *
    * Priced at BOTH batch shapes (100×, PLANS.md r17/r18): the
    * production-shaped sparse batch (`link_triangles_fold_sparse`,
    * 0.18% of edges) folds in 6.5 s and the adversarial corpus-third
    * batch (`link_triangles_fold`) in 43.2 s — both beat the 65.2 s
    * full wedge-close, so unlike the coreness fold there is no
    * dispatch: the fold wins at every measured batch shape (at a
    * corpus-third, ~2/3 of wedge volume is batch-incident — near the
    * full close's work by construction — yet the equi-join form still
    * clears it).
    */
  private[graft] def foldTrianglesSnapshot(spark: SparkSession,
      store: graft.streaming.LinkIngest.LinkStores,
      triPath: String, id: Long): Unit = {
    val newEdges = spark.read.parquet(s"${store.edgesPath}/batch_id=$id")
      .select(col("a_id"), col("b_id"))
      .localCheckpoint(eager = false) // consumers: wedge joins, degree gain
    val snapshot =
      if (id == 0) degreeTriangleMapOn(newEdges)
      else {
        val prev = spark.read.parquet(s"$triPath/batch_id=${id - 1}")
        val all = graft.Maintenance.readAsOf(spark, store.edgesPath, id)
          .select(col("a_id"), col("b_id"))
          .localCheckpoint(eager = false) // consumers: both wedge sides
        val sym = all.select(col("a_id").as("u"), col("b_id").as("v"))
          .unionAll(all.select(col("b_id").as("u"), col("a_id").as("v")))
        val gained = newEdges
          .join(sym.select(col("u").as("a_id"), col("v").as("w")), Seq("a_id"))
          .join(sym.select(col("u").as("b_id"), col("v").as("w")),
            Seq("b_id", "w"))
          .select(expr("array_sort(array(a_id, b_id, w))").as("t"))
          .distinct()
          .select(explode(col("t")).as("s_suppkey"))
          .groupBy("s_suppkey").agg(count(lit(1)).as("tgain"))
        val dgain = newEdges
          .select(explode(array(col("a_id"), col("b_id"))).as("s_suppkey"))
          .groupBy("s_suppkey").agg(count(lit(1)).as("dgain"))
        // every triangle-gaining node is adjacent to a batch edge, so it
        // appears in prev (old edges) or dgain (batch endpoints) — the
        // full-outer spine is total for the left join
        prev
          .join(dgain, Seq("s_suppkey"), "full_outer")
          .join(gained, Seq("s_suppkey"), "left")
          .select(col("s_suppkey"),
            (coalesce(col("degree"), lit(0L)) +
              coalesce(col("dgain"), lit(0L))).as("degree"),
            (coalesce(col("n_triangles"), lit(0L)) +
              coalesce(col("tgain"), lit(0L))).as("n_triangles"))
      }
    snapshot.write.mode("overwrite").parquet(s"$triPath/batch_id=$id")
  }

  /** [[graphTriangles]] with the map maintained INCREMENTALLY on ingest
    * — the read is the last snapshot's ranking: fresh through the last
    * landed batch, zero read-time wedge work. With every batch landed
    * the snapshot covers the full fuzzy graph, so the entry shares
    * [[graphTrianglesSql]] verbatim.
    */
  def graphTrianglesServedInc(spark: SparkSession, dir: String): DataFrame =
    triangleRankingFrom(trianglesIncSnapshot(spark,
      StoreCatalog.key(spark, dir) + "_incmap",
      Tables.supplier(spark, dir), "s_suppkey", "s_name"))

  /** [[graphClusteringCoeff]] from the same ingest-fresh snapshot. */
  def graphClusteringCoeffServedInc(spark: SparkSession, dir: String): DataFrame =
    clusteringFrom(trianglesIncSnapshot(spark,
      StoreCatalog.key(spark, dir) + "_incmap",
      Tables.supplier(spark, dir), "s_suppkey", "s_name"))

  private[graft] def trianglesIncSnapshot(spark: SparkSession, key: String,
      names: => DataFrame, idCol: String, nameCol: String): DataFrame = {
    val base = linkIncStores(spark, key, names, idCol, nameCol)
    spark.read.parquet(s"$base/triangles/batch_id=2")
  }

  /** The diagnostics family's INC + DEL composition (r17 verdict #4) —
    * the coreness tier's compose-at-read rule
    * ([[graphCorenessServedIncDelFrames]]) on the (degree, triangles)
    * map: the fold chain stays insert-only
    * ([[foldTrianglesSnapshot]] per landed batch), and the landed
    * takedown batch composes AT READ via
    * [[maintainTrianglesUnderDeletion]]'s takedown-local wedge repair.
    * Snapshot ≡ [[degreeTriangleMapOn]] over all landed edges
    * (`LinkIngestSpec`'s fold law) and the repair ≡ the survivor
    * recompute (`GraphTrianglesSpec`'s exactness law), so the composed
    * read shares the survivor oracles verbatim — the same truth that
    * gates the map-serving deletion cells, reached ingest-fresh.
    *
    * Scale (100 TB): the fold chain rides the ingest cadence at
    * O(batch wedges); since r19 the root is COMPACTED
    * ([[linkIncCompactedStores]]) so the read is one map scan + a wedge
    * repair bounded by takedowns landed since compaction (empty at
    * registry cadence) — the batch's wedge repair ran once, in the
    * compaction fold.
    */
  private[graft] def trianglesIncDelFrames(spark: SparkSession, key: String,
      names: => DataFrame, idCol: String, nameCol: String): DataFrame = {
    val base = linkIncCompactedStores(spark, key, names, idCol, nameCol)
    maintainTrianglesUnderDeletion(
      spark.read.parquet(s"$base/triangles/batch_id=2"),
      graft.Maintenance.readAsOf(spark, s"$base/edges", 2L)
        .select(col("a_id"), col("b_id")),
      spark.read.parquet(s"$base/tombs").select("dead_id"))
  }

  /** [[graphTrianglesServedInc]] with the takedown batch composed at
    * read. Oracle: the ranking chain over the surviving records.
    */
  def graphTrianglesServedIncDel(spark: SparkSession, dir: String): DataFrame =
    triangleRankingFrom(trianglesIncDelFrames(spark,
      StoreCatalog.key(spark, dir) + "_incmap",
      Tables.supplier(spark, dir), "s_suppkey", "s_name"))

  /** [[graphClusteringCoeff]] SERVED from the persisted
    * (degree, n_triangles) map — the diagnostics family's plain served
    * cell (the matrix previously served the coefficient only through
    * its inc/del columns; the ranking entry [[graphTrianglesServed]]
    * re-ran the wedge close over stored edges). One map scan + the
    * normalization projection; [[storedTriangleMap]] ≡
    * [[degreeTriangleMapOn]] over the stored pair graph by
    * construction, so the entry shares [[graphClusteringCoeffSql]]
    * verbatim.
    */
  def graphClusteringCoeffServed(spark: SparkSession, dir: String): DataFrame =
    clusteringFrom(storedTriangleMap(spark,
      StoreCatalog.key(spark, dir),
      Tables.supplier(spark, dir), "s_suppkey", "s_name"))

  /** [[graphClusteringCoeffServedInc]] with the takedown batch composed
    * at read — the SAME repaired map normalized.
    */
  def graphClusteringCoeffServedIncDel(spark: SparkSession,
      dir: String): DataFrame =
    clusteringFrom(trianglesIncDelFrames(spark,
      StoreCatalog.key(spark, dir) + "_incmap",
      Tables.supplier(spark, dir), "s_suppkey", "s_name"))

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "fuzzy_join" -> (fuzzyJoin _, fuzzyJoinSql),
    "fuzzy_join2" -> (fuzzyJoin2 _, fuzzyJoin2Sql),
    "fuzzy_join_incremental" -> (fuzzyJoinIncremental _, fuzzyJoinIncrementalSql),
    "entity_groups" -> (entityGroups _, entityGroupsSql),
    "entity_groups_served" -> (entityGroupsServed _, entityGroupsSql),
    "entity_groups_served_inc" -> (entityGroupsServedInc _, entityGroupsSql),
    "entity_groups_served_del" -> (entityGroupsServedDel _, entityGroupsServedDelSql),
    "entity_groups_served_incdel" ->
      (entityGroupsServedIncDel _, entityGroupsServedDelSql),
    "graph_triangles" -> (graphTriangles _, graphTrianglesSql),
    "graph_triangles_served" -> (graphTrianglesServed _, graphTrianglesSql),
    "graph_triangles_served_del" ->
      (graphTrianglesServedDel _, graphTrianglesServedDelSql),
    "graph_triangles_served_inc" ->
      (graphTrianglesServedInc _, graphTrianglesSql),
    "graph_triangles_served_incdel" ->
      (graphTrianglesServedIncDel _, graphTrianglesServedDelSql),
    "graph_clustering_coeff" ->
      (graphClusteringCoeff _, graphClusteringCoeffSql),
    "graph_clustering_coeff_served" ->
      (graphClusteringCoeffServed _, graphClusteringCoeffSql),
    "graph_clustering_coeff_served_del" ->
      (graphClusteringCoeffServedDel _, graphClusteringCoeffServedDelSql),
    "graph_clustering_coeff_served_inc" ->
      (graphClusteringCoeffServedInc _, graphClusteringCoeffSql),
    "graph_clustering_coeff_served_incdel" ->
      (graphClusteringCoeffServedIncDel _, graphClusteringCoeffServedDelSql),
    "graph_kcore" -> (graphKcore _, graphKcoreSql),
    "graph_kcore_served" -> (graphKcoreServed _, graphKcoreSql),
    "graph_coreness" -> (graphCoreness _, graphCorenessSql),
    "graph_coreness_hindex" -> (graphCorenessHindex _, graphCorenessHindexSql),
    "graph_coreness_served" -> (graphCorenessServed _, graphCorenessSql),
    "graph_coreness_served_inc" -> (graphCorenessServedInc _, graphCorenessSql),
    "graph_kcore_served_inc" -> (graphKcoreServedInc _, graphKcoreSql),
    "graph_coreness_served_incdel" ->
      (graphCorenessServedIncDel _, graphCorenessServedDelSql),
    "graph_kcore_served_incdel" ->
      (graphKcoreServedIncDel _, graphKcoreServedDelSql),
    "graph_coreness_served_del" ->
      (graphCorenessServedDel _, graphCorenessServedDelSql),
    "graph_kcore_served_del" ->
      (graphKcoreServedDel _, graphKcoreServedDelSql))
}
