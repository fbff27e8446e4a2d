package graft

import graft.analytics.RetrievalAnalytics
import graft.similarity.PqAnn

/** Laws for the residual-PQ serving tier (r13 review's #7 ask):
  *  1. served ≡ `knn_ivf_pq_residual` bit-for-bit (shared residual
  *     training/encode via `pqResidualArtifacts`, shared coarse
  *     assignment; since r19 the serve side scores through the
  *     DECOMPOSED tables — `residualDtabSplit` — while the in-plan
  *     reference keeps the monolithic per-(query, cell) `residualDtab`,
  *     so this law now gates the decomposition identity end-to-end,
  *     reported d2 included);
  *  2. the residual code store keeps `knn_served_pq`'s payload law —
  *     two packed longs = 16 bytes/vector — and pack/unpack
  *     round-trips every residual code;
  *  3. the serve plan reads the residual code store through a static
  *     partition filter (the `knn_served` pruning law).
  */
class PqResServedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("knn_served_pq_residual ≡ knn_ivf_pq_residual bit-for-bit; pruned scan") {
    val served = RetrievalAnalytics.knnServedPqResidual(spark, dir)
    val inPlan = PqAnn.knnIvfPqResidual(spark, dir)
    val s = served.collect().map(_.toString).toSeq
    val p = inPlan.collect().map(_.toString).toSeq
    assert(s.nonEmpty && s == p)
    val plan = served.queryExecution.executedPlan.toString
    val codeScan = plan.linesIterator
      .filter(l => l.contains("pqrescodes") && l.contains("FileScan"))
      .mkString("\n")
    assert(codeScan.contains("PartitionFilters: [centroid_id"),
      "residual codes scan must be partition-pruned:\n" + codeScan)
  }

  test("decomposed tables ≡ monolithic tables: adj + Σ(bt+ct) = Σ(dt) per (query, member cell)") {
    import org.apache.spark.sql.functions._
    import graft.similarity.{IvfTrained, KMeansExact}
    val emb = Tables.embeddings(spark, dir)
    val qSq = IvfTrained.scaledQuantized(emb.filter(col("vec_id") % 100 === 0))
      .select(col("vec_id").as("query_id"), col("sqv"))
    val cents = KMeansExact.centroidsPacked(emb)
    val probes = IvfTrained.probesOn(
      qSq.select(col("query_id").as("vec_id"), col("sqv")), cents,
      IvfTrained.NProbe)
    val a = PqAnn.pqResidualArtifacts(emb)
    // the monolithic per-(query, cell) tables, summed per (q, c, code path):
    // compare the two spellings on the FULL (sub, code) lattice so every
    // possible member code path is covered, not just landed codes
    val mono = PqAnn.residualDtab(probes, qSq, cents, a.codebook)
      .groupBy("query_id", "centroid_id", "sub", "code")
      .agg(first(col("dt")).as("dt"))
    val (qtab, ctab, adj) = PqAnn.residualDtabSplit(probes, qSq, cents, a.codebook)
    val split = qtab.join(ctab, Seq("sub", "code"))
      .join(adj, Seq("query_id", "centroid_id"))
      // adj spreads over M subs: compare M·dt_split = M·(bt+ct) + adj vs
      // the monolithic side aggregated the same way below
      .groupBy("query_id", "centroid_id", "sub", "code")
      .agg(first(col("bt") + col("ct")).as("bc"), first(col("adj")).as("adj"))
    val joined = mono.join(split, Seq("query_id", "centroid_id", "sub", "code"))
      .groupBy("query_id", "centroid_id")
      .agg(sum(col("dt")).as("sdt"), sum(col("bc")).as("sbc"),
        first(col("adj")).as("adj"), count(lit(1)).as("n"))
      .collect()
    assert(joined.nonEmpty)
    // summed over the full lattice: Σ_lattice dt = Σ_lattice (bt+ct) + K·adj
    // per cell (each of the M subs contributes the adj telescoping once
    // per code, K codes per sub ⇒ K·adj over the lattice)
    joined.foreach { r =>
      val sdt = r.getAs[Long]("sdt"); val sbc = r.getAs[Long]("sbc")
      val adjv = r.getAs[Long]("adj"); val n = r.getAs[Long]("n")
      val k = n / 16 // codes per sub on the lattice
      assert(sdt == sbc + k * adjv,
        s"decomposition identity failed for ${r.getAs[Long]("query_id")}/" +
          s"${r.getAs[Long]("centroid_id")}: $sdt != $sbc + $k*$adjv")
    }
  }

  test("packed residual codes: 2 longs/vector, unpack ≡ enc") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, dir)
    val enc = PqAnn.pqResidualArtifacts(emb).enc
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
