package graft

import graft.similarity.PqAnn
import org.apache.spark.sql.functions._

/** Laws for the variance-balanced PQ permutation:
  *  1. the dim map is a PERMUTATION partitioned into M subspaces of d
  *     dims each, with j covering 0..d−1 in every subspace (the shape
  *     the gather-based sub-vector build and the oracle's position join
  *     both rely on);
  *  2. the snake deal is EXACTLY balanced: with d even, every subspace's
  *     variance-rank sum is the same constant (m·d²/2 − d/2 over
  *     0-based ranks) — the property that spreads a decaying spectrum
  *     instead of concentrating it;
  *  3. the balanced entry keeps the knn_pq256 output contract (top-10
  *     per query, ADC distances) on the real corpus.
  */
class PqBalancedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("dim map: permutation, d dims per subspace, equal rank sums") {
    val emb = Tables.embeddings(spark, dir)
    val dm = PqAnn.balancedDimMap(emb, PqAnn.K256)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    assert(dm.map(_._1).sorted.toSeq == (1 to 64))
    val bySub = dm.groupBy(_._2)
    assert(bySub.size == 16 && bySub.values.forall(_.length == 4))
    assert(bySub.values.forall(_.map(_._3).sorted.toSeq == Seq(0, 1, 2, 3)))
    // snake balance: sub s holds 0-based ranks {s, 31−s, 32+s, 63−s} —
    // the rank sum is 126 for EVERY subspace
    val ranks = dm.map { case (_, sub, j) => (sub, j) }
    // reconstruct each dim's 0-based rank from (sub, j) by inverting the
    // snake: rank = j*16 + (j even ? sub : 15 − sub)
    val sums = ranks.groupBy(_._1).view.mapValues(_.map { case (sub, j) =>
      j * 16 + (if (j % 2 == 0) sub else 15 - sub)
    }.sum).toMap
    assert(sums.values.toSet == Set(126), s"rank sums: $sums")
  }

  test("knn_served_pq_balanced ≡ knn_pq256_balanced bit-for-bit") {
    val served = PqAnn.knnServedPqBalanced(spark, dir)
      .collect().map(_.toString).toSeq
    val inPlan = PqAnn.knnPqBalancedOn(Tables.embeddings(spark, dir))
      .collect().map(_.toString).toSeq
    assert(served.nonEmpty && served == inPlan)
  }

  test("balanced entry keeps the knn_pq256 contract on the real corpus") {
    val out = PqAnn.knnPqBalancedOn(Tables.embeddings(spark, dir)).collect()
    val perQuery = out.groupBy(_.getLong(0))
    assert(perQuery.nonEmpty && perQuery.values.forall(_.length == 10))
    assert(out.forall(_.getLong(3) >= 0L)) // ADC d2 is a sum of squares
  }
}
