package graft

import graft.similarity.LabelEval
import org.apache.spark.sql.functions._

/** Structural + planted-data laws for the label-aware evaluation tier
  * beyond the oracle (kcenter_select / hard_negatives /
  * label_error_margin / knn_label_acc).
  */
class LabelEvalSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** A tiny embeddings-shaped frame: (vec_id, label, embedding). */
  private def emb(rows: (Long, Int, Seq[Float])*) =
    rows.toSeq.toDF("vec_id", "label", "embedding")

  test("kcenter greedy invariants: seed is min pool id, radius non-increasing, picks distinct and in-pool") {
    val rows = LabelEval.kcenterSelect(spark, dir)
      .select("sel_rank", "vec_id", "min_d2")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 10)
    assert(rows.map(_._1).toSeq == (1L to 10L), "rank gaps")
    assert(rows.map(_._2).distinct.length == rows.length, "duplicate picks")
    assert(rows.forall(_._2 % 10 == 0), "pick outside the pool rule")
    // seed = smallest pool id with covering distance 0 by convention
    assert(rows.head._2 == 0L && rows.head._3 == 0L)
    // Gonzalez law: the farthest-point distance is non-increasing — each
    // added center can only shrink every candidate's min-distance
    rows.drop(1).sliding(2).foreach {
      case Array((_, _, a), (r, _, b)) =>
        assert(b <= a, s"covering radius grew at rank $r: $a -> $b")
      case _ =>
    }
    assert(rows.last._3 > 0L, "degenerate pool: all points identical")
  }

  test("kcenter planted law: an isolated far point is picked second") {
    // pool = ids 0,10,20,30 (mod-10 rule). 0/10/20 cluster tightly at the
    // origin; 30 sits far away — Gonzalez must take it right after the seed.
    val near = Seq.fill(63)(0.001f)
    val e = emb(
      (0L, 0, 0.000f +: near), (10L, 0, 0.002f +: near),
      (20L, 0, 0.003f +: near), (30L, 1, 9.0f +: Seq.fill(63)(5.0f)),
      (7L, 0, 99.0f +: near)) // not mod-10: must never appear
    val rows = LabelEval.kcenterSelectOn(e)
      .select("sel_rank", "vec_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._2).head == 0L)
    assert(rows(1)._2 == 30L, s"far point not picked second: ${rows.toSeq}")
    assert(!rows.map(_._2).contains(7L), "non-pool id selected")
    assert(rows.length == 4, "selection exceeded the pool size")
  }

  test("hard negatives: every mined neighbor has a different label, ranked by cosine") {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val rows = LabelEval.hardNegatives(spark, dir)
      .select("query_id", "query_label", "neighbor_id", "rank", "cosine")
      .as[(Long, Int, Long, Int, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (q, ql, n, _, _) =>
      assert(labels(q) == ql, s"anchor $q label mismatch")
      assert(labels(n) != ql, s"negative $n shares anchor $q's label — not a negative")
    }
    // per anchor: ranks 1..k, cosine non-increasing in rank
    rows.groupBy(_._1).foreach { case (q, g) =>
      val byRank = g.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to g.length), s"anchor $q rank gaps")
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a._5 >= b._5, s"anchor $q cosine not sorted")
        case _ =>
      }
    }
  }

  test("label_error_margin planted law: the one mislabeled vector is the top suspect") {
    // two tight clusters; vec 5 sits in cluster B but carries label 0
    val a = Seq.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val b = Seq.tabulate(64)(i => if (i == 1) 1.0f else 0.0f)
    def jit(v: Seq[Float], d: Float) = v.updated(63, d)
    val e = emb(
      (1L, 0, jit(a, 0.001f)), (2L, 0, jit(a, 0.002f)), (3L, 0, jit(a, 0.003f)),
      (6L, 1, jit(b, 0.001f)), (7L, 1, jit(b, 0.002f)), (8L, 1, jit(b, 0.003f)),
      (5L, 0, jit(b, 0.004f))) // mislabeled: B-cluster geometry, label 0
    val rows = LabelEval.labelErrorMarginOn(e)
      .select("vec_id", "label", "pred_label", "own_d2", "other_d2", "margin")
      .as[(Long, Int, Int, Long, Long, Long)].collect()
    val top = rows.maxBy(_._6)
    assert(top._1 == 5L, s"top suspect is ${top._1}, expected the planted mislabel")
    assert(top._3 == 1, "suspect's predicted label should be the rival cluster")
    assert(top._6 > 0L, "planted mislabel has non-positive margin")
    // margin identity + correctly-labeled vectors predict their own label
    rows.foreach { case (id, l, p, own, other, m) =>
      assert(m == own - other, s"margin identity broken at $id")
      if (id != 5L) assert(p == l, s"clean vector $id predicted $p != $l")
    }
  }

  test("knn_label_acc: counts are consistent and planted clusters score 100%") {
    // registry frame: n_correct <= n_eval, n_eval sums to the eval-set size
    val acc = LabelEval.knnLabelAcc(spark, dir)
      .select("label", "n_eval", "n_correct").as[(Int, Long, Long)].collect()
    assert(acc.nonEmpty)
    acc.foreach { case (l, n, c) => assert(c >= 0 && c <= n, s"label $l: $c/$n") }
    val evalN = Tables.embeddings(spark, dir).filter(col("vec_id") % 20 === 0).count()
    assert(acc.map(_._2).sum == evalN, "eval vectors lost or duplicated")
    // planted: two clean 8-vector clusters, eval ids 0 and 20. k=10
    // neighbors of an eval vector = 7 own-cluster (cosine ≈ 1) + 3
    // rival-cluster fillers → own label wins the vote 7–3 in both.
    val a = Seq.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val b = Seq.tabulate(64)(i => if (i == 1) 1.0f else 0.0f)
    def jit(v: Seq[Float], d: Float) = v.updated(63, d)
    val e = emb(
      (0L to 7L).map(i => (i, 0, jit(a, 0.001f * (i + 1)))) ++
      (20L to 27L).map(i => (i, 1, jit(b, 0.001f * (i - 19)))): _*)
    val withN = e.select(col("vec_id"), col("label"), col("embedding").as("v"),
      expr("vec_dot(embedding, embedding)").as("n2"))
    val planted = LabelEval.knnLabelAccOn(withN)
      .select("label", "n_eval", "n_correct").as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(planted.toSeq == Seq((0, 1L, 1L), (1, 1L, 1L)),
      s"planted clusters misclassified: ${planted.toSeq}")
  }
}
