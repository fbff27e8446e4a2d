package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Laws for tombstone deletion on the dedup-side served graph (the
  * `entity_groups_served_del` symmetry on the MinHash tier):
  *  1. the served deletion entry ≡ near-dup components recomputed FROM
  *     SCRATCH over the surviving documents;
  *  2. deleting a bridge document SPLITS its component (membership is
  *     not monotone under edge removal);
  *  3. a survivor orphaned by deletion drops out, and untouched
  *     components pass through from the persisted component map.
  *
  * Synthetic fixture arithmetic (3-word shingles): 30-token docs
  * shifted by 2 tokens share 26 of their 28 shingles pairwise —
  * J = 26/30 ≈ 0.867 ≥ 0.8; shifted by ≥4, J ≤ 24/32 = 0.75 < 0.8.
  * So a token-stream chain links exactly its consecutive members.
  */
class DedupDeleteSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def chainDoc(id: Long, start: Int): (Long, String) =
    (id, (start until start + 30).map(i => s"tok$i").mkString(" "))

  test("served deletion ≡ from-scratch rebuild over survivors (sf0.001)") {
    val docs = Tables.documents(spark, dir)
    val served = Dedup.dedupComponentsServedDel(spark, dir)
      .collect().map(_.toString).toSeq
    val survivors = docs.filter(col("doc_id") % Dedup.DocDelMod =!= Dedup.DocDelRes)
    val scratch = Dedup.componentsOn(
        Dedup.dedupMinhashOn(Dedup.shingleSets(survivors)))
      .orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(served.nonEmpty && served == scratch)
    // the rule really deleted someone who had edges, or this proves nothing
    val undeleted = Dedup.dedupComponentsServed(spark, dir)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(served != undeleted)
  }

  test("deleting a bridge document splits its component") {
    import spark.implicits._
    // 5-doc chain 1-2-4-6-7 (consecutive J≈0.867, others ≤0.75);
    // id 4 ≡ 4 (mod 9) is tombstoned — the bridge. From-scratch over
    // survivors: {1,2} and {6,7}.
    val docs = Seq(
      chainDoc(1L, 0), chainDoc(2L, 2), chainDoc(4L, 4),
      chainDoc(6L, 6), chainDoc(7L, 8))
      .toDF("doc_id", "text")
    val key = "specdedupdel_" + System.nanoTime()
    val got = Dedup.dedupComponentsServedDelFrames(spark, key, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == Seq((1L, 1L, true), (2L, 1L, false),
      (6L, 6L, true), (7L, 6L, false)))
  }

  test("a survivor orphaned by deletion drops out; untouched groups pass through") {
    import spark.implicits._
    // pair (3, 13) with 13 tombstoned: 3 loses its only edge and must
    // vanish; pair (1, 2) is untouched and passes through (disjoint
    // token alphabets keep the two pairs unlinked)
    val docs = Seq(
      chainDoc(1L, 0), chainDoc(2L, 2),
      (3L, (100 until 130).map(i => s"tok$i").mkString(" ")),
      (13L, (102 until 132).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val key = "specdeduporph_" + System.nanoTime()
    val got = Dedup.dedupComponentsServedDelFrames(spark, key, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == Seq((1L, 1L, true), (2L, 1L, false)))
  }
}
