package graft

import graft.dedup.Linkage
import graft.sources.{LinkStore, StoreCatalog}
import org.apache.spark.sql.functions._

/** Laws for the persisted linkage index (r12 review's #1 ask):
  *  1. the incremental probe's stored-index side plans WITHOUT an
  *     exchange (the point of bucketing a 100 TB key index);
  *  2. probe-then-verify over the store ≡ the brute new×corpus filter;
  *  3. the served graph entries read edges that are EXACTLY the in-plan
  *     [[Linkage.fuzzyJoinOn]] output, so components/triangles served ≡
  *     their in-plan twins bit-for-bit.
  */
class LinkStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("incremental probe: index side exchange-free, pairs ≡ brute") {
    val sup = Tables.supplier(spark, dir)
    val keyed = Linkage.deletionKeyIndex(sup, "s_suppkey", "s_name")
      .localCheckpoint()
    LinkStore.write(keyed,
      Linkage.fuzzyJoinOn(sup, "s_suppkey", "s_name"),
      LinkStore.at("spec", StoreCatalog.root("graft_link_store", "spec"), 4))
    try {
      val isNew = col("k_id") % 10 === 3
      val cands = LinkStore.candidates(spark, "link_keys_spec",
        keyed.filter(isNew), col("k_id") % 10 =!= 3)
      // a small probe batch broadcasts: ZERO hash exchanges anywhere —
      // the index never moves
      val bPlan = cands.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(bPlan).isEmpty,
        "broadcast-probe plan must be hash-exchange-free:\n" + bPlan.take(2000))
      // a big probe batch (broadcast disabled) shuffles ONLY ITSELF to
      // the bucket count; the stored index reads co-located buckets
      val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val sPlan = LinkStore.candidates(spark, "link_keys_spec",
            keyed.filter(isNew), col("k_id") % 10 =!= 3)
          .queryExecution.executedPlan.toString
        val exchanges = "Exchange hashpartitioning".r.findAllIn(sPlan).length
        assert(exchanges == 1,
          s"expected 1 exchange (probe side only), got $exchanges:\n" + sPlan.take(2000))
        assert(sPlan.contains("Bucketed: true"),
          "store side must read its buckets in place:\n" + sPlan.take(2000))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

      val got = cands
        .withColumn("dist", levenshtein(col("new_name"), col("corpus_name")))
        .filter(col("dist") <= 1)
        .select("new_id", "corpus_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = sup.filter(col("s_suppkey") % 10 === 3)
        .select(col("s_suppkey").as("new_id"), col("s_name").as("new_name"))
        .join(sup.filter(col("s_suppkey") % 10 =!= 3)
          .select(col("s_suppkey").as("corpus_id"), col("s_name").as("corpus_name")),
          levenshtein(col("new_name"), col("corpus_name")) <= 1)
        .select("new_id", "corpus_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(brute.nonEmpty && got == brute)
    } finally spark.sql("DROP TABLE IF EXISTS link_keys_spec")
  }

  test("served graph entries ≡ in-plan twins bit-for-bit") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    assert(rows(Linkage.entityGroupsServed(spark, dir)) ==
      rows(Linkage.entityGroups(spark, dir)))
    assert(rows(Linkage.graphTrianglesServed(spark, dir)) ==
      rows(Linkage.graphTriangles(spark, dir)))
    // the incremental entry agrees with the full in-plan join restricted
    // to (new, corpus) pairs — every stored-index answer is also an
    // in-plan answer and vice versa
    val inc = Linkage.fuzzyJoinIncremental(spark, dir)
      .select("new_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Linkage.fuzzyJoinOn(Tables.supplier(spark, dir), "s_suppkey", "s_name")
      .select(col("a_id"), col("b_id"))
      .collect().flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .filter { case (n, c) => n % 10 == 3 && c % 10 != 3 }
      .toSet
    assert(inc.nonEmpty && inc == full)
  }
}
