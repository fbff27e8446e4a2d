package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Laws of the KMV cardinality sketch: the bounded `kmin_distinct`
  * aggregate must equal the window-rank definition of "k smallest
  * distinct values" under any partitioning (partial-aggregation + merge
  * correctness), return the full distinct set for groups under k, and
  * the (k−1)·2⁶⁰/m estimator must land within its design error on a
  * realistic stream.
  */
class KmvSketchSpec extends SparkSpec {

  private def stream = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // duplicates on purpose: ~800 distinct values per group, drawn 3000×
    (1 to 3000).flatMap { _ =>
      val g = rng.nextInt(3).toLong
      Seq((g, (rng.nextInt(800) + g * 10000).toLong))
    }.toDF("g", "v")
  }

  test("kmin_distinct equals window-ranked distinct minima, any partitioning") {
    val df = stream
    val viaAgg = df.repartition(13)
      .groupBy("g").agg(expr("kmin_distinct(v, 50)").as("mins"))
      .select(col("g"), posexplode(col("mins")))
      .collect().map(_.toString).sorted
    val w = Window.partitionBy("g").orderBy(col("v").asc)
    val viaWindow = df.select("g", "v").distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 50)
      .select(col("g"), (col("rn") - 1).as("pos"), col("v"))
      .collect().map(_.toString).sorted
    assert(viaAgg.toSeq == viaWindow.toSeq)
  }

  test("merge law: per-split sketches re-aggregated equal the one-pass sketch") {
    val df = stream.localCheckpoint()
    val onePass = df.groupBy("g").agg(expr("kmin_distinct(v, 64)").as("mins"))
      .collect().map(_.toString).sorted
    // split → per-split sketch → explode → re-sketch (the KMV
    // mergeability law a streaming tier relies on)
    val merged = df.withColumn("half", col("v") % 2)
      .groupBy("g", "half").agg(expr("kmin_distinct(v, 64)").as("mins"))
      .select(col("g"), explode(col("mins")).as("v"))
      .groupBy("g").agg(expr("kmin_distinct(v, 64)").as("mins"))
      .collect().map(_.toString).sorted
    assert(onePass.toSeq == merged.toSeq)
  }

  test("groups under k return the exact distinct set, ascending") {
    import spark.implicits._
    val out = Seq((1L, 5L), (1L, 3L), (1L, 5L), (1L, 9L))
      .toDF("g", "v")
      .groupBy("g").agg(expr("kmin_distinct(v, 10)").as("mins"))
      .collect()
    assert(out.head.getSeq[Long](1) == Seq(3L, 5L, 9L))
  }

  test("set algebra: component-sketch merge equals the direct union sketch") {
    // The kmv_overlap union rule — slice(sort(union(K(A), K(B))), 1, k) —
    // must equal kmin_distinct over the CONCATENATED stream (the subset
    // law: the k smallest of A ∪ B all appear in K(A) ∪ K(B)). k=50 on
    // ~800-distinct groups forces real trimming on every side.
    val df = stream.localCheckpoint()
    val perG = df.groupBy("g").agg(expr("kmin_distinct(v, 50)").as("mins"))
    val merged = perG.as("a")
      .join(perG.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as("g1"), col("b.g").as("g2"),
        expr("slice(array_sort(array_union(a.mins, b.mins)), 1, 50)").as("u"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    // direct union stream: rows of A tagged to pair (A,B) + rows of B
    val tagged = df.as("l").join(df.select(col("g").as("og")).distinct().as("r"),
        col("l.g") =!= col("r.og"))
      .select(
        when(col("l.g") < col("r.og"), col("l.g")).otherwise(col("r.og")).as("g1"),
        when(col("l.g") < col("r.og"), col("r.og")).otherwise(col("l.g")).as("g2"),
        col("l.v"))
      .groupBy("g1", "g2").agg(expr("kmin_distinct(v, 50)").as("mins"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    assert(merged.keySet == tagged.keySet && merged.keySet.nonEmpty)
    merged.foreach { case (k, u) => assert(u == tagged(k), s"pair $k") }
  }

  test("kmv_overlap: fully-sketched pairs collapse to exact; disjoint pairs survive") {
    import spark.implicits._
    // Sources with < k=256 distinct shingles each ⇒ ku < k for every
    // pair ⇒ estimates must COLLAPSE to the exact columns (the
    // exactness-under-k law). srcC shares no vocabulary ⇒ exercises the
    // zero-intersection LEFT-join/coalesce path.
    def doc(words: Seq[String]): String = words.mkString(" ")
    val docs = Seq(
      ("srcA", doc((1 to 30).map(i => s"w$i"))),
      ("srcA", doc((5 to 40).map(i => s"w$i"))),
      ("srcB", doc((20 to 55).map(i => s"w$i"))),
      ("srcB", doc((25 to 60).map(i => s"w$i"))),
      ("srcC", doc((1 to 35).map(i => s"z$i")))
    ).toDF("source", "text")
    val rows = graft.analytics.TextAnalytics.kmvOverlapOn(docs).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val exactI = r.getLong(r.fieldIndex("n_inter_exact")).toDouble
      val exactU = r.getLong(r.fieldIndex("n_union_exact")).toDouble
      assert(math.abs(r.getDouble(r.fieldIndex("est_inter")) - exactI) < 1e-6)
      assert(math.abs(r.getDouble(r.fieldIndex("est_union")) - exactU) < 1e-6)
      assert(math.abs(r.getDouble(r.fieldIndex("jacc_est"))
        - r.getDouble(r.fieldIndex("jacc_exact"))) < 1e-6)
    }
    val ab = rows.find(r => r.getString(0) == "srcA" && r.getString(1) == "srcB").get
    assert(ab.getLong(ab.fieldIndex("n_inter_exact")) > 0)
    val ac = rows.find(r => r.getString(0) == "srcA" && r.getString(1) == "srcC").get
    assert(ac.getLong(ac.fieldIndex("n_inter_exact")) == 0)
    assert(ac.getDouble(ac.fieldIndex("jacc_exact")) == 0.0)
  }

  test("kmv_overlap estimates land within design error on the sf corpus") {
    // Real corpus: sources exceed k, so this is the ESTIMATION regime.
    // Union error ≈ 1/√254 ≈ 6.3%/σ; allow 4σ as kmv_distinct does.
    val rows = graft.analytics.TextAnalytics.kmvOverlap(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.length == 190, s"20 sources → 190 pairs, got ${rows.length}")
    rows.foreach { r =>
      val relU = r.getDouble(r.fieldIndex("rel_err_union"))
      assert(relU < 0.25, s"${r.getString(0)}/${r.getString(1)}: rel_err_union $relU")
    }
  }

  test("kmv_distinct estimator lands within design error on the sf corpus") {
    val df = graft.analytics.TextAnalytics.kmvDistinct(spark, "/root/testdata/sf0.01")
      .collect()
    assert(df.length == 20)
    // k=256 ⇒ σ ≈ 1/√254 ≈ 6.3%; allow 4σ
    df.foreach { r =>
      val relErr = r.getDouble(r.fieldIndex("rel_err"))
      assert(relErr < 0.25, s"${r.getString(0)}: rel_err $relErr")
    }
  }
}
