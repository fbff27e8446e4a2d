package graft

import org.apache.spark.sql.functions._

/** Laws of the native minhash_sig expression. */
class MinHashSigSpec extends SparkSpec {

  test("minhash_sig: length k; set-order independence; min-of-union law") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(10L, 20L, 30L)),
      (2L, Seq(30L, 10L, 20L)),  // same set, different order
      (3L, Seq(10L, 20L)),
      (4L, Seq(30L)))
      .toDF("id", "hs")
      .withColumn("sig", expr("minhash_sig(hs, 32)"))
    val sigs = df.select("id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length == 32)
    assert(sigs(1L) == sigs(2L)) // order-independent
    // min over a union = elementwise min of the parts' signatures
    val merged = sigs(3L).zip(sigs(4L)).map { case (x, y) => math.min(x, y) }
    assert(sigs(1L) == merged.toSeq)
  }

  test("empty and all-null sets have a null signature (no sentinel clique)") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(10L)),
      (2L, Seq.empty[Long]))
      .toDF("id", "hs")
      .withColumn("sig", expr("minhash_sig(hs, 8)"))
    val rows = df.select("id", "sig").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(rows(1L) != null)
    assert(rows(2L) == null)
    val allNull = spark.sql("SELECT minhash_sig(array(cast(null as bigint)), 8) AS s")
      .collect()(0).get(0)
    assert(allNull == null)
  }

  test("identical sets collide in every LSH band; disjoint sets in none") {
    import spark.implicits._
    import graft.functions.TextFeatures.lshBands
    val df = Seq(
      (1L, Seq(1L, 2L, 3L, 4L)),
      (2L, Seq(1L, 2L, 3L, 4L)),
      (3L, Seq(91L, 92L, 93L, 94L)))
      .toDF("id", "hs")
      .withColumn("sig", expr("minhash_sig(hs, 16)"))
      .withColumn("bands", lshBands("sig", 4, 4))
    val bands = df.select("id", "bands").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(bands(1L) == bands(2L))
    assert(bands(1L).intersect(bands(3L)).isEmpty)
  }
}
