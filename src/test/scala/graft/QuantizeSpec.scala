package graft

import graft.similarity.Quantize

/** Laws of the symmetric int8 embedding quantizer. */
class QuantizeSpec extends SparkSpec {

  test("reconstruction error is bounded by qscale/2; zero vectors are exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (0L until 20L).map {
      case 7L => (7L, Array.fill(64)(0f)) // zero vector: scale 0, error 0
      case i  => (i, Array.fill(64)(rnd.nextFloat() * 4 - 2))
    }
    val tmp = java.nio.file.Files.createTempDirectory("quant").toString
    rows.toDF("vec_id", "embedding").write.parquet(s"$tmp/embeddings.parquet")
    val out = Quantize.embeddingQuantize(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out.size == 20)
    // nearest-level quantization: every element lands within half a step
    out.foreach { case (id, (scale, err)) =>
      assert(err <= scale / 2 + 1e-12, s"vec $id: err $err > scale/2 ${scale / 2}")
    }
    assert(out(7L) == (0.0, 0.0))
    // non-degenerate: random vectors actually incur quantization error
    assert(out.filterNot(_._1 == 7L).values.forall(_._2 > 0.0))
  }

  test("knn_quantized: k exact-cosine-ranked rows per query off the int8 tier") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = Quantize.knnQuantized(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))

    // exactly TopK rows per query, ranks 1..k, scores descending
    val byQuery = out.groupBy(_._1)
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 10, s"query $q returned ${rows.length} rows")
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to 10))
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-_).toSeq)
    }

    // the reported cosine is the EXACT float-tier cosine, not the int8
    // approximation: recompute per output pair from the float vectors
    val e = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    out.foreach { case (q, n, _, c) =>
      assert(java.lang.Double.doubleToLongBits(c)
        == java.lang.Double.doubleToLongBits(cos(e(q), e(n))), s"pair ($q,$n)")
    }
  }
}
