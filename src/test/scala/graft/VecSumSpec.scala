package graft

import org.apache.spark.sql.functions._

/** Laws of the native vec_sum aggregate. */
class VecSumSpec extends SparkSpec {

  test("element-wise sums match the driver computation across partial merges") {
    import spark.implicits._
    val rnd  = new scala.util.Random(9)
    val rows = (1 to 200).map(i => (i % 4, Array.fill(8)(rnd.nextFloat())))
    val df = rows.toDF("g", "v").repartition(16) // force partial merges
      .groupBy("g").agg(expr("vec_sum(v)").as("s"))
    val got = df.collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val expect = rows.groupBy(_._1).map { case (g, vs) =>
      g -> (0 until 8).map(d => vs.map(_._2(d).toDouble).sum).toArray
    }
    expect.foreach { case (g, e) =>
      got(g).zip(e).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, s"group $g") }
    }
  }

  test("null vectors are ignored; all-null group sums to null") {
    import spark.implicits._
    val df = Seq(
      (1, Some(Array(1f, 2f))),
      (1, None),
      (2, None))
      .toDF("g", "v")
      .groupBy("g").agg(expr("vec_sum(v)").as("s"))
    val got = df.collect().map(r => r.getInt(0) -> r.get(1)).toMap
    assert(got(1).asInstanceOf[scala.collection.Seq[Double]].toSeq == Seq(1.0, 2.0))
    assert(got(2) == null)
  }

  test("k-means refinement recovers planted clusters") {
    import graft.similarity.Similarity
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // three well-separated directions in 16 dims; 30 noisy members each
    val dirs = Array(
      Array.tabulate(16)(d => if (d < 5) 1f else 0f),
      Array.tabulate(16)(d => if (d >= 5 && d < 11) 1f else 0f),
      Array.tabulate(16)(d => if (d >= 11) 1f else 0f))
    val rows = (0 until 90).map { i =>
      val c = i % 3
      (i.toLong, dirs(c).map(x => x + rnd.nextFloat() * 0.2f))
    }
    val e = Similarity.withNorms(rows.toDF("vec_id", "embedding"))
    // noisy seeds: one member of each cluster
    val seeds = Seq(
      (0L, rows(0)._2), (1L, rows(1)._2), (2L, rows(2)._2))
      .toDF("centroid_id", "vb")
    val refined = Similarity.kmeansCentroids(e, seeds, iters = 3)
    val cents = refined.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(cents.size == 3)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    // each refined centroid aligns with its planted direction and is a
    // better representative than the noisy single-member seed
    (0 until 3).foreach { c =>
      val toDir  = cos(cents(c.toLong), dirs(c))
      val seedTo = cos(rows(c)._2, dirs(c))
      assert(toDir > 0.98, s"cluster $c cos=$toDir")
      assert(toDir >= seedTo - 1e-6, s"cluster $c did not improve on its seed")
    }
  }
}
