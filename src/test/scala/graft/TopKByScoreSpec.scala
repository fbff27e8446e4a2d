package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The bounded top-k aggregate must equal window ranking exactly,
  * independent of partitioning (partial-aggregation correctness).
  */
class TopKByScoreSpec extends SparkSpec {

  private def scored = {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    (1 to 2000).map { i =>
      (i % 7L, rng.nextDouble(), i.toLong) // (group, score, id)
    }.toDF("g", "score", "id")
  }

  test("topk_by_score equals window row_number top-k, any partitioning") {
    val df = scored
    val viaAgg = df.repartition(13) // force many partial buffers
      .groupBy("g").agg(expr("topk_by_score(score, id, 5)").as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("pos"), col("col.score"), col("col.id"))
      .collect().map(_.toString).sorted
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)
    val viaWindow = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("g"), (col("rn") - 1).as("pos"), col("score"), col("id"))
      .collect().map(_.toString).sorted
    assert(viaAgg.toSeq == viaWindow.toSeq)
  }

  test("groups smaller than k return all rows, sorted") {
    import spark.implicits._
    val tiny = Seq((1L, 0.3, 10L), (1L, 0.9, 11L), (1L, 0.9, 9L))
      .toDF("g", "score", "id")
      .groupBy("g").agg(expr("topk_by_score(score, id, 5)").as("top"))
      .select(explode(col("top"))).collect()
      .map(r => (r.getStruct(0).getDouble(0), r.getStruct(0).getLong(1)))
    assert(tiny.toSeq == Seq((0.9, 9L), (0.9, 11L), (0.3, 10L))) // ties by id asc
  }
}
