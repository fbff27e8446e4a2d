package graft

import org.apache.spark.sql.functions._

/** The native vec_dot expression must be bit-identical to the interpreted
  * higher-order fold it replaces (floats widened to double, sequential
  * accumulation in element order).
  */
class FloatVecDotSpec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    (1 to 50).map { i =>
      (i.toLong,
        Array.fill(64)(rng.nextFloat() * 2 - 1),
        Array.fill(64)(rng.nextFloat() * 2 - 1))
    }.toDF("id", "a", "b")
  }

  test("vec_dot equals the HOF fold bit-for-bit on random vectors") {
    val rows = vecs.select(
      expr("vec_dot(a, b)").as("fast"),
      expr("aggregate(zip_with(transform(a, x -> cast(x as double)), " +
        "transform(b, x -> cast(x as double)), (x, y) -> x * y), " +
        "cast(0 as double), (acc, x) -> acc + x)").as("slow"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0))
        == java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("vec_dot participates in whole-stage codegen") {
    // plain parquet array columns: the projection stays codegen'd (HOF
    // lambdas like transform would fall back, a LocalTableScan never
    // enters codegen — this asserts vec_dot itself doesn't break a stage)
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_dot(embedding, embedding) as n2")
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.exists(_.toString.contains("vec_dot")),
      df.queryExecution.executedPlan.toString.take(1500))
    assert(df.collect().forall(_.getDouble(0) >= 0.0))
  }

  test("vec_dot null and edge semantics") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 2f), Array(3f, 4f)),
      (Array.empty[Float], Array.empty[Float]))
      .toDF("a", "b")
    val out = df.select(expr("vec_dot(a, b)")).collect().map(_.getDouble(0))
    assert(out(0) == 11.0)
    assert(out(1) == 0.0)
    val n = df.select(expr("vec_dot(a, cast(null as array<float>))")).collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("vec_dot rejects non-float-array inputs at analysis time") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0))).toDF("a", "b")
    val e = intercept[Exception](df.select(expr("vec_dot(a, b)")).collect())
    assert(e.getMessage.toLowerCase.contains("array<float>")
      || e.getMessage.toLowerCase.contains("vec_dot"))
  }
}
