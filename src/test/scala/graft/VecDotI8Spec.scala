package graft

import org.apache.spark.sql.functions._

/** The native vec_dot_i8 integer dot product: exact long arithmetic,
  * codegen participation, and the analysis-time type contract.
  */
class VecDotI8Spec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // Seq[Byte], not Array[Byte]: the byte-array encoder maps to BINARY,
    // the Seq encoder to array<tinyint> (the quantized-store column type)
    (1 to 50).map { i =>
      (i.toLong,
        Seq.fill(64)((rng.nextInt(255) - 127).toByte),
        Seq.fill(64)((rng.nextInt(255) - 127).toByte))
    }.toDF("id", "a", "b")
  }

  test("vec_dot_i8 equals the reference integer fold exactly") {
    val rows = vecs.select(
      col("a"), col("b"), expr("vec_dot_i8(a, b)").as("fast")).collect()
    rows.foreach { r =>
      val a = r.getSeq[Byte](0)
      val b = r.getSeq[Byte](1)
      val want = a.zip(b).map { case (x, y) => x.toLong * y.toLong }.sum
      assert(r.getLong(2) == want)
    }
  }

  test("vec_dot_i8 participates in whole-stage codegen") {
    vecs.write.mode("overwrite").parquet("/tmp/graft_i8_spec")
    val df = spark.read.parquet("/tmp/graft_i8_spec")
      .selectExpr("vec_dot_i8(a, a) as n2")
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.exists(_.toString.contains("vec_dot_i8")),
      df.queryExecution.executedPlan.toString.take(1500))
    // self dot of int8 values is a sum of squares: non-negative always
    assert(df.collect().forall(_.getLong(0) >= 0L))
  }

  test("vec_dot_i8 null and edge semantics mirror vec_dot") {
    import spark.implicits._
    val df = Seq(
      (Seq[Byte](1, 2), Seq[Byte](3, 4)),
      (Seq.empty[Byte], Seq.empty[Byte]))
      .toDF("a", "b")
    val out = df.select(expr("vec_dot_i8(a, b)")).collect().map(_.getLong(0))
    assert(out(0) == 11L)
    assert(out(1) == 0L)
    val n = df.select(expr("vec_dot_i8(a, cast(null as array<tinyint>))")).collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("vec_dot_i8 rejects non-tinyint-array inputs at analysis time") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f), Seq[Byte](1, 2))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(expr("vec_dot_i8(a, b)")).collect()
    }
    assert(e.getMessage.contains("vec_dot_i8") || e.getMessage.contains("TYPE"))
  }
}
