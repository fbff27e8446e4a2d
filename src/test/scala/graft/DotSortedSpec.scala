package graft

import org.apache.spark.sql.functions._

/** The native dot_sorted merge must equal a reference map-intersection
  * dot product on its preconditions (keys sorted ascending + distinct,
  * parallel counts, non-null elements — what dedup_cosine's packed
  * postings produce), and keep the codegen/edge contracts of its
  * sibling sorted-merge expressions.
  */
class DotSortedSpec extends SparkSpec {

  test("dot_sorted equals the reference map-intersection dot on random posting pairs") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val rows = (1 to 200).map { i =>
      def side(): (Array[Long], Array[Long]) = {
        val ks = Seq.fill(rng.nextInt(60) + 1)(rng.nextInt(80).toLong)
          .distinct.sorted.toArray
        (ks, ks.map(_ => rng.nextInt(9).toLong + 1))
      }
      val (ka, ca) = side(); val (kb, cb) = side()
      val expect = ka.zip(ca).map { case (k, c) =>
        val j = kb.indexOf(k); if (j >= 0) c * cb(j) else 0L
      }.sum
      (i.toLong, ka, ca, kb, cb, expect)
    }.toDF("id", "ka", "ca", "kb", "cb", "expect")
    val got = rows.select(expr("dot_sorted(ka, ca, kb, cb)").as("d"), col("expect"))
      .collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("dot_sorted edge semantics: disjoint, empty, null") {
    import spark.implicits._
    val df = Seq(
      (Array(1L, 2L), Array(5L, 5L), Array(3L, 4L), Array(7L, 7L)),  // disjoint → 0
      (Array.empty[Long], Array.empty[Long], Array(1L), Array(2L)))  // empty → 0
      .toDF("ka", "ca", "kb", "cb")
    val out = df.select(expr("dot_sorted(ka, ca, kb, cb)")).collect().map(_.getLong(0))
    assert(out.toSeq == Seq(0L, 0L))
    val n = df.select(expr("dot_sorted(ka, ca, kb, cast(null as array<bigint>))")).collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("dot_sorted participates in whole-stage codegen") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("array_sort(array_distinct(transform(split(text, ' '), t -> xxhash64(t)))) AS ks")
      .selectExpr("ks", "transform(ks, k -> 2L) AS cs")
      .selectExpr("dot_sorted(ks, cs, ks, cs) AS d", "size(ks) AS n")
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.exists(_.toString.contains("dot_sorted")),
      df.queryExecution.executedPlan.toString.take(1500))
    // self-dot with constant count 2: 4 per shared key
    assert(df.collect().forall(r => r.getLong(0) == 4L * r.getInt(1)))
  }

  test("dot_sorted rejects wrong arity and non-bigint arrays at analysis time") {
    import spark.implicits._
    val df = Seq((Array(1L), Array(1L))).toDF("a", "b")
    val e1 = intercept[Exception](df.select(expr("dot_sorted(a, b)")).collect())
    assert(e1.getMessage.contains("dot_sorted"))
    val dd = Seq((Array(1.0), Array(1.0), Array(1.0), Array(1.0))).toDF("a", "b", "c", "d")
    val e2 = intercept[Exception](dd.select(expr("dot_sorted(a, b, c, d)")).collect())
    assert(e2.getMessage.toLowerCase.contains("array<bigint>")
      || e2.getMessage.contains("dot_sorted"))
  }
}
