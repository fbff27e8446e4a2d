package graft

import graft.functions.TextFeatures
import org.apache.spark.sql.functions._

/** The native jaccard_sorted merge must be bit-identical to the HOF
  * `size(array_intersect)` form it replaced in the dedup verify joins,
  * on its preconditions (sorted ascending, element-distinct, non-null
  * elements — what Dedup.hashedSets produces).
  */
class JaccardSortedSpec extends SparkSpec {

  private def pairs = {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    (1 to 200).map { i =>
      // overlapping draws from a small universe force real intersections
      val universe = (0 until 400).map(_ => rng.nextLong() % 1000)
      val a = Seq.fill(rng.nextInt(300) + 1)(universe(rng.nextInt(universe.size)))
        .distinct.sorted.toArray
      val b = Seq.fill(rng.nextInt(300) + 1)(universe(rng.nextInt(universe.size)))
        .distinct.sorted.toArray
      (i.toLong, a, b)
    }.toDF("id", "a", "b")
  }

  test("jaccard_sorted equals the HOF intersect form bit-for-bit") {
    val rows = pairs.select(
      expr("jaccard_sorted(a, b)").as("fast"),
      TextFeatures.jaccard(col("a"), col("b")).as("slow"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0))
        == java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("jaccard_sorted edge semantics: identical, disjoint, empty, null") {
    import spark.implicits._
    val df = Seq(
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),   // identical → 1.0
      (Array(1L, 2L), Array(3L, 4L)),           // disjoint  → 0.0
      (Array.empty[Long], Array(1L, 2L)),       // half empty → 0.0
      (Array.empty[Long], Array.empty[Long]))   // both empty → 0/0 = NaN
      .toDF("a", "b")
    val out = df.select(expr("jaccard_sorted(a, b)")).collect().map(_.getDouble(0))
    assert(out(0) == 1.0)
    assert(out(1) == 0.0)
    assert(out(2) == 0.0)
    // the one deliberate divergence from the HOF form: two EMPTY sets give
    // IEEE 0/0 = NaN here, where ANSI-mode Divide throws DIVIDE_BY_ZERO —
    // unreachable in the dedup path (an empty set shares no shingle/band,
    // so it is never a candidate), and NaN-filter behavior matches the
    // pre-ANSI HOF semantics the oracle uses
    assert(out(3).isNaN)
    intercept[Exception] {
      df.select(TextFeatures.jaccard(col("a"), col("b"))).collect()
    }
    val n = df.select(expr("jaccard_sorted(a, cast(null as array<bigint>))")).collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("jaccard_sorted participates in whole-stage codegen") {
    // parquet-backed longs: xxhash64+sort then the merge, all in one stage
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("array_sort(transform(split(text, ' '), t -> xxhash64(t))) AS sh")
      .selectExpr("jaccard_sorted(sh, sh) AS j")
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.exists(_.toString.contains("jaccard_sorted")),
      df.queryExecution.executedPlan.toString.take(1500))
    assert(df.collect().forall(r => r.getDouble(0) == 1.0))
  }

  test("jaccard_sorted rejects non-bigint-array inputs at analysis time") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0))).toDF("a", "b")
    val e = intercept[Exception](df.select(expr("jaccard_sorted(a, b)")).collect())
    assert(e.getMessage.toLowerCase.contains("array<bigint>")
      || e.getMessage.toLowerCase.contains("jaccard_sorted"))
  }
}
