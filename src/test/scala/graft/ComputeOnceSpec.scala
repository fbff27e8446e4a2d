package graft

import graft.functions.ComputeOnce
import org.apache.spark.sql.functions._

/** Laws for the r19 evaluation barrier ([[graft.functions.ComputeOnce]])
  * and the verify-path single-evaluation fixes it enables:
  *  1. transparency — wrapping an expression changes no value (the
  *     barrier forwards eval/codegen verbatim);
  *  2. the duplication fix is real — in the verify shape
  *     (join → score → threshold filter → projection of the score) the
  *     barriered plan evaluates the native loop ONCE: the optimized
  *     plan carries exactly one `dot_sorted`/`jaccard_sorted` call,
  *     where the un-barriered spelling inlined it into the join
  *     condition AND the output projection (2-3 evaluations per pair).
  */
class ComputeOnceSpec extends SparkSpec {

  test("barrier is transparent: wrapped ≡ unwrapped values") {
    import spark.implicits._
    val df = Seq((Array(1L, 3L, 7L), Array(3L, 7L, 9L)),
      (Array(2L, 4L), Array(1L, 9L)), (Array.empty[Long], Array(1L)))
      .toDF("a", "b")
    val plain = df.select(expr("jaccard_sorted(a, b)")).collect().map(_.get(0)).toSeq
    val once = df.select(ComputeOnce.once(expr("jaccard_sorted(a, b)")))
      .collect().map(_.get(0)).toSeq
    assert(plain == once)
  }

  /** Duplication manifests as the native call appearing TWICE on one
    * plan line (inlined into a join condition / predicate AND the
    * output projection) or on a line with no `compute_once(` wrapper.
    * Counting occurrences across the whole executedPlan string is NOT a
    * valid check — AQE prints the same Project in both the final and
    * the Initial Plan sections.
    */
  private def assertSingleEval(plan: String, fn: String): Unit = {
    val lines = plan.linesIterator.filter(_.contains(fn)).toSeq
    assert(lines.nonEmpty, s"no $fn in plan at all")
    lines.foreach { l =>
      assert(l.contains("compute_once(" + fn),
        s"$fn outside the barrier:\n$l")
      assert(fn.r.findAllIn(l).length == 1,
        s"$fn evaluated more than once on one node:\n$l")
    }
  }

  test("verify shape evaluates the native loop once under the barrier") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.dedup.Dedup.dedupCosine(spark, dir)
    assert(out.collect().nonEmpty)
    assertSingleEval(out.queryExecution.executedPlan.toString, "dot_sorted")
  }

  test("jaccard verify: one jaccard_sorted evaluation in dedup_jaccard's plan") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.dedup.Dedup.dedupJaccard(spark, dir)
    assert(out.collect().nonEmpty)
    assertSingleEval(out.queryExecution.executedPlan.toString, "jaccard_sorted")
  }
}
