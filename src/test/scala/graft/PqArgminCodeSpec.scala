package graft

import org.apache.spark.sql.functions._

/** Laws for the codegen'd PQ codebook-assignment expression: the native
  * K·d argmin loop must agree exactly with the relational join+min_by
  * spelling it replaced (including the (d2, code) tie-break), on random
  * integer frames with planted exact ties.
  */
class PqArgminCodeSpec extends SparkSpec {

  import spark.implicits._

  test("native argmin == join+min_by over the same frames, ties to the smaller code") {
    val rnd = new scala.util.Random(7)
    val d = 4
    // vectors: 60 random int sub-vectors, plus duplicates of codebook
    // entries (d2 = 0 against their own code) to force exact ties paths
    val vecs = (0 until 60).map(i => (i.toLong, Seq.fill(d)(rnd.nextInt(2000).toLong - 1000))) ++
      Seq((100L, Seq(5L, 5L, 5L, 5L)), (101L, Seq(-7L, 0L, 3L, 9L)))
    // codebook: 9 entries, including TWO with identical cv (codes 3 and
    // 6) so the tie must resolve to code 3
    val cvs = (0 until 9).map {
      case 3 => (3L, Seq(5L, 5L, 5L, 5L))
      case 6 => (6L, Seq(5L, 5L, 5L, 5L))
      case i => (i.toLong, Seq.fill(d)(rnd.nextInt(2000).toLong - 1000))
    }
    val qs = vecs.toDF("vec_id", "qs")
    val cb = cvs.toDF("code", "cv")

    val native = qs.crossJoin(
        broadcast(cb.agg(expr("array_sort(collect_list(struct(code, cv)))").as("cbm"))))
      .select(col("vec_id"), expr("pq_argmin_code(qs, cbm)").as("code"))
      .as[(Long, Long)].collect().toMap

    val relational = qs.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("code"), expr("sq_dist_i64(qs, cv)").as("d2"))
      .groupBy("vec_id")
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
      .as[(Long, Long)].collect().toMap

    assert(native === relational)
    // the planted duplicate-cv tie resolves to the smaller code
    assert(native(100L) == 3L, s"tie broke to ${native(100L)}, not the smaller code")
  }

  test("empty codebook yields null, not a crash") {
    val row = Seq((1L, Seq(1L, 2L))).toDF("vec_id", "qs")
      .select(expr(
        "pq_argmin_code(qs, cast(array() as array<struct<code: bigint, cv: array<bigint>>>))")
        .as("code"))
      .collect().head
    assert(row.isNullAt(0))
  }
}
