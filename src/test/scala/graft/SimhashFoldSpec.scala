package graft

import org.apache.spark.sql.functions._

/** Laws of the native simhash_fold expression. */
class SimhashFoldSpec extends SparkSpec {

  test("simhash_fold equals the HOF vote-fold formulation on random arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (1L to 50L).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(40))(rnd.nextLong() & ((1L << 48) - 1))))
    val df = rows.toDF("id", "hs")
      .withColumn("native", expr("simhash_fold(hs, 48)"))
      .withColumn("hof", expr(
        """transform(array(hs), v ->
          |  aggregate(
          |    transform(sequence(0, 47), i ->
          |      IF(2 * aggregate(v, 0, (a, h) -> a + int(shiftright(h, i) & 1)) > size(v),
          |         shiftleft(cast(1 as bigint), i), cast(0 as bigint))),
          |    cast(0 as bigint), (acc, x) -> acc + x))[0]""".stripMargin))
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
    // bits stay within range
    assert(df.filter(col("native") < 0 || col("native") >= (1L << 48)).count() == 0)
  }

  test("empty and all-null inputs yield a null signature (no zero-sig clique)") {
    val r = spark.sql(
      """SELECT simhash_fold(array(cast(null as bigint)), 48) AS a,
        |       simhash_fold(cast(array() as array<bigint>), 48) AS b,
        |       simhash_fold(array(cast(7 as bigint)), 48) AS c""".stripMargin).collect()(0)
    assert(r.get(0) == null && r.get(1) == null)
    assert(r.getLong(2) == 7L) // single element: every set bit wins its vote
  }
}
