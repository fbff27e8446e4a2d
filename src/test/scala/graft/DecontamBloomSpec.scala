package graft

import graft.analytics.TextAnalytics
import org.apache.spark.sql.functions._

/** Laws for the Bloom-filter decontamination screen vs the exact join:
  * Bloom admits no false negatives (every truly contaminated doc and
  * gram is flagged), false positives stay inside the sizing budget, and
  * the filter is deterministic across runs.
  */
class DecontamBloomSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val (exact, bloom) = {
    val e = TextAnalytics.decontam(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = TextAnalytics.decontamBloom(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (e, b)
  }

  test("no false negatives: exact hits are a subset, per doc and per gram") {
    assert(exact.nonEmpty)
    exact.foreach { case (doc, nShared) =>
      val flagged = bloom.getOrElse(doc, 0L)
      assert(flagged >= nShared,
        s"doc $doc: bloom flagged $flagged < exact $nShared shared grams")
    }
  }

  test("false positives stay inside the 16-bits-per-item budget") {
    // Total flagged grams beyond the exact hits, relative to the total
    // gram volume scanned: must stay far under 1% (sizing gives ~0.05%).
    val trainGramCount = bloomTrainGramCount
    val extras = bloom.values.sum - exact.values.sum
    assert(extras >= 0L)
    assert(extras.toDouble / trainGramCount < 0.01,
      s"FP rate ${extras.toDouble / trainGramCount} exceeds budget " +
        s"($extras extras over $trainGramCount scanned grams)")
  }

  private def bloomTrainGramCount: Long = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(col("doc_id") % 10 =!= 0)
    toks.select(explode(expr(
      """IF(size(toks) < 8, array(),
        |   array_distinct(transform(sequence(1, size(toks) - 7),
        |     i -> concat_ws(' ', slice(toks, i, 8)))))""".stripMargin)).as("g"))
      .count()
  }

  test("the filter is deterministic: two runs agree exactly") {
    val again = TextAnalytics.decontamBloom(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == bloom)
  }

  test("two-tier screen equals the exact single-tier join row-for-row") {
    import TextAnalytics.{decontamOn, decontamTwoTierOn, docGrams}
    val grams = docGrams(Tables.documents(spark, dir))
    val train = grams.filter(col("doc_id") % 10 =!= 0)
    val bench = grams.filter(col("doc_id") % 10 === 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val exactRows = canon(decontamOn(train, bench))
    val tiered = canon(decontamTwoTierOn(train, bench))
    assert(exactRows.nonEmpty && tiered == exactRows)
  }
}
