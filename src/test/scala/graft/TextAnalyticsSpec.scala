package graft

import graft.functions.TextFeatures
import org.apache.spark.sql.functions._

/** Text feature-extraction laws on known strings. */
class TextAnalyticsSpec extends SparkSpec {

  private lazy val df = {
    import spark.implicits._
    Seq((1L, "the quick brown fox jumps")).toDF("doc_id", "text")
  }

  test("tokens and shingles: n-2 trigrams, distinct, space-joined") {
    val r = df
      .withColumn("toks", TextFeatures.tokens(col("text")))
      .withColumn("sh", TextFeatures.shingles("toks"))
      .select("sh").collect()(0).getSeq[String](0)
    assert(r == Seq("the quick brown", "quick brown fox", "brown fox jumps"))
  }

  test("hash60 is a positive 60-bit value matching the md5 prefix") {
    val r = df.select(TextFeatures.hash60(col("text")).as("h")).collect()(0).getLong(0)
    assert(r >= 0 && r < (1L << 60))
    // independent recomputation via JDK md5
    val md  = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("the quick brown fox jumps".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    assert(r == java.lang.Long.parseLong(hex, 16))
  }

  test("jaccard: identical = 1.0, disjoint = 0.0, half-overlap exact") {
    import spark.implicits._
    val pairs = Seq(
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a", "b"), Seq("c", "d")),
      (Seq("a", "b", "c"), Seq("b", "c", "d")))
      .toDF("x", "y")
      .select(TextFeatures.jaccard(col("x"), col("y")).as("j"))
      .collect().map(_.getDouble(0))
    assert(pairs(0) == 1.0 && pairs(1) == 0.0 && pairs(2) == 0.5)
  }

  test("minhash signature: length k, identical sets → identical signatures") {
    import spark.implicits._
    val sigs = Seq((1L, Seq("x y z", "y z w")), (2L, Seq("y z w", "x y z")))
      .toDF("doc_id", "sh")
      .withColumn("sig", TextFeatures.minhashSignature("sh", 16))
      .select("sig").collect().map(_.getSeq[Long](0))
    assert(sigs(0).length == 16)
    assert(sigs(0) == sigs(1)) // order-independent (min over set)
  }

  test("chunking: lossless reconstruction, exact 8-token overlap, short-doc identity") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("chunks").toString
    val long  = (1 to 150).map(i => s"w$i").mkString(" ") // 3 chunks
    val exact = (1 to 64).map(i => s"e$i").mkString(" ")  // 1 chunk, no trailing suffix chunk
    val short = "a b c"
    // 65 = stride + window exactly: the final chunk adds exactly ONE new
    // token — the boundary case the round-5 `<` predicate dropped.
    val plus1 = (1 to 65).map(i => s"p$i").mkString(" ")
    Seq((1L, long), (2L, exact), (3L, short), (4L, plus1))
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val chunks = graft.analytics.TextAnalytics.docChunks(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap

    // short and exact-window docs chunk to themselves, once
    assert(chunks(3L).map(c => (c._3, c._4)).toSeq == Seq((3, short)))
    assert(chunks(2L).map(c => (c._3, c._4)).toSeq == Seq((64, exact)))

    // window+1 doc: a second chunk exists, carries the last token, and
    // stitching reconstructs the doc losslessly
    val ps = chunks(4L)
    assert(ps.length == 2 && ps(1)._3 == 9) // 8 overlap + 1 new
    val pStitched = (ps.head._4.split(" ") ++
      ps.tail.flatMap(_._4.split(" ").drop(8))).mkString(" ")
    assert(pStitched == plus1)

    // long doc: stitching chunks minus the 8-token overlap reconstructs it
    val cs = chunks(1L)
    assert(cs.map(_._2).toSeq == (0 until cs.length))
    val stitched = (cs.head._4.split(" ") ++
      cs.tail.flatMap(_._4.split(" ").drop(8))).mkString(" ")
    assert(stitched == long)
    // consecutive chunks share exactly the 8 boundary tokens
    cs.sliding(2).foreach { case Array(a, b) =>
      assert(a._4.split(" ").takeRight(8).sameElements(b._4.split(" ").take(8)))
    case _ => ()
    }
  }

  test("decontam: shared 8-grams with the benchmark subset are counted; short docs immune") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("decontam").toString
    // doc 10 (id % 10 == 0) is the benchmark; doc 11 shares exactly the
    // first 8-gram with it; doc 12 is clean; doc 13 is too short to gram.
    val benchText = (1 to 10).map(i => s"b$i").mkString(" ")
    Seq(
      (10L, benchText),
      (11L, (1 to 8).map(i => s"b$i").mkString(" ") + " x y"),
      (12L, (1 to 10).map(i => s"c$i").mkString(" ")),
      (13L, "b1 b2 b3"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val rows = graft.analytics.TextAnalytics.decontam(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((11L, 1L, 1L))) // one leaked gram, one benchmark doc
  }

  test("corpus_mix: rate-100 keeps all, unlisted lang drops all, accounting adds up") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("mix").toString
    val docs = (0 until 40).map { i =>
      val lang = if (i % 2 == 0) "en" else "xx" // "xx" not in the rate table
      (i.toLong, (0 to i % 7).map(j => s"t${i}_$j").mkString(" "), lang)
    }
    docs.toDF("doc_id", "text", "lang").write.parquet(s"$tmp/documents.parquet")
    val out = graft.analytics.TextAnalytics.corpusMix(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
    val en = out.find(_._1 == "en").get
    assert(en._2 == 20 && en._4 == 20 && en._3 == en._5 && en._6 == 100.0)
    val xx = out.find(_._1 == "xx").get
    assert(xx._2 == 20 && xx._4 == 0 && xx._5 == 0L && xx._6 == 0.0)
  }

  test("tfidf_topk: exact linear-idf scores, rank order, tie-break on term") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tfidf").toString
    Seq((1L, "x x y"), (2L, "y z"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val rows = graft.analytics.TextAnalytics.tfidfTopk(spark, tmp).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getString(2), r.getDouble(3)))).toMap
    // doc 1: x -> 2*2/3/1 = 1.333333, y -> 1*2/3/2 = 0.333333
    assert(rows((1L, 1)) == ("x", 1.333333))
    assert(rows((1L, 2)) == ("y", 0.333333))
    // doc 2: z -> 1*2/2/1 = 1.0 beats y -> 1*2/2/2 = 0.5
    assert(rows((2L, 1)) == ("z", 1.0))
    assert(rows((2L, 2)) == ("y", 0.5))
    assert(rows.size == 4)
  }

  test("edge cases: gram-width doc contaminates; single-token tfidf; unlisted-lang mix") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("edges").toString
    // doc 20 (benchmark) is EXACTLY gram width; doc 21 repeats it verbatim —
    // one gram each, shared; doc 22 is a single token (no grams, 1 tfidf row)
    val exact8 = (1 to 8).map(i => s"e$i").mkString(" ")
    Seq((20L, exact8, "en"), (21L, exact8, "xx"), (22L, "solo", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$tmp/documents.parquet")

    val dec = graft.analytics.TextAnalytics.decontam(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dec.toSeq == Seq((21L, 1L, 1L)))

    val tfidf = graft.analytics.TextAnalytics.tfidfTopk(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // every doc gets rows; the single-token doc gets exactly one
    assert(tfidf.count(_._1 == 22L) == 1)
    assert(tfidf.filter(_._1 == 22L).head._3 == "solo")

    val mix = graft.analytics.TextAnalytics.corpusMix(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    // en (rate 100) keeps both docs; xx is not in the mixture whitelist
    assert(mix.find(_._1 == "en").get._3 == 2L)
    assert(mix.find(_._1 == "xx").get._3 == 0L)
  }

  test("curation_audit: stage labels reconcile exactly with the corpus_curation funnel (real data)") {
    val dir = "/root/testdata/sf0.001"
    val byStage = graft.analytics.TextAnalytics.curationAudit(spark, dir).collect()
      .groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap.withDefaultValue(0L)
    val funnel = graft.analytics.TextAnalytics.corpusCuration(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage.values.sum == funnel("1_raw"))
    assert(byStage("quality") == funnel("1_raw") - funnel("2_quality"))
    assert(byStage("dup") == funnel("2_quality") - funnel("3_dedup"))
    assert(byStage("sampled_out") == funnel("3_dedup") - funnel("4_sample"))
    assert(byStage("kept") == funnel("4_sample"))
  }

  test("source_profile: per-source totals reconcile with corpus-wide counts (real data)") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.analytics.TextAnalytics.sourceProfile(spark, dir).collect()
    val docs = graft.Tables.documents(spark, dir)
    // columns: source, n_docs, total_tokens, avg_quality, n_flagged, n_dup, n_contaminated
    assert(out.map(_.getLong(1)).sum == docs.count())
    val removed = graft.dedup.Dedup.dedupMinhash(spark, dir)
      .select("doc_id_2").distinct().count()
    assert(out.map(_.getLong(5)).sum == removed)
    val contaminated = graft.analytics.TextAnalytics.decontam(spark, dir).count()
    assert(out.map(_.getLong(6)).sum == contaminated)
    assert(out.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
    assert(out.forall(r => r.getLong(4) <= r.getLong(1) && r.getLong(5) <= r.getLong(1)))
  }

  test("packing: token conservation, full budgets, order-preserving stitch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("pack").toString
    val rnd = new scala.util.Random(17)
    val docs = (0L until 30L).map { i =>
      (i, (1 to rnd.nextInt(90) + 10).map(j => s"d${i}t$j").mkString(" "))
    }
    docs.toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val seqs = graft.analytics.TextAnalytics.corpusPack(spark, tmp)
      .orderBy("seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))

    val totalTokens = docs.map(_._2.split(" ").length.toLong).sum
    assert(seqs.map(_._3).sum == totalTokens)               // nothing lost or duplicated
    assert(seqs.map(_._1).toSeq == (0L until seqs.length))  // dense sequence ids
    seqs.dropRight(1).foreach(s => assert(s._3 == 64L))     // every budget filled exactly
    assert(seqs.exists(_._2 >= 2))                          // packing crosses doc boundaries
    // stitching all sequences reproduces the doc_id-ordered token stream
    assert(seqs.map(_._4).mkString(" ") == docs.map(_._2).mkString(" "))
    // and each sequence's text length matches its token count
    seqs.foreach(s => assert(s._4.split(" ").length == s._3))
  }

  test("repetition filters flag looped text and pass diverse text") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val diverse = (1 to 40).map(i => s"w$i").mkString(" ")
    val looped  = Seq.fill(20)("spam spam wonderful").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("rep").toString
    Seq((1L, diverse), (2L, looped), (3L, "one two"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val out = graft.analytics.TextAnalytics.textRepetition(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
    val (d2, d3, tf, fl) = out(1L)
    assert(d2 == 0.0 && d3 == 0.0 && tf == 0.025 && !fl) // all-distinct corpus doc
    val (l2, l3, ltf, lfl) = out(2L)
    assert(l2 > 0.9 && l3 > 0.9 && ltf > 0.3 && lfl)     // 3-token loop
    val (s2, s3, stf, sfl) = out(3L)                      // too short for 3-grams
    assert(s2 == 0.0 && s3 == 0.0 && stf == 0.5 && sfl)  // top_tok 1/2 > 0.2
  }

  test("weighted_sample: partitioning-independent, ranks by ln(u)/w with weight monotonicity") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (1L to 200L).map(i => (i, s"doc body $i", "xx", "s1", 10 + (i % 50)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val a = graft.analytics.TextAnalytics.weightedSampleOn(docs)
      .collect().map(_.toSeq).toSeq
    val b = graft.analytics.TextAnalytics.weightedSampleOn(docs.repartition(13))
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b, "A-ES sample depends on partitioning")
    // same content (same u), bigger weight => strictly better key: a doc
    // cloned with 100x the chars must rank at least as high
    val boosted = docs.withColumn("n_chars",
      when(col("doc_id") === a.head(2), col("n_chars") * 100).otherwise(col("n_chars")))
    val c = graft.analytics.TextAnalytics.weightedSampleOn(boosted)
      .collect().map(_.toSeq).toSeq
    assert(c.head(2) == a.head(2), "boosting the top doc's weight demoted it")
  }
}
