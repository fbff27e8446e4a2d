package graft

import graft.dedup.Dedup
import graft.streaming.DedupEdgeIngest
import graft.streaming.DedupEdgeIngest.EdgeStores
import org.apache.spark.sql.functions._

/** Laws for streaming near-dup edge maintenance: after any prefix of
  * batches the stored edge graph equals the one-shot MinHash-LSH dedup
  * over all documents seen (as a set — banding recall is
  * prefix-invariant because band keys are per-document), replay is a
  * no-op, and compaction preserves the graph bit-for-bit.
  */
class DedupEdgeIngestSpec extends SparkSpec {

  private def store(tag: String) = {
    val base = java.nio.file.Files.createTempDirectory(s"dedup_ingest_$tag").toString
    EdgeStores(s"$base/sets", s"$base/bands", s"$base/edges")
  }

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("doc_id_1", "doc_id_2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet

  test("streamed edges ≡ one-shot MinHash dedup after every batch prefix; replay no-op; compaction identity") {
    val s = store("law")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .localCheckpoint()
    // three arbitrary doc-atomic batches (id mod 3)
    val batches = (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r))
    var seen = docs.filter(lit(false))
    batches.zipWithIndex.foreach { case (b, i) =>
      DedupEdgeIngest.processBatch(b, i.toLong, s)
      seen = seen.unionByName(b)
      val expected = edgeSet(Dedup.dedupMinhashOn(Dedup.shingleSets(seen)))
      val got = edgeSet(DedupEdgeIngest.edges(spark, s))
      assert(expected.nonEmpty && got == expected, s"prefix through batch $i")
    }
    val before = edgeSet(DedupEdgeIngest.edges(spark, s))
    // replay the middle batch: as-of reads reproduce the original state
    DedupEdgeIngest.processBatch(batches(1), 1L, s)
    assert(edgeSet(DedupEdgeIngest.edges(spark, s)) == before, "replay must be a no-op")
    // compaction: same graph, one generation
    DedupEdgeIngest.compact(spark, s)
    assert(edgeSet(DedupEdgeIngest.edges(spark, s)) == before, "compaction identity")
    // cross-batch pairs genuinely exercised: the one-shot graph is
    // larger than the union of per-batch in-batch graphs
    val inBatchOnly = batches.map(b =>
      edgeSet(Dedup.dedupMinhashOn(Dedup.shingleSets(b)))).reduce(_ ++ _)
    assert(inBatchOnly.size < before.size, "fixture must produce cross-batch edges")
  }

  test("folded component map ≡ from-scratch over the landed union, every prefix; replay no-op") {
    val s = store("compmap")
    val compPath = s.edgesPath.stripSuffix("/edges") + "/components"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .localCheckpoint()
    val batches = (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r))
    def snapshot(id: Long): Set[(Long, Long, Boolean)] =
      spark.read.parquet(s"$compPath/batch_id=$id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    batches.zipWithIndex.foreach { case (b, i) =>
      DedupEdgeIngest.processBatch(b, i.toLong, s)
      DedupEdgeIngest.updateComponents(spark, s, compPath, i.toLong)
      val expected = Dedup.componentsOn(
          DedupEdgeIngest.edges(spark, s).select("doc_id_1", "doc_id_2"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(expected.nonEmpty && snapshot(i.toLong) == expected,
        s"map after batch $i")
    }
    // the fold genuinely exercises CROSS-BATCH growth: later snapshots
    // must label strictly more nodes (cross-batch edges attach new
    // members), else the law is vacuous
    assert(snapshot(0L).size < snapshot(1L).size &&
      snapshot(1L).size < snapshot(2L).size,
      "fixture must grow the map across batches")
    // replay: snapshot 1 recomputed from snapshot 0 + edge partition 1
    // is byte-identical
    val before = snapshot(1L)
    DedupEdgeIngest.updateComponents(spark, s, compPath, 1L)
    assert(snapshot(1L) == before, "replay must be a no-op")
  }

  test("tombstone-aware fold: every insert/delete interleave ≡ one-shot over survivors") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .localCheckpoint()
    val inserts = (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r))
    val dead = docs.filter(col("doc_id") % 9 === 4)
      .select(col("doc_id").as("dead_id"))
      .localCheckpoint()
    def compSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Boolean)] =
      df.select("doc_id", "component_id", "is_canonical")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    def survivorsOf(e: org.apache.spark.sql.DataFrame) = e
      .join(dead, col("doc_id_1") === col("dead_id"), "left_anti")
      .join(dead, col("doc_id_2") === col("dead_id"), "left_anti")
      .select("doc_id_1", "doc_id_2")
    // Left(i) = insert slice i lands; Right(()) = the takedown batch lands
    val interleaves: Seq[Seq[Either[Int, Unit]]] = Seq(
      Seq(Left(0), Left(1), Right(()), Left(2)), // the registry entry's shape
      Seq(Right(()), Left(0), Left(1), Left(2)), // takedown before any insert
      Seq(Left(0), Right(()), Left(1), Left(2)))
    val finals = interleaves.zipWithIndex.map { case (steps, w) =>
      val s = store(s"incdel$w")
      val tombs = s.edgesPath.stripSuffix("/edges") + "/tombs"
      val compPath = s.edgesPath.stripSuffix("/edges") + "/componentsdel"
      steps.zipWithIndex.foreach { case (st, i) =>
        st match {
          case Left(b)  => DedupEdgeIngest.processBatch(inserts(b), i.toLong, s)
          case Right(_) => DedupEdgeIngest.processTombstones(dead, i.toLong, tombs)
        }
        DedupEdgeIngest.updateComponentsDel(spark, s, tombs, compPath, i.toLong)
        val snap = compSet(spark.read.parquet(s"$compPath/batch_id=$i"))
        val landed =
          try DedupEdgeIngest.edges(spark, s).select("doc_id_1", "doc_id_2")
          catch { case _: org.apache.spark.sql.AnalysisException => null }
        if (landed == null) assert(snap.isEmpty, s"interleave $w step $i")
        else {
          val deadLanded = steps.take(i + 1).exists(_.isRight)
          val live = if (deadLanded) survivorsOf(landed) else landed
          assert(snap == compSet(Dedup.componentsOn(live)),
            s"interleave $w step $i")
        }
      }
      // replay a middle fold: byte-identical snapshot
      val before = compSet(spark.read.parquet(s"$compPath/batch_id=2"))
      DedupEdgeIngest.updateComponentsDel(spark, s, tombs, compPath, 2L)
      assert(compSet(spark.read.parquet(s"$compPath/batch_id=2")) == before,
        s"interleave $w replay")
      compSet(spark.read.parquet(s"$compPath/batch_id=3"))
    }
    // all interleavings agree, equal the survivor one-shot, and the
    // delete genuinely bit (≠ the no-delete one-shot)
    val allEdges = Dedup.dedupMinhashOn(Dedup.shingleSets(docs))
      .select("doc_id_1", "doc_id_2").localCheckpoint()
    val survivorTruth = compSet(Dedup.componentsOn(survivorsOf(allEdges)))
    val fullTruth = compSet(Dedup.componentsOn(allEdges))
    assert(finals.forall(_ == survivorTruth))
    assert(survivorTruth != fullTruth, "the takedown batch must bite")
  }

  test("tombstone-applied compaction: survivor read identical, stores fold to survivors, horizon guards replay") {
    val s = store("tombcomp")
    val tombs = s.edgesPath.stripSuffix("/edges") + "/tombs"
    val compPath = s.edgesPath.stripSuffix("/edges") + "/componentsdel"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .localCheckpoint()
    val inserts = (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r))
    val dead = docs.filter(col("doc_id") % 9 === 4)
      .select(col("doc_id").as("dead_id")).localCheckpoint()
    def compSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Boolean)] =
      df.select("doc_id", "component_id", "is_canonical")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // land: insert, insert, takedown, insert (the registry entry's shape)
    Seq(Left(0), Left(1), Right(()), Left(2)).zipWithIndex.foreach { case (st, i) =>
      st match {
        case Left(b)  => DedupEdgeIngest.processBatch(inserts(b), i.toLong, s)
        case Right(_) => DedupEdgeIngest.processTombstones(dead, i.toLong, tombs)
      }
      DedupEdgeIngest.updateComponentsDel(spark, s, tombs, compPath, i.toLong)
    }
    def survivorRead(): Set[(Long, Long, Double)] = edgeSet(
      DedupEdgeIngest.edges(spark, s)
        .join(dead, col("doc_id_1") === col("dead_id"), "left_anti")
        .join(dead, col("doc_id_2") === col("dead_id"), "left_anti"))
    val survBefore = survivorRead()
    assert(survBefore.nonEmpty &&
      edgeSet(DedupEdgeIngest.edges(spark, s)) != survBefore,
      "the takedown batch must bite")
    DedupEdgeIngest.compact(spark, s, Seq(compPath), tombsPath = Some(tombs))
    // read-identical law: the survivor-composed read is unchanged...
    assert(survivorRead() == survBefore)
    // ...and the raw read now IS the survivor graph ("fold to zero"):
    // dead rows left every store, the tombstone store reads empty
    assert(edgeSet(DedupEdgeIngest.edges(spark, s)) == survBefore)
    assert(spark.read.parquet(tombs).count() == 0)
    assert(spark.read.parquet(s.setsPath)
      .filter(col("doc_id") % 9 === 4).count() == 0)
    assert(spark.read.parquet(s.bandsPath)
      .filter(col("doc_id") % 9 === 4).count() == 0)
    // replay at the fold horizon fails LOUD (the r16-ADVICE guard):
    // batch 3's per-batch history was folded away
    intercept[IllegalArgumentException] {
      DedupEdgeIngest.updateComponentsDel(spark, s, tombs, compPath, 3L)
    }
    // post-compaction life: a NEW takedown lands beside the emptied
    // store and composes against the folded survivor graph
    val dead2 = docs.filter(col("doc_id") % 9 === 7)
      .select(col("doc_id").as("dead_id")).localCheckpoint()
    DedupEdgeIngest.processTombstones(dead2, 4L, tombs)
    DedupEdgeIngest.updateComponentsDel(spark, s, tombs, compPath, 4L)
    val expected = compSet(Dedup.componentsOn(
      DedupEdgeIngest.edges(spark, s)
        .join(dead2, col("doc_id_1") === col("dead_id"), "left_anti")
        .join(dead2, col("doc_id_2") === col("dead_id"), "left_anti")
        .select("doc_id_1", "doc_id_2")))
    assert(compSet(spark.read.parquet(s"$compPath/batch_id=4")) == expected)
  }

  test("live(base prefix + delta) ≡ one-shot dedup, for every prefix split") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .localCheckpoint()
    val batches = (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r))
    val full = edgeSet(Dedup.dedupMinhashOn(Dedup.shingleSets(docs)))
    // split k: batches [0, k) landed, batches [k, 3) folded into one
    // in-flight delta — the composed read must equal the one-shot graph
    (0 to 2).foreach { k =>
      val s = store(s"live$k")
      (0 until k).foreach(i => DedupEdgeIngest.processBatch(batches(i), i.toLong, s))
      val delta = (k to 2).map(batches).reduce(_ unionByName _)
      val live = edgeSet(
        DedupEdgeIngest.liveEdges(spark, s, delta, k.toLong))
      assert(live == full, s"split at $k")
    }
    // the delta is composed at read, never written: an empty store stays empty
    val s = store("livero")
    DedupEdgeIngest.liveEdges(spark, s, batches(0), 0L).count()
    assert(!new java.io.File(s.edgesPath).exists, "live read must not write")
  }
}
