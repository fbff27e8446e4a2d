package graft

import graft.dedup.Linkage
import graft.streaming.LinkIngest
import graft.streaming.LinkIngest.LinkStores
import org.apache.spark.sql.functions._

/** Laws for streaming linkage maintenance: after any prefix of batches
  * the stored edge graph equals the one-shot blocked fuzzy join over
  * all records seen (as a set), replay is a no-op, and compaction
  * preserves the graph bit-for-bit.
  */
class LinkIngestSpec extends SparkSpec {

  private def store(tag: String) = {
    val base = java.nio.file.Files.createTempDirectory(s"link_ingest_$tag").toString
    LinkStores(s"$base/keys", s"$base/edges")
  }

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, String, Long)] =
    df.select("a_id", "a_name", "b_id", "b_name", "dist").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .toSet

  test("streamed edges ≡ one-shot fuzzy join after every batch prefix; replay no-op; compaction identity") {
    val s = store("law")
    val sup = Tables.supplier(spark, "/root/testdata/sf0.001")
      .select(col("s_suppkey").as("id"), col("s_name").as("name"))
      .localCheckpoint()
    // three arbitrary doc-atomic batches (id mod 3)
    val batches = (0 to 2).map(r => sup.filter(col("id") % 3 === r))
    var seen = sup.filter(lit(false))
    batches.zipWithIndex.foreach { case (b, i) =>
      LinkIngest.processBatch(b, i.toLong, s)
      seen = seen.unionByName(b)
      val expected = edgeSet(Linkage.fuzzyJoinOn(seen, "id", "name"))
      val got = edgeSet(LinkIngest.edges(spark, s))
      assert(expected.nonEmpty && got == expected, s"prefix through batch $i")
    }
    val before = edgeSet(LinkIngest.edges(spark, s))
    // replay the middle batch: as-of reads reproduce the original state
    LinkIngest.processBatch(batches(1), 1L, s)
    assert(edgeSet(LinkIngest.edges(spark, s)) == before, "replay must be a no-op")
    // compaction: same graph, one generation
    LinkIngest.compact(spark, s)
    assert(edgeSet(LinkIngest.edges(spark, s)) == before, "compaction identity")
    // cross-batch pairs genuinely exercised: the one-shot graph is
    // larger than the union of per-batch in-batch graphs
    val inBatchOnly = batches.map(b =>
      edgeSet(Linkage.fuzzyJoinOn(b, "id", "name"))).reduce(_ ++ _)
    assert(inBatchOnly.size < before.size, "fixture must produce cross-batch edges")
  }

  test("folded entity map ≡ from-scratch over the landed union, every prefix") {
    import graft.dedup.Dedup
    val s = store("entmap")
    val entPath = s.edgesPath.stripSuffix("/edges") + "/entities"
    val sup = Tables.supplier(spark, "/root/testdata/sf0.001")
      .select(col("s_suppkey").as("id"), col("s_name").as("name"))
      .localCheckpoint()
    val batches = (0 to 2).map(r => sup.filter(col("id") % 3 === r))
    def snapshot(id: Long): Set[(Long, Long, Boolean)] =
      spark.read.parquet(s"$entPath/batch_id=$id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val corPath = s.edgesPath.stripSuffix("/edges") + "/coreness"
    def corSnapshot(id: Long): Set[(Long, Int)] =
      spark.read.parquet(s"$corPath/batch_id=$id")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val triPath = s.edgesPath.stripSuffix("/edges") + "/triangles"
    def triSnapshot(id: Long): Set[(Long, Long, Long)] =
      spark.read.parquet(s"$triPath/batch_id=$id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    batches.zipWithIndex.foreach { case (b, i) =>
      LinkIngest.processBatch(b, i.toLong, s)
      LinkIngest.updateEntities(spark, s, entPath, i.toLong)
      Linkage.foldCorenessSnapshot(spark, s, entPath, corPath, i.toLong)
      Linkage.foldTrianglesSnapshot(spark, s, triPath, i.toLong)
      val landed = LinkIngest.edges(spark, s)
      val expected = Dedup.componentsOn(
          landed.select(col("a_id").as("doc_id_1"), col("b_id").as("doc_id_2")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(expected.nonEmpty && snapshot(i.toLong) == expected,
        s"entity map after batch $i")
      // the coreness fold law: snapshot ≡ capped coreness derived
      // from scratch over everything landed so far (the r17 LOCAL fold
      // rides this unchanged law)
      val corExpected = Linkage.graphCorenessOn(
          landed.select(col("a_id"), col("b_id")))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(corSnapshot(i.toLong) == corExpected,
        s"coreness map after batch $i")
      // the triangles fold law (r17): snapshot ≡ the degree/triangle
      // map derived from scratch over everything landed so far
      val triExpected = Linkage.degreeTriangleMapOn(
          landed.select(col("a_id"), col("b_id")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(triSnapshot(i.toLong) == triExpected,
        s"triangle map after batch $i")
    }
    assert(snapshot(0L).size < snapshot(2L).size,
      "fixture must grow the map across batches")
    // the retired component-bounded fold spelling (the probe's A/B
    // reference) must agree with the local fold on the same batch
    val lastCor = corSnapshot(2L)
    Linkage.foldCorenessSnapshotComponent(spark, s, entPath, corPath, 2L)
    assert(corSnapshot(2L) == lastCor,
      "component-bounded and local folds must produce one snapshot")
    // chain compaction through the linkage-side pass-through: retained
    // snapshots read identical, generation 0 gone (the MaintenanceSpec
    // law re-checked at this call site)
    val lastEnt = snapshot(2L)
    val lastTri = triSnapshot(2L)
    LinkIngest.compact(spark, s, Seq(entPath, corPath, triPath))
    assert(snapshot(2L) == lastEnt && corSnapshot(2L) == lastCor &&
      triSnapshot(2L) == lastTri)
    val fs = new org.apache.hadoop.fs.Path(entPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(entPath, "batch_id=0")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(corPath, "batch_id=0")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(triPath, "batch_id=0")))
  }

  test("tombstone-applied compaction: composed reads identical, chains repaired to survivors, horizon guards replay") {
    import graft.dedup.Dedup
    import graft.streaming.DedupEdgeIngest
    val s = store("tombcomp")
    val base = s.edgesPath.stripSuffix("/edges")
    val entPath = base + "/entities"
    val corPath = base + "/coreness"
    val triPath = base + "/triangles"
    val tombs = base + "/tombs"
    val sup = Tables.supplier(spark, "/root/testdata/sf0.001")
      .select(col("s_suppkey").as("id"), col("s_name").as("name"))
      .localCheckpoint()
    (0 to 2).foreach { r =>
      LinkIngest.processBatch(sup.filter(col("id") % 3 === r), r.toLong, s)
      LinkIngest.updateEntities(spark, s, entPath, r.toLong)
      Linkage.foldCorenessSnapshot(spark, s, entPath, corPath, r.toLong)
      Linkage.foldTrianglesSnapshot(spark, s, triPath, r.toLong)
    }
    val dead = sup.filter(col("id") % 7 === 3)
      .select(col("id").cast("long").as("dead_id")).localCheckpoint()
    DedupEdgeIngest.processTombstones(dead, 3L, tombs)
    // the three *_incdel composed reads (snapshot + landed tombstones
    // through the read-side repair operators)
    def landedDead() = spark.read.parquet(tombs).select("dead_id")
    def asOfEdges() = graft.Maintenance.readAsOf(spark, s.edgesPath, 2L)
      .select(col("a_id"), col("b_id"))
    def composedEnt(): Set[(Long, Long, Boolean)] =
      Linkage.repairComponentsUnderDeletion(
          spark.read.parquet(s"$entPath/batch_id=2"), asOfEdges(), landedDead())
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    def composedCor(): Set[(Long, Int)] =
      Linkage.repairCorenessUnderDeletion(
          spark.read.parquet(s"$corPath/batch_id=2"), asOfEdges(), landedDead())
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    def composedTri(): Set[(Long, Long, Long)] =
      Linkage.maintainTrianglesUnderDeletion(
          spark.read.parquet(s"$triPath/batch_id=2"), asOfEdges(), landedDead())
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val entBefore = composedEnt()
    val corBefore = composedCor()
    val triBefore = composedTri()
    def corSnapshot(): Set[(Long, Int)] =
      spark.read.parquet(s"$corPath/batch_id=2")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(corSnapshot() != corBefore, "the takedown batch must bite")
    LinkIngest.compact(spark, s, tombsPath = Some(tombs),
      entitiesChain = Some(entPath), corenessChain = Some(corPath),
      trianglesChain = Some(triPath))
    // law 1 — the survivor-composed reads are IDENTICAL before and
    // after (the tombstone store now reads empty; the repairs no-op)
    assert(composedEnt() == entBefore && composedCor() == corBefore &&
      composedTri() == triBefore)
    assert(spark.read.parquet(tombs).count() == 0)
    // law 2 — the raw reads converged TO the survivor truth: chains
    // equal from-scratch derivations over the survivor edges, the edge
    // store holds no dead-incident pair, the key store no dead key
    val survEdges = asOfEdges().localCheckpoint()
    assert(survEdges
      .join(dead, col("a_id") === col("dead_id"), "left_semi")
      .union(survEdges.join(dead, col("b_id") === col("dead_id"), "left_semi"))
      .count() == 0, "edge store must be survivor-only")
    assert(spark.read.parquet(s.keysPath)
      .join(dead, col("k_id") === col("dead_id"), "left_semi")
      .count() == 0, "key store must be survivor-only")
    assert(corSnapshot() == Linkage.graphCorenessOn(survEdges)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
    assert(spark.read.parquet(s"$triPath/batch_id=2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      == Linkage.degreeTriangleMapOn(survEdges)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    assert(spark.read.parquet(s"$entPath/batch_id=2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      == Dedup.componentsOn(survEdges
          .select(col("a_id").as("doc_id_1"), col("b_id").as("doc_id_2")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet)
    // law 3 — replay below the fold horizon fails LOUD (the as-of read
    // of the compacted key store refuses, never silently under-reads)
    intercept[IllegalArgumentException] {
      LinkIngest.processBatch(sup.filter(col("id") % 3 === 1), 1L, s)
    }
    // law 4 — post-compaction life: a NEW takedown lands beside the
    // emptied store and composes against the repaired chain, paying
    // only ITS cascade; the composed read equals the from-scratch
    // truth over (survivors minus the new dead set)
    val dead2 = sup.filter(col("id") % 9 === 5)
      .select(col("id").cast("long").as("dead_id")).localCheckpoint()
    DedupEdgeIngest.processTombstones(dead2, 4L, tombs)
    val surv2 = survEdges
      .join(dead2, col("a_id") === col("dead_id"), "left_anti")
      .join(dead2, col("b_id") === col("dead_id"), "left_anti")
    assert(composedCor() == Linkage.graphCorenessOn(surv2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
    // law 5 — the SECOND compaction cycle, with ONLY takedowns landed
    // since the first: the chain walk must clamp to the edge store's
    // fold horizon (the retained predecessor generation's as-of edge
    // history is gone — repairing it would throw), and the data-store
    // folds must still bite on a consolidated-only store (the default
    // nothing-to-merge skip would leave dead2's rows in place while the
    // tombstone store folds empty — the takedown silently lost)
    LinkIngest.compact(spark, s, tombsPath = Some(tombs),
      entitiesChain = Some(entPath), corenessChain = Some(corPath),
      trianglesChain = Some(triPath))
    assert(spark.read.parquet(tombs).count() == 0)
    val survEdges2 = spark.read.parquet(s.edgesPath)
      .select(col("a_id"), col("b_id")).localCheckpoint()
    assert(survEdges2
      .join(dead2, col("a_id") === col("dead_id"), "left_semi")
      .union(survEdges2.join(dead2, col("b_id") === col("dead_id"), "left_semi"))
      .count() == 0, "second compaction must drop dead2-incident edges")
    assert(spark.read.parquet(s"$corPath/batch_id=2")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      == Linkage.graphCorenessOn(surv2)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
    // and post-compaction life continues: a NEW insert batch lands (the
    // previously-dead records re-crawled), folds against the repaired
    // chain, and the snapshot equals the from-scratch truth
    LinkIngest.processBatch(sup.filter(col("id") % 7 === 3), 3L, s)
    LinkIngest.updateEntities(spark, s, entPath, 3L)
    Linkage.foldCorenessSnapshot(spark, s, entPath, corPath, 3L)
    assert(spark.read.parquet(s"$corPath/batch_id=3")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      == Linkage.graphCorenessOn(
          graft.Maintenance.readAsOf(spark, s.edgesPath, 3L)
            .select(col("a_id"), col("b_id")))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
  }
}
