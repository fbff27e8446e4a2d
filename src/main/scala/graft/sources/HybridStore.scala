package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Persisted serving indexes for hybrid lexical-vector retrieval — the
  * "train/build once, serve many" layout the `hybrid_rrf` scaladoc
  * promises (and the r10 review demanded as its #1 gap): the corpus-
  * linear work (BM25 postings with scores baked in, the trained-cell
  * vector index) is paid ONCE at build time, and every query batch
  * afterwards only probes.
  *
  *  - postings: (term, doc_id, score) with the full Okapi BM25 weight
  *    pre-computed (an impact-ordered index — what Lucene's impact
  *    postings store), written as a term-bucketed catalog table (the
  *    [[BandStore]] mechanics): a probe equi-join on `term` never
  *    reshuffles the index — small query batches broadcast, and a huge
  *    batch shuffles only ITSELF to the bucket count.
  *  - vectors: (vec_id, v, n2, centroid_id) parquet PARTITIONED by the
  *    trained cell id ([[graft.similarity.IvfTrained]] assignment), so a
  *    query's nprobe cells read as a static partition filter — the
  *    `VectorIndexIngest` bucket-store shape, here fed by the exact-
  *    integer trained fit so routing is oracle-checkable end-to-end.
  *  - centroids: the packed fixed-point centroid table (K rows) the
  *    query-side router broadcasts.
  *
  * Scale (100 TB): both stores move the corpus through exactly one
  * write; serving reads touch |postings of Q·QTerms terms| +
  * |nprobe cells|, never the corpus. Rebuild cadence = index refresh,
  * the same trade `VectorIndexIngest`'s retrain trigger monitors.
  */
object HybridStore {

  /** Store locations under one store root: a catalog table for the
    * bucketed postings, paths for the partitioned vector index +
    * broadcastable centroid table.
    */
  final case class Stores(postings: StoreCatalog.Table, vectorsPath: String,
                          centroidsPath: String)

  def at(key: String, root: String, buckets: Int): Stores =
    Stores(StoreCatalog.Table(s"hybrid_postings_$key", root + "/postings", buckets, "term"),
      root + "/vectors", root + "/centroids")

  /** One-shot build. `postings` = (term, doc_id, score); `vectors` =
    * (vec_id, v, n2, centroid_id); `centroids` = packed (centroid_id, cv).
    */
  def write(postings: DataFrame, vectors: DataFrame, centroids: DataFrame,
            s: Stores): Unit = {
    s.postings.write(postings)
    writeVectors(vectors, s.vectorsPath)
    // K rows — one file, broadcast on read
    centroids.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s.centroidsPath)
  }

  /** The cell-partitioned vector layout alone — also used for DELTA
    * generations (vectors arriving after the base build, assigned
    * against the SAME frozen centroids — the production contract that
    * centroids retrain rarely while the index ingests continuously).
    */
  def writeVectors(vectors: DataFrame, path: String): Unit =
    vectors.write
      .mode(SaveMode.Overwrite)
      .partitionBy("centroid_id")
      .parquet(path)
}
