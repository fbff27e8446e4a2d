package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted record-linkage index: the FastSS deletion-key index and the
  * verified fuzzy pair graph, written ONCE per corpus — the missing
  * materialized tier the r12 review named first (the 100× probe measured
  * the in-plan pair-graph rebuild at 101 of `graph_triangles`' 129 s;
  * a continuous-crawl pipeline pays that rebuild daily without a store).
  *
  * Two artifacts, two read paths:
  *  - keys: (k_id, k_name, bk) — every record's depth-1 deletion
  *    neighborhood ([[graft.dedup.Linkage]]'s blocking keys), written as
  *    a `bk`-bucketed, bucket-sorted catalog table (the [[BandStore]]
  *    mechanics): an incremental batch's probe equi-join on `bk` reads
  *    co-located buckets on the index side — the index never moves
  *    through an exchange again; only the new batch (tiny by definition)
  *    shuffles, to the bucket count. Rows carry `k_name` so the
  *    levenshtein verify runs directly on the join output, no fetch join.
  *  - edges: (a_id, a_name, b_id, b_name, dist) — the VERIFIED fuzzy
  *    ≤1 pair graph, plain parquet. Graph consumers (components,
  *    triangles) start from stored edges instead of re-deriving the
  *    key join + verify per run; the edge set is tiny relative to the
  *    corpus (near-dup graphs are sparse), so the store is the cheap
  *    artifact and the derivation was the expensive one.
  *
  * Scale (100 TB): both artifacts move the corpus through exactly one
  * write. Incremental linkage reads |new-batch keys| probed buckets;
  * graph reads touch |edges|, never the corpus. Rebuild cadence =
  * whatever re-verification policy the pipeline runs (tombstoning
  * deleted records works exactly as the vector tier's
  * `knn_served_del` — edges anti-join a deleted-id set).
  */
object LinkStore {

  /** Store locations: a catalog table for the bucketed key index, a
    * path for the verified edge parquet.
    */
  final case class Stores(keys: StoreCatalog.Table, edgesPath: String)

  /** The two artifacts under one store root. */
  def at(key: String, root: String, buckets: Int): Stores =
    Stores(StoreCatalog.Table(s"link_keys_$key", root + "/keys", buckets, "bk"),
      root + "/edges")

  /** One-shot build. `keyed` = (k_id, k_name, bk) for the full corpus;
    * `edges` = the verified pair graph over the same corpus.
    */
  def write(keyed: DataFrame, edges: DataFrame, s: Stores): Unit = {
    s.keys.write(keyed)
    edges.write.mode(SaveMode.Overwrite).parquet(s.edgesPath)
  }

  /** Candidate (new, corpus) pairs of a new batch's deletion keys against
    * the stored index: the store side plans with NO exchange (bucketing
    * satisfies the equi-join's clustering requirement — `LinkStoreSpec`'s
    * plan law). `corpusPred` filters the stored side (e.g. to exclude
    * ids that arrived in the probing batch itself) — a pushed scan
    * filter, so bucketing survives it.
    */
  def candidates(spark: SparkSession, keysTable: String, newKeyed: DataFrame,
      corpusPred: org.apache.spark.sql.Column = lit(true)): DataFrame =
    newKeyed.as("a")
      .join(spark.table(keysTable).filter(corpusPred).as("b"),
        col("a.bk") === col("b.bk"))
      .select(
        col("a.k_id").as("new_id"), col("a.k_name").as("new_name"),
        col("b.k_id").as("corpus_id"), col("b.k_name").as("corpus_name"))
}
