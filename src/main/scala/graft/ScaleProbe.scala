package graft

import graft.dedup.Dedup
import graft.similarity.{KMeansExact, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe for the dedup/similarity family: synthesizes an
  * `N×`-bigger corpus from the sf0.1 tables and times each operator on
  * it, printing one `SCALEPROBE` line per (scale, operator). PLANS.md
  * records the measured 1× / 10× / 100× table (500k docs / 200k
  * vectors at 100×).
  *
  * Corpus synthesis — the perturbation is chosen so the big corpus is
  * 100 INDEPENDENT shards, which is the honest linear-scaling test
  * (a real 100× corpus has 100× the docs with the same pairwise
  * similarity structure, not all-pairs-moderately-similar):
  *  - documents: every 2nd token of replica `c` is wrapped in the
  *    replica's FIXED-WIDTH digits on both ends (`fast` →
  *    `c05fastc05`). Within a replica this is a token-level rename,
  *    so within-replica pair structure — document-frequency
  *    concentration, planted near-dups (aligned docs get identical
  *    rewrites) — is exactly the natural corpus, HOMOGENEOUS across
  *    replicas (fixed tag width — variable-width tags measured 6×
  *    different per-replica char-candidate rates, because tag digits
  *    eat a 13-char window's vocabulary entropy), and true-pair
  *    output grows linearly with replicas. Across replicas: every
  *    word 3-gram window crosses a wrapped token (untagged runs are
  *    1 token), and every 13-char gram crosses tag digits plus
  *    enough token chars to disambiguate any two replicas (untagged
  *    runs are ≤10 chars; cross-replica candidates MEASURED exactly
  *    zero at 100×). Three rejected schemes are instructive, all
  *    caught by MEASURING candidate counts: position-keyed
  *    replacement tokens planted rare position-aligned grams INTO
  *    the AllPairs rare-prefix region (~25M spurious char candidates
  *    at 100×); token-SUFFIX tags left boundary char-grams spanning
  *    untagged 2-token stretches identical across replicas (×26
  *    candidate growth at 10×); a seeded token-order shuffle
  *    destroyed the df concentration the prefix filter keys on — all
  *    shuffled grams are df≈1-rare and the base corpus's ~30-word
  *    vocabulary saturates its gram space, so candidates went
  *    birthday-paradox quadratic (18M at 10× for word AND char).
  *  - embeddings: replica vectors are mixed with per-(replica, vector)
  *    pseudorandom noise, v' ∝ 0.6·v̂ + 0.8·ĝ, so the cosine between
  *    two replicas of the SAME base vector is ≈0.36 — below the 0.45
  *    near-dup threshold — and all cross-replica structure dissolves.
  *
  * Usage: `runMain graft.ScaleProbe [scales] [ops] [sfDir] [tmpDir]` —
  * `scales` a comma list (default `1,10,100`), `ops` a comma list of
  * operator names or `all` (so long tiers can run in separate
  * invocations; defaults /root/testdata/sf0.1, /tmp/scale_probe).
  */
object ScaleProbe {

  /** Replicated documents with cross-replica similarity destroyed
    * (replica digits wrapped around every 2nd token — see the object
    * scaladoc).
    */
  def bigDocs(base: DataFrame, copies: Int): DataFrame =
    base.select(col("doc_id"), col("text"))
      .withColumn("c", explode(sequence(lit(0), lit(copies - 1))))
      .select(
        (col("doc_id") + col("c") * 10000000L).as("doc_id"),
        expr("""concat_ws(' ', transform(split(text, ' '), (t, i) ->
               |  IF(i % 2 = 1, concat('c', lpad(c, 2, '0'), t, lpad(c, 2, '0')), t)))"""
          .stripMargin).as("text"))

  /** Replicated embeddings α-mixed with per-(replica, vector) noise. */
  def bigEmb(base: DataFrame, copies: Int): DataFrame = {
    GraftExtensions.register(base.sparkSession)
    base.select(col("vec_id"), col("embedding"))
      .withColumn("c", explode(sequence(lit(0), lit(copies - 1))))
      .withColumn("g", expr(
        """transform(sequence(0, size(embedding) - 1), d ->
          |  cast(pmod(xxhash64(vec_id, c, d), 2001) - 1000 as double) / 1000.0D)"""
          .stripMargin))
      .withColumn("sn", expr("sqrt(vec_dot(embedding, embedding))"))
      .withColumn("gn", expr("sqrt(aggregate(g, 0D, (s, x) -> s + x * x))"))
      .select(
        (col("vec_id") + col("c") * 10000000L).as("vec_id"),
        expr("zip_with(embedding, g, (a, b) -> cast(0.6D * a / sn + 0.8D * b / gn as float))")
          .as("embedding"))
  }

  /** Fold-proof materialization guard (round 11, the span_removal_clean
    * count()-pruning lesson generalized after [[PlanAudit]] found 15
    * registry shapes whose distinct-keyed left-join legs Catalyst
    * ELIMINATES under a bare count()): the hash references EVERY output
    * column through an inequality no rule can fold, so the counted plan
    * is the full plan. Cost: one hash per row; drops rows at p ≈ 2⁻³²,
    * irrelevant to a timing probe.
    */
  /** Replicated customer names with a Hamming-distance-2 replica code
    * injected (two digits + their mod-10 checksum: any single-digit
    * change breaks the checksum), so cross-replica Levenshtein is ≥ 2 —
    * equal-length strings at edit distance ≤ 1 differ by exactly one
    * substitution — and the ≤1 fuzzy-pair output grows exactly linearly
    * in replicas, the same honest independent-shards test as [[bigDocs]].
    */
  def bigNames(base: DataFrame, copies: Int): DataFrame =
    base.select(col("c_custkey"), col("c_name"))
      .withColumn("c", explode(sequence(lit(0), lit(copies - 1))))
      .select(
        (col("c_custkey") + col("c") * 10000000L).as("id"),
        concat(lit("r"), lpad(col("c"), 2, "0"),
          expr("cast((c div 10 + c % 10) % 10 as string)"),
          col("c_name")).as("name"))

  /** Replicated names with a PROVABLY-Levenshtein-≥3 replica code — the
    * depth-2 probe corpus the r12 analysis called for (PLANS.md: the
    * Hamming-2 checksum code of [[bigNames]] admits cross-replica pairs
    * at exactly distance 2, so the ≤2 fuzzy graph was quadratic in
    * replicas by corpus construction, not by operator behavior).
    *
    * The tag is a 4-symbol [4,2,3] MDS code over GF(11): replica
    * c = 10·d1 + d2 encodes as (d1, d2, d1+d2 mod 11, d1+2·d2 mod 11) —
    * any two distinct (d1, d2) messages differ in ≥ 3 of the 4 positions
    * (both checksum maps are injective in each digit, and gcd(2,11)=1
    * separates the two checksums when both digits change).
    *
    * Hamming ≥ 3 lifts to LEVENSHTEIN ≥ 3 — the shift-alignment hole the
    * depth-1 analysis warned about — because the four positions draw
    * from MUTUALLY DISJOINT alphabets that are also disjoint from the
    * name charset ({S,C,u,p,l,i,e,r,s,t,o,m,#,0-9}): in any edit trace,
    * a tag character can align cost-free ONLY with the same position of
    * the other tag (every cross-position or tag-vs-name alignment is a
    * mismatch by construction). With H ≥ 3 tag positions unequal, at
    * least 2H of the 8 tag characters are non-free, and every edit op
    * covers at most two of them — so any trace costs ≥ H ≥ 3.
    * `FuzzyProbeCodeSpec` verifies the bound exhaustively over all
    * C(100,2) replica pairs on real names.
    */
  def bigNames3(base: DataFrame, copies: Int): DataFrame = {
    // the [4,2,3] code encodes two base-10 digits: d1 = c div 10 must
    // stay inside the 11-symbol position alphabets (c ≤ 109); beyond
    // that substring() degenerates to empty tags silently
    require(copies <= 100, s"bigNames3 replica code covers ≤ 100 copies, got $copies")
    val p1 = "abcdfghjknq"
    val p2 = "vwxyzABDEFG"
    val p3 = "HIJKLMNOPQR"
    val p4 = "TUVWXYZ!%&+"
    base.select(col("s_suppkey"), col("s_name"))
      .withColumn("c", explode(sequence(lit(0), lit(copies - 1))))
      .select(
        (col("s_suppkey") + col("c") * 10000000L).as("id"),
        concat(
          expr(s"substring('$p1', c div 10 + 1, 1)"),
          expr(s"substring('$p2', c % 10 + 1, 1)"),
          expr(s"substring('$p3', (c div 10 + c % 10) % 11 + 1, 1)"),
          expr(s"substring('$p4', (c div 10 + 2 * (c % 10)) % 11 + 1, 1)"),
          col("s_name")).as("name"))
  }

  /** Replicated events with per-replica user-id shifts: each user's
    * ordered stream (and so its island structure) is copied verbatim
    * into a fresh user id, so interval output grows exactly linearly
    * and per-user window partitions stay their natural size.
    *
    * Cache-path contract: the on-disk replica cache is written under a
    * VERSIONED name (`events_v2_`) because the schema grew a `value`
    * column in r12 — a `_SUCCESS`-only existence check against the old
    * unversioned path would happily serve a stale, column-missing cache
    * to scd2_lookup/ticks_corr (r12 ADVICE). Bump the suffix whenever
    * this projection changes shape.
    */
  def bigEvents(base: DataFrame, copies: Int): DataFrame =
    base.withColumn("c", explode(sequence(lit(0), lit(copies - 1))))
      .select((col("user_id") + col("c") * 10000000L).as("user_id"),
        (col("event_id") + col("c") * 1000000000L).as("event_id"),
        col("ts"), col("event_type"), col("value"))

  /** [[bigEvents]] with each replica time-shifted c months later: the
    * HISTORY axis grows with scale (≈ 3 + copies − 1 calendar months)
    * while the final in-flight month stays one replica's volume — the
    * steady-state shape of the live warehouse read, where the landed
    * base store dwarfs the delta. User streams stay replica-local, so
    * each replica's island structure (and its facts' as-of months) is
    * the base corpus' shifted verbatim.
    */
  def bigEventsMonthSpread(base: DataFrame, copies: Int): DataFrame =
    base.withColumn("c", explode(sequence(lit(0), lit(copies - 1))))
      .select((col("user_id") + col("c") * 10000000L).as("user_id"),
        (col("event_id") + col("c") * 1000000000L).as("event_id"),
        expr("timestampadd(MONTH, CAST(c AS INT), ts)").as("ts"),
        col("event_type"), col("value"))

  private def guard(df: DataFrame): DataFrame =
    df.filter(hash(df.columns.map(col): _*) =!= lit(42))

  private def time(spark: SparkSession, scale: Int, name: String)(df: => DataFrame): Unit = {
    val t0   = System.nanoTime()
    val rows = df.count()
    val secs = (System.nanoTime() - t0) / 1e9
    Maintenance.releaseCachedBlocks(spark, blocking = true)
    println(f"SCALEPROBE scale=${scale}%d op=$name%s secs=$secs%.1f out_rows=$rows%d")
  }

  def main(args: Array[String]): Unit = {
    val scales = (if (args.length > 0) args(0) else "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val opSel  = (if (args.length > 1) args(1) else "all")
      .split(",").map(_.trim).toSet
    def wanted(op: String): Boolean = opSel.contains("all") || opSel.contains(op)
    val sfDir  = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val tmp    = if (args.length > 3) args(3) else "/tmp/scale_probe"
    val spark = GraftSession.start()

    scales.foreach { copies =>
      val docsPath = s"$tmp/docs_$copies"
      val embPath  = s"$tmp/emb_$copies"
      val fs = new org.apache.hadoop.fs.Path(docsPath)
        .getFileSystem(spark.sessionState.newHadoopConf())
      // many splits, like any real table this size — a single parquet
      // file would serialize every downstream scan-side stage
      val par = spark.sparkContext.defaultParallelism
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$docsPath/_SUCCESS")))
        bigDocs(Tables.documents(spark, sfDir), copies)
          .repartition(par).write.mode("overwrite").parquet(docsPath)
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$embPath/_SUCCESS")))
        bigEmb(Tables.embeddings(spark, sfDir), copies)
          .repartition(par).write.mode("overwrite").parquet(embPath)
      val docs = spark.read.parquet(docsPath)
      def emb  = Similarity.withNorms(spark.read.parquet(embPath))
      Maintenance.releaseCachedBlocks(spark, blocking = true)

      if (wanted("dedup_jaccard"))
        time(spark, copies, "dedup_jaccard")(Dedup.dedupJaccardOn(Dedup.shingleSets(docs)))
      if (wanted("dedup_jaccard_char"))
        time(spark, copies, "dedup_jaccard_char")(Dedup.dedupJaccardOn(Dedup.charShingleSets(docs)))
      // dedup_cosine: the weighted lexical join — replica token
      // decoration perturbs the tf PROFILE, so cross-replica cosine
      // falls below 9/10 and the candidate axis prices the L2 prefix
      // filter against the growing posting lists
      if (wanted("dedup_cosine"))
        time(spark, copies, "dedup_cosine")(Dedup.dedupCosineOn(docs))
      if (wanted("cosine_candidates"))
        time(spark, copies, "cosine_candidates")(Dedup.cosineCandidatesOn(docs))
      if (wanted("char_candidates"))
        time(spark, copies, "char_candidates")(Dedup.prefixCandidatesOn(Dedup.charShingleSets(docs)))
      if (wanted("word_candidates"))
        time(spark, copies, "word_candidates")(Dedup.prefixCandidatesOn(Dedup.shingleSets(docs)))
      // asymmetric containment: A-prefix joined against the FULL
      // inverted index (no size filter by design) — candidate volume is
      // rare-posting-bounded, the thing under test; replica wrapping
      // kills cross-replica shingle sharing so pairs stay per-replica
      if (wanted("dedup_containment"))
        time(spark, copies, "dedup_containment")(Dedup.dedupContainmentOn(Dedup.shingleSets(docs)))
      if (wanted("dedup_minhash"))
        time(spark, copies, "dedup_minhash")(Dedup.dedupMinhashOn(Dedup.shingleSets(docs)))
      // replica offsets are ≡ 0 (mod 10), so the 10% new-batch split is
      // preserved per replica and incremental output scales with replicas
      if (wanted("dedup_incremental"))
        time(spark, copies, "dedup_incremental")(Dedup.dedupIncrementalOn(Dedup.shingleSets(docs)))
      if (wanted("dedup_simhash"))
        time(spark, copies, "dedup_simhash")(Dedup.dedupSimhashOn(Dedup.shingleSets(docs)))
      if (wanted("corpus_pack"))
        time(spark, copies, "corpus_pack")(
          graft.analytics.TextAnalytics.corpusPackOn(docs))
      if (wanted("doc_winnow"))
        time(spark, copies, "doc_winnow") {
          GraftExtensions.register(spark)
          docs.select(col("doc_id"),
            explode(expr("winnow_fp(text, 8, 4)")).as("fp")).distinct()
        }
      // threshold curve: ONE loose-band candidate pass (t_min = 0.6 —
      // a WIDER indexed prefix than the probed t = 0.8 stream) reused
      // by every tighter threshold; the named scaling variable is that
      // loose-band candidate count, printed alongside the wall time.
      // Replica token-wrapping keeps true near-dup pairs per-replica,
      // so candidates grow linearly with copies.
      if (wanted("dedup_threshold_curve")) {
        val cands = Dedup.prefixCandidates(
          Dedup.hashedSets(Dedup.shingleSets(docs)).repartition(col("doc_id")),
          3, 5).count()
        println(f"SCALEPROBE scale=$copies%d op=dedup_threshold_curve_cands secs=0.0 out_rows=$cands%d")
        time(spark, copies, "dedup_threshold_curve")(
          Dedup.dedupThresholdCurveOn(Dedup.shingleSets(docs)))
      }
      // decision table: composes the exact/lexical/semantic screens in
      // one plan — nothing new shuffles beyond the components, so the
      // probe prices exactly their sum; embeddings replicate with the
      // corpus (ids shift identically, so every replica's semantic leg
      // engages and the NULL-abstain column stays per-replica honest).
      // The semantic screen uses the FIXED base centroid set — the same
      // production shape the dedup_semantic arm measures; the registry's
      // modulo seeding grows K with N (its documented caveat) and at
      // 100× cost ~35 s of pure assignment rows before this was split
      // MATERIALIZATION GUARD (the span_removal_clean lesson, third
      // sighting, with a twist): count() alone lets Catalyst ELIMINATE
      // the distinct-keyed left-join legs — and a guard like
      // `keep >= 0` is PROVABLY TRUE (keep ∈ {0,1}), so it constant-
      // folds away and the elimination still fires (measured: 4 s vs
      // the honest 23 s at 100×). The hash-inequality guard references
      // all three verdict columns in a way no rule can fold.
      if (wanted("dedup_ensemble"))
        time(spark, copies, "dedup_ensemble")(
          Dedup.dedupEnsembleOn(docs, spark.read.parquet(embPath),
            semanticOf = e => Similarity.dedupSemanticWith(e,
              Similarity.withNorms(Tables.embeddings(spark, sfDir))
                .filter(col("vec_id") % 50 === 0)
                .select(col("vec_id").as("centroid_id"), col("v").as("vb"),
                  col("n2").as("cn2"))))
            .filter(hash(col("keep"), col("lexical_dup"),
              coalesce(col("semantic_dup"), lit(-7))) =!= lit(42)))
      if (wanted("dedup_components"))
        time(spark, copies, "dedup_components")(
          Dedup.componentsOn(Dedup.dedupMinhashOn(Dedup.shingleSets(docs))))
      if (wanted("dedup_components_altstar"))
        time(spark, copies, "dedup_components_altstar")(guard(
          Dedup.componentsAltStarOn(Dedup.dedupMinhashOn(Dedup.shingleSets(docs)))))
      // the materialized dedup tier: the verified near-dup edge store is
      // built UNTIMED (the one-time shingle → band → verify corpus pass),
      // then the timed objects pay only the propagation / decision /
      // remaining-screen terms — the rebuild term the r13 verdict asked
      // to kill (components 14.4 s, ensemble 24.4 s at 100×)
      if (wanted("dedup_components_served") || wanted("dedup_keep_best_served")
          || wanted("dedup_ensemble_served")
          || wanted("dedup_components_served_del")
          || wanted("dedup_components_live")
          || wanted("dedup_components_live_steady")
          || wanted("dedup_components_served_inc")
          || wanted("dedup_components_served_incdel")) {
        val key = graft.sources.StoreCatalog.key(spark, docsPath)
        Dedup.storedPairs(spark, key, docs).count() // build (or reuse) once
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        if (wanted("dedup_components_served"))
          time(spark, copies, "dedup_components_served")(guard(
            Dedup.componentsOn(Dedup.storedPairs(spark, key, docs))))
        if (wanted("dedup_keep_best_served"))
          time(spark, copies, "dedup_keep_best_served")(guard(
            Dedup.keepBestFrom(Dedup.storedPairs(spark, key, docs),
              docs.withColumn("n_chars", length(col("text")).cast("long")))))
        // deletion-aware served components: edge store + component map
        // built untimed; the timed object is the tombstone land +
        // affected-component recompute + untouched pass-through
        if (wanted("dedup_components_served_del")) {
          def served = Dedup.dedupComponentsServedDelFrames(spark, key, docs)
          served.count() // builds the component map; serve is timed
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          time(spark, copies, "dedup_components_served_del")(guard(served))
        }
        // live components: landed slices built untimed; the timed read
        // pays the in-flight delta's derivation (O(delta) band probes
        // against the accumulated store) + propagation
        if (wanted("dedup_components_live")) {
          def live = Dedup.dedupComponentsLiveFrames(spark, key + "_live", docs)
          live.count() // lands the base slices; the live read is timed
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          time(spark, copies, "dedup_components_live")(guard(live))
        }
        // steady-state live arm (r14 Missing #4): the registry split's
        // worst-case ⅓-in-flight delta replaced by a 1% crawl increment
        // — the timed read prices what production actually pays per
        // micro-batch: O(delta) band probes + propagation
        if (wanted("dedup_components_live_steady")) {
          def live = Dedup.dedupComponentsLiveSplit(spark, key + "_steady",
            docs, Seq(col("doc_id") % 100 =!= 0), col("doc_id") % 100 === 0)
          live.count() // lands the 99% base slice; the live read is timed
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          time(spark, copies, "dedup_components_live_steady")(guard(live))
        }
        // incrementally-folded component map (r15): edges landed + map
        // folded per batch UNTIMED (the ingest tier's job); the timed
        // read is the snapshot scan — fresh through the last batch with
        // zero read-time derivation or propagation
        if (wanted("dedup_components_served_inc")) {
          def inc = Dedup.dedupComponentsServedIncFrames(
            spark, key + "_incmap", docs)
          inc.count() // lands batches + folds the map; the read is timed
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          time(spark, copies, "dedup_components_served_inc")(guard(inc))
        }
        // tombstone-aware fold chain (r16): inserts + a takedown batch
        // interleaved, every fold tombstone-aware, all UNTIMED (the
        // ingest tier's job); the timed read is the final snapshot scan
        // — deletes already composed, zero read-time recompute
        if (wanted("dedup_components_served_incdel")) {
          def inc = Dedup.dedupComponentsServedIncDelFrames(
            spark, key + "_incdelmap", docs)
          inc.count() // lands batches + tombstones + folds; read is timed
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          time(spark, copies, "dedup_components_served_incdel")(guard(inc))
        }
        // ensemble with the production centroid shape (the dedup_ensemble
        // arm's semanticOf) AND the stored lexical screen: what remains
        // is exact's fp aggregate + semantic's broadcast prune + verdict
        // joins — no pair derivation anywhere in the timed plan
        if (wanted("dedup_ensemble_served"))
          time(spark, copies, "dedup_ensemble_served")(
            Dedup.dedupEnsembleOn(docs, spark.read.parquet(embPath),
              semanticOf = e => Similarity.dedupSemanticWith(e,
                Similarity.withNorms(Tables.embeddings(spark, sfDir))
                  .filter(col("vec_id") % 50 === 0)
                  .select(col("vec_id").as("centroid_id"), col("v").as("vb"),
                    col("n2").as("cn2"))),
              lexPairsOf = _ => Dedup.storedPairs(spark, key, docs))
              .filter(hash(col("keep"), col("lexical_dup"),
                coalesce(col("semantic_dup"), lit(-7))) =!= lit(42)))
      }
      // real-world shape: the eval suite stays FIXED while the corpus
      // grows — benchmark grams come from the base table only, training
      // grams from every replica PLUS one unperturbed base copy
      // (id-shifted clear of the replica range) so the true contamination
      // hits survive: the replica token-wrapping that kills cross-replica
      // Jaccard also kills 8-gram runs, making output CONSTANT while the
      // scanned corpus grows 100×.
      if (wanted("decontam"))
        time(spark, copies, "decontam") {
          import graft.analytics.TextAnalytics
          val base = Tables.documents(spark, sfDir)
            .select((col("doc_id") + 2000000000L).as("doc_id"), col("text"))
          TextAnalytics.decontamOn(
            TextAnalytics.docGrams(docs.select(col("doc_id"), col("text")).unionByName(base))
              .filter(col("doc_id") % 10 =!= 0),
            TextAnalytics.docGrams(Tables.documents(spark, sfDir))
              .filter(col("doc_id") % 10 === 0))
        }
      // same inputs as the exact decontam probe — the saving is the
      // Bloom screen cutting the exact join's probe side
      if (wanted("decontam_twotier"))
        time(spark, copies, "decontam_twotier") {
          import graft.analytics.TextAnalytics
          val base = Tables.documents(spark, sfDir)
            .select((col("doc_id") + 2000000000L).as("doc_id"), col("text"))
          TextAnalytics.decontamTwoTierOn(
            TextAnalytics.docGrams(docs.select(col("doc_id"), col("text")).unionByName(base))
              .filter(col("doc_id") % 10 =!= 0),
            TextAnalytics.docGrams(Tables.documents(spark, sfDir))
              .filter(col("doc_id") % 10 === 0))
        }
      if (wanted("tfidf_topk"))
        time(spark, copies, "tfidf_topk")(
          graft.analytics.TextAnalytics.tfidfTopkOn(docs))
      // span grams: the replica token-wrapping puts a replica-specific
      // token inside every 8-gram, so cross-replica gram dups vanish and
      // the dup set stays the base corpus' own — linear gram volume is
      // the thing under test
      if (wanted("span_dedup_rate"))
        time(spark, copies, "span_dedup_rate")(guard(
          graft.analytics.TextAnalytics.spanDedupRateOn(docs)))
      // excision intervals + the full clean pass: dup spans stay the base
      // corpus' own (replica wrapping breaks cross-replica 8-grams), so
      // interval output scales ×copies and the clean join stays doc-keyed
      if (wanted("span_removal"))
        time(spark, copies, "span_removal")(
          graft.analytics.TextAnalytics.spanRemovalOn(docs))
      // count() alone would let Catalyst prune clean_text and with it the
      // whole spans subtree + rebuild (probe read 0.3 s at 100× — a
      // non-measurement); the length filter is semantically always-true
      // but not foldable, so every cleaned string must materialize
      if (wanted("span_removal_clean"))
        time(spark, copies, "span_removal_clean")(
          graft.analytics.TextAnalytics.spanRemovalCleanOn(docs)
            .filter(length(col("clean_text")) >= 0))
      // line_dedup: the df count shuffles (line, doc) pairs once; the
      // removal side is a broadcast anti-probe, so wall should track the
      // segment stream linearly. The materialization guard mirrors
      // span_removal_clean (count() would prune the re-stitch).
      if (wanted("line_dedup"))
        time(spark, copies, "line_dedup")(
          graft.analytics.TextAnalytics.lineDedupOn(docs)
            .filter(length(col("clean_text")) >= 0))
      // repetition_trim: strictly per-doc — one (doc_id, g) hash
      // aggregate, no pair axis, no broadcast; the embarrassingly-
      // parallel end of the dedup spectrum. Same re-stitch guard.
      if (wanted("repetition_trim"))
        time(spark, copies, "repetition_trim")(
          graft.analytics.TextAnalytics.repetitionTrimOn(docs)
            .filter(length(col("clean_text")) >= 0))
      // gram_novelty: gram stream shuffles once on the 8-byte hash for
      // the df count, df joins back on the same key (exchange reuse),
      // one doc rollup — two partial-aggregable aggregates, linear
      if (wanted("gram_novelty"))
        time(spark, copies, "gram_novelty")(
          // reference the aggregated column so count() can't eliminate
          // the doc-rollup left join (unique-keyed right side)
          graft.analytics.TextAnalytics.gramNoveltyOn(docs)
            .filter(coalesce(col("novelty_pm"), lit(0L)) >= 0))
      // vocab_coverage: the replica token decoration multiplies the
      // DISTINCT-token axis too (vocab agg input), the aggregate that
      // actually grows; the top-20 broadcast stays constant
      if (wanted("vocab_coverage"))
        time(spark, copies, "vocab_coverage")(guard(
          graft.analytics.TextAnalytics.vocabCoverageOn(docs)))
      // quality_gate: output rows CONSTANT (one per source) while the
      // corpus grows — the (source, qi) histogram cell space is bounded
      // by sources × 10001 at ANY corpus size; replica docs get a
      // synthetic source key since bigDocs carries (doc_id, text) only
      // source_rebalance: constant 10-row output (synthetic source key,
      // like quality_gate) while the corpus token sum grows 100×
      if (wanted("source_rebalance"))
        time(spark, copies, "source_rebalance")(
          graft.analytics.TextAnalytics.sourceRebalanceOn(
            docs.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(10))))))
      if (wanted("quality_gate"))
        time(spark, copies, "quality_gate")(guard(
          graft.analytics.TextAnalytics.qualityGateOn(
            docs.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(10)))))))
      // token_budget_sample: same prefix-sum shape as training_order;
      // output is budget-bounded (S sources × ≤400 tokens) so rows stay
      // CONSTANT while the scanned corpus grows — the wall prices the
      // token-count scan + one keyed shuffle
      if (wanted("token_budget_sample"))
        // bigDocs carries only (doc_id, text); derive the source key the
        // way the base table does (20 sources, id-keyed)
        time(spark, copies, "token_budget_sample")(
          graft.analytics.TrainingPrep.tokenBudgetSampleOn(
            docs.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20))))))
      if (wanted("lm_quality"))
        time(spark, copies, "lm_quality")(
          graft.analytics.TextAnalytics.lmQualityOn(docs))
      // retrieval/selection family: all explode → keyed-aggregate shapes;
      // the thing under test is that gram volume (rows × tokens) stays the
      // only scale term — no posting list or LM table ever materializes in
      // one task (inverted_index blocks by doc_id div 64 by construction)
      if (wanted("bm25_topk"))
        time(spark, copies, "bm25_topk")(
          graft.analytics.RetrievalAnalytics.bm25TopkOn(docs))
      if (wanted("inverted_index"))
        time(spark, copies, "inverted_index")(
          graft.analytics.RetrievalAnalytics.invertedIndexOn(docs))
      if (wanted("lm_bigram"))
        time(spark, copies, "lm_bigram")(
          graft.analytics.SelectionAnalytics.lmBigramOn(docs))
      if (wanted("dsir_weights"))
        time(spark, copies, "dsir_weights")(guard(
          graft.analytics.SelectionAnalytics.dsirWeightsOn(docs)))
      // two-pass exact heavy hitters: state is k counters per partial by
      // construction; the thing under test is that wall time tracks the
      // token stream (sketch pass) and never the key domain
      if (wanted("heavy_hitters"))
        time(spark, copies, "heavy_hitters")(
          graft.analytics.TextAnalytics.heavyHittersOn(docs))
      // CMS: d·w counter cells are CONSTANT at every scale; the scan is
      // the d-way exploded token stream — the linear term under test
      if (wanted("cms_sketch"))
        time(spark, copies, "cms_sketch")(
          graft.analytics.TextAnalytics.cmsSketchOn(docs))
      // hybrid fusion: queries PIN to the base id range (bounded query
      // batch — the knn_pq lesson); the lexical probe joins only the
      // ≤ Q·QTerms characteristic-term postings, and the vector leg
      // scans the REPLICATED embeddings (embPath, like the knn_* arms)
      // so the measured growth includes the Q·N vector term honestly
      if (wanted("hybrid_rrf"))
        time(spark, copies, "hybrid_rrf")(
          graft.analytics.RetrievalAnalytics.hybridRrfOn(
            docs, spark.read.parquet(embPath),
            queryIds = id => id % 100 === 0 && id < 10000000L))
      // the index-backed serving shape: the store build (BM25 postings +
      // trained-cell vector index — the corpus-linear term) runs ONCE
      // untimed, then the timed runs price the per-batch probe path the
      // dashboard actually pays
      if (wanted("hybrid_rrf_served")) {
        def served = graft.analytics.RetrievalAnalytics.hybridRrfServedFrames(
          spark, s"probe$copies", docs, spark.read.parquet(embPath),
          nprobe = 8, queryIds = id => id % 100 === 0 && id < 10000000L)
        served.count() // builds the store; serve-only is the timed object
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        time(spark, copies, "hybrid_rrf_served")(served)
      }
      // the freshness composition: base store on the even half, delta
      // tier on the odd half; the timed object includes the per-refresh
      // rescoring pass over base-counts ∪ delta-counts — index-sized
      // and linear, the price of exact freshness (vs the served entry's
      // frozen impact scores)
      if (wanted("hybrid_rrf_live")) {
        val dp = s"$tmp/postings_delta_$copies"
        val dst = graft.streaming.PostingsIngest.Stores(dp + "/postings", dp + "/health")
        graft.streaming.PostingsIngest.processBatch(
          docs.filter(col("doc_id") % 2 === 1), 0L, dst)
        def live = graft.analytics.RetrievalAnalytics.hybridRrfLive(
          spark, s"probelive$copies", docs.filter(col("doc_id") % 2 === 0),
          spark.read.parquet(embPath), dst, nprobe = 8,
          queryIds = id => id % 100 === 0 && id < 10000000L)
        live.count() // builds the base store untimed
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        time(spark, copies, "hybrid_rrf_live")(live)
      }
      // KMV cardinality sketch: the full entry INCLUDES the exact
      // count(DISTINCT) audit (the oracle gate) — that repartitions the
      // (source, shingle) universe and is the dominant scale term; the
      // sketch-only arm below is the production read (k longs of state
      // per source per task, one bounded aggregate) whose gap to the
      // entry prices what the audit costs. Sources synthesized per
      // replica doc (20 groups, constant) so group COUNT stays fixed
      // while group width grows with the corpus.
      if (wanted("kmv_distinct"))
        time(spark, copies, "kmv_distinct")(guard(
          graft.analytics.TextAnalytics.kmvDistinctOn(
            docs.withColumn("source", concat(lit("s"), col("doc_id") % 20)))))
      if (wanted("kmv_sketch_only"))
        time(spark, copies, "kmv_sketch_only")(guard(
          graft.analytics.TextAnalytics.kmvShingles(
              docs.withColumn("source", concat(lit("s"), col("doc_id") % 20)))
            .select(col("source"),
              graft.functions.TextFeatures.hash60(col("g")).as("h"))
            .groupBy("source")
            .agg(expr(s"kmin_distinct(h, ${graft.analytics.TextAnalytics.KmvK})")
              .as("mins"))))
      // served ANN under deletion: base store built untimed (run 1), a
      // tiny delta generation + a 1/7 tombstone batch (the WORST-case
      // deletion volume — production folds tombstones at each rebuild);
      // the timed object is the per-batch probe path with the broadcast
      // anti-join on both member scan and query set. Queries pin to the
      // base id range (bounded batch).
      if (wanted("knn_served_del")) {
        val rawEmb = spark.read.parquet(embPath)
        def served = graft.analytics.RetrievalAnalytics.knnServedLive(
          spark, s"probedel$copies", docs, rawEmb,
          rawEmb.filter(col("vec_id") % 1000003 === 7),
          nprobe = 8,
          tombstones = Some(rawEmb.select(col("vec_id")).filter(col("vec_id") % 7 === 3)),
          queryIds = id => id % 100 === 0 && id < 10000000L)
        served.count() // builds the store; serve-only is the timed object
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        time(spark, copies, "knn_served_del")(served)
      }
      // perceptual-hash image dedup: blob synthesis + the REAL P6 decode
      // + dHash are the linear pass (56 bits/image cross the shuffle,
      // never pixels); the 7-way block join's candidate volume is the
      // planted pair graph — groups of 4 stay within a replica (1e7 ≡ 0
      // mod 4), patterns are md5(group) (no replica aliasing), so true
      // pairs grow linearly and the thing under test is that candidates
      // do too (never all-pairs)
      if (wanted("multimodal_phash_dedup"))
        time(spark, copies, "multimodal_phash_dedup")(guard(
          graft.multimodal.Multimodal.multimodalPhashDedupOn(
            graft.multimodal.Multimodal.decodePpmRaster(
              graft.multimodal.Multimodal.phashTableOn(docs)).toDF())))
      // keep-first passage dedup: replica token-wrapping puts a replica
      // tag inside every 10-token passage, so cross-replica passage dups
      // vanish and the dup set stays the base corpus' own per replica —
      // linear segmentation + election volume is the thing under test.
      // Same materialization guard as span_removal_clean: count() alone
      // would prune the re-stitched clean_text away.
      if (wanted("passage_dedup"))
        time(spark, copies, "passage_dedup")(
          graft.analytics.TextAnalytics.passageDedupOn(docs)
            .filter(length(col("clean_text")) >= 0))
      // PII scrub: pure narrow projection, zero shuffles — flat per-row
      // regex cost is the thing under test. Planted spans key off doc_id
      // so every replica carries the same planted density; the length
      // filter forces clean_text to materialize (count() would prune the
      // three regexp_replace scans away — same guard as
      // span_removal_clean).
      if (wanted("pii_scrub"))
        time(spark, copies, "pii_scrub")(
          graft.analytics.TextAnalytics.piiScrubOn(docs)
            .filter(length(col("clean_text")) >= 0))
      // cross-source duplication matrix: source labels from a doc_id
      // residue (constant S=20 like the real source column). The pair
      // graph stays the base corpus' own per replica (token wrapping),
      // so the two label joins are pair-graph-sized and the matrix lands
      // on ≤ S² cells — the piggyback contract under test.
      if (wanted("source_overlap"))
        time(spark, copies, "source_overlap")(
          Dedup.sourceOverlapOn(
            docs.withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(20))))))
      // exact-k stratified sample: strata from a doc_id residue (the big
      // frame drops the lang column; stratum semantics are what's timed).
      // The thing under test is that the bounded top-k aggregate keeps
      // wall time linear in rows with NO per-stratum sort term — the
      // window form this replaces would serialize each stratum
      if (wanted("stratified_sample"))
        time(spark, copies, "stratified_sample")(
          graft.analytics.TextAnalytics.stratifiedSampleOn(
            docs.withColumn("lang", concat(lit("l"), pmod(col("doc_id"), lit(5))))))
      // split audit piggybacking the banded minhash pass: replica
      // wrapping keeps the pair graph the base corpus' own per replica,
      // so cross-split pair output scales ×copies while the added work
      // stays two pair-graph-sized joins
      if (wanted("split_leakage"))
        time(spark, copies, "split_leakage")(Dedup.splitLeakageOn(docs))
      // BPE: the corpus term is ONE explode + word count; every round is
      // vocab-sized (replica tagging multiplies vocab ×copies, still
      // ≪ corpus). Encode adds one broadcast join over the re-exploded
      // corpus — the linear term under test
      if (wanted("bpe_merges"))
        time(spark, copies, "bpe_merges")(
          graft.analytics.BpeTrainer.bpeMergesOn(docs, 8))
      if (wanted("bpe_encode"))
        time(spark, copies, "bpe_encode")(
          graft.analytics.BpeTrainer.bpeEncodeOn(docs, 8))
      // NB classifier: class labels from a doc_id residue (constant C=20
      // like the real source column); training is two keyed counts, the
      // val fan-out is ×C — wall time should track the token stream
      if (wanted("nb_classify"))
        time(spark, copies, "nb_classify")(
          graft.analytics.SelectionAnalytics.nbClassifyOn(
            docs.withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(20))))))
      // power-iteration PCA: N·d exploded integers through two keyed
      // sums per round, weights a 64-row broadcast — rounds fixed, so
      // wall time should track N·d and nothing else
      if (wanted("embedding_pca"))
        time(spark, copies, "embedding_pca")(
          graft.similarity.PcaPower.pcaPowerOn(spark.read.parquet(embPath), 64, 5))
      if (wanted("knn_brute"))
        time(spark, copies, "knn_brute")(Similarity.knnBruteOn(emb))
      if (wanted("knn_quantized"))
        time(spark, copies, "knn_quantized")(
          graft.similarity.Quantize.knnQuantizedOn(spark.read.parquet(embPath)))
      if (wanted("knn_lsh"))
        time(spark, copies, "knn_lsh")(Similarity.knnLshOn(emb))
      if (wanted("dedup_embedding_lsh"))
        time(spark, copies, "dedup_embedding_lsh")(Similarity.dedupEmbeddingLshOn(emb))
      if (wanted("dedup_embedding"))
        time(spark, copies, "dedup_embedding")(Similarity.dedupEmbeddingOn(emb))
      // exact kNN self-join: O(N²/2) pair scan by construction — probe at
      // small tiers to document the quadratic; the banded variant below
      // is the scale path
      if (wanted("knn_join"))
        time(spark, copies, "knn_join")(Similarity.knnJoinOn(emb))
      if (wanted("knn_join_lsh"))
        time(spark, copies, "knn_join_lsh")(Similarity.knnJoinLshOn(emb))
      // triangle census with edge volume made linear BY CONSTRUCTION
      // (shard-replicated base pairs, same model as doc_pagerank_iter):
      // the wedge join and semi-probe are the thing under test
      if (wanted("dup_triangles_iter"))
        time(spark, copies, "dup_triangles_iter") {
          val basePairs = Similarity
            .dedupEmbeddingOn(Similarity.withNorms(Tables.embeddings(spark, sfDir)))
            .select("vec_id_1", "vec_id_2")
          val shardPairs = basePairs
            .withColumn("c", explode(sequence(lit(0), lit(copies - 1))))
            .select((col("vec_id_1") + col("c") * 10000000L).as("vec_id_1"),
              (col("vec_id_2") + col("c") * 10000000L).as("vec_id_2"))
          Similarity.dupTrianglesFrom(shardPairs)
        }
      // SemDeDup with the PRODUCTION centroid shape: a FIXED centroid set
      // (the base table's modulo seeds, constant across scales) so
      // assignment stays O(N·K) with constant K — the registry entry's
      // modulo seeding would grow K with N and measure an avoidable
      // quadratic. Cross-replica cosine structure dissolves (noise
      // mixing), so within-cluster prune pairs stay the base corpus' own.
      if (wanted("dedup_semantic"))
        time(spark, copies, "dedup_semantic") {
          val base = Similarity.withNorms(Tables.embeddings(spark, sfDir))
          guard(Similarity.dedupSemanticWith(emb,
            base.filter(col("vec_id") % 50 === 0)
              .select(col("vec_id").as("centroid_id"), col("v").as("vb"),
                col("n2").as("cn2"))))
        }
      // PageRank, exact edge source: inherits the O(N²/2) pair scan — the
      // measured-quadratic baseline, probe at small tiers only
      if (wanted("doc_pagerank"))
        time(spark, copies, "doc_pagerank")(Similarity.docPagerankOn(emb))
      // PageRank, iteration linearity in isolation: edge volume is made
      // linear BY CONSTRUCTION (the base corpus' exact pairs, id-shifted
      // per replica — the independent-shards model the doc replication
      // also follows), so the 5 joined+aggregated Pregel rounds over N
      // nodes are the only thing measured. Candidate generation is its
      // own probe (dedup_embedding / dedup_embedding_lsh) — and note the
      // fixed-width LSH banding is itself N²/2^bits in expected in-bucket
      // pairs, so the production pair source must scale bits with log N.
      // Integer Lloyd k-means: K is CONSTANT by the fixed seed rule
      // (replica ids sit above SeedMax, so no replica adds a seed) —
      // per-round cost is the N·K broadcast distance pass plus the K·64
      // integer update, expected LINEAR in N across all three tiers.
      // PQ: training is the per-subspace Lloyd against a 1,024-row
      // broadcast codebook, encode one pass, ADC ranking through the
      // bounded top-k agg — N·M·K integer distance terms are the linear
      // term under test. Queries PIN to the base id range (the fixed
      // eval-suite model, same as the decontam probe): the scored
      // stream is |queries|·N, and replica queries would grow it
      // quadratically — measured: heap exhaustion at 100× with 2,000
      // replica queries vs linear with the fixed 20
      if (wanted("knn_pq"))
        time(spark, copies, "knn_pq")(
          graft.similarity.PqAnn.knnPqOn(spark.read.parquet(embPath),
            queryPred = col("vec_id") % 100 === 0 && col("vec_id") < 10000000L))
      // K=256 production tier: same pinned query batch; the N·M·K assign
      // stream is 32× the K=16 tier's rows (2× M, 16× K) — the linear
      // term whose constant the probe prices
      if (wanted("knn_pq256"))
        time(spark, copies, "knn_pq256")(
          graft.similarity.PqAnn.knnPqOn(spark.read.parquet(embPath),
            queryPred = col("vec_id") % 100 === 0 && col("vec_id") < 10000000L,
            tier = graft.similarity.PqAnn.K256))
      if (wanted("knn_pq256_rerank"))
        time(spark, copies, "knn_pq256_rerank")(
          graft.similarity.PqAnn.knnPqRerankOn(spark.read.parquet(embPath),
            queryPred = col("vec_id") % 100 === 0 && col("vec_id") < 10000000L,
            tier = graft.similarity.PqAnn.K256))
      // IVF-ADC: routing prunes the ADC scan to nprobe/C of the corpus;
      // train/encode stay the corpus-level linear pass
      if (wanted("knn_ivf_pq"))
        time(spark, copies, "knn_ivf_pq")(
          graft.similarity.PqAnn.knnIvfPqOn(spark.read.parquet(embPath),
            queryPred = col("vec_id") % 100 === 0 && col("vec_id") < 10000000L,
            tier = graft.similarity.PqAnn.K256))
      // sqrt-rule IVF-ADC: same ADC scan, coarse C = Θ(√N) instead of
      // N/50 — the assignment stream drops from N²/50 to N^1.5 (at
      // 100×: 200k·446 ≈ 89M cosine rows vs 800M). The arm that prices
      // the production centroid rule directly against the modular one.
      if (wanted("knn_ivf_pq_sqrt"))
        time(spark, copies, "knn_ivf_pq_sqrt")(
          graft.similarity.PqAnn.knnIvfPqOn(spark.read.parquet(embPath),
            queryPred = col("vec_id") % 100 === 0 && col("vec_id") < 10000000L,
            tier = graft.similarity.PqAnn.K256,
            membersOf = Similarity.ivfMembersSqrtOn))
      if (wanted("knn_ivf_sqrt"))
        time(spark, copies, "knn_ivf_sqrt")(
          Similarity.knnIvfSqrtOn(Similarity.withNorms(spark.read.parquet(embPath))))
      if (wanted("kmeans_fit"))
        time(spark, copies, "kmeans_fit")(
          KMeansExact.kmeansFitOn(spark.read.parquet(embPath), rounds = 3))
      // trained IVF routing: the kmeans fit (N·K assignment per round, K
      // constant by the seed rule) + one more assignment pass + the
      // K-row probe ranking — expected LINEAR in N. Queries pin to the
      // base range (fixed eval-suite model). The constant-K caveat is
      // the documented trade: members per query are nprobe·N/K rows, so
      // the sqrt-seeded production variant is what holds the per-query
      // scan at √N (ScaleProbe's knn_ivf_pq_sqrt arm prices that rule).
      if (wanted("knn_ivf_trained"))
        time(spark, copies, "knn_ivf_trained") {
          val raw = spark.read.parquet(embPath)
          Similarity.scoreMembers(Similarity.withNorms(raw),
            graft.similarity.IvfTrained.trainedMembersOn(raw,
              queryPred = col("vec_id") % 100 === 0 && col("vec_id") < 10000000L))
        }
      // the full composed production tier: coarse fit + routing + PQ
      // train/encode + member-restricted ADC + exact rerank — the sum of
      // the measured-linear parts; rerank adds fetch·|queries| constant
      // work per query
      if (wanted("knn_ivf_pq_rerank"))
        time(spark, copies, "knn_ivf_pq_rerank")(
          graft.similarity.PqAnn.knnIvfPqRerankOn(spark.read.parquet(embPath),
            queryPred = col("vec_id") % 100 === 0 && col("vec_id") < 10000000L,
            fetch = graft.similarity.PqAnn.IvfRerankFetch))
      // the √N-SEEDED trained composition — every stage scale-correct:
      // C≈√N trained cells (N^1.5 fit), √N-member buckets, ADC + rerank
      if (wanted("knn_ivf_pq_rerank_sqrt"))
        time(spark, copies, "knn_ivf_pq_rerank_sqrt") {
          val pinned = col("vec_id") % 100 === 0 && col("vec_id") < 10000000L
          graft.similarity.PqAnn.knnIvfPqRerankOn(spark.read.parquet(embPath),
            queryPred = pinned,
            membersOf = (e, qp) => graft.similarity.IvfTrained
              .trainedMembersSqrtOn(e, queryPred = qp),
            fetch = graft.similarity.PqAnn.IvfRerankFetch)
        }
      // the residual-encoded composition (the FAISS IVFPQ shape): same
      // stages as knn_ivf_pq_rerank minus the rerank plus one K-row
      // broadcast residual subtraction per pass; the per-(query, cell)
      // tables multiply the broadcast by nprobe, still query-bounded
      if (wanted("knn_ivf_pq_residual"))
        time(spark, copies, "knn_ivf_pq_residual")(
          graft.similarity.PqAnn.knnIvfPqResidualOn(spark.read.parquet(embPath),
            queryPred = col("vec_id") % 100 === 0 && col("vec_id") < 10000000L))
      // training-order shuffle: two-level rank over the hash-prefix
      // groups — one keyed shuffle + a 64-row broadcast; output rows = N
      // exactly, wall time should track N and nothing else. The filter
      // is the span_removal_clean materialization guard: count() alone
      // doesn't need global_idx, so Catalyst prunes the entire rank
      // machinery (measured 0.6 s flat at 100× — a non-measurement)
      if (wanted("training_order"))
        time(spark, copies, "training_order")(
          graft.analytics.TrainingPrep.trainingOrderOn(docs)
            .filter(col("global_idx") >= 0))
      // length-bucketed batching: the same prefix-sum machinery with
      // window partitions bounded by (bucket, length, doc_id-range)
      // cells; batch output scales ×copies, no per-bucket serialization
      if (wanted("length_batches"))
        time(spark, copies, "length_batches")(
          graft.analytics.TrainingPrep.lengthBatchesOn(docs))
      // MMR is a RERANKER — its scale axis is the candidate POOL, not
      // the corpus (the pool is a retrieval stage's bounded output), so
      // this probe runs at copies=1 and widens the pool rule instead:
      // mod 10/5/2 ≈ 500/1k/2.5k candidates. The |C|² pair table is the
      // documented quadratic term; the greedy adds k bounded passes.
      if (wanted("mmr_pool") && copies == 1)
        Seq(10L, 5L, 2L).foreach { m =>
          time(spark, copies, s"mmr_pool_mod$m")(
            graft.similarity.MmrSelect.mmrSelectOn(
              Tables.embeddings(spark, sfDir), poolMod = m))
        }
      else if (wanted("mmr_pool") && opSel.contains("mmr_pool"))
        // no silent caps: the reranker's scale axis is the POOL, probed
        // at copies=1 only — say so instead of dropping the row
        println(s"SCALEPROBE scale=$copies op=mmr_pool SKIPPED " +
          "(pool-axis probe runs at copies=1 only; see scaladoc)")
      // k-center is the same reranker shape as MMR: pool axis, not
      // corpus — widen the pool rule at copies=1 (|C|² pair table is
      // the quadratic term; the k argmax passes are pool-sized each)
      if (wanted("kcenter_pool") && copies == 1)
        Seq(10L, 5L, 2L).foreach { m =>
          time(spark, copies, s"kcenter_pool_mod$m")(
            graft.similarity.LabelEval.kcenterSelectOn(
              Tables.embeddings(spark, sfDir), poolMod = m))
        }
      else if (wanted("kcenter_pool") && opSel.contains("kcenter_pool"))
        println(s"SCALEPROBE scale=$copies op=kcenter_pool SKIPPED " +
          "(pool-axis probe runs at copies=1 only; see scaladoc)")
      // label tier over the replicated corpus: the parquet replicas
      // carry no label column (labels would be meaningless post noise-
      // mix anyway), so the probe hashes a balanced 10-class label on —
      // timing sees the same 90%-selectivity inequality joins and
      // 10-cell aggregates as the real table. Anchors/eval sets PIN to
      // the base id range (the knn_pq quadratic-query lesson).
      def embWithLabel = spark.read.parquet(embPath)
        .withColumn("label", pmod(xxhash64(col("vec_id")), lit(10)).cast("int"))
      if (wanted("hard_negatives"))
        time(spark, copies, "hard_negatives")(
          graft.similarity.LabelEval.hardNegativesOn(
            graft.similarity.LabelEval.withNormsL(embWithLabel),
            anchorPred = col("vec_id") % 100 === 0 && col("vec_id") < 10000000L))
      // decontam_semantic: eval suite PINNED to the base id range (its
      // production shape — eval size is independent of corpus size), so
      // the probe prices the O(Q·N) broadcast scan's linear corpus term
      if (wanted("decontam_semantic"))
        time(spark, copies, "decontam_semantic")(
          Similarity.decontamSemanticSplit(
            emb.filter(col("vec_id") % 10 =!= 0),
            emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 10000000L)))
      if (wanted("knn_label_acc"))
        time(spark, copies, "knn_label_acc")(
          graft.similarity.LabelEval.knnLabelAccOn(
            graft.similarity.LabelEval.withNormsL(embWithLabel),
            evalPred = col("vec_id") % 20 === 0 && col("vec_id") < 10000000L))
      // mislabel detection is corpus-linear: one groupBy(label, dim)
      // over exploded components + a 10-row centroid broadcast back
      // over N + one global top-20 — no pin needed, no pair axis
      if (wanted("label_error_margin"))
        time(spark, copies, "label_error_margin")(
          graft.similarity.LabelEval.labelErrorMarginOn(embWithLabel))
      if (wanted("fuzzy_join")) {
        val namesPath = s"$tmp/names_$copies"
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$namesPath/_SUCCESS")))
          bigNames(Tables.customer(spark, sfDir), copies)
            .repartition(par).write.mode("overwrite").parquet(namesPath)
        val names = spark.read.parquet(namesPath)
        time(spark, copies, "fuzzy_join")(
          graft.dedup.Linkage.fuzzyJoinOn(names, "id", "name"))
      }
      // synthetic 20-source slicing of the replicated corpus: the pair
      // count stays constant (190) while per-source volume scales —
      // exactly the axis the sketch bounds
      if (wanted("kmv_overlap"))
        time(spark, copies, "kmv_overlap")(guard(
          graft.analytics.TextAnalytics.kmvOverlapOn(
            docs.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20)))))))
      if (wanted("kmv_overlap_sketch"))
        time(spark, copies, "kmv_overlap_sketch")(guard(
          graft.analytics.TextAnalytics.kmvOverlapSketchOn(
            docs.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20)))))))
      if (wanted("entity_groups")) {
        val namesPath = s"$tmp/names_$copies"
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$namesPath/_SUCCESS")))
          bigNames(Tables.customer(spark, sfDir), copies)
            .repartition(par).write.mode("overwrite").parquet(namesPath)
        val names = spark.read.parquet(namesPath)
        time(spark, copies, "entity_groups")(
          Dedup.componentsOn(
            graft.dedup.Linkage.fuzzyJoinOn(names, "id", "name")
              .select(col("a_id").as("doc_id_1"), col("b_id").as("doc_id_2"))))
      }
      if (wanted("scd2_intervals")) {
        val evPath = s"$tmp/events_v2_$copies"
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$evPath/_SUCCESS")))
          bigEvents(Tables.events(spark, sfDir), copies)
            .repartition(par).write.mode("overwrite").parquet(evPath)
        time(spark, copies, "scd2_intervals")(guard(
          graft.analytics.StarAnalytics.scd2IntervalsOn(spark.read.parquet(evPath))))
      }
      if (wanted("pareto_frontier"))
        time(spark, copies, "pareto_frontier")(
          graft.analytics.SelectionAnalytics.paretoFrontierOn(
            docs.withColumn("n_chars", length(col("text")))))
      // point-in-time enrichment: facts AND dimension both grow with the
      // replicated stream; per-user merge partitions stay natural-sized
      if (wanted("scd2_lookup")) {
        val evPath = s"$tmp/events_v2_$copies"
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$evPath/_SUCCESS")))
          bigEvents(Tables.events(spark, sfDir), copies)
            .repartition(par).write.mode("overwrite").parquet(evPath)
        time(spark, copies, "scd2_lookup")(guard(
          graft.analytics.StarAnalytics.scd2LookupOn(spark.read.parquet(evPath))))
      }
      // rule cells stay <= V(V-1)/2 while the presence stream grows:
      // replica tags rename every 2nd token, so the top-30 vocabulary is
      // the shared untagged head and per-basket item sets stay bounded
      if (wanted("assoc_rules"))
        time(spark, copies, "assoc_rules")(guard(
          graft.analytics.TextAnalytics.assocRulesOn(docs)))
      // the (id, id+1) pair sample replicates with the corpus (the
      // replica id offset is ≡ 0 mod PairMod), so audit rows grow
      // ×copies while the projection stays one per-row codegen pass
      if (wanted("jl_distortion"))
        time(spark, copies, "jl_distortion")(guard(
          graft.similarity.JlProject.jlDistortionOn(spark.read.parquet(embPath))))
      // replicated events duplicate every (symbol, minute) point, so the
      // minute means are IDENTICAL at every scale (sum and count both
      // x copies) — output constant 10 pair cells, wall = the roll-up
      // scan term; the S²-bounded pair join never grows
      if (wanted("ticks_corr")) {
        val evPath = s"$tmp/events_v2_$copies"
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$evPath/_SUCCESS")))
          bigEvents(Tables.events(spark, sfDir), copies)
            .repartition(par).write.mode("overwrite").parquet(evPath)
        val t = spark.read.parquet(evPath).select(
          upper(col("event_type")).as("symbol"),
          col("value").cast("decimal(12,4)").as("price"),
          col("ts").as("event_time"))
        time(spark, copies, "ticks_corr")(guard(
          graft.analytics.TimeSeriesAnalytics.ticksCorrOn(t)))
      }
      // the knn_brute Q·N shape over 16-int projected rows: queries pin
      // to the base id range (the quadratic-query lesson), so the scan
      // term is the one scaling axis
      if (wanted("knn_jl"))
        time(spark, copies, "knn_jl")(guard(
          graft.similarity.JlProject.knnJlOn(
            spark.read.parquet(embPath).filter(
              col("vec_id") % 100 =!= 0 || col("vec_id") < 10000000L))))
      // per-user kept chains are replica-local (user ids shift per
      // replica), so the state-machine pass parallelizes over users and
      // kept output grows exactly ×copies
      if (wanted("events_debounce")) {
        val evPath = s"$tmp/events_v2_$copies"
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$evPath/_SUCCESS")))
          bigEvents(Tables.events(spark, sfDir), copies)
            .repartition(par).write.mode("overwrite").parquet(evPath)
        time(spark, copies, "events_debounce")(guard(
          graft.operators.Debounce.eventsDebounceOn(
            spark.read.parquet(evPath), graft.operators.Debounce.GapSec)))
      }
      // the depth-2 fuzzy join over the ≥3-code replica corpus: the MDS
      // tag keeps even distance-2 pairs per-replica, so verified-pair
      // output grows exactly ×copies — the honest independent-shards
      // probe the r12 row explained was impossible under the ≥2 code
      if (wanted("fuzzy_join2")) {
        val names3Path = s"$tmp/names3_$copies"
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$names3Path/_SUCCESS")))
          bigNames3(Tables.supplier(spark, sfDir), copies)
            .repartition(par).write.mode("overwrite").parquet(names3Path)
        time(spark, copies, "fuzzy_join2")(guard(
          graft.dedup.Linkage.fuzzyJoin2On(
            spark.read.parquet(names3Path), "id", "name")))
      }
      // per-replica triangle structure is identical (checksum replica
      // codes keep the pair graph per-replica), so triangle volume and
      // the wedge axis both grow exactly linearly in replicas
      if (wanted("graph_triangles")) {
        val namesPath = s"$tmp/names_$copies"
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$namesPath/_SUCCESS")))
          bigNames(Tables.customer(spark, sfDir), copies)
            .repartition(par).write.mode("overwrite").parquet(namesPath)
        val names = spark.read.parquet(namesPath)
        time(spark, copies, "graph_triangles")(guard(
          graft.dedup.Linkage.graphTrianglesOn(
            graft.dedup.Linkage.fuzzyJoinOn(names, "id", "name")
              .select(col("a_id"), col("b_id")))))
      }
      // served SCD2 lookup: the dimension store is maintained by ingest
      // (built untimed here); the timed object reads purchases + the
      // interval store — dim cost scales with STATE CHANGES, not events
      if (wanted("scd2_lookup_served")) {
        val evPath = s"$tmp/events_v2_$copies"
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$evPath/_SUCCESS")))
          bigEvents(Tables.events(spark, sfDir), copies)
            .repartition(par).write.mode("overwrite").parquet(evPath)
        val ev = spark.read.parquet(evPath)
        val key = graft.sources.StoreCatalog.key(spark, evPath)
        def served = graft.analytics.StarAnalytics
          .scd2LookupServedFrames(spark, key, ev)
        served.count() // builds the store; serve-only is the timed object
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        time(spark, copies, "scd2_lookup_served")(guard(served))
      }
      // live SCD2 lookup: the landed base store (all months but the
      // last) is built untimed; the timed object pays the in-flight
      // delta's read-time merge — O(users touched in the last month) —
      // plus the asof join, never a store rewrite
      if (wanted("scd2_lookup_live")) {
        val evPath = s"$tmp/events_v2_$copies"
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$evPath/_SUCCESS")))
          bigEvents(Tables.events(spark, sfDir), copies)
            .repartition(par).write.mode("overwrite").parquet(evPath)
        val ev = spark.read.parquet(evPath)
        def served = graft.analytics.StarAnalytics.scd2LookupLiveFrames(spark,
          graft.sources.StoreCatalog.key(spark, evPath) + "_livebase", ev)
        served.count() // builds the base store; live read is the timed object
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        time(spark, copies, "scd2_lookup_live")(guard(served))
      }
      // compose-vs-rebuild crossover for the live warehouse read (the
      // evidence behind StarAnalytics.LiveDeltaMaxMonthFraction): the
      // month-spread corpus grows the LANDED history with scale while
      // the in-flight month stays one replica's volume (delta fraction
      // ≈ 1/(copies+2)), pricing the compose (landed-interval scan +
      // O(delta) merge) against the from-scratch window rebuild
      // (shuffle+sort of the whole history) at matched inputs. Both
      // arms read the same parquet; the base store and the month list
      // are built/collected untimed, as in the registry read's build
      // path (the dispatch itself needs the month list either way).
      if (wanted("scd2_live_xover")) {
        val evPath = s"$tmp/events_mspread_$copies"
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$evPath/_SUCCESS")))
          bigEventsMonthSpread(Tables.events(spark, sfDir), copies)
            .repartition(par).write.mode("overwrite").parquet(evPath)
        val ev = spark.read.parquet(evPath)
        val dimEv = ev.filter(col("event_type") =!= "purchase")
        val months = dimEv
          .select(date_trunc("month", col("ts")).as("m"))
          .distinct().orderBy("m").collect().map(_.get(0))
        val key = graft.sources.StoreCatalog.key(spark, evPath) + "_xover"
        def compose = graft.analytics.StarAnalytics.scd2LookupLiveCompose(
          spark, key, ev, dimEv, months)
        compose.count() // builds the base store; the read is the timed object
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        time(spark, copies, s"scd2_xover_compose_m${months.length}")(guard(compose))
        time(spark, copies, s"scd2_xover_rebuild_m${months.length}")(guard(
          graft.analytics.StarAnalytics.scd2LookupOn(ev)))
      }
      // served PQ ANN: train/encode/pack paid untimed (the build pass);
      // the timed serve reads Q·nprobe cells of 16 B/vector codes +
      // fetch·Q full vectors — queries pin to the base id range
      if (wanted("knn_served_pq")) {
        val key = graft.sources.StoreCatalog.key(spark, embPath)
        def served = graft.analytics.RetrievalAnalytics.knnServedPqFrames(
          spark, key, docs, spark.read.parquet(embPath),
          q => q % 100 === 0 && q < 10000000L)
        served.count() // builds the store; serve-only is the timed object
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        time(spark, copies, "knn_served_pq")(guard(served))
      }
      // deletion on the PQ serving tier (r15): store + tombstones built
      // untimed; the timed serve is knn_served_pq's pruned 16 B scan
      // plus one broadcast anti-join against the deletion batch
      if (wanted("knn_served_pq_del")) {
        val key = graft.sources.StoreCatalog.key(spark, embPath)
        val tomb = s"$tmp/pq_tombstones_$copies"
        spark.read.parquet(embPath)
          .filter(col("vec_id") % 7 === 3).select(col("vec_id").as("dead_id"))
          .write.mode("overwrite").parquet(s"$tomb/batch_id=0")
        def served = graft.analytics.RetrievalAnalytics.knnServedPqFrames(
          spark, key, docs, spark.read.parquet(embPath),
          q => q % 100 === 0 && q < 10000000L,
          dead = Some(spark.read.parquet(tomb).select("dead_id")))
        served.count() // builds the store; serve-only is the timed object
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        time(spark, copies, "knn_served_pq_del")(guard(served))
      }
      // balanced codes in the serving tier (r15): dim map + codebook +
      // packed codes persisted untimed; the timed serve is the full ADC
      // scan over 16 B/vector codes with query tables riding the STORED
      // permutation — the "run it always" rule priced at serve time
      if (wanted("knn_served_pq_balanced")) {
        val key = graft.sources.StoreCatalog.key(spark, embPath)
        def served = graft.similarity.PqAnn.knnServedPqBalancedFrames(
          spark, key, spark.read.parquet(embPath),
          col("vec_id") % 100 === 0 && col("vec_id") < 10000000L)
        served.count() // builds the balanced artifacts; serve is timed
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        time(spark, copies, "knn_served_pq_balanced")(guard(served))
      }
      // served residual PQ: same serving economics as knn_served_pq
      // (train/encode/pack untimed, 16 B/vector pruned cell scans) plus
      // the residual-specific per-(query, probed cell) tables — an
      // nprobe× larger but still query-bounded broadcast
      if (wanted("knn_served_pq_residual")) {
        val key = graft.sources.StoreCatalog.key(spark, embPath)
        def served = graft.analytics.RetrievalAnalytics.knnServedPqResidualFrames(
          spark, key, docs, spark.read.parquet(embPath),
          q => q % 100 === 0 && q < 10000000L)
        served.count() // builds the store; serve-only is the timed object
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        time(spark, copies, "knn_served_pq_residual")(guard(served))
      }
      // the materialized linkage tier: store built UNTIMED (the one-time
      // corpus pass), then the timed object is the serve-side work only —
      // incremental probe = O(new batch) keys against co-located buckets;
      // served graph entries start at stored edges so the wedge/loop
      // term, not the pair-graph rebuild, is what the row prices
      if (opSel.contains("all") || opSel.exists(_.startsWith("link_served"))
          || opSel.exists(_.startsWith("link_coreness"))
          || opSel.exists(_.startsWith("link_triangles"))
          || opSel.exists(_.startsWith("link_incdel"))
          || wanted("entity_groups_served_del")
          || wanted("entity_groups_served_inc")
          || wanted("graph_coreness_served_inc")
          || wanted("graph_coreness_served_incdel")) {
        val namesPath = s"$tmp/names_$copies"
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$namesPath/_SUCCESS")))
          bigNames(Tables.customer(spark, sfDir), copies)
            .repartition(par).write.mode("overwrite").parquet(namesPath)
        val names = spark.read.parquet(namesPath)
        val key = graft.sources.StoreCatalog.key(spark, namesPath)
        // build (or reuse) the store once, outside every timed pass
        graft.dedup.Linkage.storedEdges(spark, key, names, "id", "name").count()
        if (wanted("link_served_incremental"))
          time(spark, copies, "link_served_incremental")(guard(
            graft.dedup.Linkage.fuzzyJoinIncrementalFrames(
              spark, key, names, "id", "name")))
        if (wanted("link_served_components"))
          time(spark, copies, "link_served_components")(guard(
            Dedup.componentsOn(
              graft.dedup.Linkage.storedEdges(spark, key, names, "id", "name")
                .select(col("a_id").as("doc_id_1"), col("b_id").as("doc_id_2")))))
        if (wanted("link_served_triangles"))
          time(spark, copies, "link_served_triangles")(guard(
            graft.dedup.Linkage.graphTrianglesOn(
              graft.dedup.Linkage.storedEdges(spark, key, names, "id", "name")
                .select(col("a_id"), col("b_id")))))
        // local clustering coefficient over the stored graph (r16):
        // the triangle tier's wedge-close plus one keyed left join —
        // output grows with the NODE set (per-node scores), unlike the
        // ranking entry's constant top-20
        if (wanted("link_served_clustering"))
          time(spark, copies, "link_served_clustering")(guard(
            graft.dedup.Linkage.graphClusteringCoeffOn(
              graft.dedup.Linkage.storedEdges(spark, key, names, "id", "name")
                .select(col("a_id"), col("b_id")))))
        // k-core peel over stored edges: per-replica core structure is
        // identical, edge stream shrinks per round — the loop term is
        // what the row prices
        if (wanted("link_served_kcore"))
          time(spark, copies, "link_served_kcore")(guard(
            graft.dedup.Linkage.graphKcoreOn(
              graft.dedup.Linkage.storedEdges(spark, key, names, "id", "name")
                .select(col("a_id"), col("b_id")))))
        // full coreness over stored edges: successive peeling, so only
        // the first thresholds see the full stream — later ones start
        // from an already-peeled (usually empty) fixpoint; the loop
        // constant (thresholds × rounds fixed jobs) is the flat term
        if (wanted("link_served_coreness"))
          time(spark, copies, "link_served_coreness")(guard(
            graft.dedup.Linkage.graphCorenessOn(
              graft.dedup.Linkage.storedEdges(spark, key, names, "id", "name")
                .select(col("a_id"), col("b_id")))))
        // the persisted coreness MAP (r15): the peel runs once at map
        // build (untimed); the timed served read is a map scan — the
        // row that retires the 408 s loop-constant re-derivation the
        // r14 verdict graded weak
        if (wanted("link_served_coreness_map")) {
          graft.dedup.Linkage
            .storedCorenessMap(spark, key, names, "id", "name").count()
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          time(spark, copies, "link_served_coreness_map")(guard(
            graft.dedup.Linkage
              .storedCorenessMap(spark, key, names, "id", "name")
              .orderBy("s_suppkey")))
        }
        // h-index propagation A/B vs the 72-round peel (same stored
        // edges): one degree-bounded collect + join per round, rounds =
        // graph depth not thresholds × depth — the candidate map-build
        // path if it wins
        if (wanted("link_coreness_hindex"))
          time(spark, copies, "link_coreness_hindex")(guard(
            graft.dedup.Linkage.graphCorenessHindexOn(
              graft.dedup.Linkage.storedEdges(spark, key, names, "id", "name")
                .select(col("a_id"), col("b_id")))))
        // counting-form capped h-index on the SAME stored edges — the
        // skew-safe build candidate's no-skew baseline (is the bucketed
        // counting pass competitive where collect_list is cheap?)
        if (wanted("link_coreness_hcount"))
          time(spark, copies, "link_coreness_hcount")(guard(
            graft.dedup.Linkage.graphCorenessCappedCountingOn(
              graft.dedup.Linkage.storedEdges(spark, key, names, "id", "name")
                .select(col("a_id"), col("b_id")))))
        // planted-hub (power-law) fixture (r16 verdict #3): the r15 map
        // build's per-node sort_array(collect_list) is O(degree) state
        // on ONE task — glue a hub of degree 1000×copies (10⁴ at 10×,
        // 10⁵ at 100×) onto the stored graph and A/B the two build
        // paths on the graph shape real near-dup/link data takes
        if (wanted("link_coreness_hub") || wanted("link_coreness_hub_count")) {
          val hubDeg = 1000 * copies
          def hubEdges = graft.dedup.Linkage
            .storedEdges(spark, key, names, "id", "name")
            .select(col("a_id"), col("b_id"))
            .unionByName(names.select(col("id")).orderBy("id").limit(hubDeg)
              .select(lit(-1L).as("a_id"), col("id").cast("long").as("b_id")))
          if (wanted("link_coreness_hub"))
            time(spark, copies, "link_coreness_hub")(guard(
              graft.dedup.Linkage.capCoreness(
                graft.dedup.Linkage.graphCorenessHindexChecked(hubEdges))))
          if (wanted("link_coreness_hub_count"))
            time(spark, copies, "link_coreness_hub_count")(guard(
              graft.dedup.Linkage.graphCorenessCappedCountingOn(hubEdges)))
        }
        // deletion-aware served coreness (r16: TRAVERSAL repair — the
        // frontier-propagated h-index fix spreads from the deleted
        // edges and stops where labels stop changing): coreness map
        // built untimed; the timed object is tombstone land + map
        // pass-through + the cascade-region repair
        if (wanted("link_served_coreness_del")) {
          def served = graft.dedup.Linkage.graphCorenessServedDelFrames(
            spark, key, names, "id", "name")
          served.count() // builds the coreness map; serve is timed
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          time(spark, copies, "link_served_coreness_del")(guard(served))
        }
        // sparse-deletion arm (r15; the arm that exposed the component
        // bound's degeneracy): a 0.1% takedown batch instead of the
        // registry rule's adversarial 14% — with the r16 traversal the
        // read should finally approach the map-scan row
        if (wanted("link_served_coreness_del_sparse")) {
          def served = graft.dedup.Linkage.graphCorenessServedDelFrames(
            spark, key, names, "id", "name", delMod = 1000L, delRes = 3L)
          served.count() // builds the coreness map; serve is timed
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          time(spark, copies, "link_served_coreness_del_sparse")(guard(served))
        }
        // incrementally-folded entity map (r15): records landed through
        // LinkIngest + map folded per batch UNTIMED; the timed read is
        // the snapshot scan — the dedup_components_served_inc symmetry
        if (wanted("entity_groups_served_inc")) {
          def inc = graft.dedup.Linkage.entityGroupsServedIncFrames(
            spark, key + "_incmap", names, "id", "name")
          inc.count() // lands batches + folds the map; the read is timed
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          time(spark, copies, "entity_groups_served_inc")(guard(inc))
        }
        // incrementally-folded CORENESS map (r15): same root, the
        // capped-h-index fold per batch untimed; the read is the last
        // snapshot — fresh with zero read-time propagation
        if (wanted("graph_coreness_served_inc")) {
          def inc = graft.dedup.Linkage.graphCorenessServedIncFrames(
            spark, key + "_incmap", names, "id", "name")
          inc.count() // lands batches + folds both maps; the read is timed
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          time(spark, copies, "graph_coreness_served_inc")(guard(inc))
        }
        // INC + DEL composed at read (r16): the fold chain + landed
        // takedown batch built untimed; the timed read is one snapshot
        // scan + the traversal repair of the batch's cascade region —
        // the measured form of the graph tier's compose rule
        if (wanted("graph_coreness_served_incdel")) {
          def inc = graft.dedup.Linkage.graphCorenessServedIncDelFrames(
            spark, key + "_incmap", names, "id", "name")
          inc.count() // lands batches + folds chains; the read is timed
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          time(spark, copies, "graph_coreness_served_incdel")(guard(inc))
        }
        // the diagnostics family's deletion repair (r17 verdict #4):
        // the (degree, triangles) map built UNTIMED (the one-time wedge
        // close); the timed read is tombstone land + map scan + the
        // takedown-local wedge repair — vs `link_served_clustering`'s
        // full wedge-close per refresh (44.5 s at 100×, r16)
        if (wanted("link_triangles_del")) {
          def served = graft.dedup.Linkage.trianglesRepairedFrames(
            spark, key, names, "id", "name")
          served.count() // builds the triangle map; serve is timed
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          time(spark, copies, "link_triangles_del")(guard(served))
        }
        // the coreness INSERT-fold A/B (r17 verdict #1 — the r16 `weak`
        // priced): batches 0-1 landed + folded UNTIMED, then the timed
        // object is the BATCH-2 FOLD ITSELF — the r17 local spelling
        // (degree pass + candidate region + frontier repair) vs the
        // r15-r16 component-bounded recompute that degenerated on
        // giant-component graphs; link_triangles_fold prices the
        // diagnostics fold the same way
        if (wanted("link_coreness_fold") || wanted("link_coreness_fold_comp")
            || wanted("link_triangles_fold")) {
          val store = graft.streaming.LinkIngest.LinkStores(
            s"$tmp/fold_probe_$copies/keys", s"$tmp/fold_probe_$copies/edges")
          val entP = s"$tmp/fold_probe_$copies/entities"
          val corP = s"$tmp/fold_probe_$copies/coreness"
          val triP = s"$tmp/fold_probe_$copies/triangles"
          // gate on the LAST artifact the untimed build writes (r17
          // ADVICE: gating on the coreness chain left a crash window
          // where the triangles chain was missing batch 1 and a later
          // link_triangles_fold arm failed on PATH_NOT_FOUND)
          if (!fs.exists(new org.apache.hadoop.fs.Path(
              s"$triP/batch_id=1/_SUCCESS"))) {
            (0 to 2).foreach { r =>
              graft.streaming.LinkIngest.processBatch(
                names.filter(col("id") % 3 === r), r.toLong, store,
                "id", "name")
            }
            (0 to 1).foreach { r =>
              graft.streaming.LinkIngest.updateEntities(
                spark, store, entP, r.toLong)
              graft.dedup.Linkage.foldCorenessSnapshot(
                spark, store, entP, corP, r.toLong)
              graft.dedup.Linkage.foldTrianglesSnapshot(
                spark, store, triP, r.toLong)
            }
          }
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          if (wanted("link_coreness_fold"))
            time(spark, copies, "link_coreness_fold")(guard {
              graft.dedup.Linkage.foldCorenessSnapshot(
                spark, store, entP, corP, 2L)
              spark.read.parquet(s"$corP/batch_id=2")
            })
          if (wanted("link_coreness_fold_comp"))
            time(spark, copies, "link_coreness_fold_comp")(guard {
              graft.dedup.Linkage.foldCorenessSnapshotComponent(
                spark, store, entP, corP, 2L)
              spark.read.parquet(s"$corP/batch_id=2")
            })
          if (wanted("link_triangles_fold"))
            time(spark, copies, "link_triangles_fold")(guard {
              graft.dedup.Linkage.foldTrianglesSnapshot(
                spark, store, triP, 2L)
              spark.read.parquet(s"$triP/batch_id=2")
            })
        }
        // sparse-batch fold arm (the delete side's `_del_sparse` twin):
        // the registry's id%3 batches are corpus/3 — adversarial by
        // construction for any local algorithm; a production crawl
        // increment is a sliver. Prefix = everything but a 0.1% slice,
        // timed fold = the slice — the +|B| inflation bound should make
        // this read near the degree-pass floor.
        if (wanted("link_coreness_fold_sparse")
            || wanted("link_coreness_fold_sparse_comp")
            || wanted("link_triangles_fold_sparse")) {
          val store = graft.streaming.LinkIngest.LinkStores(
            s"$tmp/fold_sparse_$copies/keys", s"$tmp/fold_sparse_$copies/edges")
          val entP = s"$tmp/fold_sparse_$copies/entities"
          val corP = s"$tmp/fold_sparse_$copies/coreness"
          val triP = s"$tmp/fold_sparse_$copies/triangles"
          if (!fs.exists(new org.apache.hadoop.fs.Path(
              s"$corP/batch_id=0/_SUCCESS"))) {
            // the first tryKeys read needs the store ROOT present (a
            // fresh probe tmp otherwise surfaces a raw FileNotFound
            // from the datasource's metadata probe, not the
            // missing-path AnalysisException the reader treats as
            // "nothing landed yet")
            fs.mkdirs(new org.apache.hadoop.fs.Path(
              s"$tmp/fold_sparse_$copies"))
            graft.streaming.LinkIngest.processBatch(
              names.filter(col("id") % 1000 =!= 3), 0L, store, "id", "name")
            graft.streaming.LinkIngest.processBatch(
              names.filter(col("id") % 1000 === 3), 1L, store, "id", "name")
            graft.streaming.LinkIngest.updateEntities(spark, store, entP, 0L)
            graft.dedup.Linkage.foldCorenessSnapshot(
              spark, store, entP, corP, 0L)
          }
          // the triangles chain joined this store after its first ship:
          // gate its base build on its OWN artifact
          if (!fs.exists(new org.apache.hadoop.fs.Path(
              s"$triP/batch_id=0/_SUCCESS")))
            graft.dedup.Linkage.foldTrianglesSnapshot(spark, store, triP, 0L)
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          if (wanted("link_coreness_fold_sparse"))
            time(spark, copies, "link_coreness_fold_sparse")(guard {
              graft.dedup.Linkage.foldCorenessSnapshot(
                spark, store, entP, corP, 1L)
              spark.read.parquet(s"$corP/batch_id=1")
            })
          // the component recompute on the SAME sparse batch — the A/B
          // that justifies the fold's batch-fraction dispatch
          if (wanted("link_coreness_fold_sparse_comp"))
            time(spark, copies, "link_coreness_fold_sparse_comp")(guard {
              graft.dedup.Linkage.foldCorenessSnapshotComponent(
                spark, store, entP, corP, 1L)
              spark.read.parquet(s"$corP/batch_id=1")
            })
          // the diagnostics insert fold on the production-shaped batch
          // (r17 lesson: always price the sparse arm, not just the
          // adversarial corpus-third one) — two equi-joins of a sliver
          // against the accumulated adjacency should read near the
          // degree-pass floor, vs the 43.2 s corpus-third fold at 100×
          if (wanted("link_triangles_fold_sparse"))
            time(spark, copies, "link_triangles_fold_sparse")(guard {
              graft.dedup.Linkage.foldTrianglesSnapshot(spark, store, triP, 1L)
              spark.read.parquet(s"$triP/batch_id=1")
            })
        }
        // the insert-fold dispatch crossover sweep (r17 verdict #5):
        // LocalFoldMaxBatchFraction was set from TWO points (the 0.1%
        // sparse arm and the 33% registry thirds); these arms measure
        // BOTH spellings at intermediate batch fractions so the 10%
        // constant is a measurement, not an interpolation. Each
        // fraction gets its own store: prefix = all ids outside the
        // slice (one bulk batch), timed fold = the slice, forced
        // through each spelling explicitly (never the dispatcher —
        // the sweep must see both sides of the crossover).
        Seq(10, 30, 100, 200).foreach { permille =>
          val local = s"link_coreness_fold_swp$permille"
          val comp  = s"link_coreness_fold_swp${permille}_comp"
          if (wanted(local) || wanted(comp)) {
            val root = s"$tmp/fold_swp${permille}_$copies"
            val store = graft.streaming.LinkIngest.LinkStores(
              s"$root/keys", s"$root/edges")
            val entP = s"$root/entities"
            val corP = s"$root/coreness"
            if (!fs.exists(new org.apache.hadoop.fs.Path(
                s"$corP/batch_id=0/_SUCCESS"))) {
              fs.mkdirs(new org.apache.hadoop.fs.Path(root))
              graft.streaming.LinkIngest.processBatch(
                names.filter(col("id") % 1000 >= permille), 0L, store,
                "id", "name")
              graft.streaming.LinkIngest.processBatch(
                names.filter(col("id") % 1000 < permille), 1L, store,
                "id", "name")
              graft.streaming.LinkIngest.updateEntities(spark, store, entP, 0L)
              graft.dedup.Linkage.foldCorenessSnapshot(
                spark, store, entP, corP, 0L)
            }
            Maintenance.releaseCachedBlocks(spark, blocking = true)
            if (wanted(local))
              time(spark, copies, local)(guard {
                graft.dedup.Linkage.foldCorenessSnapshotLocal(
                  spark, store, entP, corP, 1L)
                spark.read.parquet(s"$corP/batch_id=1")
              })
            if (wanted(comp))
              time(spark, copies, comp)(guard {
                graft.dedup.Linkage.foldCorenessSnapshotComponent(
                  spark, store, entP, corP, 1L)
                spark.read.parquet(s"$corP/batch_id=1")
              })
          }
        }
        // tombstone application at compaction, priced (r17 verdict #3's
        // receipt): the PRE arm reads the incdel compose while the bulk
        // takedown (id%7=3, ~14%) still sits in the tombstone store —
        // every read re-pays its full cascade; the POST arm reads the
        // SAME compose after LinkIngest.compact applied it (chains
        // repaired in place, stores survivor-only, tombstones folded)
        // and a fresh 0.1% takedown landed — the read now pays only the
        // takedowns SINCE compaction. The store rebuilds from scratch
        // each invocation: a reused half-compacted store would make the
        // pre arm silently measure the post shape.
        if (wanted("link_incdel_read_pre") || wanted("link_incdel_read_post")) {
          val root = s"$tmp/incdel_$copies"
          fs.delete(new org.apache.hadoop.fs.Path(root), true)
          fs.mkdirs(new org.apache.hadoop.fs.Path(root))
          val store = graft.streaming.LinkIngest.LinkStores(
            s"$root/keys", s"$root/edges")
          val entP = s"$root/entities"
          val corP = s"$root/coreness"
          val triP = s"$root/triangles"
          val tombs = s"$root/tombs"
          (0 to 2).foreach { r =>
            graft.streaming.LinkIngest.processBatch(
              names.filter(col("id") % 3 === r), r.toLong, store, "id", "name")
            graft.streaming.LinkIngest.updateEntities(
              spark, store, entP, r.toLong)
            graft.dedup.Linkage.foldCorenessSnapshot(
              spark, store, entP, corP, r.toLong)
            graft.dedup.Linkage.foldTrianglesSnapshot(
              spark, store, triP, r.toLong)
          }
          graft.streaming.DedupEdgeIngest.processTombstones(
            names.filter(col("id") % 7 === 3)
              .select(col("id").cast("long").as("dead_id")), 3L, tombs)
          def composedRead = graft.dedup.Linkage.repairCorenessUnderDeletion(
            spark.read.parquet(s"$corP/batch_id=2"),
            Maintenance.readAsOf(spark, store.edgesPath, 2L)
              .select(col("a_id"), col("b_id")),
            spark.read.parquet(tombs).select("dead_id"))
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          if (wanted("link_incdel_read_pre"))
            time(spark, copies, "link_incdel_read_pre")(guard(composedRead))
          if (wanted("link_incdel_read_post")) {
            graft.streaming.LinkIngest.compact(spark, store,
              tombsPath = Some(tombs), entitiesChain = Some(entP),
              corenessChain = Some(corP), trianglesChain = Some(triP))
            graft.streaming.DedupEdgeIngest.processTombstones(
              names.filter(col("id") % 1000 === 7)
                .select(col("id").cast("long").as("dead_id")), 4L, tombs)
            Maintenance.releaseCachedBlocks(spark, blocking = true)
            time(spark, copies, "link_incdel_read_post")(guard(composedRead))
          }
        }
        // deletion-aware served entities: stores built untimed above;
        // the timed object is the tombstone land + affected-group
        // recompute + untouched pass-through — O(deleted groups), never
        // the full graph
        if (wanted("entity_groups_served_del")) {
          def served = graft.dedup.Linkage.entityGroupsServedDelFrames(
            spark, key, names, "id", "name")
          served.count() // builds the entity map; serve is the timed object
          Maintenance.releaseCachedBlocks(spark, blocking = true)
          time(spark, copies, "entity_groups_served_del")(guard(served))
        }
      }
      // per-language length quantiles: the exact-audit side prices the
      // per-language sort as streams grow ×copies; the sample side's
      // state stays ≤ k rows per language anywhere (lang carried over
      // from the base corpus by base id, lengths from the wrapped text)
      if (wanted("len_quantiles")) {
        val langs = Tables.documents(spark, sfDir)
          .select(col("doc_id").as("base_id"), col("lang"))
        time(spark, copies, "len_quantiles")(guard(
          graft.analytics.TextAnalytics.lenQuantilesOn(
            docs.withColumn("base_id", pmod(col("doc_id"), lit(10000000L)))
              .join(broadcast(langs), "base_id")
              .withColumn("n_chars", length(col("text")).cast("long")))))
      }
      // phrase search: the bigram stream and per-phrase tf lists grow
      // ×copies (replica token tags keep phrases per-replica; the top-5
      // cut stays 5 phrases, output constant 100 rows)
      if (wanted("phrase_search"))
        time(spark, copies, "phrase_search")(guard(
          graft.analytics.RetrievalAnalytics.phraseSearchOn(docs)))
      // served phrase search: postings store + query set built untimed;
      // the timed serve reads |probed posting lists|, never the corpus
      if (wanted("phrase_search_served")) {
        def served = graft.analytics.RetrievalAnalytics
          .phraseSearchServedFrames(spark,
            graft.sources.StoreCatalog.key(spark, docsPath), docs)
        served.count() // builds the store; serve-only is the timed object
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        time(spark, copies, "phrase_search_served")(guard(served))
      }
      // k-word phrase search over the positional (term, pos) store:
      // the position-chain join grows with the corpus token stream;
      // per-phrase top-k stays bounded
      if (wanted("phrase_search_k"))
        time(spark, copies, "phrase_search_k")(guard(
          graft.analytics.RetrievalAnalytics.phraseSearchKOn(docs)))
      if (wanted("phrase_search_k_served")) {
        def served = graft.analytics.RetrievalAnalytics
          .phraseSearchKServedFrames(spark,
            graft.sources.StoreCatalog.key(spark, docsPath), docs)
        served.count() // builds the positional store; serve is timed
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        time(spark, copies, "phrase_search_k_served")(guard(served))
      }
      // mixed-k phrases (r15): the any-k receipt — k=2 AND k=4 answered
      // by ONE probe of the SAME stored (term, pos) table the k=3 arm
      // reads; the query-set mining is the untimed build, the timed
      // serve is the union probe + chain
      if (wanted("phrase_search_mixed")) {
        def served = graft.analytics.RetrievalAnalytics
          .phraseSearchMixedFrames(spark,
            graft.sources.StoreCatalog.key(spark, docsPath), docs)
        served.count() // builds store + mixed query sets; serve is timed
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        time(spark, copies, "phrase_search_mixed")(guard(served))
      }
      // PageRank served off STORED edges — the linear shard-replicated
      // edge model (doc_pagerank_iter's construction) written once
      // untimed via storedEmbPairs' pluggable pair source; the timed
      // object is the Pregel loop + one edge-parquet read, zero pair
      // derivation (vs doc_pagerank_iter, which re-derives base pairs
      // per run)
      if (wanted("doc_pagerank_served")) {
        def shardPairs = Similarity
          .dedupEmbeddingOn(Similarity.withNorms(Tables.embeddings(spark, sfDir)))
          .select("vec_id_1", "vec_id_2")
          .withColumn("c", explode(sequence(lit(0), lit(copies - 1))))
          .select((col("vec_id_1") + col("c") * 10000000L).as("vec_id_1"),
            (col("vec_id_2") + col("c") * 10000000L).as("vec_id_2"))
        val key = graft.sources.StoreCatalog.key(spark, embPath) + "_shard"
        Similarity.storedEmbPairs(spark, key, emb, pairsOf = _ => shardPairs).count()
        Maintenance.releaseCachedBlocks(spark, blocking = true)
        time(spark, copies, "doc_pagerank_served")(
          Similarity.docPagerankFrom(emb,
            Similarity.storedEmbPairs(spark, key, emb, pairsOf = _ => shardPairs)))
      }
      if (wanted("doc_pagerank_iter"))
        time(spark, copies, "doc_pagerank_iter") {
          val basePairs = Similarity
            .dedupEmbeddingOn(Similarity.withNorms(Tables.embeddings(spark, sfDir)))
            .select("vec_id_1", "vec_id_2")
          val shardPairs = basePairs
            .withColumn("c", explode(sequence(lit(0), lit(copies - 1))))
            .select((col("vec_id_1") + col("c") * 10000000L).as("vec_id_1"),
              (col("vec_id_2") + col("c") * 10000000L).as("vec_id_2"))
          Similarity.docPagerankFrom(emb, shardPairs)
        }
    }
    spark.stop()
  }
}
