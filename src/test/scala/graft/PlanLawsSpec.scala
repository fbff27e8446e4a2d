package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan regression laws over the ENTIRE query registry — the
  * design-for-scale claims in PLANS.md as executable assertions, so a
  * future edit that silently degrades a plan (a lost pushdown, a join
  * that falls back to a cartesian) fails CI instead of surfacing at
  * 100 TB. Plans are compiled at sf0.001 (planning only; nothing runs).
  */
class PlanLawsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // Queries whose plans legitimately contain BroadcastNestedLoopJoin:
  // either a broadcast 1-row anchor cross join (movers/bars_summary/churn
  // family, similarity query-side broadcast) — a constant-size build side
  // at any scale — or the documented Q·N scored scan of knn_brute.
  private val bnljAllowed = Set(
    "movers", "movers_join", "bars_summary", "ticks_summary",
    "ticks_gapfill", "user_churn",
    "knn_brute", "knn_ivf", "knn_lsh", "knn_lsh_mp", "knn_quantized",
    // IVF routing's broadcast centroid cross-score + the ADC tier's
    // broadcast query anchors — constant-size build sides at any scale
    // (the sqrt-rule variants add only a broadcast 1-row modulus anchor)
    "knn_ivf_pq", "knn_ivf_sqrt", "knn_ivf_pq_sqrt",
    // the ANN-pool MMR composition: int8 shortlist query anchor + the
    // same pool-bounded pair join as mmr_select
    "mmr_select_ann",
    "dedup_embedding", "dedup_embedding_lsh", "sim_pairs_topk",
    "table_profile_approx", "corpus_mix", "embedding_quantize",
    "decontam", "source_profile", "lm_quality", "tfidf_topk",
    "corpus_curation", "curation_audit", "dedup_incremental",
    "tfidf_topk_log", "drift_report", "dup_triangles",
    "bm25_topk", "dsir_weights", "heavy_hitters", "spike_ticks",
    // 1-row count + max-abs normalizer anchors cross-joined per round
    "embedding_pca",
    // candidate-class fan-out (C=20 model rows) + 1-row V/total anchors
    "nb_classify",
    // 1-row positive-balance threshold anchor (Q22 scalar subquery)
    "sales_opportunity",
    // 1-row max-abs projection anchor on top of the pca round anchors
    "embedding_pca_project",
    // 1-row ASIA-total threshold anchor (Q11 scalar subquery)
    "important_parts",
    // K-row (constant 20) centroid broadcast per Lloyd round
    "kmeans_fit",
    // the trained tier composes the same K-row centroid broadcasts
    // (kmeans rounds + routing assignment/probe cross-scores) — every
    // build side is the constant-20 trained cell table; the sqrt
    // variants swap in the C≈√N cell table plus the 1-row modulus anchor
    "knn_ivf_trained", "knn_ivf_pq_rerank",
    "knn_ivf_trained_sqrt", "knn_ivf_pq_rerank_sqrt",
    // the residual composition reuses the same K-row centroid broadcasts
    // (kmeans rounds, routing, residual subtraction)
    "knn_ivf_pq_residual",
    // hybrid fusion's vector leg is the knn_brute broadcast query anchor
    // (bounded query batch) + the 1-row corpus-stats anchor of the BM25 leg
    "hybrid_rrf",
    // the served variants' only cross join is the query batch × the
    // broadcast K-row trained-centroid table (router) — constant build
    // side; the index sides are probed with equi-joins
    "hybrid_rrf_served", "knn_served",
    // the deletion variant adds only a broadcast ANTI join against the
    // bounded tombstone batch on top of knn_served's router cross join
    "knn_served_del",
    // 1-row query anchor + bounded candidate-pool pair join (|C|², C
    // fixed by the retrieval stage, never corpus-sized)
    "mmr_select",
    // label tier: kcenter's pool-bounded pair join + per-step selected-
    // set anchors (≤ K rows); the Q·N broadcast anchor/eval scans of
    // hard_negatives / knn_label_acc (the knn_brute shape); the L-row
    // (10-class) centroid fan-out of label_error_margin
    "kcenter_select", "hard_negatives", "knn_label_acc", "label_error_margin",
    // bounded eval-suite broadcast (corpus-size-independent) driving the
    // Q·N threshold scan — the knn_brute shape with a filter, not top-k
    "decontam_semantic",
    // 1-row total-weight anchor cross-joined over the sources-sized frame
    "source_rebalance",
    // KMV pair algebra: the s1 < s2 join runs on the S-row SKETCH frame
    // (one ≤k-long array per source) — build side bounded by |sources|,
    // corpus-independent; the exact audit joins on shingle equality
    "kmv_overlap",
    // 1-row n_docs anchor cross-joined over the ≤ V(V-1)/2 rule cells
    "assoc_rules",
    // the knn_quantized shape over the projected tier: broadcast query
    // anchors (bounded batch) scored against the 16-int scan
    "knn_jl")

  private lazy val plans: Map[String, String] = {
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, dir).queryExecution.explainString(ExplainMode.fromString("formatted"))
    }
  }

  test("no query plan contains a CartesianProduct") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("BroadcastNestedLoopJoin only where a constant-size build side is intended") {
    val offenders = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") && !bnljAllowed(n) => n
    }
    assert(offenders.isEmpty, s"unexpected nested-loop joins in: $offenders")
  }

  test("selective scans push their predicates into the parquet scan") {
    // Representative pushdown checks: timestamp band on the Q1/Q6 shapes,
    // segment equality on the Q3 shape. (Q17's brand filter sits behind
    // the lazy localCheckpoint boundary, which hides its scan from the
    // compiled plan — its pushdown is covered by the shared machinery.)
    Seq("pricing_summary" -> "l_shipdate",
        "forecast_revenue" -> "l_shipdate",
        "shipping_priority" -> "c_mktsegment").foreach { case (q, col) =>
      val p = plans(q)
      assert(p.contains("PushedFilters: [") && p.contains(col),
        s"$q: no pushed filter on $col")
    }
  }

  test("scans are column-pruned: pricing_summary reads a subset of lineitem") {
    val p = plans("pricing_summary")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(read.isDefined)
    val cols = read.get.split(",").length
    assert(cols <= 7, s"pricing_summary reads $cols lineitem columns; expected <= 7")
  }

  test("top-k queries use TakeOrderedAndProject, not a global sort+limit") {
    Seq("ticks_latest", "movers", "shipping_priority").foreach { q =>
      assert(plans(q).contains("TakeOrderedAndProject"), s"$q lost its top-k operator")
    }
  }

  test("span queries probe duplicated grams with a LEFT SEMI join") {
    // The slimmed shape: the (doc, gram) frame is probed by the docs>1
    // key set via LeftSemi — a full-width inner rate join (the r6 10.6 s
    // pathology) would drop the semi from the plan.
    Seq("span_dedup_rate", "span_removal", "span_removal_clean").foreach { q =>
      assert(plans(q).contains("LeftSemi"), s"$q lost its semi-join dup probe")
    }
  }

  test("dedup_keep_best broadcasts the component map into the corpus") {
    // the near-dup component list is pair-graph-sized; a shuffle join
    // here would exchange the whole corpus on doc_id for nothing
    val p = plans("dedup_keep_best")
    assert(p.contains("BroadcastHashJoin"), "keep_best lost its broadcast join")
    assert(!p.contains("SortMergeJoin"),
      "dedup_keep_best exchanges the corpus through a sort-merge join")
  }

  test("line_dedup removes boilerplate through a broadcast anti-join") {
    // the df>=3 drop set is tiny by construction, so the segment stream
    // must NEVER shuffle for the removal — a sort-merge anti join here
    // would exchange every (line, doc) row at 100 TB
    val p = plans("line_dedup")
    assert("BroadcastHashJoin[^\\n]*LeftAnti".r.findFirstIn(p).isDefined,
      "line_dedup: boilerplate removal lost its broadcast anti-join")
    assert(!"SortMergeJoin[^\\n]*LeftAnti".r.findFirstIn(p).isDefined,
      "line_dedup: anti-join degraded to sort-merge (segment stream shuffles)")
  }

  test("spike_ticks' interval join stays bucketized: only the scalar anchor is a BNLJ") {
    // the whitelist admits the broadcast 1-row stats anchor; a second
    // BNLJ would mean the point-in-interval join degraded to the naive
    // range-predicate nested loop the bucket rewrite exists to avoid
    // count operator-detail headers: the tree section repeats each name
    val n = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(plans("spike_ticks")).length
    assert(n == 1, s"spike_ticks has $n nested-loop joins; expected only the stats anchor")
  }

  test("rank machinery: row_number windows are partitioned; unpartitioned windows only ride pre-aggregated frames") {
    // The two-level prefix sum's whole point is that no corpus-sized
    // frame ever flows through a single-partition window. A future
    // "simplification" back to a global row_number() would surface here
    // as an unpartitioned rank window.
    Seq("training_order", "length_batches", "token_budget_sample").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.sparkPlan
      val wins = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.nonEmpty, s"$q: rank machinery lost its windows entirely")
      wins.foreach { w =>
        val isRank = w.windowExpression.exists(_.sql.contains("row_number"))
        if (isRank)
          assert(w.partitionSpec.nonEmpty, s"$q: GLOBAL row_number window")
        if (w.partitionSpec.isEmpty)
          // the only unpartitioned window allowed is the offsets cum-sum
          // over the 2^GrpBits-row group-count aggregate — never a frame
          // that still carries doc_id
          assert(!w.child.output.exists(_.name == "doc_id"),
            s"$q: unpartitioned window over a corpus-sized frame")
        // token_budget_sample's naive regression partitions by source
        // alone — still "partitioned", but each partition is a whole
        // source's corpus slice. Any window over per-doc rows must carry
        // the hash-prefix group key too.
        if (q == "token_budget_sample" && w.child.output.exists(_.name == "doc_id"))
          assert(w.partitionSpec.size >= 2,
            s"$q: per-doc window partitioned by ${w.partitionSpec.map(_.sql)} — lost the grp key")
      }
    }
  }

  test("rank machinery: one presentation-sort range exchange, corpus never crosses a SinglePartition exchange") {
    // Exchange budget (formatted plan at sf0.001): the only
    // rangepartitioning is the final ORDER BY; SinglePartition appears
    // at most once (training_order's 64-row offsets window input) and
    // never for length_batches; hash exchanges stay at the designed
    // count (group-count agg + rank window [+ cell agg + batch agg]).
    def kinds(q: String): Map[String, Int] =
      "Arguments: (hashpartitioning|rangepartitioning|SinglePartition)".r
        .findAllMatchIn(plans(q)).toSeq.groupBy(_.group(1)).map { case (k, v) => k -> v.size }
    val to = kinds("training_order")
    assert(to.getOrElse("rangepartitioning", 0) == 1, s"training_order: $to")
    assert(to.getOrElse("SinglePartition", 0) <= 1, s"training_order: $to")
    assert(to.getOrElse("hashpartitioning", 0) <= 2, s"training_order: $to")
    val lb = kinds("length_batches")
    assert(lb.getOrElse("rangepartitioning", 0) == 1, s"length_batches: $lb")
    assert(lb.getOrElse("SinglePartition", 0) == 0, s"length_batches: $lb")
    assert(lb.getOrElse("hashpartitioning", 0) <= 4, s"length_batches: $lb")
  }

  test("source_profile keeps its curation sets on broadcast joins") {
    // The removal + contamination sets are near-dup-sized and must ride
    // BroadcastExchange into the per-doc frame — a shuffle join here
    // would exchange the whole corpus per signal at 100 TB.
    val p = plans("source_profile")
    assert(p.contains("BroadcastExchange"), "source_profile lost its broadcasts")
    assert(!p.contains("SortMergeJoin"),
      "source_profile exchanges the corpus through a sort-merge join")
  }
}
