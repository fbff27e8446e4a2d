package graft

import graft.functions.{DotSorted, FloatVecDot, HilbertKey, JaccardSorted, KMinDistinct, MinHashSig, MortonKey, OverlapSorted, PqArgminCode, SimhashFold, SqDistI64, TopKByScore, VecDotI8, VecSum, WinnowFp}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Session extension registering the engine's native functions — wire up
  * with `.config("spark.sql.extensions", "graft.GraftExtensions")`, or call
  * [[GraftExtensions.register]] on an already-built session (e.g. the
  * driver harness's own).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // PushFilterThroughAsofJoin is not injected here: AsofJoin.asofJoin
    // installs it through register, after the optimizer's own batches.
    // Injected, it runs in the operator-optimization batch, where a
    // pushed filter over a local relation is folded into the relation
    // (AsofJoinSpec's pushdown law).
  }
}

object GraftExtensions {

  /** Evaluate any FOLDABLE integral expression to an Int at build time —
    * so `hilbert_key(x, y, 15)`, `CAST(15 AS BIGINT)`, a SMALLINT
    * literal, or `10 + 5` all work, with a clean AnalysisException
    * otherwise (not a raw match error at analysis time).
    */
  private def foldToInt(e: Expression, what: String): Int = {
    def fail(detail: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        // the pass-through error class: renders exactly <message>
        errorClass = "_LEGACY_ERROR_TEMP_3100",
        messageParameters = Map(
          "message" -> s"$what must be a foldable integer expression, $detail"))
    if (!e.foldable) fail(s"got non-foldable ${e.sql}")
    (try e.eval() catch { case scala.util.control.NonFatal(_) => fail(s"evaluation of ${e.sql} failed") }) match {
      case null => fail("got NULL")
      case v: Int => v
      case v: Long if v.isValidInt => v.toInt
      case v: Short => v.toInt
      case v: Byte => v.toInt
      case other => fail(s"got ${other.getClass.getSimpleName} ${e.sql}")
    }
  }

  private[graft] val descriptors = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vec_dot takes exactly 2 arguments")
        FloatVecDot(children.head, children(1))
      }),
    (FunctionIdentifier("vec_dot_i8"),
      new ExpressionInfo(classOf[VecDotI8].getName, "vec_dot_i8"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vec_dot_i8 takes exactly 2 arguments")
        VecDotI8(children.head, children(1))
      }),
    (FunctionIdentifier("pq_argmin_code"),
      new ExpressionInfo(classOf[PqArgminCode].getName, "pq_argmin_code"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "pq_argmin_code takes exactly 2 arguments")
        PqArgminCode(children.head, children(1))
      }),
    (FunctionIdentifier("sq_dist_i64"),
      new ExpressionInfo(classOf[SqDistI64].getName, "sq_dist_i64"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "sq_dist_i64 takes exactly 2 arguments")
        SqDistI64(children.head, children(1))
      }),
    (FunctionIdentifier("jaccard_sorted"),
      new ExpressionInfo(classOf[JaccardSorted].getName, "jaccard_sorted"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "jaccard_sorted takes exactly 2 arguments")
        JaccardSorted(children.head, children(1))
      }),
    (FunctionIdentifier("overlap_sorted"),
      new ExpressionInfo(classOf[OverlapSorted].getName, "overlap_sorted"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "overlap_sorted takes exactly 2 arguments")
        OverlapSorted(children.head, children(1))
      }),
    (FunctionIdentifier("dot_sorted"),
      new ExpressionInfo(classOf[DotSorted].getName, "dot_sorted"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "dot_sorted takes (keysA, countsA, keysB, countsB)")
        DotSorted(children.head, children(1), children(2), children(3))
      }),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "minhash_sig takes (array<bigint>, k)")
        val k = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"minhash_sig k must be an integer literal, got $other")
        }
        MinHashSig(children.head, k)
      }),
    (FunctionIdentifier("vec_sum"),
      new ExpressionInfo(classOf[VecSum].getName, "vec_sum"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "vec_sum takes exactly 1 argument")
        VecSum(children.head)
      }),
    (FunctionIdentifier("simhash_fold"),
      new ExpressionInfo(classOf[SimhashFold].getName, "simhash_fold"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "simhash_fold takes (array<bigint>, bits)")
        val bits = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"simhash_fold bits must be an integer literal, got $other")
        }
        SimhashFold(children.head, bits)
      }),
    (FunctionIdentifier("winnow_fp"),
      new ExpressionInfo(classOf[WinnowFp].getName, "winnow_fp"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "winnow_fp takes (text, k, w)")
        (children(1), children(2)) match {
          case (Literal(k: Int, _), Literal(w: Int, _)) => WinnowFp(children.head, k, w)
          case other => throw new IllegalArgumentException(
            s"winnow_fp k and w must be integer literals, got $other")
        }
      }),
    // Spark's own runtime-filter Bloom machinery, surfaced as callable
    // functions (the built-ins are registry-hidden internal in this
    // build): bloom_agg builds a broadcastable filter over xxhash64'd
    // keys, bloom_contains probes it — no false negatives, FP rate set
    // by (items, bits). The constant-size set-membership primitive for
    // 100 TB decontamination (see TextAnalytics.decontamBloomOn).
    (FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_agg"),
      (children: Seq[Expression]) => children.length match {
        case 1 => new BloomFilterAggregate(children.head)
        case 2 => new BloomFilterAggregate(children.head, children(1))
        case 3 => new BloomFilterAggregate(children.head, children(1), children(2))
        case n => throw new IllegalArgumentException(
          s"bloom_agg takes (xxhash64 col[, est_items[, num_bits]]), got $n args")
      }),
    (FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "bloom_contains"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "bloom_contains takes (bloom, xxhash64 value)")
        BloomFilterMightContain(children.head, children(1))
      }),
    (FunctionIdentifier("hilbert_key"),
      new ExpressionInfo(classOf[HilbertKey].getName, "hilbert_key"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "hilbert_key takes (x, y, bits)")
        HilbertKey(children.head, children(1), foldToInt(children(2), "hilbert_key bits"))
      }),
    (FunctionIdentifier("morton_key"),
      new ExpressionInfo(classOf[MortonKey].getName, "morton_key"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "morton_key takes (x, y, bits)")
        MortonKey(children.head, children(1), foldToInt(children(2), "morton_key bits"))
      }),
    (FunctionIdentifier("topk_by_score"),
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by_score"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "topk_by_score takes (score, id, k)")
        val k = children(2) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"topk_by_score k must be an integer literal, got $other")
        }
        TopKByScore(children.head, children(1), k)
      }),
    (FunctionIdentifier("kmin_distinct"),
      new ExpressionInfo(classOf[KMinDistinct].getName, "kmin_distinct"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kmin_distinct takes (value, k)")
        KMinDistinct(children.head, foldToInt(children(1), "kmin_distinct k"))
      }))

  /** Idempotently register the native functions + planner strategy on a
    * live session (for sessions built without `spark.sql.extensions`).
    */
  def register(spark: SparkSession): Unit = {
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsofJoinStrategy
    if (!spark.experimental.extraOptimizations.contains(graft.plans.PushFilterThroughAsofJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.PushFilterThroughAsofJoin
    tune(spark)
  }

  /** `InferFiltersFromGenerate` synthesizes `size(e) > 0 AND isnotnull(e)`
    * under every `explode(e)` and predicate pushdown then carries the FULL
    * generator expression through projections and exchanges into the scan's
    * DataFilters. For this engine's explodes — shingle/char-gram extraction,
    * token pipelines — `e` is a heavy per-row HOF chain, so the rule costs
    * two extra evaluations per row AND anchors them below the
    * parallelism-establishing repartition (measured: the 100×-corpus char
    * extraction collapsed to ONE scan task, PLANS.md pathology #5). The
    * generate itself already skips empty arrays; the inferred filter buys
    * nothing here. Appended (not overwritten) to any user-excluded rules.
    */
  private[graft] val ExcludedRule =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  def tune(spark: SparkSession): Unit = {
    val key = "spark.sql.optimizer.excludedRules"
    val cur = spark.conf.getOption(key).filter(_.nonEmpty)
    if (!cur.exists(_.split(",").map(_.trim).contains(ExcludedRule)))
      spark.conf.set(key, (cur.toSeq :+ ExcludedRule).mkString(","))
  }
}
